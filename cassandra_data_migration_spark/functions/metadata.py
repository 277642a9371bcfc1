"""Writetime / TTL cell-metadata operators (SURVEY.md §7.4.1).

Cassandra tracks writetime (µs) and TTL (s) per cell; CDM collapses
them to row level as the max across the row's non-collection fields
(docs/04-cdm-approach.md:826-831) and preserves them on write
(cdm.properties:33-35).  Here:

- per-cell writetimes are modeled as ``<col>_writetime`` sibling
  columns when present;
- :func:`collapse_writetime` reduces them to the row-level
  ``_writetime`` with CDM's exact semantics (collections excluded by
  default, included when ``use_collections`` — the
  ``ttlwritetime.calc.useCollections`` flag, docs/04-cdm-approach.md:830);
- :func:`shift_writetime` is the ``transform.custom.writetime.incrementBy``
  list-dedup workaround (docs/04-cdm-approach.md:834-835);
- null-vs-UNSET: Cassandra distinguishes writing NULL (creates a
  tombstone) from not writing the cell (UNSET); CDM writes nulls as
  UNSET (docs/04-cdm-approach.md:833).  A parquet sink has no
  tombstones, so UNSET ≡ leave NULL; :func:`unset_nulls_mask` exists
  for sinks that need the distinction (per-column "was written" bits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType

from cassandra_data_migration_spark.schema import TTL_COL, WRITETIME_COL


def attach_derived_writetime(df: DataFrame, ts_col: str) -> DataFrame:
    """Derive row writetime from an event-time column (µs since epoch),
    the natural mapping for the parquet fixtures."""
    return df.withColumn(WRITETIME_COL, F.unix_micros(F.col(ts_col)))


def collapse_writetime(
    df: DataFrame,
    cell_cols: list[str] | None = None,
    use_collections: bool = False,
) -> DataFrame:
    """A8/F10: row-level writetime = max over per-cell
    ``<col>_writetime`` columns (docs/04-cdm-approach.md:826-829).

    ``use_collections=False`` skips cells whose base column is a
    collection type (map/array), matching CDM's default.
    """
    wt_cols = [c for c in df.columns if c.endswith("_writetime") and c != WRITETIME_COL]
    if cell_cols is not None:
        wt_cols = [f"{c}_writetime" for c in cell_cols if f"{c}_writetime" in df.columns]
    if not use_collections:
        collection_bases = {
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType))
        }
        wt_cols = [c for c in wt_cols if c.removesuffix("_writetime") not in collection_bases]
    if not wt_cols:
        return df.withColumn(WRITETIME_COL, F.lit(None).cast("long"))
    if len(wt_cols) == 1:
        return df.withColumn(WRITETIME_COL, F.col(wt_cols[0]).cast("long"))
    return df.withColumn(
        WRITETIME_COL, F.greatest(*[F.col(c) for c in wt_cols]).cast("long")
    )


def collapse_ttl(
    df: DataFrame,
    cell_cols: list[str] | None = None,
    use_collections: bool = False,
) -> DataFrame:
    """Row-level TTL = max over per-cell ``<col>_ttl`` columns.
    Collections are excluded unless ``use_collections`` — the same
    ``ttlwritetime.calc.useCollections`` switch as writetime
    (docs/04-cdm-approach.md:830)."""
    ttl_cols = [c for c in df.columns if c.endswith("_ttl") and c != TTL_COL]
    if cell_cols is not None:
        ttl_cols = [f"{c}_ttl" for c in cell_cols if f"{c}_ttl" in df.columns]
    if not use_collections:
        collection_bases = {
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType))
        }
        ttl_cols = [c for c in ttl_cols if c.removesuffix("_ttl") not in collection_bases]
    if not ttl_cols:
        return df.withColumn(TTL_COL, F.lit(None).cast("int"))
    if len(ttl_cols) == 1:
        return df.withColumn(TTL_COL, F.col(ttl_cols[0]).cast("int"))
    return df.withColumn(TTL_COL, F.greatest(*[F.col(c) for c in ttl_cols]).cast("int"))


def shift_writetime(df: DataFrame, increment_us: int) -> DataFrame:
    """F13: writetime += k µs (docs/04-cdm-approach.md:835)."""
    return df.withColumn(
        WRITETIME_COL, (F.col(WRITETIME_COL) + F.lit(increment_us)).cast("long")
    )


def expire_ttl(df: DataFrame, now_us: int) -> DataFrame:
    """Drop rows whose TTL has elapsed relative to ``now_us``:
    expired ⇔ writetime + ttl*1e6 < now.  NULL TTL never expires."""
    return df.filter(
        F.col(TTL_COL).isNull()
        | (F.col(WRITETIME_COL) + F.col(TTL_COL).cast("long") * 1_000_000 >= F.lit(now_us))
    )


def unset_nulls_mask(df: DataFrame, value_cols: list[str]) -> DataFrame:
    """Null→UNSET bookkeeping (docs/04-cdm-approach.md:833): a bitmask
    column marking which cells are set, so a CQL-like sink can skip
    unset cells instead of writing tombstones."""
    bits = [
        F.when(F.col(c).isNotNull(), F.lit(1)).otherwise(F.lit(0)) * (2**i)
        for i, c in enumerate(value_cols)
    ]
    mask = bits[0]
    for b in bits[1:]:
        mask = mask + b
    return df.withColumn("_set_mask", mask.cast("long"))
