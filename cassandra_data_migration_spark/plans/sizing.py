"""CDM perfops sizing plan: the reference's own capacity rules as a
report over parquet footer metadata.

docs/04-cdm-approach.md:459-463 prescribes how to size a migration
before running it:

- ``numParts``: "default 5K, ideal is usually table-size/10MB"
- ``batchSize``: "default 5, use 1 for large rows (>20KB) or when
  PK=partition key" (this module is the rule's only home;
  plans/migrate only carries a configured batchSize through)
- ``fetchSizeInRows``: "default 1K, reduce for tables with large rows
  (>100KB)" (plans/throttle.effective_fetch_size applies the same
  constants to a probed row size for sources/tables.paged_fetch)
- ``ratelimit``: "default 20000" rows/s — which also bounds the ETA a
  run will report (docs/04-cdm-approach.md:540 "Estimated completion")

This operator turns those sentences into a deterministic plan: one
row per table with the measured inputs (rows, data bytes, average row
bytes — all from parquet FOOTERS, no row data touched) and the derived
knob values.  Byte measure = the sum of column-chunk compressed sizes,
the same number DuckDB's ``parquet_metadata().total_compressed_size``
reports, so the oracle recomputes the report bit-for-bit.

Scale shape: the footer scan is the distributed mapInPandas pattern of
``sources/files.parquet_rowgroup_stats`` (~64 footers per task, so a
10⁶-file lake fans out while a 10-file fixture stays on one worker);
everything after is a groupBy to O(tables) rows.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_data_migration_spark.sources.files import read_parquet

MB10 = 10 * 1024 * 1024
LARGE_ROW_BYTES = 20 * 1024  # batchSize -> 1 above this
HUGE_ROW_BYTES = 100 * 1024  # fetchSizeInRows -> reduced above this
DEFAULT_BATCH = 5
DEFAULT_FETCH = 1000
REDUCED_FETCH = 100
DEFAULT_RATELIMIT = 20_000


def _footer_totals(spark: SparkSession, table: str, path: str) -> DataFrame:
    """(table, file rows, file compressed bytes) per file, footers
    read distributed."""
    import pandas as pd

    files = read_parquet(spark, path).inputFiles()
    fdf = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(max(1, math.ceil(len(files) / 64)))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for p in batches:
            out = {"n_rows": [], "data_bytes": []}
            for f in p["file"]:
                local = f[5:] if f.startswith("file:") else f
                md = pq.ParquetFile(local).metadata
                rows = bytes_ = 0
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    rows += rg.num_rows
                    for j in range(rg.num_columns):
                        bytes_ += rg.column(j).total_compressed_size
                out["n_rows"].append(rows)
                out["data_bytes"].append(bytes_)
            yield pd.DataFrame(out)

    return fdf.mapInPandas(scan, "n_rows long, data_bytes long").select(
        F.lit(table).alias("table_name"), "n_rows", "data_bytes"
    )


def migration_sizing_plan(
    spark: SparkSession,
    tables: dict[str, str],
    pk_is_partition_key: dict[str, bool] | None = None,
    ratelimit_rows_per_sec: int = DEFAULT_RATELIMIT,
) -> DataFrame:
    """(table_name, n_rows, data_bytes, avg_row_bytes, num_parts,
    batch_size, fetch_size_rows, eta_seconds) — the perfops knob
    values the reference's sizing guidance derives for each table.

    ``tables`` maps table name -> parquet path; ``pk_is_partition_key``
    marks tables whose full primary key IS the partition key (no
    clustering columns), where CDM's rule forces batchSize 1.  All
    divisions are integral: avg_row_bytes floors, numParts and the ETA
    take ceilings (a part/second you partially need is one you need).
    """
    if not tables:
        raise ValueError("tables must name at least one table -> path")
    flags = pk_is_partition_key or {}
    per_file = None
    for t, p in sorted(tables.items()):
        part = _footer_totals(spark, t, p)
        per_file = part if per_file is None else per_file.unionByName(part)
    g = per_file.groupBy("table_name").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("data_bytes").alias("data_bytes"),
    )
    flag_rows = [(t, bool(flags.get(t, False))) for t in tables]
    fdf = spark.createDataFrame(
        flag_rows, "table_name string, pk_is_pk boolean"
    )
    # an EMPTY table is a normal sight in a real keyspace: report it
    # (0 rows, 0 avg) instead of aborting every other table's sizing
    # with an ANSI divide-by-zero
    avg = F.expr("CASE WHEN n_rows = 0 THEN 0 ELSE data_bytes DIV n_rows END")
    num_parts = F.expr(f"(data_bytes + {MB10 - 1}) DIV {MB10}")
    eta = F.expr(
        f"(n_rows + {ratelimit_rows_per_sec - 1})"
        f" DIV {ratelimit_rows_per_sec}"
    )
    return (
        g.join(F.broadcast(fdf), "table_name")
        .withColumn("avg_row_bytes", avg)
        .withColumn("num_parts", F.greatest(num_parts, F.lit(1)))
        .withColumn(
            "batch_size",
            F.when(
                F.col("pk_is_pk")
                | (F.col("avg_row_bytes") > LARGE_ROW_BYTES),
                F.lit(1),
            ).otherwise(F.lit(DEFAULT_BATCH)).cast("int"),
        )
        .withColumn(
            "fetch_size_rows",
            F.when(
                F.col("avg_row_bytes") > HUGE_ROW_BYTES,
                F.lit(REDUCED_FETCH),
            ).otherwise(F.lit(DEFAULT_FETCH)).cast("int"),
        )
        .withColumn("eta_seconds", F.greatest(eta, F.lit(1)))
        .select(
            "table_name", "n_rows", "data_bytes", "avg_row_bytes",
            "num_parts", "batch_size", "fetch_size_rows", "eta_seconds",
        )
    )


def migration_sizing_plan_sql(
    tables: dict[str, str],
    pk_is_partition_key: dict[str, bool] | None = None,
    ratelimit_rows_per_sec: int = DEFAULT_RATELIMIT,
) -> str:
    """DuckDB twin of :func:`migration_sizing_plan` over
    ``parquet_metadata()`` (each row there is a COLUMN CHUNK: rows per
    row group come from one representative row per (file, row group),
    bytes from summing every chunk)."""
    flags = pk_is_partition_key or {}
    selects = []
    for t, p in sorted(tables.items()):
        q = p.replace("'", "''")
        flag = "TRUE" if flags.get(t, False) else "FALSE"
        selects.append(f"""
            SELECT '{t}' AS table_name, {flag} AS pk_is_pk,
                   (SELECT CAST(SUM(rg_rows) AS BIGINT) FROM (
                        SELECT ANY_VALUE(row_group_num_rows) AS rg_rows
                        FROM parquet_metadata('{q}')
                        GROUP BY file_name, row_group_id)) AS n_rows,
                   (SELECT CAST(SUM(total_compressed_size) AS BIGINT)
                        FROM parquet_metadata('{q}')) AS data_bytes
        """)
    base = " UNION ALL ".join(selects)
    return f"""
        WITH sized AS (
            SELECT *, CASE WHEN n_rows = 0 THEN 0
                           ELSE data_bytes // n_rows END AS avg_rb
            FROM ({base})
        )
        SELECT table_name, n_rows, data_bytes,
               CAST(avg_rb AS BIGINT) AS avg_row_bytes,
               CAST(GREATEST((data_bytes + {MB10 - 1}) // {MB10}, 1)
                   AS BIGINT) AS num_parts,
               CAST(CASE WHEN pk_is_pk OR avg_rb > {LARGE_ROW_BYTES}
                    THEN 1 ELSE {DEFAULT_BATCH} END AS INT) AS batch_size,
               CAST(CASE WHEN avg_rb > {HUGE_ROW_BYTES}
                    THEN {REDUCED_FETCH} ELSE {DEFAULT_FETCH} END
                   AS INT) AS fetch_size_rows,
               CAST(GREATEST((n_rows + {ratelimit_rows_per_sec - 1})
                    // {ratelimit_rows_per_sec}, 1) AS BIGINT)
                   AS eta_seconds
        FROM sized
    """
