"""Validation / reconciliation plans (SURVEY.md §3.2).

The reference validates a migration in layers
(lab/scripts/validate_migration.py, CDM DiffData
docs/04-cdm-approach.md:353-377, exercise 6): count diff → sampled
point-lookups → full row diff → schema diff → report.  The per-row
point reads become two set-oriented joins (J1/J2) — same semantics,
one shuffle instead of O(rows) round trips — and the whole diff
shuffles only (pk, 8-byte hash) projections, so at 100 TB the
validation pass moves ~1% of the table's bytes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cassandra_data_migration_spark.operators.joins import reconcile


@dataclass
class TableValidation:
    """Per-table verdict, the validate_migration.py:69-81 report row."""

    table: str
    origin_count: int
    target_count: int
    missing: int
    mismatched: int
    extra_in_target: int

    @property
    def passed(self) -> bool:
        return self.missing == 0 and self.mismatched == 0 and (
            self.origin_count == self.target_count
        )

    @property
    def status(self) -> str:
        return "PASS" if self.passed else "FAIL"


def diff_counts(origin_hash: str, target_hash: str) -> dict[str, Column]:
    """The one missing / extra / mismatched rule, as aggregates over a
    full-outer join of (key, origin hash) and (key, target hash): a
    NULL hash marks the side that lacks the row.  Each count is a
    bigint, 0 (not NULL) over no rows.  Validation and the Merkle
    repair's pre/post reports (plans/repair.py) all count with it."""
    o, t = F.col(origin_hash), F.col(target_hash)
    return {
        "missing": F.count_if(o.isNotNull() & t.isNull()),
        "extra": F.count_if(o.isNull() & t.isNotNull()),
        "mismatched": F.count_if(o != t),
    }


def validate_table_plan(
    origin: DataFrame,
    target: DataFrame,
    pk: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """The validation aggregate as a LAZY one-row plan
    (o_cnt, t_cnt, missing, extra, mismatched) — compose/union several
    tables' validations and evaluate them in one action."""
    from cassandra_data_migration_spark.functions.hashing import with_row_hash

    value_cols = compare_cols or [c for c in origin.columns if c not in pk]
    o = with_row_hash(
        origin.select(*pk, *value_cols), value_cols, "_oh", algo="xxhash"
    ).select(
        *pk, "_oh"
    )
    # the target's keys are renamed so the NULL-safe condition resolves
    # by name even when both sides come from one DataFrame; a NULL key
    # held by both sides is then one matched row, not missing + extra
    tk = [f"_tk{i}" for i in range(len(pk))]
    t = with_row_hash(
        target.select(*pk, *value_cols), value_cols, "_th", algo="xxhash"
    ).select(
        *[F.col(k).alias(r) for k, r in zip(pk, tk)], "_th"
    )
    on = [F.col(k).eqNullSafe(F.col(r)) for k, r in zip(pk, tk)]
    return o.join(t, on=on, how="full_outer").agg(
        F.count("_oh").alias("o_cnt"),
        F.count("_th").alias("t_cnt"),
        *[c.alias(name) for name, c in diff_counts("_oh", "_th").items()],
    )


def validate_table(
    origin: DataFrame,
    target: DataFrame,
    pk: list[str],
    table: str = "",
    compare_cols: list[str] | None = None,
) -> TableValidation:
    """Layers 1-3 of §5 in one pass: counts, missing (J1), mismatched
    (J2), plus target-only rows (the reference never deletes them —
    docs/04-cdm-approach.md:367 — but the report should know).

    Physically ONE full-outer join of (pk, xxhash64) projections and
    one aggregation — a single shuffle of ~(pk + 8B) per row instead
    of five separate scan+join jobs; the difference between a
    validation pass that reads the table once and one that reads it
    five times at 100 TB.
    """
    row = validate_table_plan(origin, target, pk, compare_cols).first()
    return TableValidation(
        table=table,
        origin_count=row["o_cnt"],
        target_count=row["t_cnt"],
        missing=row["missing"],
        mismatched=row["mismatched"],
        extra_in_target=row["extra"],
    )


def sample_validate(
    origin: DataFrame,
    target: DataFrame,
    pk: list[str],
    n: int = 100,
    compare_cols: list[str] | None = None,
    salt: str = "sampleval",
) -> DataFrame:
    """The reference's sampled spot-check (validate_migration.py:42-66:
    ``SELECT * LIMIT 100`` then 100 point lookups), re-expressed
    scale-correctly.  Two fixes over the script: the sample is
    DETERMINISTIC (md5-ranked, so any engine draws the identical rows
    — a bare CQL LIMIT is coordinator-order and irreproducible), and
    the 100 point reads become ONE broadcast semi-probe: the n-row
    sample broadcasts to the target scan, so cost is one target scan
    with zero shuffle regardless of table size — the quick-confidence
    tier to run before the full `validate_table` pass.

    Returns one row: (sampled, found, missing, mismatched)."""
    from cassandra_data_migration_spark.functions.hashing import (
        md5_draw,
        with_row_hash,
    )

    value_cols = compare_cols or [c for c in origin.columns if c not in pk]
    sample = (
        with_row_hash(origin.select(*pk, *value_cols), value_cols, "_oh")
        .select(*pk, "_oh")
        .orderBy(md5_draw(salt, *pk), *[F.col(c) for c in pk])
        .limit(n)
    )
    t = with_row_hash(
        target.select(*pk, *value_cols), value_cols, "_th"
    ).select(*pk, "_th")
    probed = t.join(F.broadcast(sample), on=pk, how="inner")
    agg_found = probed.agg(
        F.count(F.lit(1)).alias("found"),
        F.sum(
            F.when(F.col("_oh") != F.col("_th"), 1).otherwise(0)
        ).alias("mismatched"),
    )
    agg_sampled = sample.agg(F.count(F.lit(1)).alias("sampled"))
    return agg_sampled.crossJoin(agg_found).select(
        "sampled",
        "found",
        (F.col("sampled") - F.col("found")).alias("missing"),
        "mismatched",
    )


def validation_report(results: list[TableValidation]) -> str:
    """The validate_migration.py:69-81 PASS/FAIL transcript."""
    lines = ["=" * 60, "MIGRATION VALIDATION REPORT", "=" * 60]
    all_pass = True
    for r in results:
        all_pass &= r.passed
        lines.append(
            f"{r.table:<16} origin={r.origin_count:<8} target={r.target_count:<8} "
            f"missing={r.missing:<6} mismatched={r.mismatched:<6} "
            f"extra={r.extra_in_target:<6} [{r.status}]"
        )
    lines.append("=" * 60)
    lines.append("OVERALL: " + ("PASS" if all_pass else "FAIL"))
    return "\n".join(lines)


def autocorrect(
    origin: DataFrame,
    target: DataFrame,
    pk: list[str],
    writetime_col: str | None = None,
) -> DataFrame:
    """Layer-4 repair (CDM AutoCorrect, docs/04-cdm-approach.md:356-369):
    target := target-minus-stale ∪ repair-set.  Inserts missing rows,
    overwrites mismatches where origin wins on writetime, never deletes
    target-only rows.  Returns the repaired target DataFrame."""
    repair = reconcile(origin, target, pk, writetime_col)
    keep = target.join(repair.select(*pk), on=pk, how="left_anti")
    return keep.unionByName(repair)


def schema_diff(origin: DataFrame, target: DataFrame) -> DataFrame:
    """U2: normalized schema diff (exercise 6:187-233) as a set
    operation over (column, type) rows.  ``side`` says where the
    discrepancy lives."""
    spark = origin.sparkSession

    def cols_df(df: DataFrame, side: str) -> DataFrame:
        rows = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        return spark.createDataFrame(rows, "col_name string, col_type string")

    o, t = cols_df(origin, "origin"), cols_df(target, "target")
    only_o = o.exceptAll(t).withColumn("side", F.lit("origin_only"))
    only_t = t.exceptAll(o).withColumn("side", F.lit("target_only"))
    return only_o.unionByName(only_t)
