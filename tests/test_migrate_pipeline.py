"""Exercise-4 spine: generate → migrate → validate → autocorrect
(SURVEY.md §7.2 step 1), plus the feature stages."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from cassandra_data_migration_spark.functions import metadata as md
from cassandra_data_migration_spark.generate import generate_training_keyspace
from cassandra_data_migration_spark.plans.migrate import MigrationConfig, migrate
from cassandra_data_migration_spark.plans.validate import (
    autocorrect,
    schema_diff,
    validate_table,
    validation_report,
)
from cassandra_data_migration_spark.schema import PRIMARY_KEYS, WRITETIME_COL


@pytest.fixture(scope="module")
def keyspace(spark):
    return generate_training_keyspace(spark, scale=1, seed=42)


def test_generation_golden_counts(keyspace):
    # lab/scripts/generate_data.py:187-190 volumes
    assert keyspace["users"].count() == 1000
    assert keyspace["products"].count() == 500
    assert keyspace["orders"].count() == 2000
    assert keyspace["user_activity"].count() == 5000


def test_generation_is_deterministic(spark):
    from cassandra_data_migration_spark.generate import generate_users

    a = generate_users(spark, 50, seed=7).collect()
    b = generate_users(spark, 50, seed=7).repartition(13).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_generation_fk_integrity(keyspace):
    # J4: every order references an existing user
    orphans = keyspace["orders"].join(
        keyspace["users"], on="user_id", how="left_anti"
    )
    assert orphans.count() == 0


def test_migrate_end_to_end(spark, keyspace, tmp_path):
    origin = str(tmp_path / "origin")
    target = str(tmp_path / "target")
    keyspace["users"].write.parquet(origin)

    res = migrate(spark, MigrationConfig(origin_path=origin, target_path=target))
    assert res.rows_written == 1000
    v = validate_table(
        spark.read.parquet(origin), spark.read.parquet(target), ["user_id"], "users"
    )
    assert v.passed
    assert "PASS" in validation_report([v])


def test_migrate_features_compose(spark, keyspace, tmp_path):
    origin = str(tmp_path / "o2")
    target = str(tmp_path / "t2")
    keyspace["users"].write.parquet(origin)
    cfg = MigrationConfig(
        origin_path=origin,
        target_path=target,
        exclude_columns=["preferences"],
        where_condition="status = 'active'",
        constant_columns={"migrated_by": "cdm-spark"},
        custom_transforms=[lambda df: df.withColumn("email", F.lower("email"))],
    )
    res = migrate(spark, cfg)
    out = spark.read.parquet(target)
    assert "preferences" not in out.columns
    assert "migrated_by" in out.columns
    assert out.filter(F.col("status") != "active").count() == 0
    assert res.rows_written == out.count()


def test_migrate_dry_run_writes_nothing(spark, keyspace, tmp_path):
    origin = str(tmp_path / "o3")
    target = str(tmp_path / "t3")
    keyspace["products"].write.parquet(origin)
    res = migrate(
        spark, MigrationConfig(origin_path=origin, target_path=target, dry_run=True)
    )
    assert res.dry_run and res.rows_read == 500 and res.rows_written == 0
    import os

    assert not os.path.exists(target)


def test_autocorrect_repairs_and_never_deletes(spark, keyspace):
    users = keyspace["users"].cache()
    # break the target: drop some rows, corrupt some, add an extra row
    target = users.filter(F.pmod(F.xxhash64("user_id"), F.lit(10)) != 0).withColumn(
        "status",
        F.when(F.pmod(F.xxhash64("user_id"), F.lit(7)) == 0, F.lit("CORRUPT")).otherwise(
            F.col("status")
        ),
    )
    extra = users.limit(1).withColumn("user_id", F.lit("target-only-row"))
    target = target.unionByName(extra)

    repaired = autocorrect(users, target, ["user_id"])
    v = validate_table(users, repaired, ["user_id"], "users")
    assert v.missing == 0 and v.mismatched == 0
    # never deletes: the target-only row survives repair
    assert repaired.filter(F.col("user_id") == "target-only-row").count() == 1


def test_schema_diff_detects_column_changes(spark, keyspace):
    users = keyspace["users"]
    altered = users.drop("phone").withColumn("loyalty", F.lit(1))
    d = schema_diff(users, altered)
    sides = {(r.col_name, r.side) for r in d.collect()}
    assert ("phone", "origin_only") in sides
    assert ("loyalty", "target_only") in sides


def test_writetime_metadata_collapse(spark):
    df = spark.createDataFrame(
        [(1, "a", 100, 200, None), (2, "b", 300, 50, 60)],
        "id int, v string, id_writetime long, v_writetime long, v_ttl int",
    )
    out = md.collapse_writetime(df)
    rows = {r.id: r[WRITETIME_COL] for r in out.collect()}
    assert rows == {1: 200, 2: 300}
    out2 = md.collapse_ttl(df)
    assert {r.id: r["_ttl"] for r in out2.collect()} == {1: None, 2: 60}


def test_writetime_collapse_use_collections_flag(spark):
    # ttlwritetime.calc.useCollections (docs/04-cdm-approach.md:830):
    # collection cells excluded from the row max by default, included
    # when the flag is set — for both writetime and TTL
    df = spark.createDataFrame(
        [(1, ["x"], 100, 900, 5, 99)],
        "id int, tags array<string>, id_writetime long, "
        "tags_writetime long, id_ttl int, tags_ttl int",
    )
    default = md.collapse_writetime(df).first()[WRITETIME_COL]
    with_coll = md.collapse_writetime(df, use_collections=True).first()[
        WRITETIME_COL
    ]
    assert (default, with_coll) == (100, 900)
    assert md.collapse_ttl(df).first()["_ttl"] == 5
    assert md.collapse_ttl(df, use_collections=True).first()["_ttl"] == 99


def test_batch_size_heuristic_and_assignment(spark):
    from cassandra_data_migration_spark.plans.throttle import (
        assign_write_batches,
        estimate_avg_row_kb,
    )

    small = spark.createDataFrame([(1, "x" * 10)], "id int, v string")
    big = spark.createDataFrame([(1, "x" * 40_000)], "id int, v string")
    assert estimate_avg_row_kb(small) < 20.0 < estimate_avg_row_kb(big)

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "rid int, grp int"
    )
    out = assign_write_batches(df, ["grp"], ["rid"], batch_size=4).collect()
    by_group: dict = {}
    for r in out:
        by_group.setdefault((r.grp, r.batch_seq), []).append(r.rid)
    # every batch within a group holds at most batch_size rows
    assert all(len(v) <= 4 for v in by_group.values())
    # deterministic: re-running yields the identical assignment
    again = assign_write_batches(df, ["grp"], ["rid"], batch_size=4).collect()
    assert sorted(map(str, out)) == sorted(map(str, again))


def test_migrate_auto_batch_size(spark, keyspace, tmp_path):
    # the auto rule lives in plans/sizing (test_sizing.py); migrate
    # reports the configured perfops.batchSize, or None
    src = str(tmp_path / "src")
    keyspace["orders"].write.mode("overwrite").parquet(src)
    res = migrate(
        spark,
        MigrationConfig(origin_path=src, target_path="", dry_run=True),
    )
    assert res.batch_size is None
    res2 = migrate(
        spark,
        MigrationConfig(
            origin_path=src, target_path="", dry_run=True, batch_size=7
        ),
    )
    assert res2.batch_size == 7


def test_writetime_filter_and_shift(spark):
    df = spark.createDataFrame([(1, 100), (2, 300)], "id int, _writetime long")
    from cassandra_data_migration_spark.operators.filters import writetime_filter

    assert writetime_filter(df, 200).count() == 1
    shifted = md.shift_writetime(df, 1000)
    assert {r._writetime for r in shifted.collect()} == {1100, 1300}


def test_ttl_expiry(spark):
    df = spark.createDataFrame(
        [(1, 0, 10), (2, 0, None), (3, 50_000_000, 10)],
        "id int, _writetime long, _ttl int",
    )
    # now = 20s: row1 expired (0+10s < 20s), row2 no TTL, row3 written at 50s
    alive = md.expire_ttl(df, now_us=20_000_000)
    assert {r.id for r in alive.collect()} == {2, 3}


def test_run_tracker_resume(spark, tmp_path, keyspace):
    from cassandra_data_migration_spark.plans.tracker import RunTracker

    tr = RunTracker(spark, str(tmp_path / "track"), num_buckets=8)
    run = tr.new_run()
    tr.record_bucket(run, 0, "PASSED", 10)
    tr.record_bucket(run, 3, "FAILED", 0)
    tr.record_bucket(run, 3, "PASSED", 12)  # rerun fixed it
    tr.record_bucket(run, 5, "FAILED", 0)
    assert sorted(tr.completed_buckets(run)) == [0, 3]
    assert tr.pending_buckets(run) == [1, 2, 4, 5, 6, 7]

    df = spark.range(100)
    remaining = tr.filter_pending(df, "id", run)
    # buckets 0 and 3 are filtered out
    got = {r.id % 8 for r in remaining.collect()}
    assert 0 not in got and 3 not in got and got == {1, 2, 4, 5, 6, 7}


def test_throttle_schedule_honors_budgets_and_is_stable(spark):
    """T1 declarative schedule: no worker exceeds its per-second
    budget, every row is scheduled exactly once, and the schedule is a
    pure row function (repartition-invariant)."""
    from cassandra_data_migration_spark.plans.throttle import throttle_schedule
    from cassandra_data_migration_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECT

    orders = load_table(spark, SF_CORRECT, "orders")
    sched = throttle_schedule(
        orders, ["o_orderkey"], rows_per_sec_global=2000, num_workers=4
    ).cache()
    assert sched.count() == orders.count()
    per = sched.groupBy("worker", "send_second").count().collect()
    assert all(r["count"] <= 500 for r in per)  # 2000/4 per worker-second
    glob = sched.groupBy("send_second").count().collect()
    assert all(r["count"] <= 2000 for r in glob)
    again = throttle_schedule(
        orders.repartition(7), ["o_orderkey"], rows_per_sec_global=2000, num_workers=4
    )
    assert sched.exceptAll(again).count() == 0
    sched.unpersist()


# -- counts ride the migration's own job ---------------------------------------


def _guarded_orders(spark, tmp_path):
    """An origin with a whereCondition and a guardrail that both bite:
    status 'x' is filtered at the source, long notes are rejected."""
    src = str(tmp_path / "guarded_src")
    spark.range(300).selectExpr(
        "id",
        "CASE WHEN id % 10 = 0 THEN 'x' ELSE 'ok' END AS status",
        "repeat('n', CAST(id % 7 * 300 AS INT)) AS note",
    ).write.parquet(src)
    return MigrationConfig(
        origin_path=src,
        target_path=str(tmp_path / "guarded_tgt"),
        where_condition="status <> 'x'",
        guardrail_cols=["note"],
        guardrail_col_kb=1.0,
    )


def test_guardrail_keeps_rows_with_null_columns(spark, tmp_path):
    from cassandra_data_migration_spark.operators.filters import guardrail_split

    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "x" * 5000)], "id int, note string"
    )
    df.write.parquet(src)
    ok, bad = guardrail_split(df, {"note": 1.0})
    assert sorted(r.id for r in ok.collect()) == [1, 2]
    assert [r.id for r in bad.collect()] == [3]

    cfg = MigrationConfig(
        origin_path=src,
        target_path=str(tmp_path / "tgt"),
        guardrail_cols=["note"],
        guardrail_col_kb=1.0,
    )
    res = migrate(spark, cfg)
    written = spark.read.parquet(cfg.target_path)
    assert sorted(r.id for r in written.collect()) == [1, 2]
    assert (res.rows_read, res.rows_written, res.guardrail_violations) == (
        3, 2, 1
    )


def test_migrate_runs_schema_read_and_write_only(spark, tmp_path):
    cfg = _guarded_orders(spark, tmp_path)
    sc = spark.sparkContext
    group = "test-migrate-jobs"
    sc.setJobGroup(group, "migrate jobs")
    try:
        migrate(spark, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_rows_read_splits_into_rejected_and_written(spark, tmp_path):
    cfg = _guarded_orders(spark, tmp_path)
    res = migrate(spark, cfg)
    origin = spark.read.parquet(cfg.origin_path)
    read = origin.filter(cfg.where_condition)
    assert res.rows_read == read.count() < origin.count()
    assert res.guardrail_violations == read.filter("length(note) > 1024").count() > 0
    assert res.rows_read == res.guardrail_violations + res.rows_written
    assert spark.read.parquet(cfg.target_path).count() == res.rows_written

    cfg.dry_run = True
    dry = migrate(spark, cfg)
    assert (dry.rows_read, dry.rows_written, dry.guardrail_violations) == (
        res.rows_read, 0, res.guardrail_violations
    )


def test_migrate_empty_origin_counts_zero(spark, tmp_path):
    src = str(tmp_path / "empty")
    spark.createDataFrame([], "id int, note string").write.parquet(src)
    for dry_run in (False, True):
        res = migrate(
            spark,
            MigrationConfig(
                origin_path=src,
                target_path=str(tmp_path / "tgt"),
                guardrail_cols=["note"],
                guardrail_col_kb=1.0,
                dry_run=dry_run,
            ),
        )
        assert (res.rows_read, res.rows_written, res.guardrail_violations) == (
            0, 0, 0
        )


def test_where_condition_reaches_the_scan(spark, tmp_path):
    from cassandra_data_migration_spark.plans.migrate import build_feature_pipeline

    cfg = _guarded_orders(spark, tmp_path)
    out, _ = build_feature_pipeline(spark.read.parquet(cfg.origin_path), cfg)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Not(EqualTo(status,x))" in plan


# -- the origin schema comes from the footer Spark wrote -----------------------


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _typed_frame(spark):
    """One column per type a migrated table carries, NULLs included,
    plus a column with metadata."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType(), False),
            T.StructField("s", T.StringType()),
            T.StructField("v", T.NullType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("ntz", T.TimestampNTZType()),
            T.StructField("d", T.DateType()),
            T.StructField("dec", T.DecimalType(38, 10)),
            T.StructField(
                "nested",
                T.StructType(
                    [
                        T.StructField(
                            "xs",
                            T.ArrayType(T.MapType(T.StringType(), T.LongType())),
                        )
                    ]
                ),
            ),
            T.StructField("bin", T.BinaryType()),
            T.StructField("tiny", T.ByteType()),
            T.StructField("small", T.ShortType()),
            T.StructField("f", T.FloatType()),
            T.StructField("tagged", T.LongType(), metadata={"comment": "pk"}),
        ]
    )
    rows = [
        (
            1, "a", None, dt.datetime(2024, 1, 2, 3, 4, 5),
            dt.datetime(2024, 1, 2, 3, 4, 5), dt.date(2024, 1, 2),
            Decimal("12345.6789012345"), {"xs": [{"k": 1}, {}]},
            b"\x00\x01", 7, 300, 1.5, 10,
        ),
        (2, None, None, None, None, None, None, None, None, None, None, None, None),
    ]
    return spark.createDataFrame(rows, schema)


def test_plain_migration_runs_one_job(spark, tmp_path):
    """A table Spark wrote is read with its footer's schema, so the
    write is the only job a plain migration runs."""
    src = str(tmp_path / "flat_src")
    spark.range(200).selectExpr("id", "cast(id % 3 AS string) AS s").write.parquet(src)
    cfg = MigrationConfig(origin_path=src, target_path=str(tmp_path / "flat_tgt"))
    res, jobs = _jobs_in_group(spark, "plain-migrate", lambda: migrate(spark, cfg))
    assert jobs == 1
    assert (res.rows_read, res.rows_written) == (200, 200)


def test_read_parquet_matches_inference(spark, tmp_path):
    from cassandra_data_migration_spark.sources.files import (
        _spark_footer_schema,
        read_parquet,
    )

    src = str(tmp_path / "typed")
    _typed_frame(spark).write.parquet(src)
    assert _spark_footer_schema(spark, src) is not None
    fast, jobs = _jobs_in_group(
        spark, "read-parquet", lambda: read_parquet(spark, src)
    )
    assert jobs == 0
    inferred = spark.read.parquet(src)
    assert fast.schema == inferred.schema
    assert fast.schema["tagged"].metadata == {"comment": "pk"}
    assert sorted(fast.collect()) == sorted(inferred.collect())
    # a single data file named directly reads the same way
    part = read_parquet(spark, src).inputFiles()[0]
    assert read_parquet(spark, part).schema == spark.read.parquet(part).schema


def test_read_parquet_falls_back_to_inference(spark, tmp_path):
    """Every input the driver cannot decide alone is Spark's to infer;
    each still reads exactly like spark.read.parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cassandra_data_migration_spark.sources.files import (
        _spark_footer_schema,
        read_parquet,
    )

    arrow = str(tmp_path / "arrow")
    os.makedirs(arrow)
    pq.write_table(
        pa.table({"k": [1, 2], "tiny": pa.array([1, None], pa.int8())}),
        f"{arrow}/part-0.parquet",
    )
    hive = str(tmp_path / "hive")
    spark.range(6).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(hive)
    summary = str(tmp_path / "summary")
    spark.range(4).selectExpr("id", "cast(id AS string) AS s").write.parquet(summary)
    first = sorted(f for f in os.listdir(summary) if f.startswith("part-"))[0]
    pq.write_metadata(
        pq.read_schema(f"{summary}/{first}"), f"{summary}/_common_metadata"
    )
    evolved = str(tmp_path / "evolved")
    spark.range(3).write.parquet(evolved)
    spark.range(3).selectExpr("id", "id * 2 AS late").write.mode("append").parquet(
        evolved
    )

    def same(path):
        assert _spark_footer_schema(spark, path) is None
        fast, want = read_parquet(spark, path), spark.read.parquet(path)
        assert fast.schema == want.schema
        assert sorted(map(str, fast.collect())) == sorted(map(str, want.collect()))

    same(arrow)
    same(hive)
    assert "p" in read_parquet(spark, hive).columns
    same(summary)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        same(evolved)
        assert "late" in read_parquet(spark, evolved).columns
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_read_parquet_fails_like_spark(spark, tmp_path):
    """An empty directory, a missing path and a hidden file named
    directly (Spark lists no leaf for it) raise as Spark does."""
    import shutil

    from cassandra_data_migration_spark.sources.files import read_parquet

    empty = tmp_path / "empty_dir"
    empty.mkdir()
    table = str(tmp_path / "spark_written")
    spark.range(3).coalesce(1).write.parquet(table)
    part = next(f for f in os.listdir(table) if f.startswith("part-"))
    hidden = str(tmp_path / "_hidden.parquet")
    shutil.copy(os.path.join(table, part), hidden)
    for path in (str(empty), str(tmp_path / "missing"), hidden):
        with pytest.raises(Exception) as want:
            spark.read.parquet(path)
        with pytest.raises(want.type):
            read_parquet(spark, path)


def test_validate_matches_null_keys(spark):
    """A NULL key both sides hold is one matched row, not missing plus
    extra, and a frame validated against itself passes."""
    rows = spark.createDataFrame([(1, "a"), (None, "b")], "k int, v string")
    copy = spark.createDataFrame([(1, "a"), (None, "b")], "k int, v string")
    v = validate_table(rows, copy, ["k"])
    assert (v.missing, v.mismatched, v.extra_in_target, v.status) == (
        0, 0, 0, "PASS"
    )
    assert validate_table(rows, rows, ["k"]).passed
    changed = spark.createDataFrame([(1, "a"), (None, "c")], "k int, v string")
    assert validate_table(rows, changed, ["k"]).mismatched == 1


def test_guardrail_without_columns_caps_every_column(spark, tmp_path):
    """CDM's colSizeInKB names no columns: an oversized cell in any
    migrated column is rejected and counted."""
    from cassandra_data_migration_spark.plans.properties import (
        config_from_properties,
    )

    src = str(tmp_path / "uncapped_src")
    spark.createDataFrame(
        [(1, "a", "b"), (2, "x" * 2000, "b"), (3, "a", "y" * 2000)],
        "id int, note string, dropped string",
    ).write.parquet(src)
    cfg = config_from_properties(
        {
            "spark.cdm.guardrail.colSizeInKB": "1",
            "spark.cdm.schema.origin.column.names.to.exclude": "dropped",
        },
        src,
        str(tmp_path / "uncapped_tgt"),
    )
    assert cfg.guardrail_cols == []
    res = migrate(spark, cfg)
    written = spark.read.parquet(cfg.target_path)
    # row 3's long cell is in an excluded column, which is not migrated
    assert sorted(r.id for r in written.collect()) == [1, 3]
    assert (res.rows_read, res.rows_written, res.guardrail_violations) == (
        3, 2, 1
    )
