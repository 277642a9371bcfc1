"""Merkle-scoped repair must PRUNE I/O, not just shuffle: the row
legs read only flagged ranges — partition-pruned files on the lake
layout, token-range pushdown (CDM partition.min/max) on the
connector path."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from cassandra_data_migration_spark.operators.merkle import token_bucket
from cassandra_data_migration_spark.plans.repair import (
    METRICS,
    bucket_partitioned_write,
    bucket_pruned_reader,
    connector_scoped_reader,
    merkle_scoped_repair,
    token_runs,
)


def _mk_tables(spark, n=4000):
    origin = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") * 7).cast("string").alias("a"),
        (F.col("id") % 13).cast("long").alias("b"),
    )
    # sparse divergence: drop k=77 (missing), corrupt k=501 (mismatch)
    target = origin.filter(F.col("k") != 77).withColumn(
        "b",
        F.when(F.col("k") == 501, F.col("b") + 1).otherwise(F.col("b")),
    )
    return origin, target


def _metrics(df):
    return {r["metric"]: r["value"] for r in df.collect()}


def test_token_runs_coalesce():
    assert token_runs([5, 3, 4, 9, 11, 10]) == [(3, 5), (9, 11)]
    assert token_runs([]) == []
    assert token_runs([2, 2]) == [(2, 2)]


def test_lake_layout_prunes_files_and_repairs(spark, tmp_path):
    """Row legs over the bucket-partitioned layout must touch only the
    flagged partitions' files, and the repair itself must converge."""
    origin, target = _mk_tables(spark)
    o_path, t_path = str(tmp_path / "o"), str(tmp_path / "t")
    leaves = 64
    bucket_partitioned_write(origin, o_path, "k", leaves=leaves)
    bucket_partitioned_write(target, t_path, "k", leaves=leaves)

    o_reader = bucket_pruned_reader(spark, o_path)
    t_reader = bucket_pruned_reader(spark, t_path)

    rep = _metrics(
        merkle_scoped_repair(
            origin,
            target,
            "k",
            ["a", "b"],
            scoped_origin=o_reader,
            scoped_target=t_reader,
        )
    )
    assert set(rep) == set(METRICS)
    assert rep["missing_repaired"] == 1
    assert rep["mismatched_repaired"] == 1
    assert rep["extra_removed"] == 0
    assert rep["post_missing"] == rep["post_mismatched"] == 0
    assert rep["post_extra"] == 0
    flagged_n = rep["divergent_leaves"]
    assert 1 <= flagged_n <= 2

    # partition pruning is REAL: the executed scan reads only the
    # flagged bucket directories (inputFiles() reflects the unpruned
    # relation, so assert on the scan node's own metrics)
    scoped = o_reader(_flagged(spark, origin, target))
    scoped.collect()
    num_files, num_parts = _scan_metrics(scoped)
    total_files = len(spark.read.parquet(o_path).inputFiles())
    assert num_parts == flagged_n
    assert 0 < num_files < total_files
    plan = scoped._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def _scan_metrics(df):
    """(numFiles, numPartitions) from the executed FileSourceScan."""
    plan = df._jdf.queryExecution().executedPlan()

    def walk(node):
        yield node
        for i in range(node.children().size()):
            yield from walk(node.children().apply(i))

    for n in walk(plan):
        if "Scan" in n.nodeName():
            vals = {}
            it = n.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                vals[kv._1()] = kv._2().value()
            if "numFiles" in vals:
                return vals["numFiles"], vals.get("numPartitions")
    raise AssertionError("no file scan node found")


def _flagged(spark, origin, target, leaves=64):
    from cassandra_data_migration_spark.operators.merkle import merkle_diff

    return [
        r["bucket"]
        for r in merkle_diff(origin, target, "k", ["a", "b"]).collect()
    ]


def test_lake_scoped_rows_match_scoped_fraction(spark, tmp_path):
    """Row-leg input rows ≈ flagged fraction of the table — the
    at-scale property the scoping exists for."""
    origin, target = _mk_tables(spark)
    o_path = str(tmp_path / "o")
    bucket_partitioned_write(origin, o_path, "k", leaves=64)
    flagged = _flagged(spark, origin, target)
    reader = bucket_pruned_reader(spark, o_path)
    scoped_rows = reader(flagged).count()
    total = origin.count()
    # 64 leaves over 4000 keys → a leaf holds ~1/64 of rows; ≤2 leaves
    # flagged → the row leg reads ≤ ~2/64 plus skew allowance
    assert scoped_rows <= total * (len(flagged) / 64) * 2
    assert scoped_rows > 0


def test_connector_scoped_reader_pushes_token_bounds(spark, tmp_path):
    """The connector path issues one token-bounded read per contiguous
    flagged run; the fake records the CDM partition.min/max options
    and serves ONLY in-range rows (page-level pruning)."""
    from cassandra_data_migration_spark.sources.connector import (
        CassandraTableSource,
    )
    from cassandra_data_migration_spark.sources.fake_cassandra import (
        fake_cql_log_path,
        register_fake_cassandra,
    )

    register_fake_cassandra(spark)
    ks = str(tmp_path / "ks")
    src = CassandraTableSource(keyspace=ks, partition_keys={"t": ["k"]})
    n = 640
    base = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 9).cast("string").alias("v"),
    )
    base.write.parquet(os.path.join(ks, "t.parquet"))

    # token space = pmod(k, 32); flag buckets {3, 4, 11}
    reader = connector_scoped_reader(
        src, spark, "t", bucket_token_bounds=lambda b: (b, b)
    )
    scoped = reader([3, 4, 11])
    rows = scoped.collect()
    assert {r["k"] % 32 for r in rows} == {3, 4, 11}
    assert len(rows) == n * 3 // 32

    # the fake recorded two pushdown reads: run (3,4) and run (11,11)
    recs = [
        json.loads(line)
        for line in open(fake_cql_log_path())
        if ks in line and "partition.min" in line
    ]
    bounds = {
        (
            r.get("spark.cdm.filter.cassandra.partition.min"),
            r.get("spark.cdm.filter.cassandra.partition.max"),
        )
        for r in recs
    }
    assert ("3", "4") in bounds and ("11", "11") in bounds


def test_connector_scoped_repair_end_to_end(spark, tmp_path):
    """Full repair through the fake connector with server-token
    bucketing (bucket_expr = the fake's token convention): flagged
    leaves translate into token pushdown, metrics converge."""
    from cassandra_data_migration_spark.sources.connector import (
        CassandraTableSource,
    )
    from cassandra_data_migration_spark.sources.fake_cassandra import (
        register_fake_cassandra,
    )

    register_fake_cassandra(spark)
    origin, target = _mk_tables(spark, n=2000)
    ks_o, ks_t = str(tmp_path / "o"), str(tmp_path / "t")
    origin.write.parquet(os.path.join(ks_o, "t.parquet"))
    target.write.parquet(os.path.join(ks_t, "t.parquet"))
    src_o = CassandraTableSource(keyspace=ks_o, partition_keys={"t": ["k"]})
    src_t = CassandraTableSource(keyspace=ks_t, partition_keys={"t": ["k"]})

    # 32 leaves in the SERVER's token space: bucket == token(pk)
    bucket_expr = F.pmod(F.col("k"), F.lit(32)).cast("long")
    rep = _metrics(
        merkle_scoped_repair(
            origin,
            target,
            "k",
            ["a", "b"],
            depth=5,
            fanout=2,  # 2**5 = 32 leaves
            bucket_expr=bucket_expr,
            scoped_origin=connector_scoped_reader(
                src_o, spark, "t", lambda b: (b, b)
            ),
            scoped_target=connector_scoped_reader(
                src_t, spark, "t", lambda b: (b, b)
            ),
        )
    )
    assert rep["missing_repaired"] == 1
    assert rep["mismatched_repaired"] == 1
    assert rep["post_missing"] == rep["post_mismatched"] == rep["post_extra"] == 0
    # 77 % 32 == 13, 501 % 32 == 21 — two distinct flagged leaves
    assert rep["divergent_leaves"] == 2
    # each leaf holds n/32 of the origin rows; two leaves scoped
    assert rep["scoped_origin_rows"] == 2000 * 2 // 32


def test_default_path_unchanged_without_readers(spark):
    """No scoped readers → same metrics via the scan-side fallback."""
    origin, target = _mk_tables(spark, n=1000)
    rep = _metrics(merkle_scoped_repair(origin, target, "k", ["a", "b"]))
    assert rep["missing_repaired"] == 1
    assert rep["mismatched_repaired"] == 1
    assert rep["post_missing"] == rep["post_mismatched"] == rep["post_extra"] == 0


def _repair_jobs(spark, origin, target, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, "one merkle_scoped_repair call")
    try:
        rep = _metrics(merkle_scoped_repair(origin, target, "k", ["a", "b"]))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rep, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repair_classifies_each_scoped_key_once(spark):
    """The repaired view is the classification join's origin side, so
    no anti/semi-join re-reads the scoped slices: the call runs the
    leaf diff, the flagged collect and ONE report job chain."""
    origin, target = _mk_tables(spark, n=4000)
    _repair_jobs(spark, origin, target, "repair-warm")
    rep, jobs = _repair_jobs(spark, origin, target, "repair-once")
    assert rep["missing_repaired"] == rep["mismatched_repaired"] == 1
    assert rep["post_missing"] == rep["post_mismatched"] == rep["post_extra"] == 0
    # leaf diff + flagged collect + the pre/post report; one more
    # join leg over the scoped slices shows up as extra jobs here
    assert jobs <= 11, jobs


def _keyed(spark, rows):
    return spark.createDataFrame(rows, "k long, a string, b long")


def _base_rows(n=400):
    return [(i, str(i * 7), i % 13) for i in range(n)]


def test_duplicated_origin_key_is_not_claimed_converged(spark):
    """Two origin rows under one key cannot both win: the scoped
    post-validation still sees the key's other row as a mismatch."""
    base = _base_rows()
    origin = _keyed(spark, base + [(5, "dup", 0)])
    target = _keyed(spark, base)
    rep = _metrics(merkle_scoped_repair(origin, target, "k", ["a", "b"]))
    assert rep["mismatched_repaired"] == 1
    assert rep["post_mismatched"] > 0


def test_null_origin_key_stays_missing(spark):
    """A NULL key joins nothing, so an origin row keyed NULL is never
    repaired into place and post_missing says so."""
    base = _base_rows()
    origin = _keyed(spark, base + [(None, "n", 1)])
    target = _keyed(spark, base)
    rep = _metrics(merkle_scoped_repair(origin, target, "k", ["a", "b"]))
    assert rep["missing_repaired"] == 1
    assert rep["post_missing"] >= 1


def test_null_target_only_key_is_removed(spark):
    """Origin wins: a target-only row is deleted even when its key is
    NULL, which no key join can match."""
    base = _base_rows()
    origin = _keyed(spark, base)
    target = _keyed(spark, base + [(None, "n", 1)])
    rep = _metrics(merkle_scoped_repair(origin, target, "k", ["a", "b"]))
    assert rep["extra_removed"] == 1
    assert rep["post_missing"] == rep["post_mismatched"] == rep["post_extra"] == 0
