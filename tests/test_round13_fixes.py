"""Round-13 regression pins.

The round-12 `tests_ok: false` root cause: `scaled_shuffle_partitions`
trusted Catalyst's sizeInBytes unconditionally, and a
``createDataFrame``-backed frame (LogicalRDD) reports
``spark.sql.defaultSizeInBytes`` = Long.MaxValue — the formula then
returned the 2²⁰-partition cap and the quorum tests' repartition
became a ~10⁶-task exchange (hours of pure task overhead on a 4-row
fixture).  The guard treats any estimate ≥ 2⁵⁰ as unknown and falls
back to the parallelism floor.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_scaled_shuffle_partitions_distrusts_unknown_stats(spark):
    from cassandra_data_migration_spark.sources.tables import (
        scaled_shuffle_partitions,
    )

    # LogicalRDD (createDataFrame) → unknown stats → floor, never cap
    local = spark.createDataFrame(
        [(1, 10, 100), (2, 20, 200)], "k long, v long, wt long"
    )
    n = scaled_shuffle_partitions(local)
    assert n == spark.sparkContext.defaultParallelism

    # parquet-backed frame → real file stats → sane bounded count
    from cassandra_data_migration_spark.sources.tables import load_table

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey")
    n_scan = scaled_shuffle_partitions(li)
    assert (
        spark.sparkContext.defaultParallelism <= n_scan <= 4096
    ), n_scan


def test_scaled_shuffle_partitions_ignores_malformed_distrust_env(spark, monkeypatch):
    from cassandra_data_migration_spark.sources.tables import (
        scaled_shuffle_partitions,
    )

    # a bad env value must not crash planning: the 2**50 guard still
    # applies, so unknown stats still fall back to the floor
    monkeypatch.setenv("SPARK_GRAFT_STATS_DISTRUST", "abc")
    local = spark.createDataFrame([(1, 10)], "k long, v long")
    assert scaled_shuffle_partitions(local) == spark.sparkContext.defaultParallelism


def _shuffle_partition_counts(df) -> list[int]:
    """Partition count of every shuffle exchange in ``df``'s executed
    plan, looking through AQE's wrapper and its query stages."""
    counts: list[int] = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        if cls == "ShuffleExchangeExec":
            counts.append(node.outputPartitioning().numPartitions())
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return counts


def test_quorum_on_local_frames_is_fast(spark):
    # the exact round-12 hang shape: quorum over createDataFrame
    # replicas must not manufacture a million-partition exchange
    from cassandra_data_migration_spark.operators.cells import (
        quorum_read_repair,
    )

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k long, v long, wt long"
    )
    r0 = mk([(1, 10, 100), (2, 20, 100)])
    r1 = mk([(1, 10, 100), (2, 21, 200)])
    out_df = quorum_read_repair([r0, r1], "k", "v", "wt")
    out = out_df.collect()
    got = {r["k"]: (r["winner_v"], r["winner_wt"]) for r in out}
    assert got == {2: (21, 200)}
    # pre-fix the repartition asked for the 2**20 cap; bound every
    # exchange by the same 4096 the parquet-backed case gets
    counts = _shuffle_partition_counts(out_df)
    assert counts, "expected at least one shuffle exchange"
    assert max(counts) <= 4096, counts
