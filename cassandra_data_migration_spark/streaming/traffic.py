"""Z6: traffic generator (lab/scripts/simulate_app_traffic.py).

The reference loops in Python at ~2 ops/s with a 75/25 read/write mix
(:37-41, :64) choosing op types at random (:76-137).  Spark-native:
a ``rate`` streaming source (rows/sec knob = INTERVAL analogue) with
deterministic hash-derived op assignment — the same draw-from-(seed,id)
scheme as generate.py, so a given ops log is reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

READ_OPS = ["select_limit", "select_by_status", "count_rows"]  # :83-101
WRITE_OPS = ["insert_user", "update_last_login"]  # :104-137


def assign_ops(
    stream: DataFrame,
    id_col: str = "value",
    read_ratio: float = 0.75,
    seed: int = 42,
) -> DataFrame:
    """Deterministic op-mix assignment: is_read from a hash draw at
    ``read_ratio`` (75/25 default), op type uniform within its class.
    The draw is md5-derived (functions/hashing.md5_draw) so a given
    ops log is reproducible by ANY engine, including the oracle."""
    from cassandra_data_migration_spark.functions.hashing import md5_draw

    draw = md5_draw(seed, id_col)
    is_read = (draw % 100) < int(read_ratio * 100)
    read_arr = F.array(*[F.lit(o) for o in READ_OPS])
    write_arr = F.array(*[F.lit(o) for o in WRITE_OPS])
    pick_read = F.element_at(read_arr, (draw % len(READ_OPS) + 1).cast("int"))
    pick_write = F.element_at(write_arr, (draw % len(WRITE_OPS) + 1).cast("int"))
    return stream.withColumn("is_read", is_read).withColumn(
        "op_type", F.when(is_read, pick_read).otherwise(pick_write)
    )


def traffic_report(ops_log: DataFrame) -> DataFrame:
    """The end-of-run summary (simulate_app_traffic.py:156-206):
    totals, read/write split, success rate."""
    return ops_log.agg(
        F.count(F.lit(1)).alias("total_ops"),
        F.sum(F.when(F.col("is_read"), 1).otherwise(0)).alias("reads"),
        F.sum(F.when(~F.col("is_read"), 1).otherwise(0)).alias("writes"),
        F.round(
            100.0 * F.sum(F.when(F.col("is_read"), 1).otherwise(0)) / F.count(F.lit(1)),
            2,
        ).alias("read_pct"),
    )
