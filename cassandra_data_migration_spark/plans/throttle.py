"""Throughput operators (SURVEY.md §2.10 T1-T2) as declarative plans.

The reference caps throughput per worker (perfops.ratelimit.* default
20k ops/s per side, docs/04-cdm-approach.md:463,492-493,637) and
batches writes (batchSize, cdm.properties:28).  Both are expressed here
as pure functions of the row — an admission schedule and a write-batch
assignment — so they are reproducible across engines and
oracle-checkable.  The per-worker budget is global_limit / num_workers,
mirroring the reference's per-worker division
(docs/04-cdm-approach.md:637).

CDM's sizing rules (batchSize, fetchSizeInRows, numParts) live in
plans/sizing.py; :func:`effective_fetch_size` applies its fetch
constants to a probed row size for the driver-paced fetch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cassandra_data_migration_spark.plans.sizing import (
    DEFAULT_FETCH,
    HUGE_ROW_BYTES,
    REDUCED_FETCH,
)


def throttle_schedule(
    df: DataFrame,
    pk_cols: list[str],
    rows_per_sec_global: int,
    num_workers: int = 4,
    salt: str = "throttle",
) -> DataFrame:
    """T1: the admission schedule a token-bucket limiter would
    execute.  Each row is assigned a worker (hash of its PK —
    the reference's per-worker rate split, docs/04-cdm-approach.md:637)
    and a send second = rank within its worker DIV the per-worker
    budget (``rows_per_sec_global / num_workers``).

    Everything is a pure function of the row (md5 draws + integer
    DIV), so the schedule is reproducible across engines and
    partitionings, and it can be oracle-checked.  Physical plan: one
    shuffle on the worker id, then a per-worker rank — the work
    distribution a wall-clock limiter induces, computed ahead of
    time."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cassandra_data_migration_spark.functions.hashing import md5_draw

    per_worker = max(rows_per_sec_global // num_workers, 1)
    worker = md5_draw(f"{salt}:w", *pk_cols) % num_workers
    out = df.withColumn("worker", worker.cast("int"))
    w = Window.partitionBy("worker").orderBy(
        md5_draw(f"{salt}:o", *pk_cols), *[F.col(c) for c in pk_cols]
    )
    return (
        out.withColumn(
            "_rank0", (F.row_number().over(w) - F.lit(1)).cast("long")
        )
        .withColumn("send_second", F.expr(f"_rank0 DIV {int(per_worker)}"))
        .drop("_rank0")
    )


def estimate_avg_row_kb(df: DataFrame, sample_rows: int = 1000) -> float:
    """Average serialized row size (KB) from a bounded sample — the
    input to :func:`effective_fetch_size`.  JSON encoding is the proxy
    (close enough to CQL wire size to trip the same >100 KB threshold);
    ``limit`` keeps the probe O(sample) on a 100 TB table."""
    from pyspark.sql import functions as F

    row = (
        df.limit(sample_rows)
        .select(
            F.avg(
                F.octet_length(F.to_json(F.struct(*df.columns)))
            ).alias("avg_bytes")
        )
        .first()
    )
    return float(row["avg_bytes"] or 0.0) / 1024.0


def effective_fetch_size(avg_row_kb: float) -> int:
    """CDM's fetchSizeInRows rule (docs/04-cdm-approach.md:461-462):
    default 1,000 rows per page, reduced for tables with very large
    rows (>100 KB) so a single page can't blow the fetcher's memory —
    the constants of plans/sizing.migration_sizing_plan's
    ``fetch_size_rows`` column."""
    if avg_row_kb * 1024 > HUGE_ROW_BYTES:
        return REDUCED_FETCH
    return DEFAULT_FETCH


def assign_write_batches(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[str],
    batch_size: int = 5,
    salt: str = "batch",
) -> DataFrame:
    """T2: group rows into write batches of
    ``batch_size`` within their partition-key group — the unit a
    CQL-like sink sends as one UNLOGGED BATCH (cdm.properties:28).

    ``order_cols`` must uniquely identify a row within its group (the
    clustering key): batch membership is md5-ranked over them, so the
    assignment is a pure function of the row — engine-reproducible and
    oracle-checkable.  Physical plan: one shuffle on the partition
    key, then a per-group rank — the same co-location the real
    batched writer needs anyway."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cassandra_data_migration_spark.functions.hashing import md5_draw

    w = Window.partitionBy(*partition_cols).orderBy(
        md5_draw(f"{salt}:o", *order_cols), *[F.col(c) for c in order_cols]
    )
    return (
        df.withColumn("_rank0", (F.row_number().over(w) - F.lit(1)).cast("long"))
        .withColumn(
            "batch_seq", F.expr(f"CAST(_rank0 DIV {int(batch_size)} AS INT)")
        )
        .drop("_rank0")
    )
