"""The benchmark's three workloads, driven through the package's public API.

Each run is one Python process holding one Spark session
(``local[nproc-1]``, driver heap pinned at 4g through
``get_spark(extra_conf=...)``).  A run sets up, runs warm-up operations
that count as set-up, measures for ``--seconds``, checks every output,
then stops the JVM and waits for it to exit.

- ``bulk_migrate`` (closed loop, one client): one op migrates the four
  training tables with the CDM features on.  ``plans.migrate`` and the
  parquet scan/write do the work; validation, repair and streaming do
  none.
- ``validate_repair`` (closed loop, one client): one op validates,
  sample-validates and Merkle-repairs ``orders`` against a target seeded
  with exact, sparse divergence.  Shuffle- and join-bound, no writes:
  migrate-path changes should not move it.
- ``dual_write_stream`` (drain, then open loop): Phase A drains a staged
  backlog one file per trigger; Phase B sends files on a fixed schedule
  into an uncapped source.  Per-micro-batch overhead sets its numbers.
"""

from __future__ import annotations

import math
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import SparkContext
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cassandra_data_migration_spark.functions.metadata import attach_derived_writetime
from cassandra_data_migration_spark.generate import (
    generate_orders,
    generate_training_keyspace,
)
from cassandra_data_migration_spark.plans.migrate import MigrationConfig, migrate
from cassandra_data_migration_spark.plans.repair import merkle_scoped_repair
from cassandra_data_migration_spark.plans.validate import sample_validate, validate_table
from cassandra_data_migration_spark.schema import ORDERS, PRIMARY_KEYS
from cassandra_data_migration_spark.session import get_spark
from cassandra_data_migration_spark.streaming import dual_write as dw

from harness import (
    PER_LAYER,
    CompletionLedger,
    JobCost,
    Span,
    Tracer,
    attribute_jobs,
    late_verdict,
    lateness,
    median_or_zero,
    nearest_rank,
    self_seconds,
    split_ranked,
    supported_percentile,
)

MB = 1024 * 1024
TABLES = ("users", "products", "orders", "user_activity")
# validate_repair's table: the largest with a single-column key, which
# merkle_scoped_repair needs.  One op over all four tables takes ~14 s on
# a 4-core host, too long to reach a steady state inside a run's budget.
REPAIR_TABLES = ("orders",)
SCALE = 10  # ~85K origin rows over the four tables
# Op times fall as the JIT compiles: the first op runs ~1.5-2x slower,
# the next few 10-30% slower, and later ops drift down a further ~10%
# over ten ops.  Warm-up ops take out the steep part; the run-time
# budget affords four of bulk_migrate's ~2 s op and two of
# validate_repair's ~3 s op.
BULK_WARMUP_OPS = 4
REPAIR_WARMUP_OPS = 2
MIN_OPS = 3  # a closed loop times at least this many ops, even past --seconds

# bulk_migrate features.  The email cap rejects emails of 29+ bytes:
# maria.mueller with a 4-digit id, a seed-set ~1-2% of users at SCALE 10.
EMAIL_CAP_BYTES = 28
ORDERS_WHERE = "status <> 'cancelled'"
CONSTANT_COLUMN = ("migrated_by", "migbench")

# validate_repair: exact divergence seeded into the target.  Eight keys
# in 64 Merkle leaves keeps the repair's row legs sparse.
N_MISSING, N_MISMATCHED, N_EXTRA = 3, 3, 2
MUTATE_COL = {"users": "status", "orders": "status"}
SAMPLE_N = 100  # sample_validate's default sample size

# dual_write_stream.  The open loop sends SEND_RATE files/s for
# --seconds, and at least MIN_SENDS files: a supported p90 needs 100
# samples (ten beyond it).
ROWS_PER_FILE = 2000
WARMUP_FILES = 6  # Phase A's first batches, counted as set-up
DRAIN_FILES = 10
SEND_RATE = 10.0
LATE_LIMIT_S = 0.25  # a send leaving later than this invalidates Phase B
MIN_SENDS = 100
STREAM_TIMEOUT_S = 60.0


class CheckFailed(Exception):
    """An output of the program differs from what the inputs imply."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Run:
    """State of one benchmark process."""

    spark: SparkSession
    work: str
    tracer: Tracer
    seed: int
    seconds: float
    cores: int
    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=lambda: dict.fromkeys(PER_LAYER, 0.0))
    window: tuple[float, float] = (0.0, 0.0)
    notes: dict[str, object] = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def attempt(self, op: Callable[[], object], n: int = 1) -> bool:
        """Run one operation (or ``n`` counted together); an exception or
        failed check marks all ``n`` failed and the run goes on."""
        self.attempted += n
        try:
            op()
            return True
        except Exception:  # noqa: BLE001 -- a failed op is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.failed += n
            return False


# -- session -----------------------------------------------------------------

def start_session(work: str, cores: int) -> SparkSession:
    """The same session for gated and traced runs, so that a traced run
    differs from a gated one only by the span bookkeeping it measures.
    The UI stays off (``get_spark``'s default); stage costs are read from
    the status store every session keeps.  Retention is raised so that no
    job, stage or stream progress of the run is dropped -- each limit is
    above what a run produces, so nothing is evicted in either mode."""
    conf = {
        "spark.driver.memory": "4g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    spark = get_spark(
        app_name="migbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def next_job_id(spark: SparkSession) -> Callable[[], int]:
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: int(dag.nextJobId())


def jvm_gc_seconds(spark: SparkSession) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def retained_heap_mb(spark: SparkSession) -> float:
    """Heap in use after full collections: what the run left reachable.
    The pause lets Spark's context cleaner drop the broadcast and shuffle
    blocks the first collection found unreachable."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return usage.getHeapMemoryUsage().getUsed() / MB


def stop_session(spark: SparkSession) -> None:
    """Stop Spark, then end the JVM and wait for it: closing the
    gateway's stdin is the JVM's signal to exit."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- never leave the JVM behind
            proc.kill()
            proc.wait()


def fetch_job_costs(spark: SparkSession) -> dict[int, JobCost]:
    """Per-job stage totals from the driver's status store (the data the
    UI's REST API would serve).  A stage reused by later jobs is charged
    to the first job that ran it; skipped stages cost nothing."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)
    store = sc.statusStore()
    stage_cost: dict[int, JobCost] = {}
    jobs: dict[int, JobCost] = {}
    for jid in range(int(sc.dagScheduler().nextJobId())):
        ids = store.job(jid).stageIds()  # raises if the store dropped it
        cost = JobCost()
        for sid in (int(ids.apply(i)) for i in range(ids.length())):
            if sid in stage_cost:
                continue
            st = store.lastStageAttempt(sid)
            stage_cost[sid] = JobCost() if st.status().toString() == "SKIPPED" else JobCost(
                stages=1,
                tasks=st.numTasks(),
                executor_run_s=st.executorRunTime() / 1e3,
                executor_cpu_s=st.executorCpuTime() / 1e9,
                input_mb=st.inputBytes() / MB,
                output_mb=st.outputBytes() / MB,
                shuffle_mb=st.shuffleWriteBytes() / MB,
            )
            cost.add(stage_cost[sid])
        jobs[jid] = cost
    return jobs


# -- shared staging ----------------------------------------------------------

def checksum(df: DataFrame, cols: list[str]) -> tuple:
    """Order-independent (row count, content hash sum) over ``cols``."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(F.to_json(F.struct(*cols))).cast("decimal(38,0)")).alias("h"),
    ).first()
    return row["n"], row["h"]


def upsert_lww(df: DataFrame, pk: list[str]) -> DataFrame:
    """Load rows as Cassandra upserts would: one row per primary key.
    Colliding rows carry the same derived writetime, and Cassandra breaks
    a writetime tie per cell by the greater value."""
    vals = [c for c in df.columns if c not in pk]
    return df.groupBy(*pk).agg(*[F.max(c).alias(c) for c in vals]).select(*df.columns)


def in_parallel(fn: Callable, items) -> list:
    """``[fn(x) for x in items]`` on one thread per item: set-up and
    checks submit independent Spark jobs, which overlap their cold
    planning this way.  Never used inside a timed op."""
    with ThreadPoolExecutor(max_workers=len(items)) as pool:
        return list(pool.map(fn, items))


def stage_origin(run: Run, tables: tuple[str, ...]) -> dict[str, int]:
    """Generate the training keyspace at SCALE and load it as the origin.

    ``generate_user_activity`` can emit the same (user_id, activity_date,
    activity_time) key twice; that table is loaded last-write-wins and
    the collapsed rows are counted in ``generate.pk_collisions``.  The
    other tables key on md5 uuids of distinct row ids."""
    keyspace = generate_training_keyspace(run.spark, scale=SCALE, seed=run.seed)

    def load(t: str) -> tuple[int, int]:
        df = keyspace[t]
        made, loaded = Observation(), Observation()
        df = df.observe(made, F.count(F.lit(1)).alias("rows"))
        if t == "user_activity":
            df = upsert_lww(df, PRIMARY_KEYS[t])
        df = df.observe(loaded, F.count(F.lit(1)).alias("rows"))
        df.write.mode("overwrite").parquet(run.path("origin", t))
        return made.get["rows"], loaded.get["rows"]

    with run.tracer.span("generate") as s:
        rows = dict(zip(tables, in_parallel(load, tables)))
    generated = {t: r[0] for t, r in rows.items()}
    counts = {t: r[1] for t, r in rows.items()}
    run.layer["generate.s"] += s.seconds
    run.layer["generate.rows"] += sum(generated.values())
    run.layer["generate.pk_collisions"] += sum(generated[t] - counts[t] for t in tables)
    return counts


def op_spans(spans: list[Span]) -> list[int]:
    return [i for i, s in enumerate(spans) if s.name == "bench.op"]


def children(spans: list[Span], parent: int, names: tuple[str, ...]) -> list[Span]:
    return [s for s in spans if s.parent == parent and s.name in names]


def layer_cost(spans: list[Span], jobs: dict[int, JobCost]) -> tuple[float, int, JobCost]:
    secs, n, total = 0.0, 0, JobCost()
    for s in spans:
        k, c = attribute_jobs(s, jobs)
        secs += s.seconds
        n += k
        total.add(c)
    return secs, n, total


def record_call_layer(
    run: Run, jobs: dict[int, JobCost], prefix: str, names: tuple[str, ...],
    call_names: tuple[str, ...],
) -> None:
    """Median over timed ops of a layer's per-op totals."""
    spans = run.tracer.spans
    rows: dict[str, list[float]] = {}
    for i in op_spans(spans):
        secs, n, c = layer_cost(children(spans, i, names), jobs)
        call_s = sum(s.seconds for s in children(spans, i, call_names))
        for k, v in {
            "call_s": call_s,
            "jobs": n,
            "stages": c.stages,
            "tasks": c.tasks,
            "executor_run_s": c.executor_run_s,
            "executor_cpu_s": c.executor_cpu_s,
            "busy_frac": c.executor_run_s / (secs * run.cores) if secs else 0.0,
            "input_mb": c.input_mb,
            "output_mb": c.output_mb,
            "shuffle_mb": c.shuffle_mb,
        }.items():
            rows.setdefault(k, []).append(v)
    for k, vs in rows.items():
        if f"{prefix}.{k}" in run.layer:
            run.layer[f"{prefix}.{k}"] = median_or_zero(vs)


def closed_loop(
    run: Run,
    op: Callable[[], None],
    rows_per_op: int,
    warmups: int,
    verify: Callable[[], None] | None = None,
) -> None:
    """Run ``warmups`` ops, then time ops back to back for ``run.seconds``
    and at least MIN_OPS ops.  ``op`` raises on a wrong result; ``verify``
    reads back what the last op left, outside the timing."""
    for _ in range(warmups):
        with run.tracer.span("bench.warmup") as w:
            run.attempt(op)
        run.notes.setdefault("warmup_s", []).append(round(w.seconds, 3))
    times: list[float] = []
    t0 = time.perf_counter()
    gc0, ovh0 = jvm_gc_seconds(run.spark), run.tracer.overhead_s
    while len(times) < MIN_OPS or time.perf_counter() - t0 < run.seconds:
        with run.tracer.span("bench.op") as s:
            ok = run.attempt(op)
        if ok:
            times.append(s.seconds)
    t1 = time.perf_counter()
    run.window = (t0, t1)
    run.layer["jvm.gc_s"] = jvm_gc_seconds(run.spark) - gc0
    run.layer["tracing.overhead_frac"] = (run.tracer.overhead_s - ovh0) / (t1 - t0)
    if verify is not None:
        run.attempt(verify)
    run.notes["ops"] = len(times)
    run.notes["op_s"] = [round(t, 4) for t in times]
    if run.tracer.enabled:
        # the benchmark's own glue between calls into the package
        selfs = self_seconds(run.tracer.spans)
        run.layer["bench.op.self_s"] = median_or_zero(
            selfs[i] for i in op_spans(run.tracer.spans)
        )
    run.e2e["throughput_rows_per_s"] = (
        statistics.median(rows_per_op / t for t in times) if times else 0.0
    )
    # fewer than 100 ops, so p90 is nearest-rank over the ops, without
    # the ten-samples-beyond support the open loop's p90 has
    run.e2e["latency_p50_s"] = statistics.median(times) if times else 0.0
    run.e2e["latency_p90_s"] = nearest_rank(times, 0.9) if times else 0.0


# -- bulk_migrate --------------------------------------------------------------

def migration_config(run: Run, table: str) -> MigrationConfig:
    cfg = MigrationConfig(
        origin_path=run.path("origin", table),
        target_path=run.path("target", table),
        table=table,
    )
    if table == "users":
        cfg.guardrail_cols = ["email"]
        cfg.guardrail_col_kb = (EMAIL_CAP_BYTES + 0.5) / 1024
    elif table == "products":
        cfg.exclude_columns = ["description"]
        cfg.constant_columns = {CONSTANT_COLUMN[0]: CONSTANT_COLUMN[1]}
    elif table == "orders":
        cfg.where_condition = ORDERS_WHERE
    else:
        cfg.custom_transforms = [lambda df: attach_derived_writetime(df, "activity_time")]
        cfg.batch_partition_cols = ["user_id", "activity_date"]
    return cfg


def expected_migration(run: Run, table: str) -> DataFrame:
    """What the target should hold, computed without plans.migrate."""
    o = run.spark.read.parquet(run.path("origin", table))
    if table == "users":
        return o.filter(F.octet_length("email") <= EMAIL_CAP_BYTES)
    if table == "products":
        return o.drop("description").withColumn(CONSTANT_COLUMN[0], F.lit(CONSTANT_COLUMN[1]))
    if table == "orders":
        return o.filter(ORDERS_WHERE)
    return o.withColumn("_writetime", F.unix_micros("activity_time"))


def bulk_migrate(run: Run) -> None:
    counts = stage_origin(run, TABLES)
    spark = run.spark

    def expected(t: str) -> tuple[list[str], int, int]:
        exp = expected_migration(run, t)
        return (exp.columns, *checksum(exp, exp.columns))

    want = dict(zip(TABLES, in_parallel(expected, TABLES)))
    rejected = counts["users"] - want["users"][1]
    run.notes["guardrail_share"] = round(rejected / counts["users"], 4)

    def op() -> None:
        for t in TABLES:
            with run.tracer.span("plans.migrate") as s:
                r = migrate(spark, migration_config(run, t))
            s.counts.update(
                rows_scanned=counts[t],
                rows_written=r.rows_written,
                guardrail_rejected=r.guardrail_violations,
                rows_read_reported=r.rows_read,
            )
            n = want[t][1]
            expect(r.rows_written == n, f"{t}: wrote {r.rows_written}, expected {n}")
            expect(
                r.guardrail_violations == (rejected if t == "users" else 0),
                f"{t}: {r.guardrail_violations} guardrail rejections",
            )

    def verify_table(t: str) -> None:
        cols, n, h = want[t]
        tgt = spark.read.parquet(run.path("target", t))
        expect(sorted(tgt.columns) == sorted(cols), f"{t}: columns {tgt.columns}")
        expect(checksum(tgt, cols) == (n, h), f"{t}: target content differs")

    def verify() -> None:
        in_parallel(verify_table, TABLES)

    closed_loop(run, op, sum(counts.values()), BULK_WARMUP_OPS, verify)
    if run.tracer.enabled:
        jobs = fetch_job_costs(spark)
        record_call_layer(run, jobs, "plans.migrate", ("plans.migrate",), ("plans.migrate",))
        spans = run.tracer.spans
        for k in ("rows_scanned", "rows_written", "guardrail_rejected", "rows_read_reported"):
            run.layer[f"plans.migrate.{k}"] = median_or_zero(
                sum(s.counts[k] for s in children(spans, i, ("plans.migrate",)))
                for i in op_spans(spans)
            )


# -- validate_repair -----------------------------------------------------------

def seed_target(run: Run, table: str) -> None:
    """Write the target: the origin less N_MISSING keys, with N_MISMATCHED
    rows altered and N_EXTRA rows under new keys.  Keys are chosen by a
    seeded hash rank, so the divergence is exact and sparse."""
    spark = run.spark
    pk = PRIMARY_KEYS[table]
    o = spark.read.parquet(run.path("origin", table))
    need = N_MISSING + N_MISMATCHED + N_EXTRA
    ranked = [
        tuple(r)
        for r in o.select(*pk)
        .orderBy(F.xxhash64(F.lit(run.seed), *pk), *pk)
        .limit(need)
        .collect()
    ]
    missing, mismatched, extra = split_ranked(ranked, N_MISSING, N_MISMATCHED, N_EXTRA)
    flags = spark.createDataFrame(
        [(*k, "missing") for k in missing]
        + [(*k, "mismatched") for k in mismatched]
        + [(*k, "extra") for k in extra],
        schema=o.select(*pk).schema.add("_flag", "string"),
    )
    tagged = o.join(F.broadcast(flags), pk, "left")
    col = MUTATE_COL[table]
    kept = tagged.filter(F.col("_flag").isNull() | (F.col("_flag") != "missing")).withColumn(
        col,
        F.when(F.col("_flag") == "mismatched", F.concat(F.col(col), F.lit("~"))).otherwise(
            F.col(col)
        ),
    )
    extras = tagged.filter(F.col("_flag") == "extra").withColumn(
        pk[0], F.concat(F.lit("extra-"), F.col(pk[0]))
    )
    kept.unionByName(extras).select(*o.columns).write.mode("overwrite").parquet(
        run.path("target", table)
    )


def validate_repair(run: Run) -> None:
    counts = stage_origin(run, REPAIR_TABLES)
    spark = run.spark
    with run.tracer.span("generate.target") as s:
        for t in REPAIR_TABLES:
            seed_target(run, t)
    run.layer["generate.s"] += s.seconds
    digest_cols = {
        t: [c for c in spark.read.parquet(run.path("origin", t)).columns if c != PRIMARY_KEYS[t][0]]
        for t in REPAIR_TABLES
    }

    def op() -> None:
        read = lambda side, t: spark.read.parquet(run.path(side, t))  # noqa: E731
        for t in REPAIR_TABLES:
            pk = PRIMARY_KEYS[t]
            with run.tracer.span("plans.validate"):
                v = validate_table(read("origin", t), read("target", t), pk, t)
            with run.tracer.span("plans.validate.sample"):
                smp = sample_validate(read("origin", t), read("target", t), pk).first()
            got = (v.origin_count, v.target_count, v.missing, v.mismatched, v.extra_in_target)
            want = (counts[t], counts[t] - N_MISSING + N_EXTRA, N_MISSING, N_MISMATCHED, N_EXTRA)
            expect(got == want, f"{t}: validate_table {got}, expected {want}")
            expect(
                smp["sampled"] == SAMPLE_N
                and smp["found"] + smp["missing"] == SAMPLE_N
                and 0 <= smp["missing"] <= N_MISSING
                and 0 <= smp["mismatched"] <= N_MISMATCHED,
                f"{t}: sample_validate {smp}",
            )
        for t in REPAIR_TABLES:
            with run.tracer.span("plans.repair") as s:
                rep = {
                    r["metric"]: r["value"]
                    for r in merkle_scoped_repair(
                        read("origin", t), read("target", t), PRIMARY_KEYS[t][0], digest_cols[t]
                    ).collect()
                }
            s.counts.update(
                divergent_leaves=rep["divergent_leaves"],
                scoped_origin_rows=rep["scoped_origin_rows"],
                origin_rows=counts[t],
            )
            got = tuple(rep[m] for m in (
                "missing_repaired", "mismatched_repaired", "extra_removed",
                "post_missing", "post_mismatched", "post_extra",
            ))
            expect(
                got == (N_MISSING, N_MISMATCHED, N_EXTRA, 0, 0, 0)
                and 1 <= rep["divergent_leaves"] <= N_MISSING + N_MISMATCHED + N_EXTRA
                and 0 < rep["scoped_origin_rows"] < counts[t],
                f"{t}: merkle_scoped_repair {rep}",
            )

    closed_loop(run, op, sum(counts.values()), REPAIR_WARMUP_OPS)
    if run.tracer.enabled:
        jobs = fetch_job_costs(spark)
        record_call_layer(
            run, jobs, "plans.validate",
            ("plans.validate", "plans.validate.sample"), ("plans.validate",),
        )
        spans = run.tracer.spans
        run.layer["plans.validate.sample_call_s"] = median_or_zero(
            sum(s.seconds for s in children(spans, i, ("plans.validate.sample",)))
            for i in op_spans(spans)
        )
        record_call_layer(run, jobs, "plans.repair", ("plans.repair",), ("plans.repair",))
        per_op = [children(spans, i, ("plans.repair",)) for i in op_spans(spans)]
        run.layer["plans.repair.divergent_leaves"] = median_or_zero(
            sum(s.counts["divergent_leaves"] for s in rs) for rs in per_op
        )
        run.layer["plans.repair.scoped_fraction"] = median_or_zero(
            sum(s.counts["scoped_origin_rows"] for s in rs)
            / sum(s.counts["origin_rows"] for s in rs)
            for rs in per_op
        )


# -- dual_write_stream ---------------------------------------------------------

@contextmanager
def wrapped_dual_writer(
    run: Run, origin_sinks: set[str], on_batch: Callable[[float, float, int], None]
):
    """Wrap, from outside the package, the batch function
    ``make_dual_writer`` returns and the ``parquet_appender`` writers
    that ``dual_write_stream`` composes.  ``on_batch(start, end, rows)``
    hears of each batch once both sinks have it."""
    make0, appender0 = dw.make_dual_writer, dw.parquet_appender
    tracer = run.tracer

    def appender(path: str):
        write = appender0(path)
        name = "streaming.dual_write." + (
            "origin_write" if path in origin_sinks else "target_write"
        )

        def traced_write(batch, batch_id):
            with tracer.span(name):
                write(batch, batch_id)

        return traced_write

    def make(origin_writer, target_writer, metrics=None):
        write_both = make0(origin_writer, target_writer, metrics)
        m = write_both.metrics

        def batch_fn(batch, batch_id):
            rows0 = m.rows_origin
            with tracer.span("streaming.dual_write.batch") as s:
                write_both(batch, batch_id)
            on_batch(s.start, s.end, m.rows_origin - rows0)

        batch_fn.metrics = m
        return batch_fn

    dw.make_dual_writer, dw.parquet_appender = make, appender
    try:
        yield
    finally:
        dw.make_dual_writer, dw.parquet_appender = make0, appender0


def stage_mutation_files(run: Run, n_files: int) -> list[str]:
    """Mutation files of ROWS_PER_FILE ``orders`` rows each, written
    once to a staging directory; a send is an atomic rename."""
    with run.tracer.span("generate") as s:
        table = generate_orders(run.spark, n_files * ROWS_PER_FILE, seed=run.seed).toArrow()
        os.makedirs(run.path("staged"))
        names = []
        for i in range(n_files):
            name = f"m{i:05d}.parquet"
            pq.write_table(table.slice(i * ROWS_PER_FILE, ROWS_PER_FILE), run.path("staged", name))
            names.append(name)
    run.layer["generate.s"] += s.seconds
    run.layer["generate.rows"] += table.num_rows
    run.layer["generate.pk_collisions"] += table.num_rows - pc.count_distinct(table["order_id"]).as_py()
    return names


def move(run: Run, name: str, src: str) -> None:
    os.rename(run.path("staged", name), run.path(src, name))


def check_sinks(run: Run, phase: str, names: list[str], m: dw.DualWriteMetrics) -> None:
    spark = run.spark
    rows = len(names) * ROWS_PER_FILE
    expect(
        m.rows_origin == rows and m.rows_target == rows,
        f"{phase}: {m.rows_origin}/{m.rows_target} rows written, expected {rows}",
    )
    expect(not any(m.failed_on.values()), f"{phase}: failed writes {m.failed_on}")
    cols = ORDERS.fieldNames()
    sent = checksum(spark.read.schema(ORDERS).parquet(run.path(f"{phase}_src")), cols)
    for side in ("origin", "target"):
        got = checksum(dw.read_sink(spark, run.path(f"{phase}_{side}")), cols)
        expect(got == sent, f"{phase}: {side} sink differs from the mutations sent")


def start_stream(run: Run, phase: str, cap: int | None, available_now: bool, m):
    os.makedirs(run.path(f"{phase}_src"), exist_ok=True)
    return dw.dual_write_stream(
        dw.file_mutation_stream(run.spark, run.path(f"{phase}_src"), ORDERS, cap),
        run.path(f"{phase}_origin"),
        run.path(f"{phase}_target"),
        run.path(f"{phase}_ckpt"),
        m,
        trigger_available_now=available_now,
    )


def drain(run: Run, phase: str, names: list[str]) -> dw.DualWriteMetrics:
    """Stage ``names`` as a backlog and drain it one file per trigger."""
    os.makedirs(run.path(f"{phase}_src"))
    for name in names:
        move(run, name, f"{phase}_src")
    m = dw.DualWriteMetrics()
    q = start_stream(run, phase, 1, True, m)
    if not q.awaitTermination(STREAM_TIMEOUT_S):
        q.stop()
        raise CheckFailed(f"{phase}: backlog not drained in {STREAM_TIMEOUT_S}s")
    return m


def dual_write_stream(run: Run) -> None:
    n_sends = max(MIN_SENDS, math.ceil(SEND_RATE * run.seconds))
    names = stage_mutation_files(run, WARMUP_FILES + DRAIN_FILES + n_sends)
    backlog, sends = names[:WARMUP_FILES + DRAIN_FILES], names[WARMUP_FILES + DRAIN_FILES:]
    ledger = CompletionLedger()
    batches: list[tuple[float, float, int]] = []
    current: dict[str, CompletionLedger | None] = {"ledger": None}

    def on_batch(start: float, end: float, rows: int) -> None:
        if rows % ROWS_PER_FILE:
            raise CheckFailed(f"batch committed {rows} rows, not whole files")
        batches.append((start, end, rows))
        if current["ledger"] is not None:
            current["ledger"].record_batch(rows // ROWS_PER_FILE, end)

    sinks = {run.path(f"{p}_origin") for p in ("a", "b")}
    sink_metrics: list[dw.DualWriteMetrics] = []
    with wrapped_dual_writer(run, sinks, on_batch):
        t_a = time.perf_counter()
        gc0, ovh0 = jvm_gc_seconds(run.spark), run.tracer.overhead_s

        # Phase A drains the backlog one file per trigger.  Its first
        # WARMUP_FILES batches are warm-up; the drain rate, from the next
        # batch's start to the last batch's commit, stands in for the
        # sustainable rate.
        def phase_a() -> None:
            m = drain(run, "a", backlog)
            sink_metrics.append(m)
            check_sinks(run, "a", backlog, m)
            timed = batches[WARMUP_FILES:]
            run.e2e["throughput_rows_per_s"] = (
                sum(r for _, _, r in timed) / (timed[-1][1] - timed[0][0])
            )

        run.attempt(phase_a, len(backlog))
        t_window = batches[WARMUP_FILES - 1][1] if len(batches) >= WARMUP_FILES else t_a

        # Phase B: open loop, each file timed from its due time
        m_b = dw.DualWriteMetrics()
        sink_metrics.append(m_b)
        t_b = time.perf_counter()
        q = start_stream(run, "b", None, False, m_b)
        deadline = time.perf_counter() + STREAM_TIMEOUT_S
        while "Waiting for data" not in q.status["message"] and time.perf_counter() < deadline:
            time.sleep(0.05)
        current["ledger"] = ledger
        t0 = time.perf_counter() + 0.1
        for i, name in enumerate(sends):
            due = t0 + i / SEND_RATE
            time.sleep(max(0.0, due - time.perf_counter()))
            move(run, name, "b_src")
            ledger.record_send(due, time.perf_counter())
        drained = ledger.wait_all(STREAM_TIMEOUT_S)
        while q.status["isTriggerActive"] and time.perf_counter() < deadline:
            time.sleep(0.01)
        progress = q.recentProgress
        q.stop()
        t_end = time.perf_counter()
        run.window = (t_window, t_end)
        run.layer["jvm.gc_s"] = jvm_gc_seconds(run.spark) - gc0
        run.layer["tracing.overhead_frac"] = (run.tracer.overhead_s - ovh0) / (t_end - t_a)

    def phase_b_check() -> None:
        expect(drained, f"b: {len(ledger.done)} of {len(sends)} sends committed")
        check_sinks(run, "b", sends, m_b)

    run.attempt(phase_b_check, len(sends))
    verdict = late_verdict(lateness(ledger.due, ledger.sent), LATE_LIMIT_S)
    run.layer["loadgen.late_p50_s"] = verdict["late_p50_s"]
    run.layer["loadgen.late_max_s"] = verdict["late_max_s"]
    run.notes["sends"] = len(sends)
    run.notes["late_max_s"] = round(verdict["late_max_s"], 4)
    if not verdict["valid"]:
        run.notes["invalid"] = (
            f"load generator ran {verdict['late_max_s']:.3f}s late "
            f"(limit {LATE_LIMIT_S}s): Phase B not measured"
        )
        return
    lat = ledger.latencies() or [0.0]
    run.e2e["latency_p50_s"] = statistics.median(lat)
    # sends that never committed already failed the run; p90 is then
    # taken over those that did
    run.e2e["latency_p90_s"] = (
        supported_percentile(lat, 0.9, 10) if len(lat) >= MIN_SENDS else nearest_rank(lat, 0.9)
    )

    if run.tracer.enabled:
        jobs = fetch_job_costs(run.spark)
        spans = run.tracer.spans
        selfs = self_seconds(spans)
        # Phase B's batches only: Phase A commits one file per batch,
        # Phase B as many as arrived, so mixing them would let the
        # medians move with the batching mix alone
        timed = [
            i for i, s in enumerate(spans)
            if s.name == "streaming.dual_write.batch" and s.start >= t_b
        ]
        per = {k: [] for k in ("batch_s", "batch_self_s", "origin_write_s",
                               "target_write_s", "jobs_per_batch", "tasks_per_batch")}
        for i in timed:
            n, c = attribute_jobs(spans[i], jobs)
            per["batch_s"].append(spans[i].seconds)
            per["batch_self_s"].append(selfs[i])
            per["jobs_per_batch"].append(n)
            per["tasks_per_batch"].append(c.tasks)
            for side in ("origin_write", "target_write"):
                per[f"{side}_s"].append(sum(
                    s.seconds for s in children(spans, i, (f"streaming.dual_write.{side}",))
                ))
        for k, vs in per.items():
            run.layer[f"streaming.dual_write.{k}"] = median_or_zero(vs)
        fed = [p for p in progress if p.numInputRows > 0]
        run.layer["stream.trigger_s"] = median_or_zero(
            p.durationMs["triggerExecution"] / 1e3 for p in fed
        )
        run.layer["stream.engine_s"] = median_or_zero(
            (p.durationMs["triggerExecution"] - p.durationMs.get("addBatch", 0)) / 1e3
            for p in fed
        )
        run.layer["stream.files_per_batch"] = median_or_zero(
            p.numInputRows / ROWS_PER_FILE for p in fed
        )
        run.layer["stream.batches"] = len(fed)
    for side in ("origin", "target"):
        run.layer[f"streaming.dual_write.failed_{side}"] = sum(
            m.failed_on[side] + m.failed_on["both"] for m in sink_metrics
        )


WORKLOADS: dict[str, Callable[[Run], None]] = {
    "bulk_migrate": bulk_migrate,
    "validate_repair": validate_repair,
    "dual_write_stream": dual_write_stream,
}


def run_workload(name: str, seed: int, seconds: float, traced: bool, work: str, cores: int):
    """Set up, measure and tear down one workload.  Returns the Run."""
    t0 = time.perf_counter()
    spark = start_session(work, cores)
    start_s = time.perf_counter() - t0
    tracer = Tracer(traced, next_job_id(spark))
    run = Run(spark, work, tracer, seed, seconds, cores)
    run.layer["session.start_s"] = start_s
    try:
        WORKLOADS[name](run)
        # set-up is everything before the timed window: JVM start, data
        # generation or staging, and the warm-up ops
        run.e2e["setup_s"] = run.window[0] - t0
        run.e2e["retained_heap_mb"] = retained_heap_mb(spark)
    finally:
        stop_session(spark)
    run.layer["jvm.peak_rss_mb"] = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024
    run.layer["py.peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    shutil.rmtree(work, ignore_errors=True)
    return run
