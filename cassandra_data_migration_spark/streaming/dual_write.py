"""Z1: dual-write fan-out (ZDM proxy write path).

The proxy duplicates every client write to origin (sync — failures
surface to the client) and target (async — failures only surface in
metrics) (docs/05-zdm-approach.md:108-114, 392-396).  Spark-native:
a Structured Streaming query whose ``foreachBatch`` fans each
persisted micro-batch out to both sinks at once.  Three Spark jobs run
concurrently on the one cached batch: the origin write on the stream's
own thread, the target write and the row count each on a
``pyspark.InheritableThread``.  The batch function joins both threads
before it returns, so both sinks have committed when the stream
checkpoints the batch:

- origin write failures RAISE → the batch retries/fails: exactly-once
  on the primary path via checkpointing + deterministic batch ids;
- target write failures are caught and METERED per route
  (``failed_on=origin|target|both`` —
  lab/exercises/05-zdm-migration.md:167-171), matching the proxy's
  fire-and-forget secondary semantics.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession


@dataclass
class DualWriteMetrics:
    """Z5 counters (zdm_proxy_failed_writes_total{failed_on=...})."""

    batches: int = 0
    rows_origin: int = 0
    rows_target: int = 0
    failed_on: dict[str, int] = field(
        default_factory=lambda: {"origin": 0, "target": 0, "both": 0}
    )


class _Leg:
    """``fn(*args)`` started on an ``InheritableThread`` that mirrors the
    calling stream thread's Spark state.  The thread copies the
    caller's local properties (the stream's job group and
    ``sql.streaming.queryId``) at start, so stopping the query cancels
    this leg's jobs too; a plain ``threading.Thread`` starts with none
    of them.  It also makes ``session`` the thread's active session, as
    the stream thread has it: without one, the leg's writes plan under
    the default session's conf and cannot resolve data sources
    registered on the stream's session.  After :meth:`join`, ``value``
    or ``error`` holds the outcome."""

    def __init__(self, session: SparkSession, fn, *args):
        self.value = self.error = None
        self._thread = InheritableThread(target=self._run, args=(session, fn, args))
        self._thread.start()

    def _run(self, session: SparkSession, fn, args) -> None:
        try:
            session._jvm.SparkSession.setActiveSession(session._jsparkSession)
            self.value = fn(*args)
        except BaseException as e:  # noqa: BLE001 — handed to the caller at join
            self.error = e

    def join(self) -> None:
        self._thread.join()


def make_dual_writer(
    origin_writer,
    target_writer,
    metrics: DualWriteMetrics | None = None,
):
    """Build the foreachBatch function.  ``origin_writer`` /
    ``target_writer`` are ``(DataFrame, batch_id) -> None`` sink
    callables (parquet append, CQL connector write, ...).

    Each batch is persisted once and fanned out: the target write and
    the row count start on their own threads, the origin write runs on
    the calling (stream) thread, and the function joins both threads
    before it unpersists and returns.  Counters change only on the
    calling thread, after the joins.  Outcomes:

    - origin fails → ``failed_on["origin"]`` and the origin's exception
      is raised, after the target leg has finished and been metered;
    - target fails → ``failed_on["target"]`` (``"both"`` when origin
      failed too), never raised;
    - the count fails → the batch fails with the count's exception; if
      origin failed as well, origin's exception is raised and carries
      the count's as a note.
    """
    m = metrics if metrics is not None else DualWriteMetrics()

    def write_both(batch: DataFrame, batch_id: int) -> None:
        m.batches += 1
        batch = batch.persist()
        try:
            count = _Leg(batch.sparkSession, batch.count)
            target = _Leg(batch.sparkSession, target_writer, batch, batch_id)
            origin_error = None
            try:
                origin_writer(batch, batch_id)
            except BaseException as e:  # noqa: BLE001 — raised below, after the joins
                origin_error = e
            count.join()
            target.join()
        finally:
            batch.unpersist()

        if isinstance(target.error, Exception):  # async path is metered only
            m.failed_on["both" if origin_error is not None else "target"] += 1
        elif target.error is not None:
            raise target.error  # an interrupt or exit, not a sink failure
        elif count.error is None:
            m.rows_target += count.value
        if origin_error is not None:
            m.failed_on["origin"] += 1
            if count.error is not None:
                origin_error.add_note(f"the batch's row count also failed: {count.error!r}")
            raise origin_error  # sync path: the client (stream) sees origin failures
        if count.error is not None:
            raise count.error
        m.rows_origin += count.value

    write_both.metrics = m  # type: ignore[attr-defined]
    return write_both


def parquet_appender(path: str):
    """Idempotent batch sink: each micro-batch lands in its own
    ``batch_id=N`` directory with OVERWRITE semantics, so foreachBatch
    at-least-once redelivery (failure/restart replays the last
    un-checkpointed batch) rewrites the same directory instead of
    appending duplicates — deterministic batch ids + idempotent write
    = exactly-once, the standard Structured Streaming recipe.  A
    crash mid-write leaves a partial dir the redelivered batch
    replaces wholesale.  Read the sink back with :func:`read_sink`
    (drops the partition-discovery column)."""

    def write(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    return write


def read_sink(spark: SparkSession, path: str) -> DataFrame:
    """Read a dual-write sink directory: hive partition discovery
    surfaces ``batch_id``; drop it so the result is exactly the
    mutation rows."""
    return spark.read.parquet(path).drop("batch_id")


def dual_write_stream(
    mutations: DataFrame,
    origin_path: str,
    target_path: str,
    checkpoint: str,
    metrics: DualWriteMetrics | None = None,
    trigger_available_now: bool = True,
):
    """Wire a mutation stream into the dual sink.  Returns the started
    StreamingQuery; checkpointing makes the origin path exactly-once
    (re-delivered batches rewrite the same batch_id)."""
    writer = make_dual_writer(
        parquet_appender(origin_path), parquet_appender(target_path), metrics
    )
    builder = (
        mutations.writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        builder = builder.trigger(availableNow=True)
    return builder.start()


def file_mutation_stream(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int | None = None
) -> DataFrame:
    """A file-backed mutation source (stand-in for the CQL/Kafka feed
    the proxy taps).  Each new file is a micro-batch of mutations."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)
