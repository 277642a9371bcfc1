"""The Migrate pipeline (SURVEY.md §3.1) — CDM's flagship job as a
declarative Spark plan.

CDM is driven by cdm.properties + --conf overrides
(lab/cdm-config/cdm.properties:1-38, lab/exercises/04-cdm-migration.md:116-124);
:class:`MigrationConfig` is that property surface.  The run is
``read(origin) → feature stages → write(target)``:

- token-range splitting (numParts, docs/04-cdm-approach.md:459) is
  Spark's scan splitting — at 100 TB the parquet/connector source
  produces one task per ~maxPartitionBytes; nothing to hand-schedule;
- each feature (column subset/exclude, token & writetime filters,
  guardrails, custom transform, constant columns) is a DataFrame →
  DataFrame stage that Catalyst fuses into the scan, so a migration
  with five features is still ONE whole-stage-codegen'd pass with
  zero shuffles;
- the write is partitioned by the partition key so a CQL-like sink
  batches per partition (dsbulk PARTITION_KEY mode,
  docs/03-dse-tooling.md:185-189);
- every count rides the one job that already runs (the write, or the
  dry run's ``count()``): an Observation after the source-side filters
  counts the rows read and the guardrail violations, and one on the
  write counts the rows written.  A plain migration of a table Spark
  wrote is ONE Spark job: the origin's schema comes from the footer
  Spark wrote (sources/files.read_parquet), so no inference job runs,
  and there is no probe and no re-scan.

CDM's batchSize auto rule (docs/04-cdm-approach.md:460-462) is sized
ahead of the run by plans/sizing.migration_sizing_plan from parquet
footers; the parquet sink here does not batch, so ``migrate`` only
carries an explicitly configured ``perfops.batchSize`` through.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cassandra_data_migration_spark.functions import metadata as meta
from cassandra_data_migration_spark.operators import filters as flt
from cassandra_data_migration_spark.schema import TTL_COL, WRITETIME_COL
from cassandra_data_migration_spark.sources.files import read_parquet

Transform = Callable[[DataFrame], DataFrame]


@dataclass
class MigrationConfig:
    """The cdm.properties surface (lab/cdm-config/cdm.properties:1-38,
    docs/04-cdm-approach.md §property reference)."""

    origin_path: str
    target_path: str
    table: str = ""
    # spark.cdm.schema.origin.column.names.to.target / .to.exclude
    include_columns: list[str] | None = None
    exclude_columns: list[str] = field(default_factory=list)
    # spark.cdm.filter.cassandra.partition.min/max (+ our bucket count)
    partition_min: int | None = None
    partition_max: int | None = None
    num_buckets: int = 32
    token_key: str | None = None
    # spark.cdm.feature.writetime.filter.min/max (µs)
    writetime_min: int | None = None
    writetime_max: int | None = None
    # spark.cdm.filter.cassandra.whereCondition (SQL fragment)
    where_condition: str | None = None
    # spark.cdm.guardrail.colSizeInKB / rowSizeInKB; guardrail_cols
    # (engine extension guardrail.columns) narrows the capped columns,
    # empty caps every migrated column
    guardrail_col_kb: float | None = None
    guardrail_row_kb: float | None = None
    guardrail_cols: list[str] = field(default_factory=list)
    # spark.cdm.transform.custom.class analogue
    custom_transforms: list[Transform] = field(default_factory=list)
    # constant-column feature (docs/04-cdm-approach.md:465)
    constant_columns: dict[str, object] = field(default_factory=dict)
    # spark.cdm.transform.custom.writetime.incrementBy (µs)
    writetime_increment: int = 0
    # spark.cdm.perfops.*
    num_parts: int | None = None  # repartition target for the write
    batch_partition_cols: list[str] = field(default_factory=list)
    # spark.cdm.perfops.batchSize (cdm.properties:28); the auto rule
    # for an unset value is plans/sizing.migration_sizing_plan's
    batch_size: int | None = None
    # spark.cdm.schema.ttlwritetime.calc.useCollections
    # (docs/04-cdm-approach.md:830): include collection/UDT cells in
    # the row-level max-TTL/max-writetime collapse
    ttlwritetime_use_collections: bool = False
    # dsbulk --dryRun (docs/03-dse-tooling.md:231-240)
    dry_run: bool = False
    # spark.cdm.trackRun{,.previousRunId} (docs/04-cdm-approach.md:
    # 422-434, 843-846): per-token-bucket progress + autoRerun resume.
    # track_key_col names the bucketing key (CDM derives it from the
    # table's PK; parquet stand-ins declare it explicitly).
    track_run: bool = False
    track_dir: str | None = None
    track_key_col: str | None = None
    previous_run_id: str | None = None


@dataclass
class MigrationResult:
    """Counts of one run.  ``rows_read`` is what CDM's CQL SELECT would
    return: rows left after the source-side filters (token range,
    writetime, whereCondition, and the resume clip), before the
    guardrail.  So ``rows_read == guardrail_violations + rows_written``
    for a real run; a dry run writes nothing and reports the same
    ``rows_read`` and ``guardrail_violations``."""

    rows_read: int
    rows_written: int
    guardrail_violations: int
    elapsed_sec: float
    dry_run: bool
    batch_size: int | None = None  # the configured perfops.batchSize
    run_id: str | None = None  # set when trackRun is enabled

    @property
    def rows_per_sec(self) -> float:
        return self.rows_written / self.elapsed_sec if self.elapsed_sec else 0.0


def build_feature_pipeline(
    df: DataFrame, cfg: MigrationConfig
) -> tuple[DataFrame, Observation]:
    """Steps 3-4 of the lifecycle (SURVEY.md §3.1): compose the feature
    stages.  Returns (migrating_rows, counts): the first action over
    the rows fills the Observation ``counts`` with ``rows_read`` and
    ``guardrail_violations`` (see :class:`MigrationResult`).  Pure
    plan construction — nothing executes here."""
    # per-cell metadata collapse first: row-level max writetime/TTL,
    # honoring the useCollections switch (docs/04-cdm-approach.md:830)
    if WRITETIME_COL not in df.columns and any(
        c.endswith("_writetime") for c in df.columns
    ):
        df = meta.collapse_writetime(
            df, use_collections=cfg.ttlwritetime_use_collections
        )
    if TTL_COL not in df.columns and any(c.endswith("_ttl") for c in df.columns):
        df = meta.collapse_ttl(
            df, use_collections=cfg.ttlwritetime_use_collections
        )
    if cfg.include_columns:
        df = flt.project(df, cfg.include_columns)
    if cfg.exclude_columns:
        df = flt.exclude(df, cfg.exclude_columns)
    if cfg.token_key and cfg.partition_min is not None and cfg.partition_max is not None:
        df = flt.token_range_filter(
            df, cfg.token_key, cfg.partition_min, cfg.partition_max, cfg.num_buckets
        )
    if cfg.writetime_min is not None and WRITETIME_COL in df.columns:
        df = df.filter(F.col(WRITETIME_COL) >= F.lit(cfg.writetime_min))
    if cfg.writetime_max is not None and WRITETIME_COL in df.columns:
        df = df.filter(F.col(WRITETIME_COL) <= F.lit(cfg.writetime_max))
    if cfg.where_condition:
        df = df.filter(cfg.where_condition)

    violation = F.lit(False)  # folded away when no guardrail is set
    if cfg.guardrail_col_kb is not None or cfg.guardrail_row_kb is not None:
        # CDM's caps name no columns (docs/04-cdm-approach.md:379-387):
        # without a column list, every column the migration carries is
        # capped — the set after include/exclude, before constant
        # columns and custom transforms
        cap = cfg.guardrail_col_kb
        violation = flt.guardrail_predicate(
            {
                c: float("inf") if cap is None else cap
                for c in cfg.guardrail_cols or df.columns
            },
            row_cap_kb=cfg.guardrail_row_kb,
        )
    # The counts sit above the source-side filters, so those still
    # push down to the scan; count_if is 0, not NULL, over no rows.
    counts = Observation()
    df = df.observe(
        counts,
        F.count(F.lit(1)).alias("rows_read"),
        F.count_if(violation).alias("guardrail_violations"),
    ).filter(~violation)

    for name, value in cfg.constant_columns.items():
        df = df.withColumn(name, F.lit(value))
    for t in cfg.custom_transforms:
        df = t(df)
    if cfg.writetime_increment and WRITETIME_COL in df.columns:
        df = df.withColumn(
            WRITETIME_COL, F.col(WRITETIME_COL) + F.lit(cfg.writetime_increment)
        )
    return df, counts


def migrate(spark: SparkSession, cfg: MigrationConfig) -> MigrationResult:
    """Run the Migrate job (lab/exercises/04-cdm-migration.md:116-124).

    Origin/target are parquet paths standing in for cluster tables
    (same dataflow; a Cassandra connector swaps in at the
    ``spark.read``/``write`` boundary without touching the plan).
    """
    t0 = time.perf_counter()
    src = read_parquet(spark, cfg.origin_path)
    tracker = run_id = None
    if cfg.track_run and cfg.track_key_col:
        from cassandra_data_migration_spark.plans.tracker import RunTracker

        tracker = RunTracker(
            spark, cfg.track_dir or cfg.target_path.rstrip("/") + "_runinfo"
        )
        run_id = tracker.new_run()
        # autoRerun: clip the scan to buckets the previous run did not
        # complete (docs/04-cdm-approach.md:843-846).  First close the
        # crash window where the previous run's write job committed
        # but its bucket records never landed — otherwise this resume
        # would re-append those buckets' rows (parquet append is not
        # an idempotent upsert).
        if cfg.previous_run_id is not None:
            tracker.reconcile_with_target(
                cfg.previous_run_id, cfg.target_path, cfg.track_key_col
            )
        src = tracker.filter_pending(
            src, cfg.track_key_col, cfg.previous_run_id
        )
    out, read_obs = build_feature_pipeline(src, cfg)

    if cfg.dry_run:
        # T4: plan + count, no write (docs/03-dse-tooling.md:231-240)
        out.count()
        read = read_obs.get
        return MigrationResult(
            read["rows_read"], 0, read["guardrail_violations"],
            time.perf_counter() - t0, True, cfg.batch_size, run_id=run_id,
        )

    writer = out
    if cfg.batch_partition_cols:
        # co-locate rows of one partition key in one task → the sink
        # sees partition-key batches (dsbulk PARTITION_KEY mode)
        writer = out.repartition(
            cfg.num_parts or out.sparkSession.sparkContext.defaultParallelism,
            *cfg.batch_partition_cols,
        ).sortWithinPartitions(*cfg.batch_partition_cols)
    elif cfg.num_parts:
        writer = out.repartition(cfg.num_parts)

    # Resume semantics (docs/04-cdm-approach.md:843-846): with
    # previousRunId the scan is clipped to pending buckets, so the
    # write must APPEND next to the completed buckets' rows already in
    # the target — overwrite would delete them (CDM's target is a live
    # Cassandra table; rerun upserts only the pending ranges).  Safe
    # for parquet because (a) the write job itself is all-or-nothing
    # (a crashed run leaves no partial bucket data) and (b) the
    # committed-but-unrecorded crash window is closed above by
    # ``reconcile_with_target`` before the scan is clipped.
    resuming = cfg.previous_run_id is not None and tracker is not None

    # Rows-written accounting rides the WRITE JOB itself via an
    # Observation — re-reading the target to count would scan the
    # entire written output a second time (at 100 TB, that doubles the
    # job's I/O).  Per-bucket completion counts piggyback on the same
    # observation as conditional aggregates (RunTracker's 32 buckets),
    # so the tracked path costs zero extra scans too.
    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("rows")]
    if tracker is not None:
        bucket = F.pmod(F.col(cfg.track_key_col), F.lit(tracker.num_buckets))
        metrics += [
            F.count_if(bucket == b).alias(f"b{b}")
            for b in range(tracker.num_buckets)
        ]
    writer = writer.observe(obs, *metrics)
    writer.write.mode("append" if resuming else "overwrite").parquet(
        cfg.target_path
    )
    observed = obs.get
    n_written = observed["rows"]
    if tracker is not None:
        # per-bucket completion records (cdm_run_details analogue).
        # On resume the observation covers THIS run's buckets only —
        # previously completed buckets already hold their records
        # under the prior run id.
        recorded = set()
        for b in range(tracker.num_buckets):
            n = observed[f"b{b}"]
            if n:
                tracker.record_bucket(run_id, b, "PASSED", rows=n)
                recorded.add(b)
        if resuming:
            # carry the prior run's completed buckets forward so THIS
            # run's details are self-contained — a later resume may
            # pass this run id as previousRunId and must not re-scan
            # (and, with append, duplicate) already-migrated buckets
            for b, n in tracker.completed_bucket_rows(cfg.previous_run_id):
                if b not in recorded:
                    tracker.record_bucket(run_id, b, "PASSED", rows=n)
    read = read_obs.get
    return MigrationResult(
        read["rows_read"], n_written, read["guardrail_violations"],
        time.perf_counter() - t0, False, cfg.batch_size, run_id=run_id,
    )
