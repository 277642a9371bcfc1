"""Z1-Z8: dual-write, routing, LWW, windowed metrics, traffic,
continuous validation — driven with file/rate sources and availableNow
triggers so every test is deterministic and bounded."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cassandra_data_migration_spark.streaming import lww, metrics, routing, traffic
from cassandra_data_migration_spark.streaming.dual_write import (
    DualWriteMetrics,
    dual_write_stream,
    read_sink,
    file_mutation_stream,
    make_dual_writer,
    parquet_appender,
)


@pytest.fixture()
def mutation_source(spark, tmp_path):
    """Two micro-batches of mutations as two files."""
    src = str(tmp_path / "mutations")
    spark.range(0, 50).withColumn("v", F.col("id") * 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.range(50, 80).withColumn("v", F.col("id") * 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    schema = spark.read.parquet(src).schema
    return src, schema


def test_dual_write_both_sinks_get_all_rows(spark, tmp_path, mutation_source):
    src, schema = mutation_source
    stream = file_mutation_stream(spark, src, schema, max_files_per_trigger=1)
    m = DualWriteMetrics()
    q = dual_write_stream(
        stream,
        str(tmp_path / "origin"),
        str(tmp_path / "target"),
        str(tmp_path / "ckpt"),
        metrics=m,
    )
    q.awaitTermination(120)
    o = read_sink(spark, str(tmp_path / "origin"))
    t = read_sink(spark, str(tmp_path / "target"))
    assert o.count() == 80 and t.count() == 80
    assert sorted(map(str, o.collect())) == sorted(map(str, t.collect()))
    assert m.rows_origin == 80 and m.rows_target == 80
    assert m.failed_on == {"origin": 0, "target": 0, "both": 0}
    assert m.batches >= 2  # maxFilesPerTrigger=1 → one batch per file


def test_dual_write_target_failure_is_metered_not_fatal(spark, tmp_path):
    df = spark.range(10).withColumn("v", F.col("id"))
    m = DualWriteMetrics()
    calls = {"n": 0}

    def flaky_target(batch, batch_id):
        calls["n"] += 1
        raise IOError("target cluster down")

    writer = make_dual_writer(
        parquet_appender(str(tmp_path / "o")), flaky_target, m
    )
    writer(df, 0)  # must NOT raise — target failures are async/metered
    assert m.failed_on == {"origin": 0, "target": 1, "both": 0}
    assert read_sink(spark, str(tmp_path / "o")).count() == 10


def test_dual_write_origin_failure_raises_and_meters(spark, tmp_path):
    df = spark.range(5)
    m = DualWriteMetrics()

    def dead_origin(batch, batch_id):
        raise IOError("origin down")

    writer = make_dual_writer(dead_origin, parquet_appender(str(tmp_path / "t")), m)
    with pytest.raises(IOError):
        writer(df, 0)
    assert m.failed_on["origin"] == 1
    # target still received the batch (fire-and-forget dispatch)
    assert m.rows_target == 5


def test_dual_write_legs_inherit_stream_job_group(spark, tmp_path, mutation_source):
    """Both legs run under the stream's job group and query id, so
    stopping the query cancels the target leg's jobs too."""
    src, schema = mutation_source
    sc = spark.sparkContext
    seen = {"origin": [], "target": []}

    def recorder(side):
        def write(batch, batch_id):
            seen[side].append(
                (sc.getLocalProperty("spark.jobGroup.id"),
                 sc.getLocalProperty("sql.streaming.queryId"))
            )
        return write

    writer = make_dual_writer(recorder("origin"), recorder("target"))
    q = (
        file_mutation_stream(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert len(seen["origin"]) >= 2
    assert seen["target"] == seen["origin"]
    assert all(g is not None and qid == q.id for g, qid in seen["origin"])


def test_dual_write_legs_overlap(spark):
    """The origin leg cannot finish until the target leg has started:
    only a concurrent fan-out passes.  The timeout guards a deadlock."""
    import threading

    target_started = threading.Event()

    def origin(batch, batch_id):
        if not target_started.wait(60):
            raise AssertionError("target leg did not run alongside origin")

    def target(batch, batch_id):
        target_started.set()

    m = DualWriteMetrics()
    make_dual_writer(origin, target, m)(spark.range(7), 0)
    assert m.rows_origin == 7 and m.rows_target == 7
    assert m.failed_on == {"origin": 0, "target": 0, "both": 0}


def test_dual_write_both_fail_raises_origin_error(spark):
    class OriginDown(Exception):
        pass

    def dead_origin(batch, batch_id):
        raise OriginDown("origin down")

    def dead_target(batch, batch_id):
        raise IOError("target down")

    m = DualWriteMetrics()
    writer = make_dual_writer(dead_origin, dead_target, m)
    with pytest.raises(OriginDown):
        writer(spark.range(3), 0)
    assert m.failed_on == {"origin": 1, "target": 0, "both": 1}
    assert m.rows_origin == 0 and m.rows_target == 0


def test_dual_write_count_failure_fails_the_batch(spark):
    # the writers never touch the rows; only the count evaluates the
    # failing filter, and its error must reach the caller
    bad = spark.range(3).filter(F.raise_error(F.lit("count boom")).isNull())
    m = DualWriteMetrics()
    writer = make_dual_writer(lambda b, i: None, lambda b, i: None, m)
    with pytest.raises(Exception, match="count boom"):
        writer(bad, 0)
    assert m.rows_origin == 0 and m.rows_target == 0
    assert m.failed_on == {"origin": 0, "target": 0, "both": 0}


def test_read_router_modes(spark):
    origin = spark.range(10).withColumn("src", F.lit("o"))
    target = spark.range(8).withColumn("src", F.lit("t"))
    count_query = lambda df: df.select("id")  # noqa: E731

    m = routing.RouterMetrics()
    r = routing.ReadRouter(routing.ReadMode.PRIMARY_ONLY, routing.Cluster.ORIGIN, m)
    assert r.route(origin, target, count_query).count() == 10
    assert m.reads_origin == 1 and m.shadow_reads == 0

    r = routing.ReadRouter(routing.ReadMode.TARGET_ONLY, routing.Cluster.ORIGIN, m)
    assert r.route(origin, target, count_query).count() == 8

    r = routing.ReadRouter(
        routing.ReadMode.DUAL_ASYNC_ON_SECONDARY, routing.Cluster.ORIGIN, m
    )
    out = r.route(origin, target, count_query)
    assert out.count() == 10  # shadow result never surfaces
    assert m.shadow_reads == 1 and m.shadow_mismatches == 1  # 10 vs 8 rows differ


def test_phase_machine_routing_and_rollback():
    pm = routing.PhaseMachine()
    assert pm.phase == routing.Phase.DUAL_WRITE and pm.dual_write_enabled
    pm.advance()  # BACKFILL
    pm.advance()  # SHADOW_READS
    assert pm.router().read_mode == routing.ReadMode.DUAL_ASYNC_ON_SECONDARY
    pm.advance()  # READS_TO_TARGET
    assert pm.router().primary_cluster == routing.Cluster.TARGET
    pm.rollback()
    assert pm.phase == routing.Phase.SHADOW_READS
    pm.advance(), pm.advance()  # → DIRECT
    assert not pm.dual_write_enabled
    with pytest.raises(ValueError):
        pm.rollback()
    with pytest.raises(ValueError):
        pm.advance()


def test_lww_dedupe_and_merge(spark):
    batch = spark.createDataFrame(
        [(1, "old", 100), (1, "new", 200), (2, "only", 50)],
        "pk int, v string, _writetime long",
    )
    deduped = lww.lww_dedupe(batch, ["pk"])
    assert {(r.pk, r.v) for r in deduped.collect()} == {(1, "new"), (2, "only")}

    current = spark.createDataFrame(
        [(1, "current", 300), (3, "keep", 10)], "pk int, v string, _writetime long"
    )
    merged = lww.lww_merge(current, deduped, ["pk"])
    got = {(r.pk, r.v) for r in merged.collect()}
    # pk1: current writetime 300 > incoming 200 → older incoming loses
    assert got == {(1, "current"), (2, "only"), (3, "keep")}

    # tie → incoming wins (idempotent redelivery)
    tie = spark.createDataFrame([(3, "redelivered", 10)], "pk int, v string, _writetime long")
    merged2 = lww.lww_merge(merged, tie, ["pk"])
    assert {(r.pk, r.v) for r in merged2.collect() if r.pk == 3} == {(3, "redelivered")}


def test_windowed_ops_stream_matches_batch(spark, tmp_path):
    """Streaming tumbling-window counts (availableNow, complete mode)
    must equal the batch groupBy over the same data."""
    from cassandra_data_migration_spark.sources.tables import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "ev")
    events.write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    windowed = metrics.windowed_ops(stream, window="5 minutes")
    q = (
        windowed.writeStream.format("memory")
        .queryName("winops")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r.window_start), r.event_type): r.cnt
        for r in spark.sql("SELECT * FROM winops").collect()
    }
    want = {
        (str(r.window_start), r.event_type): r.cnt
        for r in events.groupBy(
            F.window("ts", "5 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt")
        .collect()
    }
    assert got == want


def test_alert_filter_thresholds(spark):
    windowed = spark.createDataFrame(
        [("w1", 5.0), ("w2", 15.0)], "window_start string, errors_per_sec double"
    )
    alerts = metrics.alert_filter(
        windowed, "errors_per_sec", metrics.DEFAULT_THRESHOLDS["error_rate_per_sec"],
        "HighErrorRate",
    ).collect()
    assert [(r.window_start, r.alert) for r in alerts] == [("w2", "HighErrorRate")]


def test_traffic_mix(spark):
    ops = traffic.assign_ops(spark.range(10_000), id_col="id")
    rep = traffic.traffic_report(ops).first()
    assert rep.total_ops == 10_000
    assert 72.0 <= rep.read_pct <= 78.0  # 75% ± hash noise
    kinds = {r.op_type for r in ops.select("op_type").distinct().collect()}
    assert kinds == set(traffic.READ_OPS) | set(traffic.WRITE_OPS)


def test_continuous_validation_detects_drift(spark, tmp_path):
    from cassandra_data_migration_spark.streaming.continuous_validate import (
        continuous_validation,
    )

    o, t = str(tmp_path / "o"), str(tmp_path / "t")
    spark.range(100).write.parquet(o)
    spark.range(90).write.parquet(t)  # drifted target
    results = continuous_validation(spark, o, t, ["id"], interval_secs=0, max_ticks=2)
    assert len(results) == 2
    assert all(not r.passed and r.missing == 10 for r in results)


def test_stateful_lww_stream_merges_across_batches(spark, tmp_path):
    """Conflicting writes to the same key arriving in DIFFERENT
    micro-batches must still resolve to the max writetime — per-batch
    dedupe can't do this; GroupState can."""
    from cassandra_data_migration_spark.streaming.lww import stateful_lww_stream

    src = str(tmp_path / "mutations")
    # batch 1: writetimes 100+key, value 1.0; batch 2 re-writes even
    # keys with OLDER writetime (must lose) and odd keys with NEWER
    b1 = spark.createDataFrame(
        [(k, 100 + k, 1.0) for k in range(20)], "k long, _writetime long, v double"
    )
    b2 = spark.createDataFrame(
        [(k, (50 if k % 2 == 0 else 900) + k, 2.0) for k in range(20)],
        "k long, _writetime long, v double",
    )
    b1.coalesce(1).write.parquet(f"{src}/f=1")
    b2.coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema("k long, _writetime long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    merged = stateful_lww_stream(stream, ["k"], "_writetime")
    q = (
        merged.writeStream.format("memory")
        .queryName("lww_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.sql("SELECT * FROM lww_state").toPandas()
    # winner per key = max writetime over ALL emitted rows (state only
    # ever improves, so the per-key max is the final state)
    final = out.loc[out.groupby("k")["_writetime"].idxmax()].set_index("k")
    for k in range(20):
        if k % 2 == 0:
            assert final.loc[k, "v"] == 1.0 and final.loc[k, "_writetime"] == 100 + k
        else:
            assert final.loc[k, "v"] == 2.0 and final.loc[k, "_writetime"] == 900 + k


def test_sessionize_stream_matches_batch_twin(spark, tmp_path):
    """F.session_window over the event stream must produce exactly the
    batch sessionize sessions: same per-user session count and the
    same (n_events, duration) multiset — the gap-boundary alignment
    (truncate to seconds, gap+1 window) is what this pins."""
    from cassandra_data_migration_spark.operators.windows import sessionize
    from cassandra_data_migration_spark.sources.tables import load_table
    from cassandra_data_migration_spark.streaming.sessions import sessionize_stream

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "ev")
    events.write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        sessionize_stream(stream, gap_seconds=28800, watermark=None)
        .writeStream.format("memory")
        .queryName("sess")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.n_events, r.duration_s)
        for r in spark.sql("SELECT * FROM sess").collect()
    )
    want = sorted(
        (r.user_id, r.n_events, r.duration_s)
        for r in sessionize(events, gap_seconds=28800).collect()
    )
    assert got == want


def test_contamination_stream_matches_batch_twin(spark, tmp_path):
    """The stream-static broadcast scrub must flag exactly the docs
    (and overlap counts) that the batch decontaminate operator flags,
    and the clean route must be its exact complement."""
    from cassandra_data_migration_spark.operators.text import decontaminate
    from cassandra_data_migration_spark.sources.tables import load_table
    from cassandra_data_migration_spark.streaming.decontaminate import (
        clean_stream,
        contamination_stream,
    )

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    benchmark = docs.filter("doc_id % 10 = 0").select("text")
    corpus = docs.filter("doc_id % 10 <> 0")
    src = str(tmp_path / "docs")
    corpus.write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        contamination_stream(stream, benchmark)
        .writeStream.format("memory")
        .queryName("contam")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.n_overlap)
        for r in spark.sql("SELECT * FROM contam").collect()
    }
    want = {
        (r.doc_id, r.n_overlap)
        for r in decontaminate(corpus, benchmark).collect()
    }
    assert got == want and want  # fixture plants overlaps

    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = (
        clean_stream(stream2, benchmark)
        .writeStream.format("memory")
        .queryName("clean")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    clean_ids = {r.doc_id for r in spark.sql("SELECT doc_id FROM clean").collect()}
    flagged = {d for d, _ in want}
    all_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert clean_ids == all_ids - flagged


def test_dedup_stream_matches_batch_fingerprint_set(spark, tmp_path):
    """Streaming dropDuplicates must keep exactly one survivor per
    distinct fingerprint — the same groups the batch operator forms —
    and every survivor must be a real corpus document."""
    from cassandra_data_migration_spark.operators.dedup import dedup_exact
    from cassandra_data_migration_spark.sources.tables import load_table
    from cassandra_data_migration_spark.streaming.dedup import dedup_stream

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = spark.sql("SELECT doc_id, _fp FROM dedup").collect()

    batch = dedup_exact(docs)
    n_groups = batch.select("canonical_id").distinct().count()
    assert len(kept) == n_groups  # one survivor per duplicate group
    assert len({r._fp for r in kept}) == len(kept)
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert {r.doc_id for r in kept} <= all_ids


def test_stream_enrich_broadcasts_and_keeps_unmatched(spark, tmp_path):
    """Stream-static enrichment: the dim side must broadcast (no
    stream-side shuffle) and rows without a dim match survive with
    NULLs — batch-equivalence is pinned by the stream_enrich oracle."""
    from cassandra_data_migration_spark.sources.tables import load_table
    from cassandra_data_migration_spark.streaming.enrich import enrich_stream

    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id"
    )
    dim = load_table(spark, "/root/testdata/sf0.001", "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    # same joining code on the batch frame: broadcast hint visible
    plan = (
        enrich_stream(events, dim, "user_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan

    src = str(tmp_path / "ev")
    events.write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = (
        enrich_stream(stream, dim, "user_id")
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM enriched").collect()
    assert len(out) == events.count()  # left join never drops events
    matched = {r.user_id for r in dim.collect()}
    for r in out:
        if r.user_id not in matched:
            assert r.c_mktsegment is None


def test_trending_stream_equals_batch(spark, tmp_path):
    """Windowed trending counts: the streaming aggregation's final
    state must equal the batch twin's result on the same data."""
    from cassandra_data_migration_spark.operators.aggregates import (
        trending_per_window,
    )
    from cassandra_data_migration_spark.sources.tables import load_table
    from cassandra_data_migration_spark.streaming.trending import (
        rank_topk,
        trending_counts_stream,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "ev")
    events.write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = (
        trending_counts_stream(stream)
        .writeStream.format("memory")
        .queryName("trending")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.win_start, r.event_type): (r.n_events, r.rnk)
        for r in rank_topk(spark.table("trending")).collect()
    }
    want = {
        (r.win_start, r.event_type): (r.n_events, r.rnk)
        for r in trending_per_window(events).collect()
    }
    assert got == want and len(got) > 0


def test_stream_checkpoint_resume_no_duplicates(spark, tmp_path):
    """T5 streaming form: stopping a checkpointed stream and starting
    a new query over the SAME checkpoint must not re-emit processed
    batches — the exactly-once resume the migrate cutover relies on."""
    import shutil

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    base = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    base.limit(100).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(sink).count()
    assert n1 == 100
    # add a second file; resume from the same checkpoint
    base.limit(150).exceptAll(base.limit(100)).write.mode("append").parquet(src)
    run_once()
    out = spark.read.parquet(sink)
    assert out.count() == 150  # no re-emission of the first batch
    assert out.select("event_id").distinct().count() == 150
    shutil.rmtree(src, ignore_errors=True)


def test_paced_file_stream_rate_limits_batches(spark, tmp_path):
    """T6 (throttled streams): maxFilesPerTrigger paces ingestion —
    the streaming analogue of the T1 token-bucket rate cap.  Proven
    by batch count: 4 source files at 1 file/trigger -> 4 micro-
    batches; unpaced -> 1."""
    src = str(tmp_path / "psrc")
    base = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    base.limit(80).repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def batches(options):
        reader = spark.readStream.schema(schema)
        for k, v in options.items():
            reader = reader.option(k, v)
        import uuid as _uuid

        name = f"paced_{_uuid.uuid4().hex[:8]}"
        q = (
            reader.parquet(src)
            .groupBy()
            .count()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return len(q.recentProgress)

    paced = batches({"maxFilesPerTrigger": "1"})
    unpaced = batches({})
    assert paced >= 4
    assert unpaced <= 2  # one data batch (+ possible empty finalizer)


def test_stateful_cdc_stream_equals_batch_apply(spark, tmp_path):
    """Cross-batch CDC semantics: DELETE tombstones the key, a late
    UPDATE (older ts) arriving in a later batch is ignored, re-insert
    after delete starts fresh — identical to the batch cdc_apply fold
    over the full log."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from cassandra_data_migration_spark.operators.windows import cdc_apply
    from cassandra_data_migration_spark.streaming.cdc import (
        stateful_cdc_stream,
    )

    schema = "k long, ts long, seq long, op string, v long"
    batch1 = [(1, 1, 0, "I", 10), (2, 2, 1, "I", 20), (3, 3, 2, "I", 30)]
    batch2 = [(1, 5, 3, "D", 0), (2, 4, 4, "U", 21),
              (3, 1, 5, "U", 99),  # late: older ts than k=3's insert? no — ts 1 < 3 → ignored
              (4, 6, 6, "I", 40)]
    src = str(tmp_path / "cdc_src")
    spark.createDataFrame(batch1, schema).repartition(1).write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame(batch2, schema).repartition(1).write.mode(
        "append"
    ).parquet(src)

    name = f"cdc_{_uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stateful_cdc_stream(stream, ["k"])
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql(f"SELECT * FROM {name}")
    # reconstruct current state: last emitted op per key, drop tombstones
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy(F.desc("ts"), F.desc("seq"))
    current = {
        r["k"]: (r["ts"], r["v"])
        for r in emitted.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("_emit") != "D"))
        .collect()
    }
    full_log = spark.createDataFrame(batch1 + batch2, schema)
    expected = {
        r["k"]: (r["ts"], r["v"])
        for r in cdc_apply(full_log, ["k"], ts_col="ts",
                           tiebreak_col="seq").collect()
    }
    assert current == expected
    assert 1 not in current          # deleted key gone
    assert current[3] == (3, 30)     # late update ignored


def test_stateful_cdc_delete_then_late_update_stays_dead(spark, tmp_path):
    """The tombstone case ADVICE r2 flagged: a DELETE arrives, then a
    later micro-batch carries an UPDATE with an *older* (ts, seq).
    The tombstone's ordering key must win — the key stays deleted and
    no 'U' is emitted after the 'D' (state.remove() would have lost the
    delete's timestamp and resurrected the key).  A re-insert with a
    NEWER ts must still revive it."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from cassandra_data_migration_spark.streaming.cdc import (
        stateful_cdc_stream,
    )

    schema = "k long, ts long, seq long, op string, v long"
    batch1 = [(1, 1, 0, "I", 10), (1, 9, 1, "D", 0),
              (2, 1, 2, "I", 20), (2, 9, 3, "D", 0)]
    batch2 = [(1, 5, 4, "U", 99)]        # late: older than k=1's delete
    batch3 = [(2, 12, 5, "I", 21)]       # newer: revives k=2
    src = str(tmp_path / "cdc_late")
    for i, b in enumerate([batch1, batch2, batch3]):
        spark.createDataFrame(b, schema).repartition(1).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src)

    name = f"cdclate_{_uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stateful_cdc_stream(stream, ["k"])
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql(f"SELECT * FROM {name}").collect()
    k1 = sorted((r["ts"], r["_emit"]) for r in emitted if r["k"] == 1)
    # one 'D' at ts=9 and NOTHING after it — the late update is ignored
    assert k1 == [(9, "D")]
    k2 = sorted((r["ts"], r["_emit"]) for r in emitted if r["k"] == 2)
    assert k2 == [(9, "D"), (12, "U")]   # delete, then genuine revive


def test_zdm_config_drop_in_parses_reference_file(spark):
    """The reference's shipped zdm-config.yml loads unmodified and
    yields the router the proxy would run."""
    from cassandra_data_migration_spark.streaming.routing import (
        Cluster,
        ReadMode,
    )
    from cassandra_data_migration_spark.streaming.zdm_config import (
        load_zdm_config,
        router_from_zdm_config,
    )

    cfg = load_zdm_config("/root/reference/lab/zdm-config/zdm-config.yml")
    assert cfg["origin_contact_points"] == "dse-node"
    assert cfg["proxy_listen_port"] == 9042
    assert cfg["proxy_max_client_connections"] == 1000
    assert cfg["metrics_enabled"] is True
    assert cfg["read_mode"] == "PRIMARY_ONLY"

    router = router_from_zdm_config(cfg)
    assert router.read_mode is ReadMode.PRIMARY_ONLY
    assert router.primary_cluster is Cluster.ORIGIN
    assert router.metrics is not None  # metrics_enabled: true

    # behavior: PRIMARY_ONLY+ORIGIN routes to origin, meters the read
    o = spark.range(5).withColumnRenamed("id", "k")
    t = spark.range(3).withColumnRenamed("id", "k")
    got = router.route(o, t, lambda df: df).count()
    assert got == 5 and router.metrics.reads_origin == 1

    # flipping the file's phase keys flips behavior
    cfg2 = dict(cfg, read_mode="TARGET_ONLY", primary_cluster="TARGET")
    r2 = router_from_zdm_config(cfg2)
    assert r2.route(o, t, lambda df: df).count() == 3
