"""Round-4 operators: Merkle range diff, PPJoin prefix filtering,
TPC-H Q4/Q11/Q18 shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

from __spark_entry__ import _origin, _target, load_table
from tests.conftest import SF_SMOKE

ORDER_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def test_merkle_identical_tables_no_diff(spark):
    from cassandra_data_migration_spark.operators.merkle import merkle_diff

    o = _origin(spark, SF_SMOKE)
    assert merkle_diff(o, o, "o_orderkey", ORDER_COLS).count() == 0


def test_merkle_diff_finds_exactly_the_perturbed_ranges(spark):
    from cassandra_data_migration_spark.operators.merkle import (
        merkle_diff,
        range_digests,
    )

    o, t = _origin(spark, SF_SMOKE), _target(spark, SF_SMOKE)
    diff = merkle_diff(o, t, "o_orderkey", ORDER_COLS).collect()
    # the fixture drops (%10) and perturbs (%7) rows — diffs must exist
    assert len(diff) > 0
    statuses = {r["status"] for r in diff}
    assert statuses <= {"missing_range", "mismatch", "extra_range"}
    # every reported range genuinely differs: recompute leaf digests
    o_leaves = {r["bucket"]: (r["n_rows"], r["digest"])
                for r in range_digests(o, "o_orderkey", ORDER_COLS).collect()}
    t_leaves = {r["bucket"]: (r["n_rows"], r["digest"])
                for r in range_digests(t, "o_orderkey", ORDER_COLS).collect()}
    flagged = {r["bucket"] for r in diff}
    truly_diff = {b for b in set(o_leaves) | set(t_leaves)
                  if o_leaves.get(b) != t_leaves.get(b)}
    assert flagged == truly_diff


def test_merkle_digest_order_independent(spark):
    from cassandra_data_migration_spark.operators.merkle import range_digests

    o = _origin(spark, SF_SMOKE)
    a = {r["bucket"]: r["digest"]
         for r in range_digests(o, "o_orderkey", ORDER_COLS).collect()}
    # different physical row order → identical digests (sum mod 2^60)
    shuffled = o.repartition(7).sortWithinPartitions(F.desc("o_totalprice"))
    b = {r["bucket"]: r["digest"]
         for r in range_digests(shuffled, "o_orderkey", ORDER_COLS).collect()}
    assert a == b


def test_prefix_filter_equals_quadratic_jaccard(spark):
    from cassandra_data_migration_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    exact = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    pruned = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in prefix_filter_pairs(docs, n=3, threshold=0.5).collect()
    }
    # lossless pruning: exactly the same pair set
    assert pruned == exact
    assert len(pruned) > 0


def test_prefix_filter_generates_fewer_candidates_than_full_join(spark):
    from cassandra_data_migration_spark.operators.dedup import shingle_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    sh = shingle_table(docs, n=3)
    full_pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    # candidate count via the prefix table mirrors the operator's
    # internal join; it must prune hard vs the full posting join
    from cassandra_data_migration_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    verified = prefix_filter_pairs(docs, n=3, threshold=0.5).count()
    assert verified <= full_pairs


def test_order_priority_check_semi_join_semantics(spark):
    from cassandra_data_migration_spark.operators.olap import (
        order_priority_check,
    )

    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    rows = order_priority_check(orders, li).collect()
    in_window = orders.filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-04-01")
    ).count()
    # grouped counts can never exceed the window total (each order
    # counted at most once despite multiple late lineitems)
    assert sum(r["order_count"] for r in rows) <= in_window


def test_top_value_parts_share_threshold(spark):
    from cassandra_data_migration_spark.operators.olap import top_value_parts

    li = load_table(spark, SF_SMOKE, "lineitem")
    rows = top_value_parts(li, fraction=0.001).collect()
    assert len(rows) > 0
    total = float(
        li.agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            )
        ).first()[0]
    )
    for r in rows:
        assert float(r["revenue"]) > 0.001 * total * 0.99  # float slack


def test_large_volume_orders_having_floor(spark):
    from cassandra_data_migration_spark.operators.olap import (
        large_volume_orders,
    )

    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer")
    li = load_table(spark, SF_SMOKE, "lineitem")
    rows = large_volume_orders(orders, cust, li, min_quantity=150.0).collect()
    assert all(r["total_qty"] > 150.0 for r in rows)
    # every returned order's recomputed quantity matches
    keys = [r["o_orderkey"] for r in rows]
    re = {
        r["l_orderkey"]: float(r["q"])
        for r in li.filter(F.col("l_orderkey").isin(keys))
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .collect()
    }
    for r in rows:
        assert abs(re[r["o_orderkey"]] - r["total_qty"]) < 1e-6


def test_stream_merkle_equals_batch(spark):
    import uuid as _uuid

    from __spark_entry__ import EVENTS_DIGEST_COLS, _events_stream
    from cassandra_data_migration_spark.operators.merkle import range_digests
    from cassandra_data_migration_spark.streaming.merkle import (
        incremental_range_digests,
    )

    name = f"mdig_{_uuid.uuid4().hex[:8]}"
    dig = incremental_range_digests(
        _events_stream(spark, SF_SMOKE), "event_id", EVENTS_DIGEST_COLS
    )
    q = (
        dig.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = {
        r["bucket"]: (r["n_rows"], r["digest"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch_df = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    ts_type = dict(batch_df.dtypes)["ts"]
    if ts_type == "bigint":
        batch_df = batch_df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    batch = {
        r["bucket"]: (r["n_rows"], r["digest"])
        for r in range_digests(
            batch_df, "event_id", EVENTS_DIGEST_COLS
        ).collect()
    }
    assert streamed == batch


def test_stream_attribution_equals_batch_interval_join(spark):
    import uuid as _uuid

    from __spark_entry__ import _events_stream
    from cassandra_data_migration_spark.streaming.attribution import (
        attribution_join_stream,
    )

    name = f"attr_{_uuid.uuid4().hex[:8]}"
    q = (
        attribution_join_stream(_events_stream(spark, SF_SMOKE))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch_df = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    if dict(batch_df.dtypes)["ts"] == "bigint":
        batch_df = batch_df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    batch = {
        (r["purchase_id"], r["click_id"])
        for r in attribution_join_stream(batch_df).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_cube_profile_has_all_lattice_levels(spark):
    from cassandra_data_migration_spark.operators.aggregates import (
        cube_profile,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    rows = cube_profile(docs, ["lang", "source"]).collect()
    gids = {r["gid"] for r in rows}
    assert gids == {0, 1, 2, 3}  # cells, source-margin, lang-margin, total
    total = [r for r in rows if r["gid"] == 3]
    assert len(total) == 1 and total[0]["n_docs"] == docs.count()
    # margins re-aggregate the cells exactly
    cells = sum(r["n_docs"] for r in rows if r["gid"] == 0)
    assert cells == docs.count()


def test_key_skew_report_internal_consistency(spark):
    from cassandra_data_migration_spark.operators.aggregates import (
        key_skew_report,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    rows = key_skew_report(ev, "user_id", top_n=5).collect()
    assert len(rows) == 5
    assert all(r["n_rows"] == ev.count() for r in rows)
    assert rows[0]["key_rows"] == rows[0]["max_key_rows"]
    assert all(r["skew_factor"] >= 1.0 for r in rows)  # top keys ≥ mean


def test_weighted_sample_determinism_and_size(spark):
    from cassandra_data_migration_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    a = {
        (r["lang"], r["doc_id"])
        for r in weighted_sample_per_group(
            docs, "lang", "doc_id", "n_chars", k=5
        ).collect()
    }
    b = {
        (r["lang"], r["doc_id"])
        for r in weighted_sample_per_group(
            docs, "lang", "doc_id", "n_chars", k=5
        ).collect()
    }
    assert a == b  # content-derived draws: no RNG state
    from collections import Counter

    per_group = Counter(g for g, _ in a)
    assert all(v <= 5 for v in per_group.values())
    n_langs = docs.select("lang").distinct().count()
    assert len(per_group) == n_langs


def test_bpe_trainer_matches_python_reference(spark):
    from __spark_entry__ import _py_bpe_learn
    from cassandra_data_migration_spark.operators.bpe import (
        bpe_train,
        word_counts,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    wc = [
        (r["word"], r["n"]) for r in word_counts(docs).collect()
    ]
    expected = _py_bpe_learn(wc, 6)
    got, _ = bpe_train(docs, num_merges=6)
    # identical merge SEQUENCE (order matters: each round conditions
    # the next), not just the same set
    assert got == expected


def test_bpe_merge_pair_overlap_semantics(spark):
    from cassandra_data_migration_spark.operators.bpe import _merge_pair

    df = spark.createDataFrame(
        [(["a", "a", "a"],), (["a", "b", "b"],), (["x", "a", "b", "a", "b"],)],
        "symbols array<string>",
    )
    out = [r[0] for r in df.select(_merge_pair(F.col("symbols"), "a", "a")).collect()]
    assert out[0] == ["aa", "a"]  # leftmost, non-overlapping
    out = [r[0] for r in df.select(_merge_pair(F.col("symbols"), "a", "b")).collect()]
    assert out[1] == ["ab", "b"]
    assert out[2] == ["x", "ab", "ab"]


def test_bpe_vocab_mass_conservation(spark):
    from cassandra_data_migration_spark.operators.bpe import (
        bpe_segment_counts,
        bpe_train,
        word_counts,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    merges, _ = bpe_train(docs, num_merges=4)
    vocab = bpe_segment_counts(docs, merges).collect()
    # every word emits exactly one </w>-terminated segmentation: the
    # total occurrence mass of symbols ending in </w> equals the
    # distinct-word mass
    wc = word_counts(docs).collect()
    end_mass = sum(
        r["occurrences"] for r in vocab if r["symbol"].endswith("</w>")
    )
    assert end_mass == sum(r["n"] for r in wc)


def test_knn_join_matches_per_query_brute_force(spark):
    from cassandra_data_migration_spark.operators.similarity import (
        cosine_topk,
        knn_join,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = knn_join(emb, emb.filter(F.col("vec_id") < 3), k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid in by_q:
        by_q[qid].sort(key=lambda r: r["rank"])
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]
        ]
        expected = cosine_topk(emb, qvec, k=4, exclude_ids=[qid]).collect()
        assert [r["neighbor_id"] for r in by_q[qid]] == [
            r["vec_id"] for r in expected
        ]


def test_conform_schema_roundtrip_and_fill(spark):
    from cassandra_data_migration_spark.operators.setops import conform_schema

    orders = load_table(spark, SF_SMOKE, "orders")
    drifted = orders.select(
        F.col("o_totalprice").cast("string"),
        "o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate",
        F.lit("junk").alias("o_extra"),
    )
    out = conform_schema(drifted, orders)
    assert out.schema == orders.schema
    assert out.count() == orders.count()
    # missing column NULL-filled, extra dropped
    assert out.filter(F.col("o_orderpriority").isNotNull()).count() == 0
    assert "o_extra" not in out.columns
    import pytest

    with pytest.raises(ValueError):
        conform_schema(drifted, orders, fill_missing=False)


def test_ohlc_bars_invariants(spark):
    from cassandra_data_migration_spark.operators.windows import ohlc_bars

    ev = load_table(spark, SF_SMOKE, "events")
    rows = ohlc_bars(ev).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["low"] <= r["open"] <= r["high"]
        assert r["low"] <= r["close"] <= r["high"]
    assert sum(r["n_ticks"] for r in rows) == ev.count()


def test_retention_cohorts_offset_zero_equals_cohort_size(spark):
    from cassandra_data_migration_spark.operators.windows import (
        retention_cohorts,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    rows = retention_cohorts(ev).collect()
    # every user is active in their own first period: offset-0 count
    # per cohort == cohort size; total offset-0 mass == distinct users
    zero = sum(r["n_users"] for r in rows if r["period_offset"] == 0)
    assert zero == ev.select("user_id").distinct().count()
    assert all(r["period_offset"] >= 0 for r in rows)


def test_priority_line_counts_partition_of_lines(spark):
    from cassandra_data_migration_spark.operators.olap import (
        priority_line_counts,
    )

    li = load_table(spark, SF_SMOKE, "lineitem")
    orders = load_table(spark, SF_SMOKE, "orders")
    rows = priority_line_counts(li, orders).collect()
    in_window = li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    ).count()
    assert sum(r["high_line_count"] + r["low_line_count"] for r in rows) == in_window


def test_promo_revenue_share_bounds(spark):
    from cassandra_data_migration_spark.operators.olap import (
        promo_revenue_share,
    )

    r = promo_revenue_share(
        load_table(spark, SF_SMOKE, "lineitem"),
        load_table(spark, SF_SMOKE, "part"),
    ).first()
    assert 0 <= r["promo_pct"] <= 100
    assert r["promo_revenue"] <= r["total_revenue"]


def test_disjunctive_revenue_branches_subset(spark):
    from cassandra_data_migration_spark.operators.olap import (
        disjunctive_predicate_revenue,
    )

    li = load_table(spark, SF_SMOKE, "lineitem")
    part = load_table(spark, SF_SMOKE, "part")
    r = disjunctive_predicate_revenue(li, part).first()
    assert r["n_lines"] <= li.count()
    assert r["n_lines"] > 0


def test_pmi_collocations_consistency(spark):
    from cassandra_data_migration_spark.operators.text import pmi_collocations

    rows = pmi_collocations(
        load_table(spark, SF_SMOKE, "documents"), min_count=3, top_k=20
    ).collect()
    assert 0 < len(rows) <= 20
    # ranked descending, counts respect the floor
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    assert all(r["n_ab"] >= 3 for r in rows)


def _make_bmp(width, height, pixels):
    """Minimal 24-bit BI_RGB BMP: pixels is row-major top-down RGB."""
    import struct

    row_bytes = (width * 3 + 3) & ~3
    data = bytearray()
    for row in range(height - 1, -1, -1):  # bottom-up storage
        line = bytearray()
        for x in range(width):
            r, g, b = pixels[row * width + x]
            line += bytes((b, g, r))
        line += b"\x00" * (row_bytes - len(line))
        data += line
    pixel_off = 14 + 40
    size = pixel_off + len(data)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, pixel_off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return bytes(header + dib + data)


def test_decode_bmp_ppm_wav_real_codecs():
    import io
    import wave as wave_mod

    from cassandra_data_migration_spark.operators.multimodal import (
        decode_bmp,
        decode_media,
        decode_ppm,
        decode_wav,
    )

    pixels = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    bmp = _make_bmp(2, 2, pixels)
    w, h, rgb = decode_bmp(bmp)
    assert (w, h) == (2, 2)
    assert rgb == b"".join(bytes(p) for p in pixels)  # BGR undone, top-down
    assert decode_media(bmp, {}, fake=False) == rgb  # sniffed

    ppm = b"P6\n2 2\n255\n" + rgb
    assert decode_ppm(ppm) == (2, 2, rgb)
    assert decode_media(ppm, {}, fake=False) == rgb

    pcm = bytes(range(32))  # 16 PCM16 samples
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(pcm)
    wav = buf.getvalue()
    assert decode_wav(wav) == pcm
    assert decode_media(wav, {"modality": "audio"}, fake=False) == pcm


def test_resize_media_real_path_without_pillow(spark):
    from cassandra_data_migration_spark.operators.multimodal import (
        decode_ppm,
        resize_media,
    )

    pixels = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    bmp = _make_bmp(2, 2, pixels)
    df = spark.createDataFrame([(1, bytearray(bmp))], "doc_id long, payload binary")
    out = resize_media(df, width=4, height=4, fake_decode=False).first()
    w, h, rgb = decode_ppm(bytes(out["payload_resized"]))
    assert (w, h) == (4, 4)
    # nearest-neighbor: top-left quadrant is the top-left source pixel
    assert rgb[0:3] == bytes((255, 0, 0))
    assert rgb[3:6] == bytes((255, 0, 0))
    assert out["media_meta"]["width"] == 4


def test_dp_group_counts_noise_properties(spark):
    from cassandra_data_migration_spark.operators.privacy import (
        dp_group_counts,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    true = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    a = {r["event_type"]: r["noisy_count"]
         for r in dp_group_counts(ev, ["event_type"], epsilon=0.5).collect()}
    b = {r["event_type"]: r["noisy_count"]
         for r in dp_group_counts(ev, ["event_type"], epsilon=0.5).collect()}
    assert a == b  # pinned release seed: reproducible
    for k, noisy in a.items():
        assert noisy >= 0
        # Laplace(2) tail: |noise| < 50 with overwhelming probability
        assert abs(noisy - true[k]) < 50
    # different seed -> different noise
    c = {r["event_type"]: r["noisy_count"]
         for r in dp_group_counts(ev, ["event_type"], epsilon=0.5,
                                  seed="other").collect()}
    assert c != a


def test_k_anonymity_violations_crafted(spark):
    from cassandra_data_migration_spark.operators.privacy import (
        k_anonymity_violations,
    )

    rows = [("a", 1)] * 10 + [("b", 2)] * 3 + [("c", 3)] * 1
    df = spark.createDataFrame(rows, "q1 string, q2 int")
    out = {(r["q1"], r["q2"]): r["group_size"]
           for r in k_anonymity_violations(df, ["q1", "q2"], k=5).collect()}
    assert out == {("b", 2): 3, ("c", 3): 1}


def test_id_gap_islands_crafted(spark):
    from cassandra_data_migration_spark.operators.windows import (
        id_gap_islands,
    )

    ids = [1, 2, 3, 7, 8, 10, 200001, 200002]  # spans two range buckets
    df = spark.createDataFrame([(i,) for i in ids], "event_id long")
    out = sorted(
        (r["island_start"], r["island_end"], r["island_len"])
        for r in id_gap_islands(df).collect()
    )
    assert out == [(1, 3, 3), (7, 8, 2), (10, 10, 1), (200001, 200002, 2)]


def test_winsorized_mean_tames_outliers(spark):
    from cassandra_data_migration_spark.operators.aggregates import (
        winsorized_stats,
    )

    rows = [("a", float(v)) for v in range(1, 20)] + [("a", 10000.0)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    r = winsorized_stats(df, "value", "event_type").first()
    # the 10000 outlier is clamped to the 95th percentile
    assert r["winsorized_mean"] < 50
    assert r["upper_bound"] < 10000
    assert r["n"] == 20


def test_cli_guardrail_subcommand(spark):
    import json as _json

    from cassandra_data_migration_spark.__main__ import main

    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main([
            "guardrail",
            "--origin", "/root/testdata/sf0.001/documents.parquet",
            "--col-caps", "text=0.4",  # 0.4 KB cap -> long docs violate
        ])
    out = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["rows_scanned"] == 500
    assert out["violations"] > 0 and rc == 1
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main([
            "guardrail",
            "--origin", "/root/testdata/sf0.001/documents.parquet",
            "--col-caps", "text=100000",
        ])
    out = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["violations"] == 0 and rc == 0


def test_cli_guardrail_scans_once(spark):
    """Both numbers come from one aggregate over one scan: the call's
    job group holds the schema read and that aggregate, not two
    separate counts."""
    import contextlib
    import io
    import json as _json

    from cassandra_data_migration_spark.__main__ import main

    sc = spark.sparkContext
    sc.setJobGroup("cli-guardrail", "one guardrail call")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = main([
                "guardrail",
                "--origin", "/root/testdata/sf0.001/documents.parquet",
                "--col-caps", "text=0.4",
            ])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    out = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["rows_scanned"] == 500 and out["violations"] > 0 and rc == 1
    # the schema read plus the aggregate's scan and final stage
    jobs = sc.statusTracker().getJobIdsForGroup("cli-guardrail")
    assert len(jobs) <= 3, sorted(jobs)


def test_migrate_track_run_resume_via_properties(spark, tmp_path):
    """trackRun end to end through the properties surface: run 1
    records per-bucket completion; run 2 with previousRunId scans
    only the buckets run 1 left pending."""
    from cassandra_data_migration_spark.plans.migrate import migrate
    from cassandra_data_migration_spark.plans.properties import (
        config_from_properties,
    )
    from cassandra_data_migration_spark.plans.tracker import RunTracker

    origin = "/root/testdata/sf0.001/orders.parquet"
    props = {
        "spark.cdm.trackRun": "true",
        "spark.cdm.trackRun.keyColumn": "o_orderkey",
    }
    cfg = config_from_properties(props, origin, str(tmp_path / "t1"))
    cfg.track_dir = str(tmp_path / "runinfo")
    res1 = migrate(spark, cfg)
    assert res1.run_id is not None and res1.rows_written > 0

    tracker = RunTracker(spark, cfg.track_dir)
    done = tracker.completed_buckets(res1.run_id)
    assert len(done) == tracker.num_buckets  # full run completed all

    # simulate a partial run: the target holds only the completed
    # buckets' rows and the tracker records exactly those buckets
    partial = tracker.new_run()
    done_b = list(range(tracker.num_buckets // 2))
    for b in done_b:
        tracker.record_bucket(partial, b, "PASSED", rows=1)
    src = spark.read.parquet(origin)
    partial_target = str(tmp_path / "t2")
    src.filter(
        F.pmod("o_orderkey", F.lit(tracker.num_buckets)).isin(done_b)
    ).write.parquet(partial_target)

    props["spark.cdm.trackRun.previousRunId"] = partial
    cfg2 = config_from_properties(props, origin, partial_target)
    cfg2.track_dir = cfg.track_dir
    res2 = migrate(spark, cfg2)
    # resume scanned only pending buckets -> strictly fewer rows
    assert 0 < res2.rows_written < res1.rows_written
    # resume-into-same-target APPENDS next to the completed buckets'
    # rows: final target is the complete table, nothing deleted, no key
    # migrated twice
    final = spark.read.parquet(partial_target)
    assert final.count() == src.count()
    assert (
        final.select("o_orderkey").distinct().count()
        == src.select("o_orderkey").distinct().count()
    )


def test_properties_custom_class_and_row_guardrail(spark, tmp_path):
    from cassandra_data_migration_spark.plans.migrate import migrate
    from cassandra_data_migration_spark.plans.properties import (
        config_from_properties,
    )

    props = {
        "spark.cdm.transform.custom.class":
            "tests.fixtures_transforms:add_flag",
        "spark.cdm.guardrail.rowSizeInKB": "0.2",
        "spark.cdm.guardrail.columns": "o_orderstatus,o_orderpriority",
    }
    cfg = config_from_properties(
        props, "/root/testdata/sf0.001/orders.parquet", str(tmp_path / "out")
    )
    res = migrate(spark, cfg)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert "migrated_flag" in out.columns  # custom transform applied
    assert res.guardrail_violations == 0  # tiny strings, generous cap


def test_prefix_filter_collapses_duplicate_multiplicity(spark):
    from cassandra_data_migration_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    # 4 copies of each of 3 distinct texts -> every intra-group pair
    # at J=1.0, no cross pairs (texts disjoint)
    texts = ["alpha beta gamma delta epsilon", "zeta eta theta iota kappa",
             "lam mu nu xi omicron"]
    rows = [(i * 10 + c, texts[i]) for i in range(3) for c in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = prefix_filter_pairs(df, n=3, threshold=0.5).collect()
    assert len(out) == 3 * 6  # C(4,2) per group
    assert all(r["jaccard"] == 1.0 for r in out)
    groups = {r["id_a"] // 10 for r in out} | {r["id_b"] // 10 for r in out}
    for r in out:
        assert r["id_a"] // 10 == r["id_b"] // 10  # never cross-group


def test_growth_accounting_identity(spark):
    from cassandra_data_migration_spark.operators.aggregates import (
        cumulative_users,
        growth_accounting,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    g = {r["period"]: r for r in growth_accounting(ev).collect()}
    periods = sorted(g)
    # actives(p) = new + retained + resurrected; and
    # actives(p+1) = actives(p) + new(p+1) + resurrected(p+1) - churned_after(p)
    actives = {
        p: g[p]["new_users"] + g[p]["retained"] + g[p]["resurrected"]
        for p in periods
    }
    for a, b in zip(periods, periods[1:]):
        if (b - a).days == 7:  # consecutive weeks only
            assert actives[b] == (
                actives[a]
                + g[b]["new_users"] + g[b]["resurrected"]
                - g[a]["churned_after"]
            )
    # total new across all periods == distinct users == final cumulative
    total_new = sum(g[p]["new_users"] for p in periods)
    n_users = ev.select("user_id").distinct().count()
    assert total_new == n_users
    cu = cumulative_users(ev).orderBy(F.desc("period")).first()
    assert cu["cumulative_users"] == n_users


def test_merge_intervals_crafted(spark):
    from datetime import datetime

    from cassandra_data_migration_spark.operators.windows import (
        merge_intervals,
    )

    d = datetime
    rows = [
        (1, d(2024, 1, 1, 0, 0), d(2024, 1, 1, 1, 0)),
        (1, d(2024, 1, 1, 0, 30), d(2024, 1, 1, 2, 0)),   # overlaps
        (1, d(2024, 1, 1, 3, 0), d(2024, 1, 1, 4, 0)),    # new span
        (1, d(2024, 1, 1, 3, 10), d(2024, 1, 1, 3, 20)),  # contained
        (2, d(2024, 1, 1, 0, 0), d(2024, 1, 1, 0, 10)),
    ]
    df = spark.createDataFrame(
        rows, "k long, s timestamp, e timestamp"
    )
    out = sorted(
        (r["k"], r["span_start"], r["span_end"], r["n_merged"])
        for r in merge_intervals(df, "k", "s", "e").collect()
    )
    assert out == [
        (1, d(2024, 1, 1, 0, 0), d(2024, 1, 1, 2, 0), 2),
        (1, d(2024, 1, 1, 3, 0), d(2024, 1, 1, 4, 0), 2),
        (2, d(2024, 1, 1, 0, 0), d(2024, 1, 1, 0, 10), 1),
    ]


def test_sketch_profile_audit_bounds_hold(spark):
    """The error-bound audit form: every advertised sketch guarantee
    must hold on the fixture corpus, per group."""
    from cassandra_data_migration_spark.operators.aggregates import (
        sketch_profile_audit,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    rows = sketch_profile_audit(docs).collect()
    assert rows and all(r["distinct_ok"] for r in rows)
    assert all(r["median_rank_ok"] for r in rows)
    assert sum(r["n_docs"] for r in rows) == docs.count()


def test_paged_fetch_pages_are_full_and_complete(spark):
    from cassandra_data_migration_spark.sources.tables import (
        load_table,
        paged_fetch,
    )

    df = load_table(spark, SF_SMOKE, "customer").select("c_custkey")
    n = df.count()
    pages = list(paged_fetch(df, page_size=64))
    assert len(pages) == (n + 63) // 64
    assert all(len(p) == 64 for p in pages[:-1])
    assert sum(len(p) for p in pages) == n
    keys = sorted(r.c_custkey for p in pages for r in p)
    assert keys == sorted(r.c_custkey for r in df.collect())


def test_lab_migration_report_all_pass(spark):
    from cassandra_data_migration_spark.plans.lab import lab_migration_report

    rows = {r["table_name"]: r for r in
            lab_migration_report(spark, SF_SMOKE).collect()}
    assert set(rows) == {"users", "products", "orders", "user_activity"}
    for r in rows.values():
        assert r["count_check"] == "PASS" and r["sample_check"] == "PASS"
        assert r["origin_rows"] == r["target_rows"] > 0
        assert r["sample_failures"] == 0


def test_png_codec_roundtrip_all_filters():
    """In-repo baseline PNG: encode→decode roundtrips exactly, and the
    decoder handles every filter type + RGBA/gray inputs."""
    import struct
    import zlib

    from cassandra_data_migration_spark.operators.multimodal import (
        _PNG_MAGIC,
        decode_media,
        decode_png,
        encode_png,
    )

    # gradient exercises Sub/Up/Average/Paeth predictions meaningfully
    w, h = 5, 4
    rgb = b"".join(
        bytes(((x * 50) % 256, (y * 80) % 256, (x * y * 7) % 256))
        for y in range(h)
        for x in range(w)
    )
    png = encode_png(w, h, rgb)
    assert png[:8] == _PNG_MAGIC
    assert decode_png(png) == (w, h, rgb)
    assert decode_media(png, {"modality": "image"}, fake=False) == rgb

    # hand-build payloads per filter type: filtered scanlines that
    # unfilter back to the same raw rows
    def build(color_type, channels, rows, filt):
        stride = len(rows[0])
        raw = bytearray()
        prev = bytearray(stride)
        for line in rows:
            enc = bytearray(line)
            if filt == 1:
                for x in range(stride - 1, channels - 1, -1):
                    enc[x] = (enc[x] - line[x - channels]) & 0xFF
            elif filt == 2:
                for x in range(stride):
                    enc[x] = (enc[x] - prev[x]) & 0xFF
            elif filt == 3:
                for x in range(stride):
                    a = line[x - channels] if x >= channels else 0
                    enc[x] = (enc[x] - ((a + prev[x]) >> 1)) & 0xFF
            elif filt == 4:
                for x in range(stride):
                    a = line[x - channels] if x >= channels else 0
                    b = prev[x]
                    c = prev[x - channels] if x >= channels else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (
                        b if pb <= pc else c
                    )
                    enc[x] = (enc[x] - pred) & 0xFF
            raw += bytes([filt]) + bytes(enc)
            prev = bytearray(line)

        def chunk(typ, data):
            return (
                struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(
            ">IIBBBBB", stride // channels, len(rows), 8, color_type, 0, 0, 0
        )
        return (
            _PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    rows_rgb = [bytes(range(30)), bytes(range(100, 130)), bytes(range(200, 230))]
    for filt in (0, 1, 2, 3, 4):
        png_f = build(2, 3, rows_rgb, filt)
        assert decode_png(png_f) == (10, 3, b"".join(rows_rgb)), f"filter {filt}"

    # RGBA → alpha dropped; grayscale → replicated to RGB
    rows_rgba = [bytes((1, 2, 3, 9, 4, 5, 6, 9))]
    assert decode_png(build(6, 4, rows_rgba, 4)) == (2, 1, bytes((1, 2, 3, 4, 5, 6)))
    rows_gray = [bytes((7, 250))]
    assert decode_png(build(0, 1, rows_gray, 1)) == (2, 1, bytes((7, 7, 7, 250, 250, 250)))


def test_resize_media_handles_png_without_pillow(spark):
    from cassandra_data_migration_spark.operators.multimodal import (
        decode_ppm,
        encode_png,
        resize_media,
    )

    rgb = bytes((255, 0, 0)) + bytes((0, 255, 0)) + bytes((0, 0, 255)) + bytes((9, 9, 9))
    png = encode_png(2, 2, rgb)
    df = spark.createDataFrame(
        [(1, bytearray(png))], "doc_id long, payload binary"
    )
    out = resize_media(df, width=4, height=4, fake_decode=False).first()
    w, h, out_rgb = decode_ppm(bytes(out["payload_resized"]))
    assert (w, h) == (4, 4)
    assert out_rgb[0:3] == bytes((255, 0, 0))


def test_migrate_chained_resume_is_self_contained(spark, tmp_path):
    """Resume-of-resume: run 2's details must carry run 1's completed
    buckets forward, so a run 3 resuming FROM RUN 2 scans nothing and
    appends nothing (no duplicated keys with append-mode resume)."""
    from cassandra_data_migration_spark.plans.migrate import (
        MigrationConfig,
        migrate,
    )
    from cassandra_data_migration_spark.plans.tracker import RunTracker

    origin = "/root/testdata/sf0.001/orders.parquet"
    src = spark.read.parquet(origin)
    track_dir = str(tmp_path / "runinfo")
    tracker = RunTracker(spark, track_dir)

    # forge run 1: half the buckets PASSED, target holds exactly them
    run1 = tracker.new_run()
    done_b = list(range(tracker.num_buckets // 2))
    for b in done_b:
        tracker.record_bucket(run1, b, "PASSED", rows=1)
    target = str(tmp_path / "t")
    src.filter(
        F.pmod("o_orderkey", F.lit(tracker.num_buckets)).isin(done_b)
    ).write.parquet(target)

    def cfg(prev):
        return MigrationConfig(
            origin_path=origin, target_path=target, track_run=True,
            track_dir=track_dir, track_key_col="o_orderkey",
            previous_run_id=prev,
        )

    res2 = migrate(spark, cfg(run1))
    assert res2.rows_written > 0
    n_after_2 = spark.read.parquet(target).count()
    assert n_after_2 == src.count()

    res3 = migrate(spark, cfg(res2.run_id))
    assert res3.rows_written == 0          # nothing left to migrate
    final = spark.read.parquet(target)
    assert final.count() == src.count()    # run 3 appended nothing
    assert (
        final.select("o_orderkey").distinct().count() == src.count()
    )
