"""Text-analysis operators for training-data pipelines.

Beyond the reference's surface (per the build brief): language-ID,
quality scoring, token counting, document fingerprinting — the
per-document scoring pass every large-scale corpus pipeline runs
before dedup/filtering.

All of it is built-in column expressions (split / transform / filter
/ aggregate higher-order functions) — zero Python UDFs, so the whole
scoring pass is one codegen'd projection over the scan: at 100 TB
this pipeline is embarrassingly parallel with no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword sets for the n-gram/stopword heuristic
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "to", "and", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "es": ["el", "la", "de", "que", "y", "es"],
    "fr": ["le", "la", "de", "et", "est", "un"],
    "zh": ["的", "是", "在", "了", "和"],
}

DEFAULT_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(text_col: str) -> Column:
    """Whitespace tokenization (the corpus is space-separated; a
    BPE-ish regex split lives in token_count_bpe)."""
    return F.split(F.col(text_col), " ")


def token_count(text_col: str) -> Column:
    return F.size(tokens(text_col))


def token_count_bpe(text_col: str) -> Column:
    """BPE-ish token estimate: split on word boundaries AND digits,
    counting punctuation runs — the cheap `len(tokenizer(text))`
    stand-in used for corpus budgeting."""
    return F.size(
        F.filter(
            F.split(F.col(text_col), r"\s+|(?=[^\w\s])|(?<=[^\w\s])"),
            lambda t: t != F.lit(""),
        )
    )


def stopword_count(text_col: str, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(s) for s in (stopwords or DEFAULT_STOPWORDS)])
    return F.size(F.filter(tokens(text_col), lambda t: F.array_contains(sw, t)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length, token count, mean token length,
    stopword ratio — the filter features of corpus QC (C4-style
    heuristics on word counts / stopwords)."""
    n_tok = token_count(text_col)
    return df.select(
        *df.columns,
        F.length(F.col(text_col)).alias("n_chars_computed"),
        n_tok.alias("n_tokens"),
        F.round((F.length(F.col(text_col)) - n_tok + 1) / n_tok, 4).alias(
            "avg_token_len"
        ),
        F.round(stopword_count(text_col) / n_tok, 4).alias("stopword_ratio"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scalar quality score in [0,1]: rewards mid-length docs with a
    natural stopword rate.  Deterministic arithmetic only."""
    qf = quality_features(df, text_col)
    length_term = F.least(F.col("n_tokens") / 64.0, F.lit(1.0))
    stop_term = F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0))
    return qf.withColumn(
        "quality_score", F.round(0.7 * length_term + 0.3 * stop_term, 4)
    )


def _hits(text_col: str, words: list[str]) -> Column:
    arr = F.array(*[F.lit(s) for s in words])
    return F.size(F.filter(tokens(text_col), lambda t: F.array_contains(arr, t)))


def lang_scores(text_col: str) -> list[tuple[str, Column]]:
    return [
        (lang, _hits(text_col, sw)) for lang, sw in sorted(LANG_STOPWORDS.items())
    ]


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-voting language ID: score = stopword hits per language,
    argmax with alphabetical tie-break, 'unknown' when all zero."""
    scored = df
    score_cols = []
    for lang, col in lang_scores(text_col):
        name = f"_score_{lang}"
        scored = scored.withColumn(name, col)
        score_cols.append((lang, name))
    best = F.greatest(*[F.col(n) for _, n in score_cols])
    pred = F.lit("unknown")
    # reversed: earlier (alphabetical) languages win ties
    for lang, name in reversed(score_cols):
        pred = F.when((F.col(name) == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return scored.withColumn("predicted_lang", pred).drop(
        *[n for _, n in score_cols]
    )


def normalize_text(text_col: str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))


def fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Document fingerprint: md5 of the normalized text — the exact-dup
    key.  (Winnowing-style rolling-hash fingerprints live in
    dedup.shingles + minhash.)"""
    return df.withColumn(out, F.md5(normalize_text(text_col)))


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    out: str = "fingerprints",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD'03 — the MOSS scheme): hash every char ``k``-gram, slide a
    ``window`` over the hash sequence, keep each window's MINIMUM hash,
    dedup.  Guarantees: any shared substring of length ≥ k+window-1
    between two documents yields at least one shared fingerprint, with
    ~2/(window+1) selection density — the local, position-robust
    alternative to whole-document hashing for substring-level dedup.

    Hashes are the same 32-bit md5-prefix integers as
    ``sampling.hash_bucket`` (engine-reproducible).

    Physical shape: the k-gram hash array is built scan-side (one md5
    per character position), then posexploded to (doc, pos, hash)
    rows and window-min'd per document.  The naive form — an
    array-local ``transform`` taking ``array_min(slice(hashes, j,
    w))`` per window — re-evaluates the WHOLE hash expression per
    window once CollapseProject inlines the alias into the lambda:
    O(n²) md5 calls per document (measured 90x slower; the round-1
    duplicated-expression trap again).  The explode shuffles only
    12-byte (doc, pos, hash) rows — never the text — and the window
    rides one doc-keyed exchange."""
    from pyspark.sql import Window

    t = F.col(text_col)
    n_grams = F.length(t) - (k - 1)
    gram_hash = lambda i: (  # noqa: E731
        F.conv(F.substring(F.md5(F.substring(t, i, k)), 1, 8), 16, 10)
        .cast("long")
    )
    # sequence(1, n) flips to descending when n < 1 — guard short docs
    hashes = F.when(
        n_grams >= 1, F.transform(F.sequence(F.lit(1), n_grams), gram_hash)
    ).otherwise(F.array().cast("array<bigint>"))
    # A round-12 variant rode the scan-side gram count through the
    # explode (`_ng` column) to drop the max-pos window below — one
    # WindowExec + one Sort fewer on paper, but interleaved A/B
    # measured it ×1.46 SLOWER (med 6.17 s vs 4.22 s, 5 reps): the
    # extra 8-byte column widens every exploded row through the
    # exchange + sort, while the second window is nearly free (it
    # shares the first window's partition sort).  Measured rejection
    # (guide §1) — the two-window shape stays.
    flat = df.select(
        F.col(id_col), F.posexplode(hashes).alias("pos", "h")
    )
    doc_w = Window.partitionBy(id_col)
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    mins = (
        flat.withColumn("_last", F.max("pos").over(doc_w))
        .withColumn("fp", F.min("h").over(win))
        .filter(F.col("pos") <= F.col("_last") - (window - 1))
    )
    return mins.groupBy(id_col).agg(
        F.array_sort(F.collect_set("fp")).alias(out)
    )


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a PRE-STAGED token-array column.
    Pass a staged column reference, not a split() expression: an
    expression captured in the transform lambda re-evaluates per
    shingle position (O(tokens²) per doc — the pmi_collocations fix
    measured 7.1 s → 1.1 s from exactly this staging)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Word n-gram shingles — the unit set for Jaccard/MinHash dedup.
    transform over a sequence of start positions; all JVM-side.
    NOTE: splits the text inline, so the lambda re-evaluates the
    split per position — fine for one-shot scalar use; hot paths
    should stage the token array and use :func:`shingles_of`."""
    return shingles_of(tokens(text_col), n)


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals per document:

    - ``distinct_token_ratio`` — |distinct tokens| / |tokens| (low ⇒
      the doc loops over few words);
    - ``top_bigram_frac`` — occurrences of the single most frequent
      word bigram / total bigrams (high ⇒ boilerplate/template spam).

    Cf. Rae et al., "Scaling Language Models: ... Gopher" (2021),
    Appendix A quality filters.  Physical plan: ZERO shuffle — both
    signals are per-document array expressions evaluated in the scan
    stage.  The bigram mode is the longest equal-run of the SORTED
    bigram array (max multiplicity == max sorted run), computed by a
    JVM higher-order fold instead of explode + two n-gram-volume
    hash aggregates; at corpus scale this is embarrassingly parallel
    and never materializes the n-gram stream.
    """
    toks = F.col("_toks")
    bigrams = F.col("_bigrams")
    sorted_bg = F.array_sort(bigrams)
    state0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_count = F.aggregate(sorted_bg, state0, step, lambda acc: acc["best"])
    return (
        df.select(F.col(id_col), tokens(text_col).alias("_toks"))
        .select(
            F.col(id_col), toks, shingles_of(toks, 2).alias("_bigrams")
        )
        .select(
            F.col(id_col),
            F.round(
                F.size(F.array_distinct(toks)) / F.size(toks), 4
            ).alias("distinct_token_ratio"),
            F.round(top_count / F.size(bigrams), 4).alias("top_bigram_frac"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word ``n``-gram with a held-out benchmark/eval set — the standard
    train-test-overlap scrub (cf. GPT-3 §C / PaLM app. — n-gram
    collision decontamination).  Returns (id, n_overlap) for
    contaminated docs only; anti-join the result against the corpus
    to materialize the clean training set.

    Physical plan: the benchmark n-gram set is tiny relative to the
    corpus (eval suites are ~10⁴ docs vs ~10⁹), so it is broadcast —
    the corpus side streams through a broadcast-hash semi-join inside
    its scan stage with NO corpus shuffle; the only exchange is the
    final per-doc count aggregate of surviving (rare) hits.  At
    100 TB, pre-hash shingles to 64-bit (xxhash64) to shrink both the
    broadcast table and the probe keys; exact strings are kept here
    so the DuckDB oracle can recompute them.
    """
    c_sh = corpus.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_of(F.col("_toks"), n))).alias("_sh"),
    )
    b_sh = (
        benchmark.select(tokens(text_col).alias("_toks"))
        .select(
            F.explode(
                F.array_distinct(shingles_of(F.col("_toks"), n))
            ).alias("_sh")
        )
        .distinct()
    )
    return (
        c_sh.join(F.broadcast(b_sh), "_sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
) -> DataFrame:
    """Context-length chunking: split each document into consecutive
    fixed-token-budget chunks — the training-prep step that turns a
    corpus into model-ingestible sequences.

    (doc_id, chunk_id, chunk_text, n_chunk_tokens); the final chunk
    carries the remainder.  A narrow explode over scan-side
    expressions: no shuffle, output rows ≈ total_tokens/chunk_tokens,
    so it scales with corpus token count, not document count."""
    toked = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    n_chunks = F.ceil(F.size("_toks") / F.lit(chunk_tokens)).cast("int")
    exploded = toked.select(
        F.col(id_col),
        F.col("_toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.slice(
        F.col("_toks"), F.col("chunk_id") * chunk_tokens + 1, chunk_tokens
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
    )


def redact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pattern: str = r"[0-9]+(\.[0-9]+)?",
    replacement: str = "<NUM>",
) -> DataFrame:
    """Pattern redaction (PII-scrub shape): replace every regex match
    with a placeholder token and count replacements per document.
    Pure scan-side regex — Spark's regexp_replace is global, and the
    match count doubles as the audit metric a scrub pipeline reports.
    Patterns must stay inside the RE2-compatible subset (no
    lookarounds) so external engines (and the DuckDB oracle) agree."""
    return df.select(
        F.col(id_col),
        F.regexp_replace(F.col(text_col), pattern, replacement).alias("redacted"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)).cast(
            "long"
        ).alias("n_redacted"),
    )


def term_counts(toks: Column) -> Column:
    """Per-document (term, cnt) pairs as a run-length pass over the
    SORTED token array — a scan-stage higher-order fold that never
    explodes the raw token stream.  At corpus scale this compresses
    each document to its distinct-term histogram before anything is
    shuffled, so downstream term statistics move |vocab-per-doc| rows
    instead of |tokens| rows."""
    entry_t = "array<struct<term:string,cnt:bigint>>"
    state0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.array().cast(entry_t).alias("acc"),
    )

    def flush(acc):
        return F.when(acc["prev"].isNull(), acc["acc"]).otherwise(
            F.concat(
                acc["acc"],
                F.array(
                    F.struct(
                        acc["prev"].alias("term"), acc["run"].alias("cnt")
                    )
                ),
            )
        )

    def step(acc, x):
        same = x == acc["prev"]
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1)
            .otherwise(F.lit(1).cast("bigint"))
            .alias("run"),
            F.when(acc["prev"].isNull() | same, acc["acc"])
            .otherwise(flush(acc))
            .alias("acc"),
        )

    return F.aggregate(F.array_sort(toks), state0, step, flush)


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k TF-IDF keywords per document (smoothed idf:
    ln((N+1)/(df+1)) + 1, sklearn's convention).  Scores are rounded
    to 4 decimals BEFORE ranking so the (score desc, term asc) order
    is reproducible across engines.

    Physical plan: documents collapse to per-doc term histograms in
    the scan stage (term_counts fold), so the only full-corpus
    shuffle is the doc-keyed top-k window; document frequency is a
    vocab-sized aggregate that re-enters via broadcast, and the
    corpus size is a 1-row broadcast — nothing resembling the raw
    token stream ever crosses the network.

    The per-doc histogram table is pinned (round 13): it feeds BOTH
    the document-frequency aggregate and the scoring branch, and
    without the pin each branch re-ran the O(tokens·log tokens)
    sort+fold over every document — the r12 plan dump showed two
    identical Generate(explode(aggregate(array_sort(split(...)))))
    scans (guide §5: reused AND expensive to recompute); A/B numbers
    in OPTIMIZATION_r13.md."""
    from pyspark.sql import Window

    from cassandra_data_migration_spark.caching import pin

    toks = tokens(text_col)
    tf = pin(
        df.select(
            F.col(id_col),
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.explode(term_counts(toks)).alias("_e"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            F.col("_e.term").alias("term"),
            F.col("_e.cnt").alias("tf"),
        )
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                / F.col("n_tokens")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
                4,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col(id_col), "term", "tfidf")
    )


def vocab_oov(
    df: DataFrame,
    vocab_size: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary coverage: build the top-`vocab_size` terms by
    global frequency (ties broken by term asc), then score each
    document's out-of-vocabulary token fraction — the classic
    tokenizer-coverage / gibberish signal.

    Physical plan: the wordcount shuffle moves per-doc histograms (not
    raw tokens, same fold as tfidf); the vocabulary re-enters as a
    1-row broadcast array, so the per-doc scoring pass is scan-stage
    `filter`/`array_contains` arithmetic with no join shuffle."""
    toks = tokens(text_col)
    counts = (
        df.select(F.explode(term_counts(toks)).alias("_e"))
        .groupBy(F.col("_e.term").alias("term"))
        .agg(F.sum("_e.cnt").alias("c"))
    )
    vocab = counts.orderBy(F.desc("c"), F.asc("term")).limit(vocab_size)
    vocab_arr = vocab.agg(F.array_sort(F.collect_list("term")).alias("_vocab"))
    n_tok = F.size("_t").cast("bigint")
    n_oov = F.size(
        F.filter(F.col("_t"), lambda t: ~F.array_contains(F.col("_vocab"), t))
    ).cast("bigint")
    return (
        df.select(F.col(id_col), toks.alias("_t"))
        .crossJoin(F.broadcast(vocab_arr))
        .select(
            F.col(id_col),
            n_tok.alias("n_tokens"),
            n_oov.alias("n_oov"),
            F.round(n_oov / n_tok, 4).alias("oov_frac"),
        )
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    id_col: str = "doc_id",
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic sequence packing: assign documents to fixed
    token-budget bins per group via an exclusive running token sum
    (bin = prev_cum DIV budget — integer arithmetic, so every engine
    agrees bit-for-bit).  The batch twin of training-data context
    packing; greedy first-fit is order-dependent, this is the
    order-stable variant.

    Physical plan: ONE hash exchange on the group key; the running
    sum and bin assignment ride it.  Per-group state is a single
    counter, so skewed groups cost sort time, not memory."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = df.select(
        F.col(id_col),
        F.col(group_col),
        token_count(text_col).cast("bigint").alias("n_tokens"),
    )
    return (
        base.withColumn(
            "_prev_cum", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .withColumn("bin_id", F.expr(f"_prev_cum DIV {int(budget)}"))
        .drop("_prev_cum")
    )


def chunk_dedup_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
) -> DataFrame:
    """Sub-document exact dedup signals (cf. Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" — their
    ExactSubstr pass): fraction of each document's fixed-size token
    chunks that also occur verbatim in OTHER documents.  Boilerplate,
    licence blocks, and templated passages score high even when the
    whole document is unique, which is exactly what document-level
    dedup misses.

    (id, n_chunks, n_dup_chunks, dup_frac); route high-dup_frac docs
    to chunk-level scrubbing rather than whole-doc dropping.

    Physical plan: chunk explode is narrow (scan-side); chunk texts
    reduce to md5 keys so the frequency shuffle carries 16-byte
    hashes, not chunk text; the doc-count aggregate map-side combines;
    the flag joins back on the same hash key (co-partitioned with the
    aggregate — AQE reuses the exchange) and the final per-doc rollup
    is one more bounded shuffle.  At 100 TB this is the same
    three-exchange shape as tfidf, all on compact keys."""
    chunks = chunk_documents(df, id_col, text_col, chunk_tokens).select(
        F.col(id_col), F.md5("chunk_text").alias("_h")
    )
    freq = chunks.groupBy("_h").agg(
        F.countDistinct(id_col).alias("_docs")
    )
    return (
        chunks.join(freq, "_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("_docs") >= 2, 1).otherwise(0)).alias(
                "n_dup_chunks"
            ),
        )
        .select(
            F.col(id_col),
            "n_chunks",
            "n_dup_chunks",
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 4).alias(
                "dup_frac"
            ),
        )
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 top-k retrieval: score every document against a bag of
    query terms with Okapi BM25 (idf = ln((N-df+0.5)/(df+0.5)+1),
    Lucene's convention) and return the k best.

    Per-term scores are fixed-point e6 BIGINTs so the document score
    is an order-independent integer sum — reproducible across engines
    and partitionings.

    Physical plan: documents fold to per-doc term histograms in the
    scan stage (term_counts), and rows for non-query terms are
    dropped *before* anything shuffles, so the corpus-wide traffic is
    |docs|x|query| rows at most.  df and the corpus stats are
    query-sized aggregates that re-enter via broadcast; the final
    top-k is a TakeOrdered over the per-doc sums (no global sort).
    At 100 TB: scan-heavy, shuffle-light — the only wide exchange is
    the doc-keyed score sum on pre-filtered rows.
    """
    toks = tokens(text_col)
    tf = (
        df.select(
            F.col(id_col),
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.explode(term_counts(toks)).alias("_e"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            F.col("_e.term").alias("term"),
            F.col("_e.cnt").alias("tf"),
        )
        .where(F.col("term").isin(list(query_terms)))
    )
    stats = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(toks).cast("bigint")).alias("tot_len"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    avgdl = F.col("tot_len") * 1.0 / F.col("n_docs")
    term_score_e6 = F.round(
        F.lit(1000000.0)
        * idf
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * (F.col("n_tokens") / avgdl))
        ),
        0,
    ).cast("bigint")
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), term_score_e6.alias("_s"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_query_terms"),
            F.sum("_s").alias("score_e6"),
        )
        .select(
            F.col(id_col),
            "n_query_terms",
            "score_e6",
            F.round(F.col("score_e6") * 1.0 / 1000000.0, 4).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score_e6"), F.asc(id_col)).limit(k)


def unigram_logprob(
    df: DataFrame,
    vocab_size: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unigram language-model document scoring — the CCNet-style
    perplexity-proxy quality filter.  A top-`vocab_size` unigram LM
    with add-one smoothing is fit on the corpus itself; every
    document gets its total and per-token average log-probability.
    Gibberish / OOV-heavy documents score low and are filtered.

    p(t) = (count(t)+1)/(T+V+1) for in-vocab t, 1/(T+V+1) for OOV
    (the same unified add-one form).  Per-token log-probs are
    e6-rounded BIGINTs so document sums are exact integers,
    independent of token order and partitioning.

    Physical plan: the wordcount shuffle moves per-doc histograms
    (term_counts fold); the fitted LM re-enters as a 1-row broadcast
    map, so scoring is a scan-stage `aggregate` fold over the token
    array with no join — at 100 TB the second pass is embarrassingly
    parallel.
    """
    toks = tokens(text_col)
    counts = (
        df.select(F.explode(term_counts(toks)).alias("_e"))
        .groupBy(F.col("_e.term").alias("term"))
        .agg(F.sum("_e.cnt").alias("c"))
    )
    tot = counts.agg(F.sum("c").alias("_tot"))
    vocab = counts.orderBy(F.desc("c"), F.asc("term")).limit(vocab_size)
    lm = vocab.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("term"), F.col("c")))
        ).alias("_lm")
    )
    denom = F.col("_tot") + F.size("_lm") + F.lit(1.0)

    def lp_e6(t):
        p = (F.coalesce(F.col("_lm")[t], F.lit(0)) + F.lit(1.0)) / denom
        return F.round(F.lit(1000000.0) * F.log(p), 0).cast("bigint")

    return (
        df.select(F.col(id_col), toks.alias("_t"))
        .crossJoin(F.broadcast(lm))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col(id_col),
            F.size("_t").cast("bigint").alias("n_tokens"),
            F.aggregate(
                F.col("_t"), F.lit(0).cast("bigint"), lambda acc, t: acc + lp_e6(t)
            ).alias("logprob_e6"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            "logprob_e6",
            F.round(
                F.col("logprob_e6") * 1.0 / F.col("n_tokens") / 1000000.0, 4
            ).alias("avg_logprob"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    vocab_size: int = 200,
    context_size: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bigram language-model document scoring — one rung up the CCNet
    quality ladder from :func:`unigram_logprob`: conditional
    probabilities p(w₂|w₁) punish improbable token ORDER, not just
    rare tokens, so shuffled/boilerplate text scores low even when its
    vocabulary looks normal.

    p(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁)+V+1) with a top-``vocab_size``
    bigram table and top-``context_size`` unigram context table, both
    fit on the corpus itself (add-one smoothing; out-of-table counts
    are 0).  Per-bigram log-probs are e6-rounded BIGINTs so document
    sums are exact integers.  Documents with fewer than 2 tokens are
    excluded (they have no bigrams).

    Physical plan: two corpus passes fold per-doc histograms before
    any shuffle; the fitted tables re-enter as TWO 1-row broadcast
    maps, so scoring is a scan-stage fold — same embarrassingly
    parallel second pass as the unigram scorer.
    """
    toks = tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("_t")).filter(F.size("_t") >= 2)
    n1 = F.size("_t") - 1
    pairs = F.zip_with(
        F.slice(F.col("_t"), 1, n1),
        F.slice(F.col("_t"), 2, n1),
        lambda a, b: F.struct(
            a.alias("ctx"), F.concat_ws(" ", a, b).alias("bg")
        ),
    )

    flat = base.select(F.explode(pairs).alias("_p"))
    bcnt = flat.groupBy(F.col("_p.bg").alias("bg")).agg(
        F.count(F.lit(1)).alias("c")
    )
    bvocab = bcnt.orderBy(F.desc("c"), F.asc("bg")).limit(vocab_size)
    blm = bvocab.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bg"), F.col("c")))
        ).alias("_bg")
    )
    ucnt = base.select(F.explode("_t").alias("t")).groupBy("t").agg(
        F.count(F.lit(1)).alias("c")
    )
    uvocab = ucnt.orderBy(F.desc("c"), F.asc("t")).limit(context_size)
    ulm = uvocab.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("t"), F.col("c")))
        ).alias("_ug")
    )
    denom_v = F.size("_bg") + F.lit(1.0)

    def lp_e6(p):
        num = F.coalesce(F.col("_bg")[p["bg"]], F.lit(0)) + F.lit(1.0)
        den = F.coalesce(F.col("_ug")[p["ctx"]], F.lit(0)) + denom_v
        return F.round(F.lit(1000000.0) * F.log(num / den), 0).cast("bigint")

    return (
        base.select(F.col(id_col), pairs.alias("_ps"))
        .crossJoin(F.broadcast(blm))
        .crossJoin(F.broadcast(ulm))
        .select(
            F.col(id_col),
            F.size("_ps").cast("bigint").alias("n_bigrams"),
            F.aggregate(
                F.col("_ps"),
                F.lit(0).cast("bigint"),
                lambda acc, p: acc + lp_e6(p),
            ).alias("logprob_e6"),
        )
        .select(
            F.col(id_col),
            "n_bigrams",
            "logprob_e6",
            F.round(
                F.col("logprob_e6") * 1.0 / F.col("n_bigrams") / 1000000.0, 4
            ).alias("avg_logprob"),
        )
    )


def zipf_head_coverage(
    df: DataFrame, top_k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Corpus token-frequency profile: total token occurrences,
    distinct terms, and the fraction of all occurrences covered by the
    ``top_k`` most frequent terms — the Zipf head-coverage number that
    tells you whether a corpus is natural text (head ≈ 40-60% at
    k=100) or template spam (head → 1.0).  One row out.

    Physical plan: per-doc term histograms fold scan-side
    (``term_counts``), so the one shuffle moves |vocab-per-doc| rows,
    never the token stream; the head is a TakeOrdered over the term
    table.  Integer counts throughout — engine-exact."""
    toks = tokens(text_col)
    cnt = (
        df.select(F.explode(term_counts(toks)).alias("_e"))
        .groupBy(F.col("_e.term").alias("term"))
        .agg(F.sum("_e.cnt").alias("c"))
    )
    totals = cnt.agg(
        F.sum("c").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("distinct_terms"),
    )
    head = (
        cnt.orderBy(F.desc("c"), F.asc("term"))
        .limit(top_k)
        .agg(F.sum("c").cast("long").alias("_head"))
    )
    return totals.crossJoin(head).select(
        "total_tokens",
        "distinct_terms",
        F.round(F.col("_head") * 1.0 / F.col("total_tokens"), 4).alias(
            "head_coverage"
        ),
    )


def dup_ngram_fraction(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style duplicate n-gram fraction: the share of a
    document's word ``n``-gram occurrences that are repeats of an
    earlier occurrence — near 0 for natural prose, high for looping /
    templated spam.  Complements ``repetition_signals`` (which tracks
    the single top bigram) by catching documents that cycle through
    MANY repeated phrases.

    Pure scan-side array arithmetic (shingles → distinct count), zero
    shuffles, engine-exact."""
    grams = F.col("_grams")
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return (
        df.select(F.col(id_col), tokens(text_col).alias("_toks"))
        .select(F.col(id_col), shingles_of(F.col("_toks"), n).alias("_grams"))
        .select(
            F.col(id_col),
            total.cast("long").alias("n_ngrams"),
            F.round((total - distinct) / total, 4).alias("dup_ngram_frac"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    vocab_size: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing: score every
    document with the corpus unigram LM (:func:`unigram_logprob`),
    then split each language into equal-frequency head / middle /
    tail thirds by per-token log-probability — the classic quality
    tiering used to over-sample "head" web text.

    Ordering key is logprob_e6 / n_tokens (one IEEE division of two
    exact integers — identical in every engine) with ``id_col`` as
    tiebreak, so tile assignment is deterministic.

    Single-window-per-language NTILE: exact equal thirds need the
    per-language global rank, so this shape holds to ~10⁸ docs per
    language; at 100 TB switch to approx-quantile cut points
    (`sketch_profile`) + a scan-side `when` chain, trading exact
    equal counts for full parallelism (the tier SEMANTICS are the
    same; only the boundary docs move).
    """
    from pyspark.sql import Window

    scored = unigram_logprob(df, vocab_size=vocab_size, id_col=id_col,
                             text_col=text_col)
    joined = scored.join(df.select(id_col, group_col), id_col)
    avg_key = F.col("logprob_e6") * 1.0 / F.col("n_tokens")
    w = Window.partitionBy(group_col).orderBy(
        avg_key.desc(), F.col(id_col).asc()
    )
    tile = F.ntile(3).over(w)
    return joined.select(
        F.col(id_col),
        F.col(group_col),
        F.round(avg_key / 1000000.0, 4).alias("avg_logprob"),
        F.when(tile == 1, F.lit("head"))
        .when(tile == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def strip_repeated_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 8,
    max_docs: int = 1,
) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate scrub: drop every fixed-size
    token chunk whose text recurs in more than ``max_docs`` distinct
    documents (navigation bars, license footers, cookie banners — the
    text that repeats corpus-wide), then reassemble each document from
    its surviving chunks in order.

    Output: (id, cleaned_text, n_chunks, n_dropped); a fully
    boilerplate document survives with cleaned_text = ''.

    Physical plan: chunking is a narrow explode
    (:func:`chunk_documents`); the recurrence count groups on the
    16-byte md5 of the chunk, so the frequency pass shuffles hashes,
    never chunk text; the frequent set (boilerplate is by definition
    few DISTINCT strings) re-enters as a broadcast hash join; the one
    text-bearing shuffle is the per-document reassembly groupBy —
    irreducible for a materialization that must re-order chunks.
    """
    chunks = chunk_documents(
        df, id_col=id_col, text_col=text_col, chunk_tokens=chunk_tokens
    ).withColumn("_h", F.md5("chunk_text"))
    frequent = (
        chunks.groupBy("_h")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") > max_docs)
        .select("_h")
        .withColumn("_drop", F.lit(True))
    )
    marked = chunks.join(F.broadcast(frequent), "_h", "left").withColumn(
        "_dropped", F.coalesce(F.col("_drop"), F.lit(False))
    )
    kept_struct = F.when(
        ~F.col("_dropped"), F.struct(F.col("chunk_id"), F.col("chunk_text"))
    )
    return marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("cleaned_text"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("_dropped").cast("long")).alias("n_dropped"),
    )


def hashed_linear_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "quality-clf",
) -> DataFrame:
    """fastText-style linear text classifier over hashed token
    features: each token's weight is a deterministic draw in
    [-1, 1] (e3 fixed point) derived from md5(seed, token) — the
    engine-portable stand-in for a trained embedding-bag, exactly the
    execution shape of a real fastText/CCNet quality classifier (hash
    token → look up weight → mean → sigmoid).  Swapping the md5 draw
    for a broadcast weight table keeps the same plan.

    Everything folds inside the scan: ``aggregate(transform(tokens))``
    sums per-document weights with zero explode and zero shuffle, so
    at 100 TB this is a pure map pass.  The weight sum is an exact
    BIGINT; only the final sigmoid is floating point (rounded to 4).
    """
    from cassandra_data_migration_spark.functions.hashing import md5_draw

    toks = tokens(text_col)
    w_e3 = lambda t: (  # noqa: E731
        md5_draw(seed, t) % 2001 - 1000
    )
    w_sum = F.aggregate(
        F.transform(toks, w_e3), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    n = F.size(toks).cast("bigint")
    mean_w = F.col("w_sum_e3") / (F.lit(1000.0) * F.col("n_tokens"))
    return (
        df.select(
            F.col(id_col),
            n.alias("n_tokens"),
            w_sum.alias("w_sum_e3"),
        )
        .withColumn(
            "quality_prob",
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean_w)), 4),
        )
        .withColumn("accept", (F.col("quality_prob") >= 0.5).cast("boolean"))
    )


def heavy_hitters(
    df: DataFrame,
    min_count: int,
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """All tokens with corpus frequency >= ``min_count``, via the
    two-pass bucket-sketch plan instead of a full token groupBy:

    1. count hashed token *buckets* (xxhash64 % n_buckets) — the
       shuffle carries at most ``n_buckets`` map-combined partials,
       not the token vocabulary;
    2. exact-count only tokens whose bucket total reaches
       ``min_count`` (a bucket count upper-bounds every member
       token's count — no false negatives, same guarantee as a
       count-min row), with the surviving bucket ids broadcast back
       as a scan-side semi-filter.

    At 100 TB the vocabulary-wide shuffle this avoids is the
    dominant cost of naive heavy-hitter queries; the residual exact
    pass shuffles only tokens that share a bucket with a genuinely
    frequent token (~ vocab / n_buckets of the corpus).
    """
    terms = df.select(F.explode(tokens(text_col)).alias("term"))
    bucket = F.pmod(F.xxhash64("term"), F.lit(n_buckets))
    hot = (
        terms.groupBy(bucket.alias("_b"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_b")
    )
    return (
        terms.withColumn("_b", bucket)
        .join(F.broadcast(hot), "_b", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def inverted_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Capped inverted index: per term, the document frequency and the
    top-``k`` posting doc ids ranked by (tf desc, doc_id) — the
    retrieval-serving structure BM25/TF-IDF read from, materialized
    as a table.

    Determinism: postings are collected as (rank, doc) structs and
    ``array_sort``-ed, so the list order is a pure function of the
    data (collect_list alone is arrival-ordered — never comparable).
    The posting list is emitted as a space-joined STRING, not an
    array: every contract query's output columns must be scalar so
    downstream row-canonicalizers (pandas sort/hash harnesses) can
    order them — array cells are unhashable there.

    Scale: explode → per-(term,doc) count (map-side combine) → rank
    window per term → one grouped collect of ≤k structs.  The cap
    bounds every term's posting payload, so the Zipf head ("the")
    costs k entries, not millions.
    """
    from pyspark.sql import Window as W

    tf = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    rnk = F.row_number().over(
        W.partitionBy("term").orderBy(F.col("tf").desc(), F.col(id_col))
    )
    ranked = tf.withColumn("rnk", rnk)
    return (
        ranked.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("doc_freq"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rnk") <= k,
                                F.struct(
                                    F.col("rnk"), F.col(id_col).alias("d")
                                ),
                            )
                        )
                    ),
                    lambda s: s["d"].cast("string"),
                ),
                " ",
            ).alias("postings"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Collocation extraction by pointwise mutual information:
    PMI(a,b) = log( p(a,b) / (p(a)·p(b)) ) over adjacent token pairs —
    the corpus-statistics pass that finds multiword expressions
    ("new york") worth fusing before tokenizer training.

    Engine-exact: counts are integers, the PMI is computed from them
    in one deterministic float expression and e6-rounded; ranking ties
    break on the pair itself.

    Plan: one exploded-bigram groupBy (map-combined) + one unigram
    groupBy; unigram totals broadcast back onto the bigram table via
    two joins on the token (small side auto-broadcast); top-k is
    TakeOrdered.  The corpus scans once per table; nothing shuffles
    raw text.  The token array is STAGED as a column before the
    bigram zip (NOTES invariant: a non-trivial expression captured in
    a HOF lambda re-evaluates per element — here that made the
    normalize+split run once per bigram, O(tokens²) chars per doc;
    staging + arrays_zip makes it once per row — measured 7.1 s →
    1.1 s warm at sf0.1)."""
    toked = df.select(F.split(normalize_text(text_col), " ").alias("_toks"))
    n_tok = F.size("_toks")
    # adjacent pairs via two shifted slices zipped — no lambda capture
    bi = (
        toked.filter(n_tok >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("_toks", F.lit(1), n_tok - 1).alias("a"),
                    F.slice("_toks", F.lit(2), n_tok - 1).alias("b"),
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    uni = (
        toked.select(F.explode("_toks").alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n_total = uni.agg(F.sum("n").alias("_nt"))
    ua = uni.select(F.col("t").alias("a"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("t").alias("b"), F.col("n").alias("n_b"))
    return (
        bi.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(n_total))
        .select(
            "a", "b", "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab").cast("double") * F.col("_nt").cast("double"))
                    / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
        .limit(top_k)
    )


def readability_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Flesch-style reading-ease estimate from pure regex counts:
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    syllables approximated as vowel-group runs — the classic corpus-QC
    readability feature, entirely scan-side (regexp_count is
    codegen'd; no UDF, no shuffle).

    Counts are integers, so the score derives identically in any
    engine; sentence count floors at 1 (fragments still score)."""
    t = F.lower(F.col(text_col))
    words = F.greatest(F.regexp_count(t, F.lit(r"[a-z0-9']+")), F.lit(1))
    sentences = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1))
    syllables = F.greatest(F.regexp_count(t, F.lit(r"[aeiouy]+")), F.lit(1))
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words / sentences)
        - F.lit(84.6) * (syllables / words)
    )
    return df.select(
        F.col(id_col),
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
        F.round(score, 4).alias("flesch_score"),
    )


def code_prose_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Code-vs-prose routing signals: counts of code-ish punctuation
    (braces/brackets/semicolons), operators, and camelCase/snake_case
    identifiers per document, plus a simple is_codelike flag — the
    corpus-routing feature that decides which quality model scores a
    document.  All codegen'd regexp_count, no shuffle."""
    t = F.col(text_col)
    braces = F.regexp_count(t, F.lit(r"[{}\[\]();]"))
    operators = F.regexp_count(t, F.lit(r"(==|!=|->|=>|&&|\|\||::)"))
    idents = F.regexp_count(
        t, F.lit(r"\b([a-z]+[A-Z][A-Za-z]*|[a-z]+_[a-z_]+)\b")
    )
    words = F.greatest(F.regexp_count(t, F.lit(r"\S+")), F.lit(1))
    density = F.round((braces + operators + idents) / words, 6)
    return df.select(
        F.col(id_col),
        braces.alias("n_braces"),
        operators.alias("n_operators"),
        idents.alias("n_identifiers"),
        density.alias("code_density"),
        (density > 0.05).alias("is_codelike"),
    )


# --- HTML → text extraction (WARC pipeline stage) -------------------------

# Shared transform spec: applied in order by BOTH the Spark column
# function and the DuckDB oracle builder, so the two engines run the
# literally identical regex chain.  Patterns stay in the RE2 ∩ Java
# regex subset (embedded (?is) flags, non-greedy, no backrefs).
HTML_STRIP_STEPS: list[tuple[str, str]] = [
    (r"(?is)<head[^>]*>.*?</head>", " "),       # title/meta/head styles
    (r"(?is)<script[^>]*>.*?</script>", " "),   # executable blocks
    (r"(?is)<style[^>]*>.*?</style>", " "),     # style blocks
    (r"(?s)<!--.*?-->", " "),                    # comments
    (r"(?is)<br[^>]*>", "\n"),                  # line breaks → newline
    (r"<[^>]+>", " "),                           # every remaining tag
]

# entity decode AFTER tag stripping; '&amp;' last so '&amp;lt;' does
# not double-decode
HTML_ENTITY_STEPS: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def html_to_text(col: Column | str) -> Column:
    """Strip an HTML document to whitespace-normalized visible text —
    the boilerplate-free extraction stage between WARC ingest and the
    documents table.  Pure codegen'd regexp_replace chain: scan-side,
    shuffle-free, no Python in the loop; the identical chain is
    expressible in any RE2-compatible SQL engine (see
    ``html_strip_sql``)."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in HTML_STRIP_STEPS:
        c = F.regexp_replace(c, pat, repl)
    for ent, repl in HTML_ENTITY_STEPS:
        c = F.replace(c, F.lit(ent), F.lit(repl))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_strip_sql(expr: str) -> str:
    """The DuckDB/ANSI twin of :func:`html_to_text` over a SQL
    expression string — generated from the same step tables so the
    two engines cannot drift."""
    out = expr
    for pat, repl in HTML_STRIP_STEPS:
        p = pat.replace("'", "''")
        r = repl.replace("\n", "' || chr(10) || '")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    for ent, repl in HTML_ENTITY_STEPS:
        r = repl.replace("'", "''")
        out = f"replace({out}, '{ent}', '{r}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


def span_corrupt(
    df: DataFrame,
    density: float = 0.15,
    id_col: str = "doc_id",
    text_col: str = "text",
    sentinel_prefix: str = "<extra_id_",
) -> DataFrame:
    """T5-style span corruption (Raffel et al., 2020): mask ~``density``
    of each document's tokens with independent seeded draws, collapse
    each masked RUN to one numbered sentinel in the input, and emit the
    masked runs (sentinel-prefixed) as the target sequence — the
    denoising-objective data prep, deterministic so both engines (and
    any re-run) produce byte-identical pairs.

    The mask draw is the repo's standard cross-engine coin: the first
    8 md5 hex digits of ``doc_id:pos`` as a 32-bit integer, masked iff
    below ``floor(density * 2^32)``.  Independent per-position draws
    give geometric-ish span lengths (expected ~1/(1-density)) without
    the sequential sampler of the original, which a scan-parallel
    engine cannot reproduce deterministically.

    Plan shape: one scan explodes to (doc, pos, token); two window
    passes per doc key (lag + running sums — one Exchange, doc-bounded
    partitions); groupBy doc re-assembles both sequences via
    collect_list(struct(pos, piece)) + array_sort, so assembly order
    never depends on partitioning.  Divergence from the paper: no
    trailing end-sentinel on targets, spans are not length-capped.
    """
    from pyspark.sql import Window as W

    thr = int(density * 2**32)
    staged = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    pos_tok = staged.select(
        F.col(id_col), F.posexplode("_toks").alias("_p0", "tok")
    ).select(F.col(id_col), (F.col("_p0") + 1).alias("pos"), "tok")
    draw = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col(id_col).cast("string"),
                    F.lit(":"),
                    F.col("pos").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    marked = pos_tok.withColumn("masked", draw < F.lit(thr))
    w = W.partitionBy(id_col).orderBy("pos")
    run_start = F.when(
        F.col("masked") & ~F.coalesce(F.lag("masked").over(w), F.lit(False)),
        F.lit(1),
    ).otherwise(F.lit(0))
    runs = marked.withColumn("_rs", run_start).withColumn(
        "_rid", F.sum("_rs").over(w)
    )
    sentinel = F.concat(
        F.lit(sentinel_prefix), (F.col("_rid") - 1).cast("string"), F.lit(">")
    )
    cpiece = (
        F.when(~F.col("masked"), F.col("tok"))
        .when(F.col("_rs") == 1, sentinel)
    )
    tpiece = (
        F.when(
            F.col("masked") & (F.col("_rs") == 1),
            F.concat(sentinel, F.lit(" "), F.col("tok")),
        )
        .when(F.col("masked"), F.col("tok"))
    )
    pieces = runs.select(
        F.col(id_col),
        "pos",
        "masked",
        F.col("_rs"),
        cpiece.alias("_cp"),
        tpiece.alias("_tp"),
    )

    def _assemble(col: str):
        collected = F.collect_list(
            F.when(F.col(col).isNotNull(), F.struct(F.col("pos"), F.col(col)))
        )
        return F.array_join(
            F.transform(F.array_sort(collected), lambda s: s[col]), " "
        )

    return pieces.groupBy(id_col).agg(
        _assemble("_cp").alias("corrupted_text"),
        _assemble("_tp").alias("target_text"),
        F.sum(F.col("masked").cast("long")).cast("long").alias("n_masked"),
        F.sum("_rs").cast("long").alias("n_spans"),
    )


def quality_score_e6(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Integer-exact twin of :func:`quality_score` for engine-parity
    contexts (ranking, pairing): micro-unit arithmetic on integer
    counts only, so every engine computes the identical value.

    score_e6x10 = 7 * length_e6 + 3 * stop_e6, where
    length_e6 = min(n_tokens * 15625, 1e6)      (1e6/64 = 15625 exact)
    stop_e6   = min(floor(5e6 * n_stop / n_tokens), 1e6)

    The floor of an IEEE quotient of two <2^53 integers is exact, so
    no rounding-boundary drift is possible (the double-rounding class
    that bit the float quality_score in cross-engine compares).
    """
    n_tok = token_count(text_col)
    n_stop = stopword_count(text_col)
    length_e6 = F.least(n_tok.cast("long") * 15625, F.lit(1_000_000).cast("long"))
    stop_e6 = F.least(
        F.floor(F.lit(5_000_000) * n_stop.cast("long") / n_tok.cast("long")),
        F.lit(1_000_000).cast("long"),
    )
    return df.withColumn(
        "quality_e6x10", (7 * length_e6 + 3 * stop_e6).cast("long")
    )


def line_dedup_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    min_chars: int = 10,
    sep: str = "\n",
) -> DataFrame:
    """Cross-document line-level dedup with document reassembly — the
    CCNet / RefinedWeb cleaning pass (Wenzek et al. 2019 dedup lines
    by hash across shards; Penedo et al. 2023 §line-wise filtering):
    a line whose md5 occurs in >= ``min_docs`` DISTINCT documents is
    boilerplate (nav bars, cookie banners, licence blocks) and is
    removed from EVERY document; what survives is re-joined in
    original line order.

    Lines shorter than ``min_chars`` are exempt — empty/near-empty
    lines are legitimately common and removing them would shred
    formatting (same carve-out CCNet applies).

    Output: one row per input document —
    ``(id, clean_text, n_kept, n_removed)``; a fully-boilerplate
    document stays present with ``clean_text = ''``.

    Scale shape (100 TB): the frequency pass ships (md5, doc_id)
    pairs — 40 bytes/line, never the text — through one distinct +
    one partial-aggregated groupBy; the removal step anti-joins the
    exploded lines against the common-hash set on the 32-byte md5 key
    (typically tiny: the corpus' boilerplate catalogue — AQE
    broadcasts it when it fits).  Line text crosses the wire only in
    the final reassembly shuffle, which is keyed by ``id`` and
    carries exactly the surviving corpus once.  Matching on md5 makes
    the semantics engine-portable (DuckDB ``md5``) and is the same
    collision tolerance CCNet accepts.
    """
    import re as _re

    # F.split takes a REGEX; escape so `sep` is always a literal
    # separator (a caller passing "|" or "." must not fan out per char)
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep), -1)
        ).alias("pos", "line"),
    ).withColumn("h", F.md5("line"))
    common = (
        lines.filter(F.length("line") >= min_chars)
        .select("h", id_col)
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("h")
    )
    kept = lines.join(common, "h", "left_anti")
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n_lines"))
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        totals.join(reassembled, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("_n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )
