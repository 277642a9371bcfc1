"""Streaming benchmark decontamination — the Structured Streaming
twin of ``operators.text.decontaminate`` (same n-gram collision rule,
verified equivalent by test).

The batch scrub assumes the corpus is at rest; a growing corpus
(continuous crawl / ingestion) needs every ARRIVING document checked
against the held-out benchmark before it reaches the training store.
The benchmark n-gram set is static and tiny relative to the stream,
so it joins in as a broadcast stream-static semi-join — evaluated
inside each micro-batch's scan with no stream-side shuffle and NO
state store: contamination of a document depends only on that
document, so nothing must be remembered across batches (contrast
``stateful_lww_stream``, which genuinely needs state).

Scale notes: at production scale the broadcast table is the
xxhash64'd n-gram set (8 bytes/shingle) and the stream side probes
hashed keys; exact strings are kept here to stay aligned with the
batch operator and its DuckDB oracle.  Routing (clean → training
sink, contaminated → quarantine with overlap counts) composes with
``dual_write.make_dual_writer`` for the two-sink form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassandra_data_migration_spark.operators.text import (
    shingles_of,
    tokens,
    word_shingles,
)


def contamination_stream(
    stream: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document contamination verdicts over a streaming corpus:
    (id, n_overlap) with n_overlap = number of distinct word n-grams
    shared with the static benchmark.  Append-mode safe: the count is
    folded per document inside its own row (no streaming aggregate),
    so no watermark is required.

    The batch operator explodes shingles and count-aggregates after
    the semi-join; per-row ``array_intersect`` against the broadcast
    benchmark array computes the identical count without the explode
    or the aggregate — the stream stays a narrow map."""
    b_arr = benchmark.select(
        F.explode(F.array_distinct(word_shingles(text_col, n))).alias("_sh")
    ).agg(F.array_sort(F.collect_set("_sh")).alias("_bench"))
    # stream side: stage the token array so the shingle lambda reads a
    # column, not a re-evaluated split (O(tokens^2) otherwise)
    overlap = F.size(
        F.array_intersect(
            F.array_distinct(shingles_of(F.col("_toks"), n)), F.col("_bench")
        )
    )
    return (
        stream.withColumn("_toks", tokens(text_col))
        .crossJoin(F.broadcast(b_arr))
        .withColumn("n_overlap", overlap.cast("long"))
        .filter(F.col("n_overlap") > 0)
        .select(F.col(id_col), "n_overlap")
    )


def clean_stream(
    stream: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """The complementary route: documents with zero benchmark overlap,
    full rows, ready for the training-store sink."""
    b_arr = benchmark.select(
        F.explode(F.array_distinct(word_shingles(text_col, n))).alias("_sh")
    ).agg(F.array_sort(F.collect_set("_sh")).alias("_bench"))
    overlap = F.size(
        F.array_intersect(
            F.array_distinct(shingles_of(F.col("_toks"), n)), F.col("_bench")
        )
    )
    return (
        stream.withColumn("_toks", tokens(text_col))
        .crossJoin(F.broadcast(b_arr))
        .filter(overlap == 0)
        .drop("_bench", "_toks")
    )
