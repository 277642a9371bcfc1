"""Merkle-tree token-range comparison — Cassandra's anti-entropy
repair primitive (nodetool repair) as a set-oriented Spark plan.

The reference's validation story diffs clusters row-by-row (CDM
DiffData, reference docs/04-cdm-approach.md:353-377) or by sampled
point lookups (reference lab/scripts/validate_migration.py:41-72).
Cassandra itself narrows repair work differently: each replica builds
a Merkle tree of per-token-range digests and only ranges whose
digests differ stream any data.  This module is that idea on Spark:

- Every row gets a portable 60-bit md5 token (functions/hashing.
  md5_draw) and a 60-bit content digest over a canonical column
  encoding; the token's high bits place the row in one of
  ``fanout**depth`` leaf ranges.
- A leaf's digest is the SUM of its row digests mod 2**60 —
  order-independent (so the map-side partial aggregation can combine
  in any order) and incrementally updatable.  The sum runs in
  DECIMAL(38,0) so it is exact in both Spark and the DuckDB oracle,
  then reduces mod 2**60 back into a BIGINT.
- Comparing two tables is a full-outer join of the two leaf-digest
  tables: O(fanout**depth) rows, not O(rows).  Only ranges flagged
  ``mismatch``/``missing_range`` need row-level reconciliation
  (operators/joins.missing_rows / mismatched_rows scoped by the same
  token predicate — P4's partition.min/max filter).

100 TB shape: each side is one scan with map-side partial aggregation
into ``fanout**depth`` keys (thousands, not billions) — the shuffle
carries leaf digests only, the join is a broadcast, and no row data
ever crosses the wire.  This is the cheapest possible first pass of
a cluster-to-cluster diff; drill-down re-scans only differing ranges.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cassandra_data_migration_spark.functions.hashing import md5_draw

TOKEN_BITS = 60
TOKEN_SPACE = 1 << TOKEN_BITS


def _row_digest(cols: list[Column]) -> Column:
    """60-bit content digest of the canonical row form (NULL-sentinel
    encoding + unit-separator join — ``null_safe_canon``; raw
    concat_ws skips NULLs, so two rows differing only in WHICH column
    is NULL would digest equal and the leaf would never flag).  Caller
    passes engine-portable columns (ints/strings; scale doubles to
    ints first — see ``portable_digest_cols``)."""
    return F.conv(
        F.substring(null_safe_canon(cols), 1, 15), 16, 10
    ).cast("long")


def portable_digest_cols(df: DataFrame, cols: list[str]) -> list[Column]:
    """Cast columns to engine-portable string forms: ints/strings cast
    directly; DOUBLE goes through FLOOR(x*100) (cent precision) because
    double→string rendering differs across engines and double→bigint
    casts round in DuckDB but truncate in Spark — FLOOR agrees."""
    out: list[Column] = []
    for c in cols:
        dt = dict(df.dtypes)[c]
        if dt == "double":
            out.append(
                F.floor(F.col(c) * 100).cast("long").cast("string")
            )
        elif dt.startswith("timestamp"):
            # explicit format on both engines — bare casts disagree on
            # fractional-second rendering
            out.append(F.date_format(F.col(c), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        else:
            out.append(F.col(c).cast("string"))
    return out


# canonical row-equality encoding: unit-separator join (never appears
# in fixture/typical data, unlike '|') of NULL-sentineled columns, then
# md5 — two rows differing only in WHICH nullable column is NULL, or
# containing the old '|' separator in a value, can no longer collide
CANON_SEP = "\x1f"
CANON_NULL = "␀"  # ␀ SYMBOL FOR NULL


def null_safe_canon(cols: list[Column]) -> Column:
    """md5 of the NULL-sentinel-encoded row form — the row-equality
    canon for reconcile/repair.  Caller passes engine-portable string
    columns (``portable_digest_cols``)."""
    return F.md5(
        F.concat_ws(
            CANON_SEP, *[F.coalesce(c, F.lit(CANON_NULL)) for c in cols]
        )
    )


def null_safe_canon64(cols: list[Column]) -> Column:
    """8-byte xxhash64 form of :func:`null_safe_canon` — same
    NULL-sentinel canonical string, hashed to a long instead of a
    32-char md5 hex digest.  For INTERNAL equality joins only (the
    repair row legs): equal canonical strings hash equal, unequal
    ones collide with ~2⁻⁶⁴ probability (the same collision
    acceptance the hashed posting joins document), and the join
    payload shrinks ~5× (8-byte long vs 32-char string).  Anything
    an ORACLE recomputes as md5 must keep :func:`null_safe_canon`."""
    return F.xxhash64(
        F.concat_ws(
            CANON_SEP, *[F.coalesce(c, F.lit(CANON_NULL)) for c in cols]
        )
    )


def null_safe_canon_sql(exprs: list[str]) -> str:
    """DuckDB twin of :func:`null_safe_canon` (same sentinel, same
    separator, same md5 hex form)."""
    inner = ", ".join(f"COALESCE({e}, '{CANON_NULL}')" for e in exprs)
    return f"md5(concat_ws('{CANON_SEP}', {inner}))"


def token_bucket(key_col: str, leaves: int, seed: str = "merkle"):
    """Token → leaf-bucket mapping shared by the digest table and every
    consumer that scopes ROW work to flagged leaves (plans/repair.py):
    one definition, so the scoping semi-join can never desynchronize
    from the digest buckets."""
    width = -(-TOKEN_SPACE // leaves)  # ceil: last leaf slightly short
    tok = md5_draw(seed + ":tok", key_col)
    return F.floor(tok / F.lit(width)).cast("long")


def range_digests(
    df: DataFrame,
    key_col: str,
    digest_cols: list[str],
    depth: int = 3,
    fanout: int = 4,
    seed: str = "merkle",
    bucket_expr: Column | None = None,
) -> DataFrame:
    """(bucket, n_rows, digest) — the Merkle LEAF level over
    ``fanout**depth`` equal token ranges.  Internal tree levels are a
    trivial re-aggregation of this frame (bucket div fanout) and are
    cheap enough to derive on demand; the leaf table IS the tree.

    ``bucket_expr`` overrides the md5 token bucketing with the
    caller's own token→leaf mapping — pass the SERVER's token
    convention (e.g. the connector's ``token(pk)`` buckets) when
    flagged leaves must later translate into token-range pushdown the
    cluster can evaluate (plans/repair.py scoped readers)."""
    dig = _row_digest(portable_digest_cols(df, digest_cols))
    bucket = (
        bucket_expr
        if bucket_expr is not None
        else token_bucket(key_col, fanout**depth, seed)
    )
    return (
        df.select(
            bucket.alias("bucket"),
            dig.alias("_dig"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.pmod(
                F.sum(F.col("_dig").cast("decimal(38,0)")),
                F.lit(TOKEN_SPACE).cast("decimal(38,0)"),
            )
            .cast("long")
            .alias("digest"),
        )
    )


def merkle_diff(
    origin: DataFrame,
    target: DataFrame,
    key_col: str,
    digest_cols: list[str],
    depth: int = 3,
    fanout: int = 4,
    seed: str = "merkle",
    bucket_expr: Column | None = None,
) -> DataFrame:
    """Differing token ranges between two tables: full-outer join of
    the two leaf-digest frames, keeping only ranges whose (count,
    digest) disagree.  Status values mirror repair semantics:
    ``missing_range`` (absent on target), ``extra_range`` (absent on
    origin), ``mismatch`` (present both sides, different content).

    The result names the token ranges a reconcile pass must re-read —
    feed ``bucket * width .. (bucket+1) * width`` into the P4
    token-range filter to scope J1/J2 to just those rows."""
    o = range_digests(
        origin, key_col, digest_cols, depth, fanout, seed, bucket_expr
    )
    t = range_digests(
        target, key_col, digest_cols, depth, fanout, seed, bucket_expr
    )
    j = o.alias("o").join(t.alias("t"), "bucket", "full_outer")
    status = (
        F.when(F.col("t.n_rows").isNull(), F.lit("missing_range"))
        .when(F.col("o.n_rows").isNull(), F.lit("extra_range"))
        .when(
            (F.col("o.n_rows") != F.col("t.n_rows"))
            | (F.col("o.digest") != F.col("t.digest")),
            F.lit("mismatch"),
        )
        .otherwise(F.lit("match"))
    )
    return (
        j.select(
            "bucket",
            F.col("o.n_rows").alias("origin_rows"),
            F.col("t.n_rows").alias("target_rows"),
            F.col("o.digest").alias("origin_digest"),
            F.col("t.digest").alias("target_digest"),
            status.alias("status"),
        )
        .filter(F.col("status") != "match")
    )


def merkle_digest_sql(
    table_sql: str,
    key_expr: str,
    digest_exprs: list[str],
    depth: int = 3,
    fanout: int = 4,
    seed: str = "merkle",
) -> str:
    """DuckDB twin of :func:`range_digests` — kept beside it so the
    two canonical encodings cannot drift.  ``digest_exprs`` must
    already be portable string expressions (see
    ``portable_digest_cols``: DOUBLE → CAST(FLOOR(x*100) AS BIGINT))."""
    from cassandra_data_migration_spark.functions.hashing import md5_draw_sql

    leaves = fanout**depth
    width = -(-TOKEN_SPACE // leaves)
    tok = md5_draw_sql(seed + ":tok", key_expr)
    canon = null_safe_canon_sql(digest_exprs)
    dig = f"CAST('0x' || substr({canon}, 1, 15) AS BIGINT)"
    return f"""
        SELECT CAST(FLOOR({tok} / {width}) AS BIGINT) AS bucket,
               COUNT(*) AS n_rows,
               CAST(CAST(SUM(CAST({dig} AS DECIMAL(38,0))) AS DECIMAL(38,0))
                    % {TOKEN_SPACE} AS BIGINT) AS digest
        FROM ({table_sql})
        GROUP BY 1
    """
