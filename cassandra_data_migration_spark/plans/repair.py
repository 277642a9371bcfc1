"""End-to-end anti-entropy repair: Merkle leaf diff → row work scoped
to divergent token ranges → AutoCorrect (origin wins) → revalidate.

This is the composition the reference performs as `nodetool repair`
followed by CDM AutoCorrect (docs/04-cdm-approach.md DiffData +
autocorrect; exercise 6's re-validation loop): the Merkle pass finds
WHICH token ranges diverge without shipping any rows, and only those
ranges get row-level treatment.  At 100 TB this scoping is the whole
game — a healthy cluster has a handful of divergent leaves, so the
row-level joins read a bounded slice of the table.

Scoped READERS make the scoping prune I/O, not just shuffle: pass
``scoped_origin`` / ``scoped_target`` callables ``(flagged_buckets)
-> DataFrame`` and the row legs read ONLY the flagged ranges —

- connector path: translate contiguous bucket runs into token bounds
  and issue ``CassandraTableSource.read(table, token_min, token_max)``
  per run (docs/04-cdm-approach.md:290-316 partition-range filters,
  ``spark.cdm.filter.cassandra.partition.min/max``); pass
  ``bucket_expr`` matching the SERVER's token convention so flagged
  leaves and pushdown bounds speak the same token space;
- lake path: :func:`bucket_partitioned_write` lays the table out
  partitioned by merkle bucket, and :func:`bucket_pruned_reader`
  turns the flagged list into a partition-pruning filter (only the
  flagged directories are listed/read).

A scoped reader may return a SUPERSET of the flagged rows (coarse
pruning); a residual in-scope filter guards exactness either way.
Without scoped readers the scope is a scan-side filter over a
computed bucket — correct, but each row leg re-reads the full table
(the fixture fallback).

The repaired view and the post-validation are ALSO scoped: ranges
whose leaf digests matched are convergent by the Merkle invariant
(same md5-collision assumption Cassandra's own tree repair makes), so
re-validating them row-by-row would only re-prove the digest.  The
three ``post_*`` metrics are therefore computed over the flagged
slice — where every divergence, by construction, lives.

Origin wins on every divergence mode: missing rows are copied,
mismatched rows replaced, and target-only rows (extras) DELETED —
leaving any of the three unrepaired would let the post-validation
claim convergence over a still-divergent table.  So every scoped key
origin holds ends up with origin's row and no other key survives: the
repaired slice IS the origin side of the classification join, taken
from that join rather than rebuilt from its bad keys.  Revalidation
stays a full-outer join of the scoped origin against that view, so a
key origin holds twice (two rows cannot both win) or a NULL key
(which joins nothing) still reads as unconverged.

Cost shape: the leaf diff runs once per side over the full table
(unavoidable — digests must cover everything) and its ≤leaves flagged
buckets are collected to the driver (O(leaves) rows, bounded by
construction); the row legs read only flagged ranges; ONE full-outer
join of the two scoped slices classifies every key and feeds both the
pre-repair counts and the repaired view; post-validation is one more
join of the scoped origin against that view.  Pre and post count with
plans/validate.diff_counts, the rule validation uses.  Size
``fanout**depth`` well above the expected divergent-key count —
SCALE_PROBE_r06.json shows 64 leaves scoping half the table under 50
corruptions while 4096 leaves scope 1.2%.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cassandra_data_migration_spark.operators.merkle import (
    merkle_diff,
    null_safe_canon64,
    portable_digest_cols,
    token_bucket,
)
from cassandra_data_migration_spark.plans.validate import diff_counts

METRICS = (
    "divergent_leaves",
    "scoped_origin_rows",
    "missing_repaired",
    "mismatched_repaired",
    "extra_removed",
    "post_missing",
    "post_mismatched",
    "post_extra",
)

ScopedReader = Callable[[list[int]], DataFrame]


def bucket_partitioned_write(
    df: DataFrame,
    path: str,
    key_col: str,
    leaves: int = 64,
    seed: str = "merkle",
) -> None:
    """Materialize ``df`` partitioned by its merkle leaf bucket — the
    lake layout that lets repair prune I/O: each leaf is its own
    directory, so a flagged-bucket filter is PartitionFilters, not a
    post-scan predicate.  One-off layout cost, amortized across every
    subsequent repair/validation pass (the same trade as bucketed
    join tables, sources/tables.ensure_bucketed_table).

    Rows are clustered on the bucket before the write: without it
    every upstream task fans out into up to ``leaves`` directories
    (tasks x leaves small files — the classic partitionBy mistake);
    with it each leaf directory holds O(1) files, so the flagged-leaf
    read opens proportionally few files at any scale."""
    (
        df.withColumn("_merkle_bucket", token_bucket(key_col, leaves, seed))
        .repartition(leaves, "_merkle_bucket")
        .write.mode("overwrite")
        .partitionBy("_merkle_bucket")
        .parquet(path)
    )


def bucket_pruned_reader(spark, path: str) -> ScopedReader:
    """Scoped reader over a :func:`bucket_partitioned_write` layout:
    the flagged list becomes a partition-pruning ``isin`` on the
    partition column — Spark lists/reads only the flagged
    directories (assert via ``df.inputFiles()``)."""

    def read(flagged: list[int]) -> DataFrame:
        df = spark.read.parquet(path)
        if not flagged:
            return df.filter(F.lit(False))
        return df.filter(F.col("_merkle_bucket").isin(flagged))

    return read


def token_runs(flagged: list[int]) -> list[tuple[int, int]]:
    """Contiguous runs of flagged buckets as inclusive (lo, hi) bucket
    bounds — one connector read per run instead of per leaf."""
    runs: list[tuple[int, int]] = []
    for b in sorted(set(flagged)):
        if runs and b == runs[-1][1] + 1:
            runs[-1] = (runs[-1][0], b)
        else:
            runs.append((b, b))
    return runs


def connector_scoped_reader(
    source,
    spark,
    table: str,
    bucket_token_bounds: Callable[[int], tuple[int, int]],
) -> ScopedReader:
    """Scoped reader over a live-connector :class:`TableSource`:
    flagged buckets coalesce into contiguous runs, each run becomes
    ONE ``source.read(table, token_min, token_max)`` — server-side
    token-range pushdown (CDM's partition.min/max), unioned.

    ``bucket_token_bounds(bucket) -> (token_min, token_max)`` maps a
    leaf to its inclusive server-token bounds; pair it with the
    ``bucket_expr`` handed to :func:`merkle_scoped_repair` so leaves
    and pushdown bounds share the server's token space."""

    def read(flagged: list[int]) -> DataFrame:
        runs = token_runs(flagged)
        if not runs:
            return source.read(spark, table).filter(F.lit(False))
        parts = [
            source.read(
                spark,
                table,
                token_min=bucket_token_bounds(lo)[0],
                token_max=bucket_token_bounds(hi)[1],
            )
            for lo, hi in runs
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    return read


def merkle_scoped_repair(
    origin: DataFrame,
    target: DataFrame,
    key_col: str,
    digest_cols: list[str],
    depth: int = 3,
    fanout: int = 4,
    seed: str = "merkle",
    bucket_expr: Column | None = None,
    scoped_origin: ScopedReader | None = None,
    scoped_target: ScopedReader | None = None,
) -> DataFrame:
    """Repair report as (metric, value) rows — :data:`METRICS`.  The
    three ``post_*`` rows prove convergence over EVERY divergence mode
    (0 after one pass, since origin-wins repair is idempotent).  See
    the module docstring for the scoped-reader I/O-pruning contract."""
    leaves = fanout**depth
    flagged = [
        r["bucket"]
        for r in merkle_diff(
            origin, target, key_col, digest_cols, depth, fanout, seed,
            bucket_expr,
        )
        .filter(F.col("status") != "match")
        .select("bucket")
        .collect()  # ≤ leaves rows — bounded driver state by design
    ]
    bucket = (
        bucket_expr
        if bucket_expr is not None
        else token_bucket(key_col, leaves, seed)
    )

    def canon(df: DataFrame) -> DataFrame:
        # NULL-sentinel canon (merkle.null_safe_canon64): raw
        # concat_ws skips NULLs, so rows differing only in which
        # nullable column is NULL would canon equal and dodge repair.
        # xxhash64 form (round 12): the canon is ONLY ever compared
        # for equality inside this plan (the metrics count matches /
        # mismatches; no oracle reads the canon value), so the
        # full-outer row-leg joins ship an 8-byte long instead of a
        # 32-char md5 hex string — ~5× narrower join payload at
        # identical equality semantics (guide §2.3 "narrower types").
        return df.select(
            F.col(key_col).alias("_k"),
            bucket.alias("_b"),
            null_safe_canon64(portable_digest_cols(df, digest_cols)).alias(
                "_canon"
            ),
        )

    in_scope = F.col("_b").isin(flagged) if flagged else F.lit(False)
    # scoped readers prune I/O to the flagged ranges; the residual
    # in-scope filter guards exactness (readers may return supersets)
    o_src = scoped_origin(flagged) if scoped_origin is not None else origin
    t_src = scoped_target(flagged) if scoped_target is not None else target
    o_scoped = canon(o_src).filter(in_scope)
    t_scoped = canon(t_src).filter(in_scope)

    # ONE full-outer join classifies every scoped key: missing (origin
    # only), extra (target only), mismatched (both, different content)
    oc = o_scoped.select("_k", F.col("_canon").alias("_oc"))
    j = oc.join(
        t_scoped.select("_k", F.col("_canon").alias("_tc")), "_k", "full_outer"
    )
    diff = diff_counts("_oc", "_tc")
    pre = j.agg(
        F.count("_oc").alias("scoped_origin_rows"),
        diff["missing"].alias("missing_repaired"),
        diff["mismatched"].alias("mismatched_repaired"),
        diff["extra"].alias("extra_removed"),
    )

    # origin wins: every scoped key origin holds takes origin's row and
    # every target-only key is deleted, so the repaired slice is the
    # origin side of ``j``.  Revalidation is scoped too — unflagged
    # leaves are convergent by the matching digests (module docstring)
    # — and stays a full-outer join so a duplicated or NULL origin key
    # still reads as unconverged.
    repaired = j.filter(F.col("_oc").isNotNull()).select(
        "_k", F.col("_oc").alias("_tc")
    )
    post = oc.join(repaired, "_k", "full_outer").agg(
        *[c.alias(f"post_{name}") for name, c in diff.items()]
    )

    row = pre.crossJoin(post).withColumn(
        "divergent_leaves", F.lit(len(flagged)).cast("long")
    )
    # every metric is already a non-NULL bigint (count / count_if)
    stack_args = ", ".join(f"'{m}', {m}" for m in METRICS)
    return row.select(
        F.expr(f"stack({len(METRICS)}, {stack_args}) AS (metric, value)")
    )
