"""Projection & predicate operators (SURVEY.md §2.2 P1-P7).

Everything here is a thin, named wrapper over Catalyst-visible
expressions so predicate pushdown / column pruning / partition
pruning happen for free — the reference implements each of these as
an engine feature (token-range filters, writetime filters, guardrail
checks); in Spark they are all just declarative filters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def project(df: DataFrame, cols: list[str]) -> DataFrame:
    """P1: column-subset projection (COPY column lists
    docs/02-native-tooling.md:308-310; CDM names.to.target
    docs/04-cdm-approach.md:334-336).  Reaches the parquet scan as
    ReadSchema — only these columns are decoded."""
    return df.select(*cols)


def exclude(df: DataFrame, cols: list[str]) -> DataFrame:
    """P2: column exclusion (CDM names.to.exclude
    docs/04-cdm-approach.md:337-338)."""
    return df.drop(*cols)


def filter_eq(df: DataFrame, col: str, value) -> DataFrame:
    """P3: equality filter on a (secondary-indexed) column — Cassandra
    needs ALLOW FILTERING + an index; Catalyst pushes it to the scan
    (lab/scripts/simulate_app_traffic.py:88-90)."""
    return df.filter(F.col(col) == F.lit(value))


def token_bucket(col: str, num_buckets: int = 32) -> Column:
    """The token function analogue: Cassandra hashes the partition key
    onto a token ring (docs/04-cdm-approach.md:290-299); we bucket by
    a deterministic modulo of the key so both engines (and resume
    logic) agree on bucket membership.  ``pmod`` keeps it
    non-negative."""
    return F.pmod(F.col(col), F.lit(num_buckets))


def token_range_filter(
    df: DataFrame, key_col: str, lo: int, hi: int, num_buckets: int = 32
) -> DataFrame:
    """P4: token-range predicate / partition pruning — migrate only
    partitions whose token falls in [lo, hi]
    (spark.cdm.filter.cassandra.partition.min/max,
    docs/04-cdm-approach.md:251-253,290-316).  On a layout partitioned
    by bucket this prunes whole files; here it pushes to the scan."""
    return df.filter(token_bucket(key_col, num_buckets).between(lo, hi))


def writetime_filter(df: DataFrame, min_writetime_us: int, col: str = "_writetime") -> DataFrame:
    """P5: incremental migration — rows written after T microseconds
    (spark.cdm.feature.writetime.filter.min,
    docs/04-cdm-approach.md:320-327)."""
    return df.filter(F.col(col) >= F.lit(min_writetime_us))


def point_lookup(df: DataFrame, pk: dict) -> DataFrame:
    """P6: fetch by full primary key — the per-row validation read
    (lab/scripts/validate_migration.py:49-67).  Bulk form is a join;
    see plans.validate."""
    cond = None
    for k, v in pk.items():
        c = F.col(k) == F.lit(v)
        cond = c if cond is None else (cond & c)
    return df.filter(cond)


def guardrail_predicate(
    col_caps_kb: dict[str, float] | None = None,
    row_cap_kb: float | None = None,
) -> Column:
    """P7: guardrail size predicate — true for rows whose column/row
    size exceeds caps (spark.cdm.guardrail.colSizeInKB / rowSizeInKB,
    docs/04-cdm-approach.md:379-387).

    Sizes are computed with built-in ``octet_length`` so the check
    stays inside codegen.  A NULL cell has size 0, so the predicate is
    never NULL: every row lands on exactly one side of the split."""
    size_terms = []
    cond = F.lit(False)
    for c, cap in (col_caps_kb or {}).items():
        size = F.coalesce(F.octet_length(F.col(c).cast("string")), F.lit(0))
        col_kb = size / 1024.0
        size_terms.append(col_kb)
        cond = cond | (col_kb > F.lit(cap))
    if row_cap_kb is not None and size_terms:
        row_kb = size_terms[0]
        for t in size_terms[1:]:
            row_kb = row_kb + t
        cond = cond | (row_kb > F.lit(row_cap_kb))
    return cond


def guardrail_split(
    df: DataFrame,
    col_caps_kb: dict[str, float] | None = None,
    row_cap_kb: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """P7 (split form): (pass, violations) under
    :func:`guardrail_predicate` — two filters over one plan, not a
    Python loop."""
    cond = guardrail_predicate(col_caps_kb, row_cap_kb)
    return df.filter(~cond), df.filter(cond)
