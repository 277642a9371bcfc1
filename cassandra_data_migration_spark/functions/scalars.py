"""Scalar function surface (SURVEY.md §2.8 F1-F13).

Each family the reference exercises, as thin named wrappers over
``pyspark.sql.functions`` — all JVM-side, codegen'd, UDF-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def like_prefix(col: str, prefix: str) -> Column:
    """F5: LIKE 'prefix%' (lab/exercises/05-zdm-migration.md:665-666)."""
    return F.col(col).like(prefix + "%")


def money_round(col: Column | str, scale: int = 2) -> Column:
    """F7: round + Decimal(18,2) cast (generate_data.py:84,117)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, scale).cast("decimal(18,2)")


def json_get(col: str, key: str) -> Column:
    """F11: CDM extractJson (docs/04-cdm-approach.md:465)."""
    return F.get_json_object(F.col(col), f"$.{key}")


def explode_map(df: DataFrame, map_col: str) -> DataFrame:
    """F11: CDM explodeMap — one row per map entry with key/value
    columns (the single UDTF-shaped feature; built-in explode)."""
    return df.select(
        *[c for c in df.columns if c != map_col],
        F.explode(F.col(map_col)).alias(f"{map_col}_key", f"{map_col}_value"),
    )


def explode_tokens(df: DataFrame, text_col: str, out: str = "token") -> DataFrame:
    """explode over split — the text-side UDTF shape (used by dedup &
    text analysis too)."""
    return df.select(
        *[c for c in df.columns if c != text_col],
        F.explode(F.split(F.col(text_col), " ")).alias(out),
    )
