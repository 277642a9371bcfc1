"""Z5/Z8 + A7: streaming metrics, windowed rates, threshold alerts.

The proxy exposes Prometheus counters/histograms per route; exercises
query them as ``rate(...[5m])`` and alert on thresholds
(lab/exercises/06-validation-monitoring.md:455-497).  Spark-native:
watermarked tumbling-window aggregations (the watermark bounds state,
which the reference never needs because Prometheus scrapes are
pass-through — idiomatic Spark requires it, SURVEY.md §2.9 note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# lab/exercises/06-validation-monitoring.md:462-496
DEFAULT_THRESHOLDS = {
    "error_rate_per_sec": 10.0,
    "count_drift": 100,
    "p99_latency": 1.0,
}


def windowed_ops(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-window per-type counts + rate — the streaming form of
    aggregates.rate_over_window.  State is bounded by the watermark."""
    win_secs = _window_seconds(window)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(type_col))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col(type_col),
            "cnt",
            F.round(F.col("cnt") / win_secs, 6).alias("ops_per_sec"),
        )
    )


def windowed_error_rate(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "5 minutes",
    error_predicate=None,
) -> DataFrame:
    pred = error_predicate if error_predicate is not None else (F.col("event_type") == "error")
    win_secs = _window_seconds(window)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(F.sum(F.when(pred, 1).otherwise(0)).alias("errors"))
        .select(
            F.col("w.start").alias("window_start"),
            "errors",
            F.round(F.col("errors") / win_secs, 6).alias("errors_per_sec"),
        )
    )


def alert_filter(
    windowed: DataFrame, value_col: str, threshold: float, alert_name: str
) -> DataFrame:
    """Z8: windows breaching the threshold become alert rows."""
    return windowed.filter(F.col(value_col) > threshold).withColumn(
        "alert", F.lit(alert_name)
    )


def node_down_alerts(
    heartbeats: DataFrame,
    scrape_ms: int,
    down_ms: int,
    range_end_ms: int,
    node_col: str = "node",
    ts_col: str = "ts_ms",
) -> DataFrame:
    """Z8, the liveness rule: exercise 6's fourth Prometheus alert —
    ``up == 0 for 1m`` (lab/exercises/06-validation-monitoring.md:489-496)
    — completing the alert family next to error-rate / count-drift /
    p99.  ``heartbeats`` holds one row per SUCCESSFUL scrape
    (node, ts); a node whose gauge is absent for >= ``down_ms``
    (measured in whole ``scrape_ms`` grid slots, the way Prometheus
    evaluates ``for:`` over scrape intervals) raises ONE alert per
    outage: (node, down_since_ms, down_for_ms, alert).  The trailing
    edge is judged against ``range_end_ms`` — the evaluation instant —
    so a node that silently stopped reporting alerts too, which a
    gap-only rule would miss.

    Scale shape: snap-to-grid + distinct is one map-combined shuffle
    on (node, slot); the gap window partitions by node (state
    O(scrapes per node), the promql series shape); the trailing check
    is a groupBy to O(nodes) rows.  No collect, no cross join."""
    b = (
        heartbeats.select(
            F.col(node_col).alias("node"),
            F.expr(f"{ts_col} DIV {int(scrape_ms)}").alias("_b"),
        )
        .distinct()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("node").orderBy("_b")
    gap = F.col("_b") - F.col("_prev") - F.lit(1)
    mid = (
        b.withColumn("_prev", F.lag("_b").over(w))
        .filter(F.col("_prev").isNotNull())
        .withColumn("_gap", gap)
        .filter(F.col("_gap") * scrape_ms >= down_ms)
        .select(
            "node",
            ((F.col("_prev") + 1) * scrape_ms)
            .cast("long")
            .alias("down_since_ms"),
            (F.col("_gap") * scrape_ms).cast("long").alias("down_for_ms"),
        )
    )
    end_b = range_end_ms // scrape_ms
    tail = (
        b.groupBy("node")
        .agg(F.max("_b").alias("_last"))
        .withColumn("_gap", F.lit(end_b) - F.col("_last") - F.lit(1))
        .filter(F.col("_gap") * scrape_ms >= down_ms)
        .select(
            "node",
            ((F.col("_last") + 1) * scrape_ms)
            .cast("long")
            .alias("down_since_ms"),
            (F.col("_gap") * scrape_ms).cast("long").alias("down_for_ms"),
        )
    )
    return (
        mid.unionByName(tail)
        .withColumn("alert", F.lit("node_down"))
        .orderBy("node", "down_since_ms")
    )


def node_down_alerts_sql(
    heartbeats_sql: str,
    scrape_ms: int,
    down_ms: int,
    range_end_ms: int,
    node_expr: str = "node",
    ts_expr: str = "ts_ms",
) -> str:
    """DuckDB twin of :func:`node_down_alerts` over a heartbeat
    relation ``heartbeats_sql`` producing (node, ts) columns."""
    slots = down_ms // scrape_ms + (1 if down_ms % scrape_ms else 0)
    end_b = range_end_ms // scrape_ms
    return f"""
        WITH hb AS (
            SELECT {node_expr} AS node,
                   {ts_expr} // {scrape_ms} AS b
            FROM ({heartbeats_sql}) GROUP BY 1, 2
        ),
        gaps AS (
            SELECT node, b,
                   LAG(b) OVER (PARTITION BY node ORDER BY b) AS prev
            FROM hb
        ),
        mid AS (
            SELECT node,
                   CAST((prev + 1) * {scrape_ms} AS BIGINT)
                       AS down_since_ms,
                   CAST((b - prev - 1) * {scrape_ms} AS BIGINT)
                       AS down_for_ms
            FROM gaps
            WHERE prev IS NOT NULL AND b - prev - 1 >= {slots}
        ),
        tailg AS (
            SELECT node,
                   CAST((MAX(b) + 1) * {scrape_ms} AS BIGINT)
                       AS down_since_ms,
                   CAST(({end_b} - MAX(b) - 1) * {scrape_ms} AS BIGINT)
                       AS down_for_ms
            FROM hb GROUP BY node
            HAVING {end_b} - MAX(b) - 1 >= {slots}
        )
        SELECT node, down_since_ms, down_for_ms, 'node_down' AS alert
        FROM (SELECT * FROM mid UNION ALL SELECT * FROM tailg)
        ORDER BY node, down_since_ms
    """


def _window_seconds(window: str) -> float:
    qty, unit = window.split()
    mult = {
        "second": 1,
        "seconds": 1,
        "minute": 60,
        "minutes": 60,
        "hour": 3600,
        "hours": 3600,
    }[unit]
    return float(qty) * mult
