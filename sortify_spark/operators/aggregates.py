"""Aggregation operators (SURVEY.md §2.4, A1-A12).

Every reference aggregate is a Mongo ``$group`` pipeline or an app-side
loop; all become single-pass hash aggregates here (whole-stage codegen,
map-side partial aggregation — no driver loops).  Money-like sums use
exact decimal accumulation (see ``functions.numeric``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sortify_spark.functions.numeric import davg, dsum


def count_if(cond: Column) -> Column:
    """Conditional count — Spark's idiom for Mongo's filtered
    ``count_documents`` calls folded into ONE pass (A1)."""
    return F.count(F.when(cond, F.lit(1)))


def dashboard_counts(events: DataFrame) -> DataFrame:
    """A1 analogue on the events table: the reference dashboard issues 5+
    separate ``count_documents`` round-trips (``crud_dashboard.py:24-35``);
    one scan with conditional counts replaces them all.
    """
    return events.agg(
        F.count(F.lit(1)).alias("total_events"),
        count_if(F.col("event_type") == "error").alias("error_events"),
        count_if(F.col("event_type") == "purchase").alias("purchase_events"),
        count_if(F.col("event_type").isin("signup", "click", "view")).alias(
            "engagement_events"
        ),
        F.countDistinct("user_id").alias("active_users"),
    )


def global_sum_mb(df: DataFrame, size_col: str = "size") -> DataFrame:
    """A2 + F13: total bytes → MB rounded to 2 (``crud_dashboard.py:49-56``)."""
    return df.agg(
        F.round(
            F.sum(F.col(size_col).cast("decimal(38,10)")).cast("double")
            / (1024.0 * 1024.0),
            2,
        ).alias("total_mb")
    )


def recent_window_count(
    df: DataFrame, ts_col: str, cond: Column, hours: int = 24
) -> DataFrame:
    """A3 + F10: count of matching rows in the trailing window, anchored at
    the table's max timestamp for reproducibility (the reference anchors at
    wall-clock ``now`` — ``crud_dashboard.py:59-63``)."""
    anchor = df.agg(F.max(ts_col).alias("anchor"))
    return (
        df.join(F.broadcast(anchor))
        .filter(
            cond
            & (
                F.col(ts_col)
                >= F.col("anchor") - F.expr(f"INTERVAL {hours} HOURS")
            )
        )
        .agg(F.count(F.lit(1)).alias("recent_count"))
    )


def group_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """A4 analogue: per-group count + exact avg, like the per-intent QA
    stats ``$group`` (``qa_analytics_service.py:134-155``)."""
    return (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            davg(value_col).alias("avg_value"),
            dsum(value_col).alias("sum_value"),
        )
    )


def overall_stats(events: DataFrame) -> DataFrame:
    """A5: single-group stats with a conditional success-rate, mirroring
    ``qa_analytics_service.py:158-193`` (`$cond` sum → rate)."""
    n = F.count(F.lit(1))
    succ = F.count(F.when(F.col("event_type") == "purchase", F.lit(1)))
    return events.agg(
        n.alias("total"),
        davg("value").alias("avg_value"),
        dsum("value").alias("total_value"),
        succ.alias("purchase_count"),
        F.round(succ.cast("double") / n, 4).alias("purchase_rate"),
    )


def daily_trend(
    df: DataFrame, ts_col: str, value_col: str
) -> DataFrame:
    """A6 + F9: day-bucketed trend (``$dateToString %Y-%m-%d`` group,
    ``qa_analytics_service.py:246-278``)."""
    day = F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day")
    return (
        df.groupBy(day)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            davg(value_col).alias("avg_value"),
        )
        .orderBy("day")
    )


def status_distribution(df: DataFrame, status_col: str) -> DataFrame:
    """A7/A9: per-status counts + share of total (clustering statistics
    shape, ``apis/v1/clustering.py:606-636``).  The share is computed with a
    window-total so it stays one job."""
    counts = df.groupBy(status_col).agg(F.count(F.lit(1)).alias("cnt"))
    total = F.sum("cnt").over(Window.partitionBy())
    return counts.select(
        status_col,
        "cnt",
        F.round(F.col("cnt") / total, 4).alias("share"),
    )


def keyword_topk(
    df: DataFrame,
    text_col: str,
    k: int = 10,
    delimiter: str = " ",
) -> DataFrame:
    """A8: top-k token frequency — the reference's driver-side
    ``Counter.most_common(10)`` over keywords (``clustering_service.py:833-865``)
    becomes explode → hash-agg → TakeOrdered.  Deterministic tie-break on
    the token itself."""
    tok = F.explode(F.split(F.col(text_col), delimiter)).alias("token")
    return (
        df.select(tok)
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(k)
    )
