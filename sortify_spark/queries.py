"""Query registry: every implemented operator exposed as a named query with
a DuckDB oracle (the driver's correctness gate, and our own test gate).

Each entry pairs a Spark plan built from the operator library with the
ANSI-SQL statement DuckDB runs on the same parquet views.  Conventions that
make the value-hash comparison exact (see ``functions.numeric``):

* aggregates of doubles accumulate in DECIMAL, emit rounded doubles;
* timestamps are emitted as formatted strings;
* every ranking carries an explicit unique tie-breaker;
* every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sortify_spark.functions.numeric import (
    davg,
    dsum,
    dsum_expr,
    oracle_davg,
    oracle_dsum,
)
from sortify_spark.operators import aggregates as agg
from sortify_spark.operators import windows as win
from sortify_spark.operators.filters import batch_lookup, point_lookup, slice_last_n
from sortify_spark.operators.pagination import paginate, validated_order
from sortify_spark.operators.setops import anti_join_ids, hydrate, semi_join_ids
from sortify_spark.tables import load_table


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None → driver falls back to rows-only check
    note: str = ""


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, sql: str | None, note: str = ""):
    def deco(fn):
        REGISTRY[name] = QueryDef(name, fn, sql, note)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Relational core (SURVEY.md §2.2, §2.4, §2.6, §2.7)
# ---------------------------------------------------------------------------

_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {oracle_dsum('l_quantity')} AS sum_qty,
       {oracle_dsum('l_extendedprice')} AS sum_base_price,
       {oracle_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {oracle_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {oracle_davg('l_quantity')} AS avg_qty,
       {oracle_davg('l_extendedprice')} AS avg_price,
       {oracle_davg('l_discount', 6)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register(
    "pricing_summary",
    _Q1_SQL,
    note="Flagship: TPC-H-Q1-shaped scan+hash-agg; exercises decimal-exact "
    "sums (A2/A5 class). One scan, map-side partial agg, 6-group output.",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02 00:00:00"))
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum_expr("l_extendedprice * (1 - l_discount)").alias("sum_disc_price"),
            dsum_expr(
                "l_extendedprice * (1 - l_discount) * (1 + l_tax)"
            ).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount", 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_LIST_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       ROUND(o_totalprice, 2) AS total_price,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date
FROM orders
WHERE o_orderstatus IN ('O', 'P') AND o_totalprice >= 50000
ORDER BY o_orderdate DESC, o_orderkey ASC
LIMIT 20 OFFSET 10
"""


@register(
    "list_filter_paginate",
    _LIST_SQL,
    note="P1+O1+O2: the reference's most-trafficked query "
    "(GET /documents list, crud_documents.py:24-67,208-218) — filter "
    "builder + sort allowlist + offset/limit page. Compiles to "
    "TakeOrderedAndProject (no full sort).",
)
def q_list_filter_paginate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("O", "P") & (F.col("o_totalprice") >= 50000)
    )
    order = validated_order(
        "o_orderdate",
        "desc",
        allowlist=("o_orderdate", "o_totalprice", "o_orderkey"),
        tiebreak_col="o_orderkey",
    )
    page = paginate(orders, order, skip=10, limit=20)
    return page.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total_price"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )


@register(
    "point_lookup",
    """
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           ROUND(l_quantity, 2) AS quantity,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_date
    FROM lineitem WHERE l_orderkey = 42
    """,
    note="P3: point lookup by canonical key (crud_documents.py:135-159; "
    "string/UUID fallback removed by design).",
)
def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return point_lookup(_t(spark, sf_dir, "lineitem"), "l_orderkey", 42).select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        F.round("l_quantity", 2).alias("quantity"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
    )


@register(
    "batch_lookup",
    """
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS total_price
    FROM orders WHERE o_orderkey IN (1, 2, 3, 5, 8, 13, 21, 34, 55, 89)
    """,
    note="P4: id IN-list batch lookup (crud_documents.py:319-357); "
    "In-predicate pushed to the parquet scan.",
)
def q_batch_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return batch_lookup(
        _t(spark, sf_dir, "orders"), "o_orderkey", [1, 2, 3, 5, 8, 13, 21, 34, 55, 89]
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total_price"),
    )


@register(
    "count_with_filter",
    """
    SELECT COUNT(*) AS total FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 100000
    """,
    note="A11: pagination-total count sharing the page's predicate "
    "(crud_documents.py:269-277).",
)
def q_count_with_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 100000))
        .agg(F.count(F.lit(1)).alias("total"))
    )


@register(
    "dashboard_counts",
    """
    SELECT COUNT(*) AS total_events,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error_events,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_events,
           COUNT(CASE WHEN event_type IN ('signup','click','view') THEN 1 END)
               AS engagement_events,
           COUNT(DISTINCT user_id) AS active_users
    FROM events
    """,
    note="A1: the dashboard's 5 separate count_documents round-trips "
    "(crud_dashboard.py:24-35) folded into one conditional-count scan.",
)
def q_dashboard_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.dashboard_counts(_t(spark, sf_dir, "events"))


@register(
    "global_sum_mb",
    """
    SELECT ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(38,10))) AS DOUBLE)
                 / (1024.0 * 1024.0), 2) AS total_mb
    FROM documents
    """,
    note="A2+F13: global storage sum → MB (crud_dashboard.py:49-56).",
)
def q_global_sum_mb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.global_sum_mb(_t(spark, sf_dir, "documents"), size_col="n_chars")


@register(
    "recent_error_count",
    """
    WITH a AS (SELECT MAX(ts) AS anchor FROM events)
    SELECT COUNT(*) AS recent_count
    FROM events, a
    WHERE event_type = 'error' AND ts >= anchor - INTERVAL 24 HOURS
    """,
    note="A3+F10: trailing-24h error count (crud_dashboard.py:59-63), "
    "anchored at max(ts) for reproducibility.",
)
def q_recent_error_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.recent_window_count(
        _t(spark, sf_dir, "events"),
        "ts",
        F.col("event_type") == "error",
        hours=24,
    )


@register(
    "group_stats",
    f"""
    SELECT event_type,
           COUNT(*) AS cnt,
           {oracle_davg('value')} AS avg_value,
           {oracle_dsum('value')} AS sum_value
    FROM events GROUP BY event_type
    """,
    note="A4: per-group count/avg/sum — the per-intent QA stats $group "
    "(qa_analytics_service.py:134-155).",
)
def q_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.group_stats(_t(spark, sf_dir, "events"), "event_type", "value")


@register(
    "overall_stats",
    f"""
    SELECT COUNT(*) AS total,
           {oracle_davg('value')} AS avg_value,
           {oracle_dsum('value')} AS total_value,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_count,
           ROUND(CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS DOUBLE)
                 / COUNT(*), 4) AS purchase_rate
    FROM events
    """,
    note="A5: single-group stats + conditional success-rate "
    "(qa_analytics_service.py:158-193).",
)
def q_overall_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.overall_stats(_t(spark, sf_dir, "events"))


@register(
    "daily_trend",
    f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) AS cnt,
           {oracle_davg('value')} AS avg_value
    FROM events GROUP BY 1 ORDER BY 1
    """,
    note="A6+F9: day-bucketed trend (qa_analytics_service.py:246-278).",
)
def q_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.daily_trend(_t(spark, sf_dir, "events"), "ts", "value")


@register(
    "status_distribution",
    """
    WITH c AS (SELECT o_orderstatus, COUNT(*) AS cnt FROM orders GROUP BY 1)
    SELECT o_orderstatus, cnt,
           ROUND(CAST(cnt AS DOUBLE) / SUM(cnt) OVER (), 4) AS share
    FROM c
    """,
    note="A7/A9: status histogram + coverage share "
    "(apis/v1/clustering.py:606-636).",
)
def q_status_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.status_distribution(_t(spark, sf_dir, "orders"), "o_orderstatus")


@register(
    "keyword_topk",
    """
    SELECT token, COUNT(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY freq DESC, token ASC
    LIMIT 10
    """,
    note="A8: top-k keyword frequency — driver-side Counter.most_common "
    "(clustering_service.py:833-865) as explode→hash-agg→TakeOrdered.",
)
def q_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.keyword_topk(_t(spark, sf_dir, "documents"), "text", k=10)


# ---------------------------------------------------------------------------
# Windows / ranking (§2.5)
# ---------------------------------------------------------------------------


@register(
    "top_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total_price
    FROM orders
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) = 1
    """,
    note="W2: best row per group (best chunk per document, "
    "enhanced_search_service.py:406-419). Single shuffle on the group key.",
)
def q_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return win.best_per_group(
        _t(spark, sf_dir, "orders"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
    ).select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
    )


@register(
    "latest_event_per_user",
    """
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM events
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    note="W7: latest-job-per-user find_one(sort=started_at desc) "
    "(clustering_service.py:1083-1086).",
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    return win.best_per_group(
        _t(spark, sf_dir, "events"),
        ["user_id"],
        [F.col("ts").desc(), F.col("event_id").desc()],
    ).select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


@register(
    "global_rank_top20",
    """
    SELECT rank, o_orderkey, ROUND(o_totalprice, 2) AS total_price
    FROM (SELECT o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC)
                     AS rank
          FROM orders)
    WHERE rank <= 20
    """,
    note="W1: global rank assignment over a sorted result list "
    "(enhanced_search_service.py:403). Bounded k ⇒ single-partition window "
    "is safe.",
)
def q_global_rank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = win.rank_by(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
    )
    return ranked.filter(F.col("rank") <= 20).select(
        "rank", "o_orderkey", F.round("o_totalprice", 2).alias("total_price")
    )


@register(
    "keep_max_merge",
    """
    WITH a AS (
      SELECT o_custkey AS key, MAX(o_totalprice) AS score FROM orders
      WHERE o_orderstatus = 'O' GROUP BY 1
    ), b AS (
      SELECT o_custkey AS key, MAX(o_totalprice) * 1.1 AS score FROM orders
      WHERE o_orderstatus = 'F' GROUP BY 1
    ), u AS (
      SELECT key, score, 'open' AS source FROM a
      UNION ALL
      SELECT key, score, 'finished' AS source FROM b
    )
    SELECT key, ROUND(score, 2) AS score, source
    FROM u
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY key ORDER BY score DESC, source DESC) = 1
    """,
    note="W4/W5: merge result branches keeping max score per key "
    "(search_weight_config.py:35-54, qa_search_coordinator.py:256-269) — "
    "max_by-struct aggregation, one shuffle, no window.",
)
def q_keep_max_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.max("o_totalprice").alias("score"))
        .withColumn("source", F.lit("open"))
    )
    b = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg((F.max("o_totalprice") * 1.1).alias("score"))
        .withColumn("source", F.lit("finished"))
    )
    merged = win.keep_max_merge(
        a.unionByName(b), key_col="key", score_col="score", carry_cols=["source"]
    )
    return merged.select("key", F.round("score", 2).alias("score"), "source")


# ---------------------------------------------------------------------------
# Joins / set ops (§2.3, §2.7)
# ---------------------------------------------------------------------------


@register(
    "semi_join_segment",
    f"""
    SELECT COUNT(*) AS order_count, {oracle_dsum('o_totalprice')} AS total_value
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer
                        WHERE c_mktsegment = 'BUILDING')
    """,
    note="J1/J4: candidate-set restriction as broadcast left-semi join "
    "(enhanced_search_service.py:170-179 pushes ids into the index scan).",
)
def q_semi_join_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return semi_join_ids(_t(spark, sf_dir, "orders"), ids, "o_custkey").agg(
        F.count(F.lit(1)).alias("order_count"),
        dsum("o_totalprice").alias("total_value"),
    )


@register(
    "anti_join_no_orders",
    """
    SELECT c_mktsegment, COUNT(*) AS customers_without_orders
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    GROUP BY c_mktsegment
    """,
    note="SO4: set difference as broadcast left-anti join "
    "(qa_document_processor.py:107-113 dropped-ids).",
)
def q_anti_join_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    return (
        anti_join_ids(_t(spark, sf_dir, "customer"), ids, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("customers_without_orders"))
    )


@register(
    "hydrate_top_orders",
    """
    WITH top_orders AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    )
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total_price,
           c_name, c_mktsegment
    FROM top_orders JOIN customer ON o_custkey = c_custkey
    """,
    note="J2: hydrate top-k result ids with dimension rows via broadcast "
    "hash join (document_detail_query_handler.py:295 + "
    "crud_documents.py:319-357).",
)
def q_hydrate_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    top = (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", F.col("o_custkey").alias("c_custkey"), "o_totalprice")
    )
    joined = hydrate(top, _t(spark, sf_dir, "customer"), "c_custkey")
    return joined.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
        "c_name",
        "c_mktsegment",
    )


@register(
    "set_difference_custkeys",
    """
    SELECT COUNT(*) AS only_open_customers FROM (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
    note="SO2: summary-only − chunk-only source difference "
    "(enhanced_search_service.py:491-496) as EXCEPT.",
)
def q_set_difference_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    open_k = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    fin_k = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    return open_k.exceptAll(fin_k).agg(
        F.count(F.lit(1)).alias("only_open_customers")
    )


@register(
    "revenue_topk_orders",
    f"""
    SELECT o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey ASC
    LIMIT 10
    """,
    note="TPC-H-Q3-shaped 3-way join + agg + top-k; dimension filter first, "
    "broadcast customer, AQE picks the join order.",
)
def q_revenue_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.to_timestamp(F.lit("1998-06-01 00:00:00"))
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        l.join(
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey),
            l.l_orderkey == o.o_orderkey,
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            dsum_expr("l_extendedprice * (1 - l_discount)").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "revenue",
        )
    )


@register(
    "regional_revenue",
    f"""
    SELECT r.r_name,
           {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS line_count
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
    note="TPC-H-Q5-shaped star join: broadcast the small dimension chain "
    "(region→nation→customer), shuffle only fact-side keys.",
)
def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    dim = F.broadcast(
        c.join(n, c.c_nationkey == n.n_nationkey).join(
            r, n.n_regionkey == r.r_regionkey
        ).select("c_custkey", "r_name")
    )
    return (
        l.join(o.select("o_orderkey", "o_custkey"), l.l_orderkey == o.o_orderkey)
        .join(dim, F.col("o_custkey") == dim.c_custkey)
        .groupBy("r_name")
        .agg(
            dsum_expr("l_extendedprice * (1 - l_discount)").alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .orderBy("r_name")
    )


@register(
    "slice_last_words",
    """
    SELECT doc_id,
           array_to_string(
             list_slice(string_split(text, ' '),
                        greatest(len(string_split(text, ' ')) - 4, 1),
                        len(string_split(text, ' '))), ' ') AS tail
    FROM documents
    """,
    note="P7: $slice:-N last-elements projection "
    "(crud_conversations.py:199-201) over tokenized text.",
)
def q_slice_last_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.array_join(slice_last_n(F.split(F.col("text"), " "), 5), " ").alias(
            "tail"
        ),
    )


@register(
    "json_extract_stats",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
    note="§1.5 dynamic-field convention: schema-on-read JSON column queried "
    "with get_json_object (document_detail_query_handler.py:222-243).",
)
def q_json_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("k_sum"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
