"""Scale-oriented analytics operators beyond the reference's surface:
sessionization, exact percentiles, BPE-ish tokenization, MLlib LSH ANN,
and the email-ingest staging path as a registered query.

These are the operations a large-scale training-data / events pipeline
needs (sessionization and percentile latency stats are the canonical
events-table workloads; the LSH model is the ANN scale path next to the
exact brute-force and IVF variants in search/knn.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sortify_spark.functions.numeric import dsum, oracle_dsum
from sortify_spark.queries import register, _t
from sortify_spark.streaming import await_or_raise

SESSION_GAP_MIN = 30


@register(
    "user_sessions",
    f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WHERE user_id < 40
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_idx
      FROM ordered
    )
    SELECT user_id, session_idx, COUNT(*) AS n_events,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM sess GROUP BY user_id, session_idx
    """,
    note="Sessionization: per-user event sessions split on >30-min gaps "
    "(lag → flag → running sum → group). One shuffle on user_id serves "
    "both windows and the final aggregate — the partitioning is reused "
    "across stages, which is the property that survives a 100x scale-up.",
)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    prev = F.lag(F.unix_micros("ts")).over(w)
    new_s = F.when(
        prev.isNull() | (F.unix_micros("ts") - prev > gap_us), 1
    ).otherwise(0)
    sess = (
        events.select("user_id", "ts", "event_id", new_s.alias("new_s"))
        .withColumn(
            "session_idx",
            F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias(
            "duration_us"
        ),
    )


@register(
    "streaming_sessions",
    f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WHERE user_id < 10
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_idx
      FROM ordered
    )
    SELECT user_id, COUNT(*) AS n_events,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM sess GROUP BY user_id, session_idx
    """,
    note="Stateful STREAMING sessionization (applyInPandasWithState, "
    "event-time timeout) run to completion over the events stream and "
    "hash-matched against the batch window-function oracle — the "
    "streaming twin of user_sessions. O(1) state per active user.",
)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sortify_spark.streaming.pipeline import streaming_sessionize

    events = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .select("event_id", "user_id", "ts")
    )
    tmp = tempfile.mkdtemp(prefix="sortify_ssess_")
    events.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in")
    # Two far-future sentinel files: with one file per trigger the in-run
    # watermark passes every real session's timeout, flushing open
    # sessions inside this single availableNow run.
    for days, eid in ((10, 999_998), (20, 999_999)):
        far = events.agg(F.max("ts").alias("m")).select(
            F.lit(eid).alias("event_id"),
            F.lit(9_999).alias("user_id"),
            (F.col("m") + F.expr(f"INTERVAL {days} DAYS")).alias("ts"),
        )
        far.coalesce(1).write.mode("append").parquet(f"{tmp}/in")
    q = streaming_sessionize(
        spark,
        f"{tmp}/in",
        f"{tmp}/ckpt",
        gap_min=SESSION_GAP_MIN,
        out_table="streaming_sessions_out",
        max_files_per_trigger=1,
    )
    await_or_raise(q, 300, "stream")
    return (
        spark.table("streaming_sessions_out")
        .filter(F.col("user_id") < 10)
        .select("user_id", "n_events", "duration_us")
    )


@register(
    "latency_percentiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.50), 6) AS p50,
           ROUND(quantile_cont(value, 0.90), 6) AS p90,
           ROUND(quantile_cont(value, 0.99), 6) AS p99,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    note="Exact interpolated percentiles per group (the qa_analytics "
    "processing_time distribution the reference only averages, "
    "qa_analytics_service.py:158-193). At 100 TB swap percentile() for "
    "approx_percentile() — same plan shape, bounded memory.",
)
def q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.90)"), 6).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "monthly_status_pivot",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
    FROM orders GROUP BY 1
    """,
    note="Pivot (A7's status×time breakdown generalized): one scan, "
    "conditional sums per status column — the map-side-combined form of "
    "groupBy().pivot().",
)
def q_monthly_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")
    return (
        orders.groupBy(month)
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "month",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_filled"),
            F.coalesce("P", F.lit(0)).alias("n_pending"),
        )
    )


@register(
    "moving_avg_7d",
    """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS cnt
      FROM events GROUP BY 1
    )
    SELECT day, cnt,
           ROUND(AVG(cnt) OVER (ORDER BY day
                                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
                 4) AS ma7
    FROM daily
    """,
    note="Window frame spec (rowsBetween — absent in the reference, "
    "free in Spark): 7-day trailing moving average over the daily "
    "trend. The global window is safe here because the input is already "
    "one row per day (30 rows), not per event.",
)
def q_moving_avg_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day", "cnt", F.round(F.avg("cnt").over(w), 4).alias("ma7")
    )


#: High-value filter for the gap-fill query: sparse enough to leave
#: missing (type, day) cells at every test SF (3 gaps at sf0.1, ~100 at
#: sf0.01), so the densify + forward-fill machinery is exercised for
#: real, not vacuously.
GAP_VALUE_MIN = 250


def gap_fill_daily(events: DataFrame, value_min: float = GAP_VALUE_MIN) -> DataFrame:
    """Dense per-(event_type, day) daily series over high-value events,
    with missing days filled: cnt=0, day_sum NULL, and ``filled_sum``
    forward-filled from the last observed day (``last IGNORE NULLS``).

    The time-series densify idiom: a calendar spine (``sequence`` over
    the observed min..max day — one tiny aggregate) cross-joined with
    the distinct-type dim (both broadcast — dims, not data), left-joined
    against the daily aggregate, then one window per type for the
    carry-forward.  The event stream is shuffled once for the daily
    aggregate; the fill pass runs over (types x days) rows — calendar-
    sized, independent of event volume, which is what makes the shape
    safe at 100 TB.  Leading gaps (before a type's first observed day)
    keep ``filled_sum`` NULL by definition.
    """
    ev = events.filter(F.col("value") > value_min).select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("cnt"), dsum("value").alias("day_sum")
    )
    bounds = ev.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    cal = bounds.select(
        F.explode(F.expr("sequence(mn, mx, interval 1 day)")).alias("day")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(cal))
    full = grid.join(daily, ["event_type", "day"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return full.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.coalesce("cnt", F.lit(0)).alias("cnt"),
        "day_sum",
        F.last("day_sum", ignorenulls=True).over(w).alias("filled_sum"),
        F.col("cnt").isNull().alias("is_gap"),
    ).orderBy("event_type", "day")


_GAP_FILL_SQL = f"""
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS day, value
  FROM events WHERE value > {GAP_VALUE_MIN}
),
daily AS (
  SELECT event_type, day, COUNT(*) AS cnt,
         {oracle_dsum('value')} AS day_sum
  FROM ev GROUP BY 1, 2
),
bounds AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM ev),
cal AS (
  SELECT CAST(UNNEST(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
grid AS (
  SELECT t.event_type, c.day
  FROM (SELECT DISTINCT event_type FROM ev) t CROSS JOIN cal c
)
SELECT g.event_type, CAST(g.day AS VARCHAR) AS day,
       COALESCE(d.cnt, 0) AS cnt, d.day_sum,
       LAST_VALUE(d.day_sum IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum,
       d.cnt IS NULL AS is_gap
FROM grid g
LEFT JOIN daily d ON d.event_type = g.event_type AND d.day = g.day
ORDER BY g.event_type, g.day
"""


@register(
    "gap_fill_daily",
    _GAP_FILL_SQL,
    note="Time-series densify + forward fill: calendar spine "
    "(sequence over observed min..max day) x distinct-type dim, "
    "left-joined against the daily aggregate, missing days get cnt=0 "
    "and last-observed-day carry-forward (last IGNORE NULLS window "
    f"per type).  High-value filter (value > {GAP_VALUE_MIN}) keeps "
    "real gaps at every SF.  Fill pass is calendar-sized, independent "
    "of event volume.",
)
def q_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gap_fill_daily(_t(spark, sf_dir, "events"))


def mv_merge_daily(events: DataFrame) -> DataFrame:
    """Incremental materialized-view maintenance: the daily (cnt, sum)
    aggregate maintained as BASE partials merged with DELTA partials
    (event_id % 10 == 7 simulates the newly-arrived batch), proven
    lossless because the oracle is the FULL recompute over all events —
    a hash match means partial-merge maintenance loses nothing.

    The algebra that makes this safe: partials keep the EXACT decimal
    accumulator (`functions/numeric` contract) and only the merged
    result rounds to double — merging already-rounded doubles would NOT
    equal recompute.  count/sum are the associative-merge pattern every
    streaming/IVM engine relies on (Materialize, Delta Live Tables);
    at 100 TB the base partials are a materialized table and only the
    delta aggregates per refresh — cost ∝ delta, not corpus.
    """
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    is_delta = F.col("event_id") % 10 == 7

    def partial(df: DataFrame, c: str, s: str) -> DataFrame:
        return df.groupBy(day).agg(
            F.count(F.lit(1)).alias(c),
            F.sum(F.col("value").cast("decimal(38,10)")).alias(s),
        )

    base = partial(events.filter(~is_delta), "c_b", "s_b")
    delta = partial(events.filter(is_delta), "c_d", "s_d")
    zero = F.lit(0).cast("decimal(38,10)")
    return (
        base.join(delta, "day", "full_outer")
        .select(
            "day",
            (
                F.coalesce("c_b", F.lit(0)) + F.coalesce("c_d", F.lit(0))
            ).alias("cnt"),
            F.round(
                (F.coalesce("s_b", zero) + F.coalesce("s_d", zero)).cast(
                    "double"
                ),
                2,
            ).alias("sum_value"),
        )
        .orderBy("day")
    )


@register(
    "mv_merge_daily",
    f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS cnt,
           {oracle_dsum('value')} AS sum_value
    FROM events GROUP BY 1 ORDER BY 1
    """,
    note="Incremental materialized-view maintenance: daily (cnt, sum) "
    "kept as base partials merged with delta partials (event_id%10=7 "
    "is the arriving batch) on their EXACT decimal accumulators, "
    "rounding only after the merge.  The oracle is the FULL recompute "
    "— the hash match IS the proof that partial-merge maintenance "
    "loses nothing.  At scale the base partials are a materialized "
    "table and refresh cost is ∝ delta, not corpus.",
)
def q_mv_merge_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mv_merge_daily(_t(spark, sf_dir, "events"))


#: Word-or-single-punctuation tokens — the BPE-ish pre-tokenizer split.
_BPE_RE = r"\w+|[^\w\s]"


@register(
    "token_counts_bpe",
    f"""
    SELECT source,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_RE}'))) AS BIGINT)
               AS total_tokens,
           ROUND(AVG(len(regexp_extract_all(text, '{_BPE_RE}'))), 4)
               AS avg_tokens,
           COUNT(*) AS docs
    FROM documents GROUP BY source
    """,
    note="Token counting with a BPE-ish pre-tokenizer regex (words + "
    "single punctuation) — the training-data budget estimator; "
    "whitespace-token variant in token_stats_by_source.",
)
def q_token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_tok = F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0)))
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(n_tok).alias("total_tokens"),
            F.round(F.avg(n_tok), 4).alias("avg_tokens"),
            F.count(F.lit(1)).alias("docs"),
        )
    )


def knn_lsh_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH demonstration (retired from the
    registry surface, VERDICT r4 item 8: MLlib's seed-internal hashing
    is rows-only by construction, never hash-checkable; the persisted
    IVF index is the engine's served ANN).  Kept as a library path +
    recall property test (tests/test_scale_queries.py): it is the
    off-the-shelf alternative a deployment might prefer."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import Vectors

    emb = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", array_to_vector(F.col("embedding")).alias("features"))
        .cache()
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=4,
        seed=42,
    )
    model = lsh.fit(emb)
    dim = len(emb.first()["features"])
    key = Vectors.dense([0.1] * dim)
    out = model.approxNearestNeighbors(emb, key, 10)
    return out.select(
        "vec_id", F.round(F.col("distCol"), 6).alias("l2_dist")
    )


_RAW_EMAILS = [
    (
        "Message-ID: <m1@example.com>\r\nFrom: alice@example.com\r\n"
        "To: bob@example.com\r\nSubject: Q3 invoice\r\n"
        "Date: Mon, 01 Jul 2024 10:00:00 +0000\r\n\r\n"
        "<html><body><p>Invoice total is <b>420.50</b> USD.</p>"
        "<style>p{color:red}</style></body></html>"
    ),
    (
        "Message-ID: <m2@example.com>\r\nFrom: carol@example.com\r\n"
        "To: dave@example.com\r\nSubject: Re: meeting notes\r\n"
        "Date: Tue, 02 Jul 2024 11:30:00 +0000\r\n\r\n"
        "Plain text body with an &amp; entity and   extra   spaces."
    ),
    (
        "From: eve@example.com\r\nTo: frank@example.com\r\n"
        "Subject: no message id\r\n\r\n"
        "<div>Missing Message-ID falls back to a content hash.</div>"
    ),
]


def _email_oracle_sql() -> str:
    """DuckDB twin of the email parse over the same inlined raw
    literals.  Header captures use ``[^\\r\\n]*`` because RE2's
    multiline ``$`` (unlike Java's) does not treat ``\\r\\n`` as a line
    terminator and would swallow the ``\\r``."""

    def lit(s: str) -> str:
        esc = (
            s.replace("\\", "\\\\")
            .replace("'", "''")
            .replace("\r", "\\r")
            .replace("\n", "\\n")
        )
        return f"E'{esc}'"

    values = ", ".join(f"({lit(r)})" for r in _RAW_EMAILS)

    def hdr(name: str) -> str:
        return (
            f"regexp_extract(head, '(?im)^{name}:[ \\t]*([^\\r\\n]*)', 1)"
        )

    return f"""
    WITH raw(raw) AS (VALUES {values}),
    parts AS (
      SELECT regexp_extract(raw, '(?s)^(.*?)\\r?\\n\\r?\\n', 1) AS head,
             regexp_replace(raw, '(?s)^.*?\\r?\\n\\r?\\n', '') AS body
      FROM raw
    ),
    hdr AS (
      SELECT {hdr('Message-ID')} AS message_id,
             {hdr('Subject')} AS subject,
             {hdr('From')} AS sender,
             body FROM parts
    ),
    stripped AS (
      SELECT message_id, subject, sender,
        trim(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(body,
                    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
              '<[^>]+>', ' ', 'g'),
            '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
            '&quot;', '"'), '&#39;', chr(39)),
          '\\s+', ' ', 'g')) AS body_text
      FROM hdr
    )
    SELECT COALESCE(NULLIF(message_id, ''),
                    'email-' || md5(body_text)) AS _id,
           subject AS filename, 'email' AS file_type,
           CAST(length(body_text) AS BIGINT) AS size,
           body_text AS extracted_text, sender
    FROM stripped ORDER BY filename
    """


@register(
    "email_ingest",
    _email_oracle_sql(),
    note="S7/S8 ingest: RFC-822-ish raw text → header regexes + HTML "
    "strip (F17) → document rows with email provenance "
    "(gmail_service.py:103-398, apis/v1/gmail.py:749-844); the oracle "
    "re-parses the same raw literals in DuckDB.",
)
def q_email_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark.sources.email import emails_to_documents, parse_raw_emails

    raw = spark.createDataFrame([(r,) for r in _RAW_EMAILS], ["raw"])
    docs = emails_to_documents(parse_raw_emails(raw))
    return docs.select(
        "_id",
        "filename",
        "file_type",
        "size",
        "extracted_text",
        F.col("email_metadata")["sender"].alias("sender"),
    ).orderBy("filename")


@register(
    "asof_join_attribution",
    """
    SELECT p.event_id, p.user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           c.event_id AS click_event_id,
           c.ts_us AS click_ts_us,
           ROUND(p.value, 4) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN LATERAL (
      SELECT event_id, epoch_us(ts) AS ts_us
      FROM events c
      WHERE c.event_type = 'click'
        AND c.user_id = p.user_id AND c.ts <= p.ts
      ORDER BY c.ts DESC, c.event_id DESC LIMIT 1
    ) c ON TRUE
    """,
    note="As-of join (absent in the reference and in Spark's builtin "
    "joins): each purchase attributed to the user's latest click at or "
    "before it. Implemented sort-based — tag both streams, union, one "
    "window over (user_id; ts, tag, event_id) carrying last-seen click "
    "via last(ignorenulls) — ONE shuffle on user_id, no per-row probe "
    "and no nested-loop range join, which is the shape that survives "
    "100 TB (a range-predicate join would BroadcastNestedLoop). "
    "Deterministic tie-break: at equal ts the click sorts first and the "
    "larger event_id wins, matching the oracle's ORDER BY ... LIMIT 1.",
)
def q_asof_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("tag"),
        F.col("event_id"),
        F.lit(None).cast("double").alias("value"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("tag"), "event_id", "value"
    )
    unioned = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_click = F.col("tag") == 0
    carried = unioned.select(
        "*",
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("click_event_id"),
        F.last(F.when(is_click, F.unix_micros("ts")), ignorenulls=True)
        .over(w)
        .alias("click_ts_us"),
    )
    return carried.filter(F.col("tag") == 1).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        "click_event_id",
        "click_ts_us",
        F.round("value", 4).alias("purchase_value"),
    )


@register(
    "range_join_clicks_1h",
    """
    SELECT p.event_id, p.user_id, COUNT(c.event_id) AS clicks_1h
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND epoch_us(c.ts) >  epoch_us(p.ts) - 3600000000
     AND epoch_us(c.ts) <= epoch_us(p.ts)
    GROUP BY p.event_id, p.user_id
    """,
    note="Binned range join (absent in the reference; Spark would plan a "
    "raw range-predicate join as a nested-loop): clicks in the hour "
    "before each purchase, per user. Each click is replicated to its "
    "hour bucket and the next, the join is a plain equi-join on "
    "(user_id, bucket) with the exact range predicate as a residual — "
    "2x the click rows through one hash shuffle instead of an O(n*m) "
    "probe; replication factor = 1 + window/bucket, chosen equal here.",
)
def q_range_join_clicks_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    hour_us = 3_600_000_000
    events = _t(spark, sf_dir, "events")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.unix_micros("ts").alias("c_ts_us"),
            F.col("event_id").alias("c_id"),
        )
        .select(
            "*",
            F.explode(
                F.array(
                    F.floor(F.col("c_ts_us") / hour_us),
                    F.floor(F.col("c_ts_us") / hour_us) + 1,
                )
            ).alias("c_bucket"),
        )
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("p_ts_us"),
        F.floor(F.unix_micros("ts") / hour_us).alias("p_bucket"),
    )
    joined = purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_bucket") == F.col("p_bucket"))
        & (F.col("c_ts_us") > F.col("p_ts_us") - hour_us)
        & (F.col("c_ts_us") <= F.col("p_ts_us")),
        "left",
    )
    return joined.groupBy("event_id", "user_id").agg(
        F.count("c_id").alias("clicks_1h")
    )


#: Mixture policy for the resampler demo: curated sources kept whole,
#: mid-tier halved, the long tail at 20%.
_MIX_RATES = {"src0": 1.0, "src1": 1.0, "src2": 0.5, "src3": 0.5}
_MIX_DEFAULT = 0.2


@register(
    "mixture_resample",
    None,  # SQL injected below (needs the shared predicate renderer)
    note="Training-data mixture resampling: per-source hash-bucket "
    "sampling rates (curated 100%, mid-tier 50%, tail 20%) as a pure "
    "pushdown-safe filter — stable under repartitioning/re-runs and "
    "auditable row-by-row, unlike RNG sampling (operators/sampling.py). "
    "Per-source kept docs + token budget verify the mixture exactly.",
)
def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark import textstats as ts
    from sortify_spark.operators.sampling import stratified_hash_sample

    kept = stratified_hash_sample(
        _t(spark, sf_dir, "documents"),
        "source",
        _MIX_RATES,
        _MIX_DEFAULT,
        "doc_id",
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(ts.token_count(F.col("text"))).cast("bigint").alias("tokens"),
    )


def _mixture_oracle_sql() -> str:
    from sortify_spark import textstats as ts
    from sortify_spark.operators.sampling import stratified_oracle_predicate

    pred = stratified_oracle_predicate(
        "source", _MIX_RATES, _MIX_DEFAULT, "doc_id"
    )
    toks = ts.TOKEN_COUNT_SQL.format(t="text")
    return f"""
    SELECT source, COUNT(*) AS docs,
           CAST(SUM({toks}) AS BIGINT) AS tokens
    FROM documents WHERE {pred} GROUP BY source
    """


from sortify_spark.queries import REGISTRY as _REGISTRY  # noqa: E402

_REGISTRY["mixture_resample"].sql = _mixture_oracle_sql()


@register(
    "quality_quartile_filter",
    None,  # SQL injected below
    note="Distribution-based quality filtering: keep each source's top "
    "75% by composite quality score using a tie-aware percent_rank "
    "window (equal scores get equal rank in every engine, so the kept "
    "set is portable — no float-threshold boundary flaps). One shuffle "
    "on source; the constant-threshold twin is corpus_curation.",
)
def q_quality_quartile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark import textstats as ts
    from sortify_spark.functions.numeric import davg

    docs = _t(spark, sf_dir, "documents").withColumn(
        "q", ts.quality_score(F.col("text"), F.col("n_chars"))
    )
    w = Window.partitionBy("source").orderBy(F.col("q").asc())
    kept = docs.withColumn("pr", F.percent_rank().over(w)).filter(
        F.col("pr") >= 0.25
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_kept"),
        davg("q").alias("avg_quality"),
    )


def _quartile_oracle_sql() -> str:
    from sortify_spark import textstats as ts
    from sortify_spark.functions.numeric import oracle_davg

    q = ts.quality_score_sql("text", "n_chars")
    return f"""
    WITH scored AS (
      SELECT source, {q} AS q FROM documents
    ),
    ranked AS (
      SELECT source, q,
             percent_rank() OVER (PARTITION BY source ORDER BY q ASC) AS pr
      FROM scored
    )
    SELECT source, COUNT(*) AS docs_kept,
           {oracle_davg('q')} AS avg_quality
    FROM ranked WHERE pr >= 0.25 GROUP BY source
    """


_REGISTRY["quality_quartile_filter"].sql = _quartile_oracle_sql()


@register(
    "latency_percentiles_approx",
    None,  # sketch-based; engine-specific numeric results (rows-only)
    note="The 100 TB twin of latency_percentiles: approx_percentile "
    "(Greenwald-Khanna sketch, bounded memory per group, "
    "accuracy 10000) — same plan shape as the exact version; sketches "
    "merge associatively so partial aggregation still applies.",
)
def q_latency_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(
                F.expr("approx_percentile(value, 0.50, 10000)"), 6
            ).alias("p50"),
            F.round(
                F.expr("approx_percentile(value, 0.90, 10000)"), 6
            ).alias("p90"),
            F.round(
                F.expr("approx_percentile(value, 0.99, 10000)"), 6
            ).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "stratified_sample_per_source",
    """
    SELECT source, doc_id, sample_rank FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= 5
    ORDER BY source, doc_id
    """,
    note="Stratified exact-N sampling: 5 docs per source stratum, chosen "
    "by content-hash order so the sample is deterministic, stable under "
    "repartitioning, and oracle-checkable (seeded Bernoulli is neither). "
    "One shuffle on the stratum key; rank state is O(1) per partition "
    "stream. When N must scale with stratum size, prefer the pure "
    "hash-predicate sample (sampled_scan) — no window, no skew exposure; "
    "exact-N per stratum inherently keys on the stratum and inherits its "
    "skew (salt + two-phase top-N if a stratum dominates).",
)
def q_stratified_sample_per_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string").cast("binary")),
            F.col("doc_id"),
        )
    )
    return (
        docs.select("source", "doc_id", rn.alias("sample_rank"))
        .filter(F.col("sample_rank") <= 5)
        .orderBy("source", "doc_id")
    )


@register(
    "sliding_window_counts",
    """
    WITH e AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts) / 1800) AS BIGINT) * 1800 AS w0
      FROM events
    ),
    x AS (SELECT event_type, unnest([w0, w0 - 1800]) AS ws FROM e)
    SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S')
               AS win_start,
           event_type,
           COUNT(*) AS cnt
    FROM x GROUP BY 1, 2 ORDER BY 1, 2
    """,
    note="Sliding-window aggregation: 1-hour windows every 30 minutes "
    "(each event lands in exactly 2 windows). Spark's window() expands "
    "rows window-count-fold BEFORE the aggregate, so the shuffle carries "
    "len/slide x rows — the reason hopping windows should keep small "
    "len/slide ratios at scale. Oracle derives the same epoch-aligned "
    "window starts arithmetically. Batch twin of the streaming "
    "windowed-agg in streaming/pipeline.py.",
)
def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "cnt",
        )
        .orderBy("win_start", "event_type")
    )


from sortify_spark.textstats import TOKEN_COUNT_SQL as _TOK_SQL  # noqa: E402


@register(
    "token_budget_mixture",
    f"""
    WITH tok AS (
      SELECT source, doc_id,
             {{tokens}} AS tok
      FROM documents
    ),
    per AS (SELECT source, CAST(SUM(tok) AS BIGINT) AS toks
            FROM tok GROUP BY source),
    rates AS (
      SELECT source,
             LEAST(1.0, (10000.0 / (SELECT COUNT(*) FROM per))
                        / CAST(toks AS DOUBLE)) AS rate
      FROM per
    )
    SELECT t.source,
           COUNT(*) AS docs_kept,
           CAST(SUM(t.tok) AS BIGINT) AS tokens_kept
    FROM tok t JOIN rates r ON t.source = r.source
    WHERE ('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 7))::BIGINT
          % 1000 < CAST(FLOOR(r.rate * 1000) AS BIGINT)
    GROUP BY t.source
    ORDER BY t.source
    """.replace("{tokens}", _TOK_SQL.format(t="text")),
    note="Self-tuning mixture: a global 10k-token budget split equally "
    "across sources; per-source keep rate = min(1, share/tokens). "
    "Two-pass plan — a per-source aggregate the size of the source "
    "list, broadcast back, then a pure deterministic hash filter "
    "(the fixed-rate policy variant is mixture_resample). The "
    "single-partition window counting strata runs over the aggregated "
    "frame (dozens of rows), bounded by construction.",
)
def q_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark import textstats as ts
    from sortify_spark.operators.sampling import budget_balanced_sample

    docs = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", "text"
    )
    tok = ts.token_count(F.col("text"))
    kept = budget_balanced_sample(
        docs.withColumn("tok", tok), "source", F.col("tok"), "doc_id", 10_000
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum("tok").cast("bigint").alias("tokens_kept"),
        )
        .orderBy("source")
    )


#: Temperature-sampling constants: α = 0.5 (expressed as SQRT so both
#: engines use the IEEE-correctly-rounded libm sqrt — no pow), keeping
#: ~TEMP_KEEP_FRAC of total tokens, redistributed toward tail sources.
TEMP_KEEP_FRAC = 0.5


@register(
    "temperature_mixture",
    None,  # SQL injected below (shares the hash-bucket renderer)
    note="Temperature-scaled mixture sampling (the GPT-3 / multilingual "
    "alpha-sampling shape at alpha=0.5): per-source keep rates derived "
    "FROM THE DATA so kept token mass is proportional to sqrt(source "
    "token mass) — tail sources upweighted, head sources damped — "
    "capped at 1 and resolved to 1/1000 hash buckets (the same "
    "deterministic, pushdown-safe filter as mixture_resample; no RNG). "
    "sqrt is IEEE-correctly-rounded in both engines and the rate "
    "denominator accumulates in DECIMAL, so the kept set is "
    "bit-portable.  One tiny per-source aggregate + a broadcast join; "
    "the corpus scan stays a pure filter.",
)
def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark import textstats as ts
    from sortify_spark.operators.sampling import BUCKETS, hash_bucket

    docs = _t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(ts.token_count(F.col("text"))).cast("bigint").alias("tok")
    )
    per_src = per_src.withColumn(
        "sq", F.round(F.sqrt(F.col("tok").cast("double")), 6)
    )
    tot = per_src.agg(
        F.sum(F.col("sq").cast("decimal(38,10)"))
        .cast("double")
        .alias("S"),
        F.sum("tok").cast("bigint").alias("T"),
    )
    rates = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "tok",
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(TEMP_KEEP_FRAC)
                * F.col("T").cast("double")
                / (F.col("sq") * F.col("S")),
            ),
            6,
        ).alias("rate"),
    )
    kept = docs.join(F.broadcast(rates), "source").filter(
        hash_bucket("doc_id")
        < F.floor(F.col("rate") * BUCKETS).cast("bigint")
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum(ts.token_count(F.col("text")))
            .cast("bigint")
            .alias("tokens_kept"),
        )
        .join(rates, "source")
        .select(
            "source",
            F.col("tok").alias("tokens_total"),
            "rate",
            "docs_kept",
            "tokens_kept",
        )
        .orderBy("source")
    )


def _temperature_oracle_sql() -> str:
    from sortify_spark import textstats as ts
    from sortify_spark.operators.sampling import BUCKETS

    toks = ts.TOKEN_COUNT_SQL.format(t="text")
    return f"""
    WITH per_src AS (
      SELECT source, CAST(SUM({toks}) AS BIGINT) AS tok
      FROM documents GROUP BY source
    ),
    sq AS (
      SELECT source, tok,
             ROUND(sqrt(CAST(tok AS DOUBLE)), 6) AS sq
      FROM per_src
    ),
    tot AS (
      SELECT CAST(SUM(CAST(sq AS DECIMAL(38,10))) AS DOUBLE) AS S,
             CAST(SUM(tok) AS BIGINT) AS T
      FROM sq
    ),
    rates AS (
      SELECT source, tok,
             ROUND(LEAST(1.0,
                 {TEMP_KEEP_FRAC} * CAST(T AS DOUBLE) / (sq * S)),
                   6) AS rate
      FROM sq, tot
    ),
    kept AS (
      SELECT d.source, d.text
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT
            % {BUCKETS}
            < CAST(FLOOR(r.rate * {BUCKETS}) AS BIGINT)
    )
    SELECT k.source, r.tok AS tokens_total, r.rate,
           COUNT(*) AS docs_kept,
           CAST(SUM({ts.TOKEN_COUNT_SQL.format(t="k.text")}) AS BIGINT)
               AS tokens_kept
    FROM kept k JOIN rates r ON k.source = r.source
    GROUP BY k.source, r.tok, r.rate
    ORDER BY k.source
    """


_REGISTRY["temperature_mixture"].sql = _temperature_oracle_sql()


@register(
    "cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id,
             CAST(FLOOR(epoch(MIN(ts)) / 604800) AS BIGINT) AS cohort_wk
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             f.cohort_wk,
             CAST(FLOOR(epoch(e.ts) / 604800) AS BIGINT)
               - f.cohort_wk AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_wk, week_offset, COUNT(*) AS active_users
    FROM activity
    GROUP BY cohort_wk, week_offset
    ORDER BY cohort_wk, week_offset
    """,
    note="Cohort retention over the events table: users bucketed by "
    "their FIRST-activity epoch-week, counted distinct in each later "
    "week offset — the canonical activity-analytics triangle (the "
    "reference's dashboard only counts totals, "
    "analytics_service.py).  Two map-side-combined hash aggregates "
    "joined on user_id — the first-activity table is per-user (small "
    "relative to events) and joins back BEFORE the distinct, so no "
    "events-sized shuffle beyond the per-user aggregate; epoch-week "
    "arithmetic is integer floor division, identical in both engines.",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ep")
    )
    # 604800e6 us per week; unix_micros pairs with DuckDB epoch(ts)
    wk = lambda c: F.floor(c / F.lit(604_800_000_000)).cast("bigint")  # noqa: E731
    firsts = ev.groupBy("user_id").agg(
        wk(F.min("ep")).alias("cohort_wk")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_wk",
            (wk(F.col("ep")) - F.col("cohort_wk")).alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_wk", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .orderBy("cohort_wk", "week_offset")
    )
