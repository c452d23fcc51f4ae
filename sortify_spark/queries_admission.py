"""Driver-verified STREAMING COMPOSITIONS (VERDICT r4 item 1): the
admission pipeline and the rollup stream run end-to-end — real
``writeStream``/``foreachBatch`` micro-batches through the versioned
store — inside a registered query whose DuckDB oracle replays the same
batch sequence from the raw tables.

``admission_replay`` is the flagship: ST1's real-world analog (reference
ingest queue ``vectorization_queue.py:18-177``) streamed as three
deterministic micro-batches through :func:`streaming.pipeline.
admission_stream` with ALL screens on (exact fingerprint twin, verified
MinHash-LSH near-dup, semantic near-dup via the expression encoder) and
the INDEXED corpus path (versioned band + embedding side tables,
self-healing catch-up).  The oracle recomputes the sequential admission
decision purely in SQL: the full LSH pair closure and the semantic pair
closure are computed once over ``documents`` (banding is per-doc
deterministic, so closure-pairs restricted to batch × admitted-corpus
crossings are exactly the engine's band-join candidates), then each
batch's admitted set is derived against the PREVIOUS batches' admitted
corpus — not against all earlier docs, which is what makes this an
end-to-end check of the evolving-corpus semantics rather than a rerun
of the kernel oracles.

``rollup_replay`` drives :func:`streaming.pipeline.rollup_stream` (the
Timescale-style continuous aggregate): three event micro-batches commit
per-(day, batch_id) decimal partials through the versioned store, and
the read-time fold must equal the one-shot batch daily trend —
decimal-exact, so the hash match proves both the partial arithmetic and
the exactly-once commit keying.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sortify_spark import dedup
from sortify_spark import textstats as ts
from sortify_spark.dedup import DOCSEM_BITS, DOCSEM_DIM, DOCSEM_TAU
from sortify_spark.functions import sql_embed as SE
from sortify_spark.functions.numeric import oracle_davg
from sortify_spark.queries import register, _t
from sortify_spark.search.knn import lsh_key_sql
from sortify_spark.streaming import await_or_raise

#: micro-batches fed to each streaming replay (batch b = id % N == b)
N_BATCHES = 3
_SHINGLE_K = 3
_THRESHOLD = 0.5


def _admission_oracle_sql(n_batches: int = N_BATCHES) -> str:
    """Sequential SQL replay of the 3-screen admission over ``n_batches``
    micro-batches.  Pair closures are global (deterministic per-doc
    banding/embedding); admission is evaluated batch-by-batch against
    the admitted-so-far corpus CTE.  The semantic keys are CENTERED
    hyperplane buckets — the center is the per-dim decimal mean of the
    FIRST admitted batch's embeddings, exactly the center the engine
    pins before its first commit (origin hyperplanes degenerate to one
    hot bucket on cone-clustered bag-of-token embeddings)."""
    from sortify_spark.search.knn import embedding_mean_sql

    fp = ts.FINGERPRINT_SQL.format(t="text")
    pairs = dedup.minhash_lsh_oracle_sql(
        threshold=_THRESHOLD, shingle_k=_SHINGLE_K, source="documents"
    )
    dim = DOCSEM_DIM
    parts = [
        f"d AS (SELECT doc_id, source, text, {fp} AS fp FROM documents)",
        f"pairs AS ({pairs})",
        f"t AS (SELECT doc_id, {SE.tokens_sql('text')} AS toks "
        "FROM documents)",
        f"r AS (SELECT doc_id, {SE.raw_embed_sql('toks', dim)} AS raw "
        "FROM t)",
        f"nn AS (SELECT doc_id, raw, {SE.norm_sql('raw')} AS nrm FROM r)",
        f"e AS (SELECT doc_id, {SE.normalize_sql('raw', 'nrm')} AS e "
        "FROM nn)",
    ]
    for b in range(n_batches):
        # in-batch exact dedup: min-doc_id representative per fingerprint
        parts.append(
            f"""ib{b} AS (
  SELECT doc_id, source, fp FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM d WHERE doc_id % {n_batches} = {b}
  ) WHERE rn = 1
)"""
        )
        if b == 0:
            parts.append("ad0 AS (SELECT doc_id, source, fp FROM ib0)")
            parts.append("c0 AS (SELECT * FROM ad0)")
            # center pinned at batch 0, then the centered key + the
            # global semantic pair closure over it
            parts.append(
                "cen AS ("
                + embedding_mean_sql(
                    "(SELECT e.e AS e FROM e JOIN ad0 USING (doc_id)) "
                    "__ce",
                    dim,
                )
                + ")"
            )
            parts.append(
                "k AS (SELECT doc_id, e, "
                + lsh_key_sql("e", DOCSEM_BITS, center_expr="cen.c")
                + " AS bucket FROM e, cen)"
            )
            parts.append(
                f"""sem AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM k a JOIN k b ON a.bucket = b.bucket AND a.doc_id <> b.doc_id
  WHERE ROUND({SE.dot_sql('a.e', 'b.e', dim)}, 6) >= {DOCSEM_TAU}
)"""
            )
            continue
        prev = f"c{b - 1}"
        parts.append(
            f"""ad{b} AS (
  SELECT x.doc_id, x.source, x.fp FROM ib{b} x
  WHERE NOT EXISTS (SELECT 1 FROM {prev} c WHERE c.fp = x.fp)
    AND NOT EXISTS (
      SELECT 1 FROM pairs p JOIN {prev} c
        ON (p.id_a = x.doc_id AND p.id_b = c.doc_id)
        OR (p.id_b = x.doc_id AND p.id_a = c.doc_id))
    AND NOT EXISTS (
      SELECT 1 FROM sem s JOIN {prev} c ON s.id_b = c.doc_id
      WHERE s.id_a = x.doc_id)
)"""
        )
        parts.append(
            f"c{b} AS (SELECT * FROM {prev} "
            f"UNION ALL SELECT * FROM ad{b})"
        )
    last = f"c{n_batches - 1}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT doc_id, source, doc_id % {n_batches} AS batch
FROM {last} ORDER BY doc_id"""
    )


@register(
    "admission_replay",
    _admission_oracle_sql(),
    note="End-to-end streaming admission (ST1 analog, reference "
    "vectorization_queue.py:18-177): documents split into "
    f"{N_BATCHES} deterministic micro-batches, each run through "
    "admission_stream with the exact-twin, verified-LSH and semantic "
    "screens AND the versioned band/embedding index side tables "
    "(use_index=True, self-healing catch-up).  The final admitted "
    "corpus — every doc id, its source, and its admitting batch — is "
    "hash-checked against a sequential SQL replay whose per-batch "
    "screens run against the admitted-so-far corpus, proving the "
    "evolving-corpus semantics, not just the kernels.  Between "
    "batches the LSM side tables are FOLDED into their base level "
    "(sources.versioned.fold_partitions) — compaction is pure layout, "
    "so the admitted corpus must hash-match the same oracle.",
)
def q_admission_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark.sources.versioned import (
        fold_partitions,
        read_versioned,
    )
    from sortify_spark.streaming.pipeline import admission_stream

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    tmp = tempfile.mkdtemp(prefix="sortify_admission_")
    inp, table = f"{tmp}/in", f"{tmp}/table"
    for b in range(N_BATCHES):
        docs.filter(F.col("doc_id") % N_BATCHES == b).coalesce(
            1
        ).write.mode("append").parquet(inp)
        q = admission_stream(
            spark,
            inp,
            table,
            f"{tmp}/ckpt",  # shared checkpoint → only NEW files per run
            shingle_k=_SHINGLE_K,
            threshold=_THRESHOLD,
            semantic_tau=DOCSEM_TAU,
            use_index=True,
        )
        await_or_raise(q, 600, "stream")
        if b == N_BATCHES // 2:
            # mid-stream LSM maintenance: fold the per-batch side
            # partitions into base level -1; later batches read the
            # folded index and must admit identically
            fold_partitions(spark, f"{table}__bands", "pb", -1)
            fold_partitions(spark, f"{table}__emb", "pb", -1)
    return (
        read_versioned(spark, table, "source")
        .select(
            "doc_id",
            "source",
            (F.col("doc_id") % N_BATCHES).alias("batch"),
        )
        .orderBy("doc_id")
    )


@register(
    "rollup_replay",
    f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) AS cnt,
           {oracle_davg('value')} AS avg_value
    FROM events GROUP BY 1 ORDER BY 1
    """,
    note="End-to-end continuous aggregate: events stream in "
    f"{N_BATCHES} micro-batches through rollup_stream (per-(day, "
    "batch_id) decimal partials committed atomically via the versioned "
    "store — the commit IS the exactly-once marker), then the "
    "read-time fold must hash-match the one-shot batch daily trend.  "
    "Late data needs no watermark: old days simply gain partial rows.",
)
def q_rollup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark.streaming.pipeline import read_rollup, rollup_stream

    events = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    tmp = tempfile.mkdtemp(prefix="sortify_rollup_")
    inp, table = f"{tmp}/in", f"{tmp}/table"
    for b in range(N_BATCHES):
        events.filter(F.col("event_id") % N_BATCHES == b).coalesce(
            1
        ).write.mode("append").parquet(inp)
        q = rollup_stream(spark, inp, table, f"{tmp}/ckpt")
        await_or_raise(q, 600, "stream")
    return read_rollup(spark, table).orderBy("day")


def _vectorize_replay_oracle() -> str:
    from sortify_spark.pipelines import ingest_vectorize_expr_oracle_sql
    from sortify_spark.queries_e2e import E2E_DIM, E2E_DOC_LIMIT

    ctes = ingest_vectorize_expr_oracle_sql(
        doc_limit=E2E_DOC_LIMIT, chunk_size=128, overlap=32, dim=E2E_DIM
    )
    return f"""
    WITH {ctes}
    SELECT vtype, COUNT(*) AS cnt,
           CAST(COUNT(DISTINCT document_id) AS BIGINT) AS n_docs,
           CAST(SUM(length(chunk_text)) AS BIGINT) AS sum_chars,
           ROUND(CAST(SUM(CAST(ROUND(
               list_reduce(e, (a, b) -> a + b), 6) AS DECIMAL(38,10)))
             AS DOUBLE), 4) AS emb_checksum
    FROM vec GROUP BY vtype ORDER BY vtype
    """


@register(
    "vectorize_replay",
    _vectorize_replay_oracle(),
    note="ST1 end-to-end, hash-checked: documents stream in "
    f"{N_BATCHES} micro-batches through vectorize_stream with the "
    "Catalyst expression encoder (zero Python in the plan), appending "
    "to the vectors sink; the per-vtype audit of the FINAL sink "
    "(counts, chunk boundaries via total chars, decimal embedding "
    "checksum) must equal the one-shot batch ingest replayed from raw "
    "text by the oracle — the batch/stream parity claim as a driver "
    "row (reference write path semantic_summary_service.py:257-431, "
    "queue vectorization_queue.py:18-177).",
)
def q_vectorize_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark.queries_e2e import E2E_DIM, E2E_DOC_LIMIT
    from sortify_spark.streaming.pipeline import vectorize_stream

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < E2E_DOC_LIMIT)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    tmp = tempfile.mkdtemp(prefix="sortify_vectorize_")
    inp, out = f"{tmp}/in", f"{tmp}/out"
    for b in range(N_BATCHES):
        docs.filter(F.col("doc_id") % N_BATCHES == b).coalesce(
            1
        ).write.mode("append").parquet(inp)
        q = vectorize_stream(
            spark,
            inp,
            out,
            f"{tmp}/ckpt",
            dim=E2E_DIM,
            embed_mode="expr",
            chunk_size=128,
            overlap=32,
        )
        await_or_raise(q, 600, "stream")
    vec = spark.read.parquet(out)
    rowsum = F.round(
        F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + x), 6
    )
    return (
        vec.groupBy("vtype")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("document_id").cast("bigint").alias("n_docs"),
            F.sum(F.length("chunk_text")).cast("bigint").alias(
                "sum_chars"
            ),
            F.round(
                F.sum(rowsum.cast("decimal(38,10)")).cast("double"), 4
            ).alias("emb_checksum"),
        )
        .orderBy("vtype")
    )


@register(
    "stream_stream_join_replay",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           epoch_us(c.ts) AS click_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND epoch_us(c.ts) >  epoch_us(p.ts) - 3600000000
     AND epoch_us(c.ts) <= epoch_us(p.ts)
    ORDER BY purchase_id, click_id
    """,
    note="Stream-stream event-time interval join end-to-end "
    "(purchases ⋈ clicks within the preceding hour, both sides "
    "watermarked; state bounded by the time-range condition): events "
    "stream in two event-time-ordered micro-batches — pairs spanning "
    "the batch boundary must come from buffered state — and the final "
    "parquet sink must equal the batch inner join exactly.  The "
    "streaming join class the reference lacks and the batch "
    "range_join_clicks_1h cannot express online.",
)
def q_stream_stream_join_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sortify_spark.streaming.pipeline import interval_join_stream

    events = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    cut = events.agg(
        F.expr("percentile_approx(unix_micros(ts), 0.5)")
    ).first()[0]
    tmp = tempfile.mkdtemp(prefix="sortify_ssjoin_")
    inp, out = f"{tmp}/in", f"{tmp}/out"
    # two event-time-ordered batches: the second never carries events
    # older than the first's watermark, so no pair can be dropped
    halves = [
        events.filter(F.unix_micros("ts") < cut),
        events.filter(F.unix_micros("ts") >= cut),
    ]
    for half in halves:
        half.coalesce(1).write.mode("append").parquet(inp)
        q = interval_join_stream(spark, inp, out, f"{tmp}/ckpt")
        await_or_raise(q, 600, "stream")
    return spark.read.parquet(out).orderBy("purchase_id", "click_id")


_UPSERT_KEYS = 120  #: key space — forces cross-batch overwrites


@register(
    "upsert_replay",
    f"""
    WITH rr AS (
      SELECT doc_id % {_UPSERT_KEYS} AS k, doc_id AS orig,
             doc_id % {N_BATCHES} AS b
      FROM documents
    ),
    rep AS (SELECT k, b, MAX(orig) AS orig FROM rr GROUP BY k, b),
    win AS (
      SELECT k, orig FROM (
        SELECT k, orig,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY b DESC) AS rn
        FROM rep
      ) WHERE rn = 1
    )
    SELECT w.k AS doc_id,
           'p' || CAST(w.k % 4 AS VARCHAR) AS source,
           d.lang, w.orig AS n_chars, d.text
    FROM win w JOIN documents d ON d.doc_id = w.orig
    ORDER BY doc_id
    """,
    note="Streaming keyed upsert end-to-end, hash-checked: "
    f"{N_BATCHES} micro-batches of key-unique rows (key = doc_id % "
    f"{_UPSERT_KEYS}, payload = the max-orig row of the batch) MERGE "
    "through upsert_stream(versioned=True) — atomic manifest-swap "
    "commits, partition = f(key) — and the FINAL table must be exactly "
    "last-writer-wins per key, full payload (text included) compared.  "
    "The exactly-once/replay side is live-tested in "
    "tests/test_pipelines.py; this row pins the CONTENT contract.",
)
def q_upsert_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark.sources.versioned import read_versioned
    from sortify_spark.streaming.pipeline import upsert_stream

    docs = _t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="sortify_upsert_")
    inp, table = f"{tmp}/in", f"{tmp}/table"
    for b in range(N_BATCHES):
        batch = docs.filter(F.col("doc_id") % N_BATCHES == b).select(
            (F.col("doc_id") % _UPSERT_KEYS).alias("k"),
            F.col("doc_id").alias("orig"),
            "text",
            "lang",
        )
        # key-unique within the batch (the upsert contract): keep the
        # max-orig row per key, payload carried via max_by
        feed = batch.groupBy("k").agg(
            F.max("orig").alias("n_chars"),
            F.max_by("text", "orig").alias("text"),
            F.max_by("lang", "orig").alias("lang"),
        ).select(
            F.col("k").alias("doc_id"),
            "text",
            "lang",
            F.concat(
                F.lit("p"), (F.col("k") % 4).cast("string")
            ).alias("source"),
            F.col("n_chars"),
        )
        feed.coalesce(1).write.mode("append").parquet(inp)
        q = upsert_stream(
            spark, inp, table, f"{tmp}/ckpt",
            keys=("doc_id",), partition_cols=("source",), versioned=True,
        )
        await_or_raise(q, 600, "stream")
    return (
        read_versioned(spark, table, "source")
        .select("doc_id", "source", "lang", "n_chars", "text")
        .orderBy("doc_id")
    )


_TRIGGER_FRAC = 0.45  #: threshold = ceil(frac * corpus) — crosses at batch 2


@register(
    "trigger_replay",
    f"""
    WITH b AS (
      SELECT CAST(doc_id % {N_BATCHES} AS INT) AS b, COUNT(*) AS n
      FROM documents GROUP BY 1
    ),
    n AS (
      SELECT MAX(CASE WHEN b = 0 THEN n END) AS n0,
             MAX(CASE WHEN b = 1 THEN n END) AS n1,
             MAX(CASE WHEN b = 2 THEN n END) AS n2,
             CAST(CEIL({_TRIGGER_FRAC} * SUM(n)) AS BIGINT) AS t
      FROM b
    ),
    s0 AS (SELECT *, n0 AS c0, n0 >= t AS f0 FROM n),
    s1 AS (SELECT *, (CASE WHEN f0 THEN 0 ELSE c0 END) + n1 AS c1 FROM s0),
    s2 AS (SELECT *, c1 >= t AS f1,
                  (CASE WHEN c1 >= t THEN 0 ELSE c1 END) + n2 AS c2
           FROM s1),
    s3 AS (SELECT *, c2 >= t AS f2,
                  CASE WHEN c2 >= t THEN 0 ELSE c2 END AS leftover
           FROM s2),
    fires AS (
      SELECT 0 AS batch, c0 AS total FROM s3 WHERE f0
      UNION ALL SELECT 1, c1 FROM s3 WHERE f1
      UNION ALL SELECT 2, c2 FROM s3 WHERE f2
    ),
    numbered AS (
      SELECT ROW_NUMBER() OVER (ORDER BY batch) AS seq, 'fire' AS kind,
             total
      FROM fires
    )
    SELECT seq, kind, total FROM numbered
    UNION ALL SELECT 99, 'leftover', leftover FROM s3
    ORDER BY seq
    """,
    note="ST2 end-to-end (the reference's count-threshold auto-"
    "clustering trigger, document_tasks_service.py:448+): documents "
    f"stream in {N_BATCHES} micro-batches through "
    "count_threshold_trigger with threshold = ceil("
    f"{_TRIGGER_FRAC} x corpus); the cumulative counter crosses on the "
    "second batch, the callback fires EXACTLY once with the cumulative "
    "total, a mid-stream RESTART (same checkpoint, no new files) must "
    "not re-fire or re-count (batch-id-keyed persisted counter), and "
    "the leftover counter after the final batch is exposed.  The "
    "oracle replays the fire/reset recursion over the batch sizes in "
    "SQL.",
)
def q_trigger_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from sortify_spark.streaming.pipeline import count_threshold_trigger

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    total = docs.count()
    threshold = math.ceil(_TRIGGER_FRAC * total)
    tmp = tempfile.mkdtemp(prefix="sortify_trigger_")
    inp, ckpt = f"{tmp}/in", f"{tmp}/ckpt"
    fired: list[int] = []
    for b in range(N_BATCHES):
        docs.filter(F.col("doc_id") % N_BATCHES == b).coalesce(
            1
        ).write.mode("append").parquet(inp)
        q = count_threshold_trigger(
            spark, inp, ckpt, threshold=threshold, on_threshold=fired.append
        )
        await_or_raise(q, 300, "stream")
        if b == 1:
            # mid-stream restart with no new input: the persisted
            # batch-id-keyed counter must neither re-fire nor re-count
            n_before = len(fired)
            q = count_threshold_trigger(
                spark,
                inp,
                ckpt,
                threshold=threshold,
                on_threshold=fired.append,
            )
            await_or_raise(q, 300, "stream")
            if len(fired) != n_before:
                raise AssertionError(
                    "restart re-fired the count-threshold trigger"
                )
    import json as _json
    import os as _os

    with open(_os.path.join(ckpt, "counter_state.json")) as fh:
        leftover = _json.load(fh)["count"]
    rows = [(i + 1, "fire", int(t)) for i, t in enumerate(fired)]
    rows.append((99, "leftover", int(leftover)))
    return spark.createDataFrame(
        rows, "seq long, kind string, total long"
    ).orderBy("seq")


# ---------------------------------------------------------------------------
# Streaming paragraph-level keep-first dedup replay
# ---------------------------------------------------------------------------


def _paradedup_oracle_sql(n_batches: int = N_BATCHES) -> str:
    from sortify_spark.functions.text import PARA_POS_BASE, PARA_W

    pw = PARA_W
    batch_base = 1 << 50  # doc_id * 2^20 + pidx < 2^50 at any test SF
    return f"""
WITH w AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
p0 AS (
  SELECT doc_id, source, w,
         unnest(range(0, (len(w) + {pw - 1}) // {pw})) AS pidx
  FROM w
),
p AS (
  SELECT doc_id, source, pidx,
         array_to_string(
             w[pidx * {pw} + 1 : pidx * {pw} + {pw}], ' ') AS ptext,
         doc_id % {n_batches} AS batch,
         (doc_id % {n_batches}) * {batch_base}
             + doc_id * {PARA_POS_BASE} + pidx AS gkey
  FROM p0
),
winners AS (SELECT ptext, MIN(gkey) AS w0 FROM p GROUP BY ptext),
kept AS (
  SELECT p.doc_id, p.pidx, p.ptext
  FROM p JOIN winners ON p.ptext = winners.ptext AND p.gkey = winners.w0
),
reb AS (
  SELECT doc_id, string_agg(ptext, ' ' ORDER BY pidx) AS rebuilt,
         COUNT(*) AS paras_kept
  FROM kept GROUP BY doc_id
),
tot AS (
  SELECT doc_id, source, batch, COUNT(*) AS paras_total
  FROM p GROUP BY 1, 2, 3
)
SELECT t.doc_id, t.source, t.batch, t.paras_total,
       COALESCE(r.paras_kept, 0) AS paras_kept,
       ('0x' || substring(md5(COALESCE(r.rebuilt, '')), 1, 7))::BIGINT
           AS rebuilt_hash
FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
ORDER BY t.doc_id
"""


@register(
    "paradedup_replay",
    _paradedup_oracle_sql(),
    note="Online Dolma paragraph dedup, end-to-end: documents stream "
    f"in {N_BATCHES} micro-batches through paradedup_stream — within "
    "a batch keep-first is the combiner-collapsed MIN over "
    "(doc_id, position); across batches paragraphs seen in any "
    "STRICTLY EARLIER seen-table partition are dropped (the LSM "
    "pb-keyed discipline: replayed batches recompute identically) — "
    "and the committed cleaned corpus, including the md5 of every "
    "REBUILT document text, must hash-match the one-shot SQL replay "
    "whose global winner key is (batch, doc_id, position).  The "
    "streaming twin of paragraph_dedup_keep_first, sharing its "
    "paragraph kernel.",
)
def q_paradedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark.streaming.pipeline import (
        paradedup_stream,
        read_paradedup,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    tmp = tempfile.mkdtemp(prefix="sortify_paradedup_")
    inp, table = f"{tmp}/in", f"{tmp}/table"
    for b in range(N_BATCHES):
        docs.filter(F.col("doc_id") % N_BATCHES == b).coalesce(
            1
        ).write.mode("append").parquet(inp)
        q = paradedup_stream(spark, inp, table, f"{tmp}/ckpt")
        await_or_raise(q, 600, "paradedup trigger")
    return read_paradedup(spark, table).orderBy("doc_id")
