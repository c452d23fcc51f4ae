"""Vector-search + dedup + clustering-assignment queries with DuckDB
oracles (SURVEY.md §2.10 pipelines + scale-extension operators).

Scorer conventions shared by all fusion oracles:
* *vector scorer*  — cosine (double fold, rounded 6) against the fixed
  probe vector ``vec_id = 0``;
* *keyword scorer* — weighted term frequency over ``documents.text``
  (the SQL-expressible stand-in for a second retrieval source, letting
  RRF / hybrid / multi-query plans be oracle-checked end-to-end; with
  real embeddings the same plans take V1/V2 scored lists instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sortify_spark import dedup
from sortify_spark.queries import register, _t
from sortify_spark.search import fusion, knn
from sortify_spark.functions.vectors import cosine, cosine_given_norms, l2_norm

# --- shared scorer builders -------------------------------------------------

_KW_TERMS = (("data", 1.0), ("query", 0.5), ("join", 0.25))


def _keyword_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (id, score): weighted term-frequency scorer."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    score = F.lit(0.0)
    for term, w in _KW_TERMS:
        score = score + w * F.size(
            F.filter(toks, lambda t: t == F.lit(term))  # noqa: B023
        )
    return docs.select(
        F.col("doc_id").alias("id"), F.round(score, 6).alias("score")
    )


_KW_SCORE_SQL = " + ".join(
    f"{w} * len(list_filter(string_split(text, ' '), t -> t = '{term}'))"
    for term, w in _KW_TERMS
)

_COS_SQL = """
  SELECT vec_id AS id, label,
         ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 6)
             AS score
  FROM embeddings, (SELECT CAST(embedding AS DOUBLE[]) AS qe
                    FROM embeddings WHERE vec_id = 0) q
  WHERE vec_id <> 0
"""


def _cosine_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings → (id, label, score) against probe vec_id=0."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    return knn.score_vectors(
        emb.filter(F.col("vec_id") != 0), q, carry_cols=("label",)
    ).select(F.col("vec_id").alias("id"), "label", "score")


# --- top-k scans (O4, V1/V2) ------------------------------------------------


@register(
    "knn_bruteforce",
    f"""
    WITH cos AS ({_COS_SQL})
    SELECT id, label, score FROM cos
    WHERE score >= 0.1
    ORDER BY score DESC, id ASC LIMIT 10
    """,
    note="O4/V1: exact cosine top-k with similarity threshold — the "
    "engine's summary_only search (vector_db_service.py:193-246; "
    "τ-postfilter + k cap). Broadcast 1-row query, single scan, "
    "TakeOrdered.",
)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return knn.brute_force_topk(
        emb.filter(F.col("vec_id") != 0),
        emb.filter(F.col("vec_id") == 0),
        k=10,
        threshold=0.1,
        carry_cols=("label",),
    ).select(F.col("vec_id").alias("id"), "label", "score")


@register(
    "knn_bruteforce_np",
    f"""
    WITH cos AS ({_COS_SQL})
    SELECT id, score FROM cos
    WHERE score >= 0.1
    ORDER BY score DESC, id ASC LIMIT 10
    """,
    note="O4/V1 at high dimension: the same exact top-k contract as "
    "knn_bruteforce, scored by an Arrow-batched numpy matvec "
    "(mapInPandas) instead of interpreted per-element folds — the "
    "compute-bound 768-dim path; oracle-identical results.",
)
def q_knn_bruteforce_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return knn.brute_force_topk_np(
        emb.filter(F.col("vec_id") != 0), list(qvec), k=10, threshold=0.1
    ).select(F.col("vec_id").alias("id"), "score")


@register(
    "knn_per_label_topk",
    f"""
    WITH cos AS ({_COS_SQL})
    SELECT id, label, score FROM cos
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY label ORDER BY score DESC, id ASC) <= 3
    """,
    note="W2 over vectors: top-3 most-similar per label partition (the "
    "best-chunk-per-document pattern applied to an embedding table).",
)
def q_knn_per_label_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark.operators.windows import topn_per_group

    scored = _cosine_scored(spark, sf_dir)
    return topn_per_group(
        scored, ["label"], [F.col("score").desc(), F.col("id").asc()], 3
    ).select("id", "label", "score")


# --- fusion strategies (V3-V6) ---------------------------------------------


@register(
    "rrf_fusion",
    f"""
    WITH cos AS ({_COS_SQL}),
    a0 AS (SELECT id, score FROM cos ORDER BY score DESC, id ASC LIMIT 20),
    a AS (SELECT id, score,
                 ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS rank_summary
          FROM a0),
    k0 AS (SELECT doc_id AS id, ROUND({_KW_SCORE_SQL}, 6) AS score
           FROM documents),
    b0 AS (SELECT id, score FROM k0 ORDER BY score DESC, id ASC LIMIT 20),
    b AS (SELECT id, score,
                 ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS rank_chunks
          FROM b0)
    SELECT COALESCE(a.id, b.id) AS id, rank_summary, rank_chunks,
           ROUND(COALESCE(2.0 / (60 + rank_summary), 0)
                 + COALESCE(1.0 / (60 + rank_chunks), 0), 6) AS rrf_score
    FROM a FULL OUTER JOIN b ON a.id = b.id
    ORDER BY rrf_score DESC, id ASC LIMIT 10
    """,
    note="W6/V4: Reciprocal Rank Fusion k=60, weights {summary 2.0, "
    "chunks 1.0} (config.py:42-43; enhanced_search_service.py:379-459). "
    "Two ranked branches → full-outer join → score expr → top-k.",
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    summary = _cosine_scored(spark, sf_dir).orderBy(
        F.col("score").desc(), F.col("id").asc()
    ).limit(20).select("id", "score")
    chunks = _keyword_scored(spark, sf_dir).orderBy(
        F.col("score").desc(), F.col("id").asc()
    ).limit(20)
    return fusion.rrf_fuse(summary, chunks, top_k=10)


@register(
    "two_stage_hybrid",
    f"""
    WITH cos AS ({_COS_SQL}),
    stage1 AS (SELECT id, score,
                      ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS rank
               FROM cos QUALIFY rank <= 10),
    kw AS (SELECT doc_id AS id, ROUND({_KW_SCORE_SQL}, 6) AS score
           FROM documents),
    s2 AS (SELECT kw.id, kw.score, 0 AS tier FROM kw
           WHERE kw.id IN (SELECT id FROM stage1) AND kw.score > 0),
    s1 AS (SELECT id, score, 1 AS tier FROM stage1),
    u AS (SELECT * FROM s2 UNION ALL SELECT * FROM s1),
    d AS (SELECT id, score, tier FROM u
          QUALIFY ROW_NUMBER() OVER (
              PARTITION BY id ORDER BY tier ASC, score DESC) = 1)
    SELECT id, score, tier FROM d
    ORDER BY tier ASC, score DESC, id ASC LIMIT 5
    """,
    note="V3: two-stage coarse→fine search — stage-1 summary top-10, "
    "stage-2 restricted to candidates (semi-join J1), dedup preferring "
    "fine scores, stage-1 backfill (enhanced_search_service.py:126-203,"
    "508-548). Stage-2 keyword scorer keeps the oracle SQL-expressible.",
)
def q_two_stage_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    summary = _cosine_scored(spark, sf_dir).select("id", "score")
    kw = _keyword_scored(spark, sf_dir)

    def chunk_scored_fn(candidates: DataFrame) -> DataFrame:
        return (
            kw.join(F.broadcast(candidates), "id", "left_semi")
            .filter(F.col("score") > 0)
        )

    return fusion.two_stage_hybrid(
        summary, chunk_scored_fn, stage1_k=10, top_k=5
    )


@register(
    "traditional_merge",
    f"""
    WITH cos AS ({_COS_SQL}),
    a AS (SELECT id, score FROM cos ORDER BY score DESC, id ASC LIMIT 15),
    kw AS (SELECT doc_id AS id, ROUND({_KW_SCORE_SQL}, 6) AS score
           FROM documents),
    b AS (SELECT id, score FROM kw ORDER BY score DESC, id ASC LIMIT 15),
    u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
    SELECT id, MAX(score) AS score FROM u GROUP BY id
    ORDER BY score DESC, id ASC LIMIT 10
    """,
    note="V5: legacy merge — union summary+chunk lists, per-doc max, "
    "sort/limit (qa_search_coordinator.py:207-269).",
)
def q_traditional_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _cosine_scored(spark, sf_dir).orderBy(
        F.col("score").desc(), F.col("id").asc()
    ).limit(15).select("id", "score")
    b = _keyword_scored(spark, sf_dir).orderBy(
        F.col("score").desc(), F.col("id").asc()
    ).limit(15)
    return fusion.traditional_merge(a, b, top_k=10)


@register(
    "multi_query_merge",
    """
    WITH v0 AS (SELECT doc_id AS id,
           ROUND(1.3 * len(list_filter(string_split(text,' '), t -> t = 'data')), 6) AS score
           FROM documents),
    v1 AS (SELECT doc_id AS id,
           ROUND(1.1 * len(list_filter(string_split(text,' '), t -> t = 'query')), 6) AS score
           FROM documents),
    v2 AS (SELECT doc_id AS id,
           ROUND(1.0 * len(list_filter(string_split(text,' '), t -> t = 'join')), 6) AS score
           FROM documents),
    u AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT id, MAX(score) AS score FROM u GROUP BY id
    ORDER BY score DESC, id ASC LIMIT 10
    """,
    note="V6/W4+F18: N rewritten-query variants weighted {1.3,1.1,1.0}, "
    "merged keeping max weighted score per doc "
    "(qa_search_coordinator.py:119-205).",
)
def q_multi_query_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")

    def term_scored(term: str) -> DataFrame:
        toks = F.split(F.col("text"), " ")
        return docs.select(
            F.col("doc_id").alias("id"),
            F.size(F.filter(toks, lambda t: t == F.lit(term))).cast(
                "double"
            ).alias("score"),
        )

    variants = [term_scored(t) for t in ("data", "query", "join")]
    return fusion.multi_query_merge(variants, top_k=10)


# --- clustering assignment + dedup ------------------------------------------

_CENTROID_IDS = (0, 100, 200)

_ASSIGN_SQL = f"""
  WITH c0 AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id = 0),
       c1 AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id = 100),
       c2 AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id = 200),
  s AS (
    SELECT vec_id,
      ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), c0.e), 6) AS s0,
      ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), c1.e), 6) AS s1,
      ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), c2.e), 6) AS s2
    FROM embeddings, c0, c1, c2
  )
  SELECT vec_id,
         CASE WHEN s0 >= s1 AND s0 >= s2 THEN 0
              WHEN s1 >= s2 THEN 1 ELSE 2 END AS assigned,
         ROUND(greatest(s0, s1, s2), 6) AS best_score
  FROM s
"""


def _assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment against fixed probe centroids — the
    distributed core of cluster write-back M5 (every vector scored against
    broadcast centroids, argmax with first-wins tie-break)."""
    base = _t(spark, sf_dir, "embeddings")
    # One norm fold per vector for all 3 centroid scores (the fold is
    # interpreted per-row, so per-score recompute would triple the cost).
    emb = base.withColumn("__en", l2_norm("embedding"))
    scores = []
    for i, cid in enumerate(_CENTROID_IDS):
        c = F.broadcast(
            base.filter(F.col("vec_id") == cid)
            .select(F.col("embedding").alias(f"__c{i}"))
            .withColumn(f"__cn{i}", l2_norm(f"__c{i}"))
        )
        emb = emb.crossJoin(c)
        scores.append(
            F.round(
                cosine_given_norms(
                    F.col("embedding"),
                    F.col(f"__c{i}"),
                    F.col("__en"),
                    F.col(f"__cn{i}"),
                ),
                6,
            )
        )
    assigned = (
        F.when((scores[0] >= scores[1]) & (scores[0] >= scores[2]), 0)
        .when(scores[1] >= scores[2], 1)
        .otherwise(2)
    )
    return emb.select(
        "vec_id",
        assigned.alias("assigned"),
        F.round(F.greatest(*scores), 6).alias("best_score"),
    )


@register(
    "centroid_assign",
    _ASSIGN_SQL,
    note="M1/M5 core primitive: nearest-centroid assignment with "
    "deterministic tie-break — the per-vector argmax every clustering "
    "round runs (clustering_service.py:387-455 write-back shape). "
    "Centroids broadcast; one scan of the vectors table.",
)
def q_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _assign(spark, sf_dir)


@register(
    "centroid_assign_sizes",
    f"""
    WITH assign AS ({_ASSIGN_SQL})
    SELECT assigned, COUNT(*) AS cnt FROM assign GROUP BY assigned
    """,
    note="A9: cluster-size distribution over assignments "
    "(clustering_service.py:442-453).",
)
def q_centroid_assign_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _assign(spark, sf_dir).groupBy("assigned").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register(
    "embedding_neardup_topk",
    """
    WITH b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings)
    SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.e, b2.e), 6) AS cos_sim
    FROM b a JOIN b b2 ON a.label = b2.label AND a.vec_id < b2.vec_id
    ORDER BY cos_sim DESC, id_a ASC, id_b ASC LIMIT 20
    """,
    note="Embedding near-dup: top-k same-block cosine pairs; label "
    "blocking bounds the pair space (IVF buckets at scale).",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_neardup_topk(_t(spark, sf_dir, "embeddings"), k=20)


@register(
    "minhash_lsh_pairs",
    dedup.minhash_lsh_oracle_sql(threshold=0.5, shingle_k=3),
    note="MinHash+LSH near-dup: 3-word shingles, 8 universal hashes over "
    "one md5 base hash per shingle (explode → codegen'd hash-agg minima), "
    "4 bands of 2, bucket equi-join, exact Jaccard verify ≥ 0.5. Only "
    "joins within band buckets (Σ bucket², never n²) — shingle "
    "granularity keeps buckets selective, unlike word tokens on this "
    "small-vocab corpus where every doc is a 0.67-near-dup of every other.",
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.5, use_shingles=3
    )


@register(
    "simhash_pairs",
    dedup.simhash_oracle_sql(max_hamming=12),
    note="SimHash near-dup: 60-bit portable md5-prefix signature "
    "(bit-identical across engines), per-bit majority vote, top-16-bit "
    "blocking, Hamming ≤ 12. Oracle-checked end-to-end; bit-exactness "
    "additionally covered against an independent Python model in "
    "tests/test_text_ops.py.",
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=12
    )


@register(
    "simhash_pairs_banded",
    dedup.simhash_banded_oracle_sql(max_hamming=12, n_bands=4),
    note="SimHash near-dup with rotated blocking: 4 disjoint 15-bit "
    "bands, candidate on ANY band match — pigeonhole-exact recall for "
    "hamming < 4 and strictly higher recall than the single-prefix "
    "variant at equal verify cost per candidate. Oracle generated from "
    "the same band constants.",
)
def q_simhash_pairs_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs_banded(
        _t(spark, sf_dir, "documents"), max_hamming=12, n_bands=4
    )


def ivf_ctes(nprobe: int = 3, dim: int = 64, k: int = 10) -> str:
    """Shared oracle CTE chain replaying the whole IVF pipeline in SQL:
    probe vector → per-label mean centroids → rounded bucket ranking
    (label tie-break) → exact rerank inside the probed buckets.  Used by
    the ``knn_ivf`` oracle and the ``ivf_recall_at_10`` contract query —
    generated from the same (nprobe, dim, k) constants as the Spark
    plan so engine and oracle cannot drift."""
    return f"""
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id = 0),
    cd AS (SELECT label, r.range AS i,
                  AVG(CAST(embedding[r.range] AS DOUBLE)) AS m
           FROM embeddings, range(1, {dim + 1}) r GROUP BY label, r.range),
    cent AS (SELECT label, list(m ORDER BY i) AS centroid
             FROM cd GROUP BY label),
    bb AS (SELECT cent.label FROM cent, q
           ORDER BY ROUND(list_cosine_similarity(centroid, qe), 6) DESC,
                    label ASC
           LIMIT {nprobe}),
    ivf AS (SELECT vec_id AS id,
                   ROUND(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]), qe), 6) AS score
            FROM embeddings, q
            WHERE vec_id <> 0 AND label IN (SELECT label FROM bb)
            ORDER BY score DESC, id ASC LIMIT {k})
    """


@register(
    "knn_ivf",
    f"""
    WITH {ivf_ctes()}
    SELECT id, score FROM ivf ORDER BY score DESC, id ASC
    """,
    note="IVF top-k: label-mean centroids (built by build_centroids), "
    "nprobe=3 bucket pruning (rounded bucket ranking, label tie-break), "
    "exact rerank inside probed buckets. The oracle replays the full "
    "pipeline in SQL; recall vs brute force additionally asserted in "
    "tests/test_vector_ops.py and hash-checked by ivf_recall_at_10.",
)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    centroids = knn.build_centroids(emb, "label")
    return knn.ivf_topk(
        emb.filter(F.col("vec_id") != 0),
        centroids,
        emb.filter(F.col("vec_id") == 0),
        k=10,
        nprobe=3,
        bscore_round=6,
    ).select(F.col("vec_id").alias("id"), "score")


@register(
    "embedding_quantize_stats",
    """
    WITH q AS (
      SELECT label,
             CAST(embedding AS DOUBLE[]) AS e,
             list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> abs(x))) AS m
      FROM embeddings
    ),
    per AS (
      SELECT label,
             ROUND(CASE WHEN m = 0 THEN 0.0 ELSE
               list_max(list_transform(e,
                 x -> abs(x - round(x * 127 / m) * m / 127)))
             END, 6) AS qerr
      FROM q
    )
    SELECT label,
           COUNT(*) AS vectors,
           ROUND(CAST(SUM(CAST(qerr AS DECIMAL(38,10))) AS DOUBLE)
                 / COUNT(qerr), 4) AS avg_qerr,
           ROUND(MAX(qerr), 6) AS max_qerr
    FROM per GROUP BY label ORDER BY label
    """,
    note="int8 symmetric quantization audit: per-vector scale = "
    "max|x|/127, worst-element dequantization error per vector (MAX is "
    "summation-order-free, so engine-portable unlike an L2 error), "
    "decimal-averaged per label. The quantize itself is a pure "
    "transform() projection — at 100 TB this is the 4x storage / "
    "bandwidth lever for the ANN index, and the stats query is the "
    "guardrail that the chosen scale keeps error bounded.",
)
def q_embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("e")
    )
    m = F.array_max(F.transform("e", lambda x: F.abs(x)))
    df = emb.withColumn("m", m)
    err_el = lambda x: F.abs(  # noqa: E731
        x - F.round(x * 127 / F.col("m")) * F.col("m") / 127
    )
    qerr = F.round(
        F.when(F.col("m") == 0, F.lit(0.0)).otherwise(
            F.array_max(F.transform("e", err_el))
        ),
        6,
    )
    per = df.select("label", qerr.alias("qerr"))
    return (
        per.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("vectors"),
            F.round(
                F.sum(F.col("qerr").cast("decimal(38,10)")).cast("double")
                / F.count("qerr"),
                4,
            ).alias("avg_qerr"),
            F.round(F.max("qerr"), 6).alias("max_qerr"),
        )
        .orderBy("label")
    )


@register(
    "knn_batch_queries",
    """
    WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id NOT IN (0, 100, 200)),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id IN (0, 100, 200)),
    s AS (SELECT q.query_id, d.vec_id AS id,
                 ROUND(list_cosine_similarity(d.e, q.qe), 6) AS score
          FROM d, q),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, id ASC) AS rn
          FROM s)
    SELECT query_id, id, score FROM r WHERE rn <= 5
    """,
    note="Batched multi-query retrieval: the whole query batch "
    "broadcasts into ONE scan of the vectors table (n_q scores per "
    "row), then W2 per-group top-k — the batch-inference shape that "
    "replaces n_q separate scans at 100 TB. Queries are rows, not "
    "parameters: the same plan serves 3 or 3000 queries.",
)
def q_knn_batch_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = _t(spark, sf_dir, "embeddings")
    qids = (0, 100, 200)
    data = emb.filter(~F.col("vec_id").isin(*qids)).select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    queries = F.broadcast(
        emb.filter(F.col("vec_id").isin(*qids)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("qe"),
        )
    )
    scored = data.crossJoin(queries).select(
        "query_id",
        "id",
        F.round(cosine(F.col("e"), F.col("qe")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "id", "score")
    )


# --- product quantization (search/pq.py): codebook + encoding + ADC
# ranking, every stage decimal-exact and replayed in DuckDB ----------------

from sortify_spark.search import pq  # noqa: E402


def _pq_parts(spark: SparkSession, sf_dir: str):
    emb = _t(spark, sf_dir, "embeddings")
    el = pq.elements(emb)
    data_el = el.filter(F.col("vec_id") != 0)
    cb = pq.codebook(data_el)
    return el, data_el, cb


@register(
    "pq_codes_stats",
    f"""
    WITH {pq.pq_ctes()}
    SELECT c.s, c.code, COUNT(*) AS vectors,
           ROUND(CAST(SUM(cell.d2) AS DOUBLE) / COUNT(*), 6) AS avg_d2
    FROM codes c JOIN cell
      ON cell.vec_id = c.vec_id AND cell.s = c.s AND cell.j = c.code
    GROUP BY 1, 2
    """,
    note="PQ audit: per-(subspace, code) assignment histogram and mean "
    "quantization error of the ASSIGNED cells — the codebook, the "
    "encoding argmin, and the error accounting hash-checked in one "
    "compact result (≤ M·K rows).  Distances accumulate as exact "
    "decimals on a 1e-6 grid, so engine and oracle compare identical "
    "values — no float-summation-order luck.  Scale: two hash "
    "aggregates over the element grid; the codebook join side is M·K "
    "rows, broadcast.",
)
def q_pq_codes_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, data_el, cb = _pq_parts(spark, sf_dir)
    cell = pq.cell_dists(data_el, cb)
    codes = pq.encode(data_el, cb)
    assigned = codes.join(
        cell,
        (codes.vec_id == cell.vec_id)
        & (codes.s == cell.s)
        & (codes.code == cell.j),
    )
    return (
        assigned.groupBy(codes.s.alias("s"), F.col("code"))
        .agg(
            F.count(F.lit(1)).alias("vectors"),
            F.round(
                F.sum("d2").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_d2"),
        )
    )


@register(
    "knn_pq_adc",
    f"""
    WITH {pq.pq_ctes()}
    SELECT id, approx_d2 FROM adc
    ORDER BY approx_d2 ASC, id ASC LIMIT 10
    """,
    note="PQ-ADC top-k: the probe's M·K distance table (broadcast-tiny) "
    "joins the 1-byte-per-subspace codes and sums exact decimals — "
    "scoring cost per vector is M lookups instead of DIM multiplies, "
    "the 100-TB memory/bandwidth lever (composes with IVF pruning). "
    "The oracle replays codebook → codes → ADC end-to-end.",
)
def q_knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    el, data_el, cb = _pq_parts(spark, sf_dir)
    codes = pq.encode(data_el, cb)
    qtab = (
        pq.cell_dists(el.filter(F.col("vec_id") == 0), cb)
        .select("s", "j", "d2")
    )
    return pq.adc_topk(codes, qtab, k=10)


@register(
    "pq_recall_at_10",
    f"""
    WITH {pq.pq_ctes()},
    short AS (SELECT id FROM adc ORDER BY approx_d2 ASC, id ASC LIMIT 100),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id = 0),
    rer AS (SELECT vec_id AS id FROM embeddings, q
            WHERE vec_id IN (SELECT id FROM short)
            ORDER BY ROUND(list_cosine_similarity(
                         CAST(embedding AS DOUBLE[]), qe), 6) DESC,
                     vec_id ASC
            LIMIT 10),
    ex AS (SELECT vec_id AS id FROM embeddings, q
           WHERE vec_id <> 0
           ORDER BY ROUND(list_cosine_similarity(
                        CAST(embedding AS DOUBLE[]), qe), 6) DESC,
                    vec_id ASC
           LIMIT 10)
    SELECT COUNT(*) AS overlap_at_10, CAST(10 AS INT) AS k
    FROM rer WHERE id IN (SELECT id FROM ex)
    """,
    note="PQ quality contract, production shape: ADC shortlist (100 "
    "compressed-score candidates) → exact cosine rerank → top-10, "
    "overlapped against the full exact top-10 in one deterministic "
    "row (the ivf_recall_at_10 pattern applied to PQ; recovers the "
    "exact top-10 fully at the driver's verification scale — the "
    "shortlist size is the recall/cost knob).",
)
def q_pq_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark.search import knn

    el, data_el, cb = _pq_parts(spark, sf_dir)
    codes = pq.encode(data_el, cb)
    qtab = (
        pq.cell_dists(el.filter(F.col("vec_id") == 0), cb)
        .select("s", "j", "d2")
    )
    short = pq.adc_topk(codes, qtab, k=100).select("id")
    emb = _t(spark, sf_dir, "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    probe = emb.filter(F.col("vec_id") == 0)
    shortlisted = data.join(
        F.broadcast(short), data.vec_id == short.id, "left_semi"
    )
    rer = knn.brute_force_topk(shortlisted, probe, k=10).select(
        F.col("vec_id").alias("id")
    )
    exact = knn.brute_force_topk(data, probe, k=10).select(
        F.col("vec_id").alias("id")
    )
    return (
        rer.join(exact, "id", "left_semi")
        .agg(F.count(F.lit(1)).alias("overlap_at_10"))
        .select("overlap_at_10", F.lit(10).cast("int").alias("k"))
    )


@register(
    "knn_ivfpq",
    f"""
    WITH {pq.pq_ctes()},
    cd2 AS (SELECT label, r.range AS i,
                   AVG(CAST(embedding[r.range] AS DOUBLE)) AS mc
            FROM embeddings, range(1, 65) r GROUP BY label, r.range),
    cent2 AS (SELECT label, list(mc ORDER BY i) AS centroid
              FROM cd2 GROUP BY label),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id = 0),
    bb2 AS (SELECT cent2.label FROM cent2, qv
            ORDER BY ROUND(list_cosine_similarity(centroid, qe), 6) DESC,
                     label ASC
            LIMIT 3),
    short AS (
      SELECT adc.id FROM adc JOIN embeddings e ON adc.id = e.vec_id
      WHERE e.label IN (SELECT label FROM bb2)
      ORDER BY adc.approx_d2 ASC, adc.id ASC LIMIT 50),
    rer AS (SELECT vec_id AS id,
                   ROUND(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]), qe), 6) AS score
            FROM embeddings, qv WHERE vec_id IN (SELECT id FROM short)
            ORDER BY score DESC, vec_id ASC LIMIT 10)
    SELECT id, score FROM rer ORDER BY score DESC, id ASC
    """,
    note="IVF-PQ composition — the full 100-TB ANN shape: coarse "
    "centroids prune to nprobe=3 buckets (partition pruning at scale), "
    "ADC ranks the compressed codes inside the probed buckets "
    "(M lookups per vector), a 50-candidate exact rerank restores "
    "ordering fidelity.  The oracle replays ALL three stages — bucket "
    "ranking, Lloyd-refined PQ, ADC, rerank — value-for-value.",
)
def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark.search import knn

    el, data_el, cb = _pq_parts(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    probe = emb.filter(F.col("vec_id") == 0)
    buckets = knn.rank_buckets(
        knn.build_centroids(emb, "label"), probe, nprobe=3, bscore_round=6
    )
    probed_ids = data.join(
        F.broadcast(buckets), "label", "left_semi"
    ).select("vec_id")
    codes = pq.encode(data_el, cb).join(
        probed_ids, "vec_id", "left_semi"
    )
    qtab = (
        pq.cell_dists(el.filter(F.col("vec_id") == 0), cb)
        .select("s", "j", "d2")
    )
    short = pq.adc_topk(codes, qtab, k=50).select("id")
    shortlisted = data.join(
        F.broadcast(short), data.vec_id == short.id, "left_semi"
    )
    return knn.brute_force_topk(shortlisted, probe, k=10).select(
        F.col("vec_id").alias("id"), "score"
    )


def _ivf_index_oracle_sql(k: int = 10, nprobe: int = 3, dim: int = 64) -> str:
    """Oracle for ``ivf_index_probe``: replay BOTH persisted-index
    builds (seed = label means → rounded nearest-seed reassignment →
    bucket means) and both probes (rounded bucket ranking → exact
    rerank inside the probed buckets) purely in SQL.  Version 1 indexes
    the ``vec_id % 5 <> 1`` subset, version 2 the full corpus — the
    same two snapshots the Spark side commits through the versioned
    store."""

    def build(p: str, pred: str) -> str:
        return f"""
    {p}c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
             FROM embeddings WHERE {pred}),
    {p}sd AS (SELECT label, r.range AS i, AVG(e[r.range]) AS m
              FROM {p}c, range(1, {dim + 1}) r GROUP BY label, r.range),
    {p}seed AS (SELECT label AS bucket, list(m ORDER BY i) AS cent
                FROM {p}sd GROUP BY label),
    {p}asg AS (SELECT vec_id, e, bucket FROM (
        SELECT c.vec_id, c.e, s.bucket,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                 ORDER BY ROUND(list_cosine_similarity(c.e, s.cent), 6)
                            DESC,
                          s.bucket ASC) AS rn
        FROM {p}c c CROSS JOIN {p}seed s) WHERE rn = 1),
    {p}cd AS (SELECT bucket, r.range AS i, AVG(e[r.range]) AS m
              FROM {p}asg, range(1, {dim + 1}) r GROUP BY bucket, r.range),
    {p}cent AS (SELECT bucket, list(m ORDER BY i) AS cent
                FROM {p}cd GROUP BY bucket),
    {p}pb AS (SELECT bucket,
                     ROUND(list_cosine_similarity(cent, qe), 6) AS bscore
              FROM {p}cent CROSS JOIN q
              ORDER BY bscore DESC, bucket ASC LIMIT {nprobe}),
    {p}tk AS (SELECT a.vec_id AS id, a.bucket,
                     ROUND(list_cosine_similarity(a.e, qe), 6) AS score
              FROM {p}asg a JOIN {p}pb pb ON a.bucket = pb.bucket
                   CROSS JOIN q
              ORDER BY score DESC, id ASC LIMIT {k})"""

    return f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0),
    {build('v1', 'vec_id <> 0 AND vec_id % 5 <> 1')},
    {build('v2', 'vec_id <> 0')}
    SELECT * FROM (
      SELECT 1 AS ver, 'probe' AS kind, CAST(bucket AS BIGINT) AS id,
             bucket, bscore AS score FROM v1pb
      UNION ALL SELECT 1, 'topk', id, bucket, score FROM v1tk
      UNION ALL SELECT 2, 'probe', CAST(bucket AS BIGINT), bucket, bscore
                FROM v2pb
      UNION ALL SELECT 2, 'topk', id, bucket, score FROM v2tk
    ) __u ORDER BY ver, kind, id
    """


@register(
    "ivf_index_probe",
    _ivf_index_oracle_sql(),
    note="The persisted IVF index artifact end-to-end (the reference's "
    "persistent-collection semantics, vector_db_service.py:18-20,73-76): "
    "build version 1 over a subset, REBUILD version 2 over the grown "
    "corpus (full-snapshot replace through the versioned store), then "
    "probe BOTH committed snapshots — the probed (bucket, bscore) pairs "
    "AND the exact rerank inside those bucket partitions, for each "
    "version, hash-checked against a pure-SQL replay of both builds.  "
    "Proves the stored artifact (not a per-query rebuild) serves the "
    "probe, that rebuilds never leak stale assignments into old or new "
    "snapshots, and that probe = partition pruning over the manifest.",
)
def q_ivf_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sortify_spark.search.index import (
        build_ivf_index,
        probe_ivf_index,
        rank_index_buckets,
    )
    from sortify_spark.sources.versioned import read_versioned

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    path = tempfile.mkdtemp(prefix="sortify_ivfidx_") + "/ivf"
    v1 = build_ivf_index(
        emb.filter((F.col("vec_id") != 0) & (F.col("vec_id") % 5 != 1)),
        path,
        seed_col="label",
        exact_assign=True,
    )
    v2 = build_ivf_index(
        emb.filter(F.col("vec_id") != 0),
        path,
        seed_col="label",
        exact_assign=True,
    )
    parts = []
    for ver in (v1, v2):
        pb = rank_index_buckets(
            spark, path, query, nprobe=3, version=ver
        ).select(
            F.lit(ver).alias("ver"),
            F.lit("probe").alias("kind"),
            F.col("bucket").cast("long").alias("id"),
            "bucket",
            F.col("bscore").alias("score"),
        )
        assign = read_versioned(
            spark, f"{path}/assign", "bucket", version=ver
        )
        tk = (
            probe_ivf_index(spark, path, query, k=10, nprobe=3, version=ver)
            .join(assign.select("vec_id", "bucket"), "vec_id")
            .select(
                F.lit(ver).alias("ver"),
                F.lit("topk").alias("kind"),
                F.col("vec_id").alias("id"),
                "bucket",
                "score",
            )
        )
        parts += [pb, tk]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("ver", "kind", "id")


def _ivf_upsert_oracle_sql(k: int = 10, nprobe: int = 3, dim: int = 64) -> str:
    """Oracle for ``ivf_index_upsert_probe``: replay the v1 build (seed
    means → rounded nearest-seed reassignment → bucket means), then the
    INCREMENTAL ADD — the held-out slice assigned to v1's FINAL stored
    centroids (the quantizer does not move on upsert), unioned with the
    v1 assignments — and the probe over the upserted index (rank the
    UNCHANGED v1 centroids, exact rerank inside the probed buckets)."""
    return f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0),
    v1c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE vec_id <> 0 AND vec_id % 5 <> 1),
    v1sd AS (SELECT label, r.range AS i, AVG(e[r.range]) AS m
             FROM v1c, range(1, {dim + 1}) r GROUP BY label, r.range),
    v1seed AS (SELECT label AS bucket, list(m ORDER BY i) AS cent
               FROM v1sd GROUP BY label),
    v1asg AS (SELECT vec_id, e, bucket FROM (
        SELECT c.vec_id, c.e, s.bucket,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                 ORDER BY ROUND(list_cosine_similarity(c.e, s.cent), 6)
                            DESC,
                          s.bucket ASC) AS rn
        FROM v1c c CROSS JOIN v1seed s) WHERE rn = 1),
    v1cd AS (SELECT bucket, r.range AS i, AVG(e[r.range]) AS m
             FROM v1asg, range(1, {dim + 1}) r GROUP BY bucket, r.range),
    v1cent AS (SELECT bucket, list(m ORDER BY i) AS cent
               FROM v1cd GROUP BY bucket),
    nw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id <> 0 AND vec_id % 5 = 1),
    nasg AS (SELECT vec_id, e, bucket FROM (
        SELECT n.vec_id, n.e, s.bucket,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id
                 ORDER BY ROUND(list_cosine_similarity(n.e, s.cent), 6)
                            DESC,
                          s.bucket ASC) AS rn
        FROM nw n CROSS JOIN v1cent s) WHERE rn = 1),
    uasg AS (SELECT * FROM v1asg UNION ALL SELECT * FROM nasg),
    upb AS (SELECT bucket,
                   ROUND(list_cosine_similarity(cent, qe), 6) AS bscore
            FROM v1cent CROSS JOIN q
            ORDER BY bscore DESC, bucket ASC LIMIT {nprobe}),
    utk AS (SELECT a.vec_id AS id, a.bucket,
                   ROUND(list_cosine_similarity(a.e, qe), 6) AS score
            FROM uasg a JOIN upb ON a.bucket = upb.bucket
                 CROSS JOIN q
            ORDER BY score DESC, id ASC LIMIT {k})
    SELECT * FROM (
      SELECT 'probe' AS kind, CAST(bucket AS BIGINT) AS id, bucket,
             bscore AS score FROM upb
      UNION ALL SELECT 'topk', id, bucket, score FROM utk
    ) __u ORDER BY kind, id
    """


@register(
    "ivf_index_upsert_probe",
    _ivf_upsert_oracle_sql(),
    note="Incremental IVF maintenance (FAISS `add` semantics; the "
    "reference's delete-then-readd vector refresh, "
    "vector_db_service.py:73-76, as a batch artifact): build version 1 "
    "over a subset, then upsert_ivf_index the held-out slice — "
    "assigned to the STORED quantizer (centroid table version "
    "unchanged), committed keyed into only the touched bucket "
    "partitions — and probe the upserted index.  Probed (bucket, "
    "bscore) pairs and the exact rerank hash-checked against a "
    "pure-SQL replay of build + incremental add.",
)
def q_ivf_index_upsert_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from sortify_spark.search.index import (
        build_ivf_index,
        probe_ivf_index,
        rank_index_buckets,
        upsert_ivf_index,
    )
    from sortify_spark.sources.versioned import read_versioned

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    path = tempfile.mkdtemp(prefix="sortify_ivfup_") + "/ivf"
    build_ivf_index(
        emb.filter((F.col("vec_id") != 0) & (F.col("vec_id") % 5 != 1)),
        path,
        seed_col="label",
        exact_assign=True,
    )
    upsert_ivf_index(
        emb.filter((F.col("vec_id") != 0) & (F.col("vec_id") % 5 == 1)),
        path,
        exact_assign=True,
    )
    pb = rank_index_buckets(spark, path, query, nprobe=3).select(
        F.lit("probe").alias("kind"),
        F.col("bucket").cast("long").alias("id"),
        "bucket",
        F.col("bscore").alias("score"),
    )
    assign = read_versioned(spark, f"{path}/assign", "bucket")
    tk = (
        probe_ivf_index(spark, path, query, k=10, nprobe=3)
        .join(assign.select("vec_id", "bucket"), "vec_id")
        .select(
            F.lit("topk").alias("kind"),
            F.col("vec_id").alias("id"),
            "bucket",
            "score",
        )
    )
    return pb.unionByName(tk).orderBy("kind", "id")


def _ivf_filtered_oracle_sql(
    k: int = 10, nprobe: int = 3, dim: int = 64
) -> str:
    """Oracle for ``knn_ivf_filtered``: replay the persisted build WITH
    the carried ``label`` metadata, then BOTH serving shapes — the
    filtered probe (predicate evaluated inside the probed buckets
    before ranking) and the post-filter composition (unbounded rank
    inside the probed buckets, then filter, then top-k).  The two legs
    are semantically identical by construction (the filter commutes
    with the rank); emitting both, each independently replayed, is the
    VERDICT r9 #2 contract: filtered probe ≡ unfiltered probe
    post-filtered, hash-checked."""
    return f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0),
    fc AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id <> 0),
    fsd AS (SELECT label, r.range AS i, AVG(e[r.range]) AS m
            FROM fc, range(1, {dim + 1}) r GROUP BY label, r.range),
    fseed AS (SELECT label AS bucket, list(m ORDER BY i) AS cent
              FROM fsd GROUP BY label),
    fasg AS (SELECT vec_id, label, e, bucket FROM (
        SELECT c.vec_id, c.label, c.e, s.bucket,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                 ORDER BY ROUND(list_cosine_similarity(c.e, s.cent), 6)
                            DESC,
                          s.bucket ASC) AS rn
        FROM fc c CROSS JOIN fseed s) WHERE rn = 1),
    fcd AS (SELECT bucket, r.range AS i, AVG(e[r.range]) AS m
            FROM fasg, range(1, {dim + 1}) r GROUP BY bucket, r.range),
    fcent AS (SELECT bucket, list(m ORDER BY i) AS cent
              FROM fcd GROUP BY bucket),
    fpb AS (SELECT bucket,
                   ROUND(list_cosine_similarity(cent, qe), 6) AS bscore
            FROM fcent CROSS JOIN q
            ORDER BY bscore DESC, bucket ASC LIMIT {nprobe}),
    flt AS (SELECT a.vec_id AS id,
                   ROUND(list_cosine_similarity(a.e, qe), 6) AS score
            FROM fasg a JOIN fpb ON a.bucket = fpb.bucket CROSS JOIN q
            WHERE a.label % 2 = 0
            ORDER BY score DESC, id ASC LIMIT {k}),
    wide AS (SELECT a.vec_id AS id, a.label,
                    ROUND(list_cosine_similarity(a.e, qe), 6) AS score
             FROM fasg a JOIN fpb ON a.bucket = fpb.bucket CROSS JOIN q),
    post AS (SELECT id, score FROM wide WHERE label % 2 = 0
             ORDER BY score DESC, id ASC LIMIT {k})
    SELECT * FROM (
      SELECT 'filtered' AS kind, id, score FROM flt
      UNION ALL SELECT 'postfilter', id, score FROM post
    ) __u ORDER BY kind, id
    """


@register(
    "knn_ivf_filtered",
    _ivf_filtered_oracle_sql(),
    note="FILTERED ANN through the persisted IVF artifact (VERDICT r9 "
    "#2; reference analog: Chroma where-filters combined with vector "
    "search, vector_db_service.py:193-224): the index is built with "
    "carry_cols=('label',) so the metadata rides each assign row, and "
    "the probe's pre_filter (label % 2 = 0) evaluates INSIDE the "
    "probed bucket partitions — the filter rides the partition-pruned "
    "scan, never a corpus join.  Two legs, both oracle-replayed: the "
    "filtered probe, and the unfiltered probe post-filtered + "
    "re-limited — hash equality between them IS the filtered-ANN "
    "contract (bucket choice ignores the filter by design; raise "
    "nprobe for highly selective predicates).",
)
def q_knn_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sortify_spark.search.index import (
        build_ivf_index,
        probe_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    path = tempfile.mkdtemp(prefix="sortify_ivfflt_") + "/ivf"
    build_ivf_index(
        data,
        path,
        seed_col="label",
        exact_assign=True,
        carry_cols=("label",),
    )
    filt = probe_ivf_index(
        spark,
        path,
        query,
        k=10,
        nprobe=3,
        pre_filter=F.col("label") % 2 == 0,
    ).select(
        F.lit("filtered").alias("kind"),
        F.col("vec_id").alias("id"),
        "score",
    )
    even_ids = data.filter(F.col("label") % 2 == 0).select("vec_id")
    post = (
        probe_ivf_index(spark, path, query, k=1_000_000, nprobe=3)
        .join(F.broadcast(even_ids), "vec_id", "left_semi")
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
        .select(
            F.lit("postfilter").alias("kind"),
            F.col("vec_id").alias("id"),
            "score",
        )
    )
    return filt.unionByName(post).orderBy("kind", "id")


def _ivf_selective_oracle_sql(
    k: int = 10, nprobe0: int = 1, dim: int = 64
) -> str:
    """Oracle for ``knn_ivf_filtered_selective``: replay the build,
    then the COMPOSED filtered-IVF defense the facade defaults to for
    owner-scoped legs (VERDICT r10 #1 escalation + r11 #1 occupancy
    composition).  The tenant predicate (vec_id % 97 = 3, ~1% of the
    corpus) matches fewer vectors than k, so a fixed-nprobe probe
    under-recalls — the 'naive' leg at nprobe=1 exhibits the failure.
    Three mitigated legs replay the engine exactly:

    * 'occ1' — OCCUPANCY-AWARE BUCKET CHOICE alone (rank only buckets
      containing tenant rows) at fixed nprobe=1: the top OCCUPIED
      bucket, so it always returns tenant rows where naive can return
      nothing.
    * 'escalated' — the composed default: the deterministic doubling
      schedule (nprobe0·2^j capped at the OCCUPIED bucket count; stop
      at the first level whose probed buckets hold ≥ k matching
      candidates, else every occupied bucket), cumulative
      matching-candidate counts over the occupancy-restricted bucket
      ranking picking the same final nprobe as the engine.
    * 'meta' — pins that final nprobe against the oracle's pure-SQL
      occupancy-schedule replay.

    The 'exact' leg is the full-scan filtered top-k; escalated ≡ exact
    here BY CONSTRUCTION (the tenant is smaller than k, so the
    schedule provably exhausts the tenant's occupied buckets — which
    hold the tenant's ENTIRE sub-corpus) — that equality, hash-checked
    across both engines, IS the selective-tenant recall contract."""
    return f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0),
    fc AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id <> 0),
    fsd AS (SELECT label, r.range AS i, AVG(e[r.range]) AS m
            FROM fc, range(1, {dim + 1}) r GROUP BY label, r.range),
    fseed AS (SELECT label AS bucket, list(m ORDER BY i) AS cent
              FROM fsd GROUP BY label),
    fasg AS (SELECT vec_id, e, bucket FROM (
        SELECT c.vec_id, c.e, s.bucket,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                 ORDER BY ROUND(list_cosine_similarity(c.e, s.cent), 6)
                            DESC,
                          s.bucket ASC) AS rn
        FROM fc c CROSS JOIN fseed s) WHERE rn = 1),
    fcd AS (SELECT bucket, r.range AS i, AVG(e[r.range]) AS m
            FROM fasg, range(1, {dim + 1}) r GROUP BY bucket, r.range),
    fcent AS (SELECT bucket, list(m ORDER BY i) AS cent
              FROM fcd GROUP BY bucket),
    rall AS (SELECT bucket,
                    ROW_NUMBER() OVER (
                      ORDER BY ROUND(list_cosine_similarity(cent, qe),
                                     6) DESC,
                               bucket ASC) AS rn
             FROM fcent CROSS JOIN q),
    occb AS (SELECT DISTINCT bucket FROM fasg
             WHERE vec_id % 97 = 3),
    rocc AS (SELECT c.bucket,
                    ROW_NUMBER() OVER (
                      ORDER BY ROUND(list_cosine_similarity(c.cent,
                                                            qe), 6)
                                 DESC,
                               c.bucket ASC) AS rn
             FROM fcent c JOIN occb o ON c.bucket = o.bucket
                  CROSS JOIN q),
    nbo AS (SELECT COUNT(*) AS n FROM rocc),
    pc AS (SELECT r.rn,
                  (SELECT COUNT(*) FROM fasg a
                   WHERE a.bucket = r.bucket AND a.vec_id % 97 = 3)
                    AS c
           FROM rocc r),
    cum AS (SELECT rn, SUM(c) OVER (ORDER BY rn) AS cumc FROM pc),
    sched AS (SELECT DISTINCT
                LEAST(CAST({nprobe0} * POW(2, j.range) AS BIGINT),
                      nbo.n) AS p
              FROM range(0, 32) j, nbo),
    pfin AS (SELECT COALESCE(
               (SELECT MIN(s.p) FROM sched s
                JOIN cum ON cum.rn = s.p WHERE cum.cumc >= {k}),
               (SELECT n FROM nbo)) AS p),
    naive AS (SELECT a.vec_id AS id,
                     ROUND(list_cosine_similarity(a.e, qe), 6) AS score
              FROM fasg a JOIN rall r ON a.bucket = r.bucket
                   CROSS JOIN q
              WHERE r.rn <= {nprobe0} AND a.vec_id % 97 = 3
              ORDER BY score DESC, id ASC LIMIT {k}),
    occ1 AS (SELECT a.vec_id AS id,
                    ROUND(list_cosine_similarity(a.e, qe), 6) AS score
             FROM fasg a JOIN rocc r ON a.bucket = r.bucket
                  CROSS JOIN q
             WHERE r.rn <= {nprobe0} AND a.vec_id % 97 = 3
             ORDER BY score DESC, id ASC LIMIT {k}),
    esc AS (SELECT a.vec_id AS id,
                   ROUND(list_cosine_similarity(a.e, qe), 6) AS score
            FROM fasg a JOIN rocc r ON a.bucket = r.bucket
                 CROSS JOIN q, pfin
            WHERE r.rn <= pfin.p AND a.vec_id % 97 = 3
            ORDER BY score DESC, id ASC LIMIT {k}),
    exct AS (SELECT c.vec_id AS id,
                    ROUND(list_cosine_similarity(c.e, qe), 6) AS score
             FROM fc c CROSS JOIN q
             WHERE c.vec_id % 97 = 3
             ORDER BY score DESC, id ASC LIMIT {k})
    SELECT * FROM (
      SELECT 'escalated' AS kind, id, score FROM esc
      UNION ALL SELECT 'exact', id, score FROM exct
      UNION ALL SELECT 'meta', p AS id, CAST(p AS DOUBLE) AS score
                FROM pfin
      UNION ALL SELECT 'naive', id, score FROM naive
      UNION ALL SELECT 'occ1', id, score FROM occ1
    ) __u ORDER BY kind, id
    """


@register(
    "knn_ivf_filtered_selective",
    _ivf_selective_oracle_sql(),
    note="SELECTIVE-TENANT FILTERED ANN (VERDICT r10 #1 + r11 #1; "
    "reference contract: Chroma's where-filtered HNSW never "
    "under-recalls a selective tenant, vector_db_service.py:193-224): "
    "a ~1% tenant predicate (vec_id % 97 = 3, fewer matches than k) "
    "probed at nprobe=1 returns NOTHING (the 'naive' leg exhibits the "
    "standard filtered-IVF bucket-choice failure); 'occ1' shows "
    "occupancy-aware bucket choice alone (filter_buckets=True — the "
    "top OCCUPIED bucket always holds tenant rows); 'escalated' is "
    "the facade's composed owner-scoped default (occupancy choice + "
    "min_candidates=k escalation through the doubling schedule over "
    "the occupied universe), exhausting the tenant's buckets here — "
    "it hash-matches the full-scan 'exact' leg, and the 'meta' row "
    "pins the engine's final nprobe against the oracle's "
    "occupancy-schedule replay.",
)
def q_knn_ivf_filtered_selective(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from sortify_spark.search import index as ivf_index
    from sortify_spark.search.index import (
        build_ivf_index,
        probe_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    data = emb.filter(F.col("vec_id") != 0)
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    pred = F.col("vec_id") % 97 == 3
    path = tempfile.mkdtemp(prefix="sortify_ivfsel_") + "/ivf"
    build_ivf_index(data, path, seed_col="label", exact_assign=True)
    naive = probe_ivf_index(
        spark, path, query, k=10, nprobe=1, pre_filter=pred
    ).select(
        F.lit("naive").alias("kind"),
        F.col("vec_id").alias("id"),
        F.round("score", 6).alias("score"),
    )
    occ1 = probe_ivf_index(
        spark, path, query, k=10, nprobe=1, pre_filter=pred,
        filter_buckets=True,
    ).select(
        F.lit("occ1").alias("kind"),
        F.col("vec_id").alias("id"),
        F.round("score", 6).alias("score"),
    )
    # the composed owner-scoped facade default: occupancy-aware bucket
    # choice + escalation within the occupied universe (probe last so
    # the trace readback below is THIS probe's)
    esc = probe_ivf_index(
        spark, path, query, k=10, nprobe=1, pre_filter=pred,
        min_candidates=10, filter_buckets=True,
    ).select(
        F.lit("escalated").alias("kind"),
        F.col("vec_id").alias("id"),
        F.round("score", 6).alias("score"),
    )
    trace = ivf_index.PROBE_ESCALATION
    p_final = trace["nprobe_final"] if trace is not None else 1
    meta = spark.createDataFrame(
        [("meta", p_final, float(p_final))],
        "kind string, id long, score double",
    )
    exact = knn.brute_force_topk(
        data.filter(pred).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        ),
        query,
        k=10,
    ).select(
        F.lit("exact").alias("kind"),
        F.col("vec_id").alias("id"),
        F.round("score", 6).alias("score"),
    )
    return (
        esc.unionByName(exact)
        .unionByName(meta)
        .unionByName(naive)
        .unionByName(occ1)
        .orderBy("kind", "id")
    )


def _ivf_floored_oracle_sql(k: int = 10, floor: int = 16, dim: int = 64) -> str:
    """Oracle for ``knn_ivf_floored``: replay the 40-seed build, then
    the RECALL FLOOR the facade's owner-scoped default adds on top of
    the composed mitigations (VERDICT r12 #1).  The tenant here is
    DENSE (vec_id % 2 = 1, ~50%, ≈6 matches per bucket), so the
    candidate-count escalation at nprobe0=1 stops after ~2 occupied
    buckets — ≥ k candidates, but the true top-k can live in buckets
    it never read.  Four legs:

    * 'stop' — the pre-floor composed default (occupancy choice +
      min_candidates=k at nprobe0=1): the doubling schedule's stop.
    * 'floored' — the same probe with ``min_probe_buckets=16``: the
      schedule STARTS at LEAST(16, occupied), reading a superset of
      occupancy-only@16's buckets.
    * 'meta' — pins BOTH engine probe widths (stop and floored)
      against the oracle's pure-SQL schedule replays.
    * 'exact' — the full-scan filtered top-k, the recall ceiling.

    The floored leg's probe width (16 of ~40 occupied) is where the
    grid showed composed-without-floor losing recall to
    occupancy-only@16 (r12 scale stress); hash-matching both legs
    against the replay pins the floor's exact semantics."""
    return f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0),
    fc AS (SELECT vec_id, vec_id % 40 AS seed,
                  CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id <> 0),
    fsd AS (SELECT seed, r.range AS i, AVG(e[r.range]) AS m
            FROM fc, range(1, {dim + 1}) r GROUP BY seed, r.range),
    fseed AS (SELECT seed AS bucket, list(m ORDER BY i) AS cent
              FROM fsd GROUP BY seed),
    fasg AS (SELECT vec_id, e, bucket FROM (
        SELECT c.vec_id, c.e, s.bucket,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                 ORDER BY ROUND(list_cosine_similarity(c.e, s.cent), 6)
                            DESC,
                          s.bucket ASC) AS rn
        FROM fc c CROSS JOIN fseed s) WHERE rn = 1),
    fcd AS (SELECT bucket, r.range AS i, AVG(e[r.range]) AS m
            FROM fasg, range(1, {dim + 1}) r GROUP BY bucket, r.range),
    fcent AS (SELECT bucket, list(m ORDER BY i) AS cent
              FROM fcd GROUP BY bucket),
    occb AS (SELECT DISTINCT bucket FROM fasg WHERE vec_id % 2 = 1),
    rocc AS (SELECT c.bucket,
                    ROW_NUMBER() OVER (
                      ORDER BY ROUND(list_cosine_similarity(c.cent,
                                                            qe), 6)
                                 DESC,
                               c.bucket ASC) AS rn
             FROM fcent c JOIN occb o ON c.bucket = o.bucket
                  CROSS JOIN q),
    nbo AS (SELECT COUNT(*) AS n FROM rocc),
    pc AS (SELECT r.rn,
                  (SELECT COUNT(*) FROM fasg a
                   WHERE a.bucket = r.bucket AND a.vec_id % 2 = 1)
                    AS c
           FROM rocc r),
    cum AS (SELECT rn, SUM(c) OVER (ORDER BY rn) AS cumc FROM pc),
    sched1 AS (SELECT DISTINCT
                 LEAST(CAST(POW(2, j.range) AS BIGINT), nbo.n) AS p
               FROM range(0, 32) j, nbo),
    pstop AS (SELECT COALESCE(
               (SELECT MIN(s.p) FROM sched1 s
                JOIN cum ON cum.rn = s.p WHERE cum.cumc >= {k}),
               (SELECT n FROM nbo)) AS p),
    b16 AS (SELECT LEAST({floor}, n) AS b FROM nbo),
    sched16 AS (SELECT DISTINCT
                  LEAST(CAST(b16.b * POW(2, j.range) AS BIGINT),
                        nbo.n) AS p
                FROM range(0, 32) j, nbo, b16),
    pfloor AS (SELECT COALESCE(
               (SELECT MIN(s.p) FROM sched16 s
                JOIN cum ON cum.rn = s.p WHERE cum.cumc >= {k}),
               (SELECT n FROM nbo)) AS p),
    stp AS (SELECT a.vec_id AS id,
                   ROUND(list_cosine_similarity(a.e, qe), 6) AS score
            FROM fasg a JOIN rocc r ON a.bucket = r.bucket
                 CROSS JOIN q, pstop
            WHERE r.rn <= pstop.p AND a.vec_id % 2 = 1
            ORDER BY score DESC, id ASC LIMIT {k}),
    flo AS (SELECT a.vec_id AS id,
                   ROUND(list_cosine_similarity(a.e, qe), 6) AS score
            FROM fasg a JOIN rocc r ON a.bucket = r.bucket
                 CROSS JOIN q, pfloor
            WHERE r.rn <= pfloor.p AND a.vec_id % 2 = 1
            ORDER BY score DESC, id ASC LIMIT {k}),
    exct AS (SELECT c.vec_id AS id,
                    ROUND(list_cosine_similarity(c.e, qe), 6) AS score
             FROM fc c CROSS JOIN q
             WHERE c.vec_id % 2 = 1
             ORDER BY score DESC, id ASC LIMIT {k})
    SELECT * FROM (
      SELECT 'exact' AS kind, id, score FROM exct
      UNION ALL SELECT 'floored', id, score FROM flo
      UNION ALL SELECT 'meta_floor', p AS id, CAST(p AS DOUBLE) AS score
                FROM pfloor
      UNION ALL SELECT 'meta_stop', p AS id, CAST(p AS DOUBLE) AS score
                FROM pstop
      UNION ALL SELECT 'stop', id, score FROM stp
    ) __u ORDER BY kind, id
    """


@register(
    "knn_ivf_floored",
    _ivf_floored_oracle_sql(),
    note="RECALL FLOOR for owner-scoped IVF serving (VERDICT r12 #1; "
    "reference contract: Chroma's where-filtered HNSW returns the TRUE "
    "filtered top-k, vector_db_service.py:193-224): a DENSE tenant "
    "(vec_id % 2 = 1, ~6 matches per bucket over a 40-bucket index) "
    "fills min_candidates=k after ~2 occupied buckets, so the composed "
    "candidate-count escalation stops with ≥ k candidates but NOT the "
    "true top-k ('stop' leg).  min_probe_buckets=16 — the facade's "
    "ivf_min_recall_buckets default — starts the schedule at "
    "min(16, occupied) buckets ('floored' leg), the width where the "
    "stress grid showed occupancy-only@16 beating the unfloored "
    "composition's recall; both probe widths are pinned against the "
    "oracle's pure-SQL schedule replays via the 'meta_*' rows, and "
    "'exact' is the recall ceiling.",
)
def q_knn_ivf_floored(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sortify_spark.search import index as ivf_index
    from sortify_spark.search.index import (
        build_ivf_index,
        probe_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    data = emb.filter(F.col("vec_id") != 0).withColumn(
        "seed", F.col("vec_id") % 40
    )
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    pred = F.col("vec_id") % 2 == 1
    path = tempfile.mkdtemp(prefix="sortify_ivfflr_") + "/ivf"
    build_ivf_index(data, path, seed_col="seed", exact_assign=True)

    def leg(kind: str, **kw) -> tuple[DataFrame, int]:
        top = probe_ivf_index(
            spark, path, query, k=10, nprobe=1, pre_filter=pred,
            min_candidates=10, filter_buckets=True, **kw,
        ).select(
            F.lit(kind).alias("kind"),
            F.col("vec_id").alias("id"),
            F.round("score", 6).alias("score"),
        )
        rows = top.collect()  # trace is set by execution of the probe
        trace = ivf_index.PROBE_ESCALATION
        p = trace["nprobe_final"] if trace is not None else 1
        return spark.createDataFrame(rows, top.schema), int(p)

    stop, p_stop = leg("stop")
    floored, p_floor = leg("floored", min_probe_buckets=16)
    meta = spark.createDataFrame(
        [
            ("meta_floor", p_floor, float(p_floor)),
            ("meta_stop", p_stop, float(p_stop)),
        ],
        "kind string, id long, score double",
    )
    exact = knn.brute_force_topk(
        data.filter(pred).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        ),
        query,
        k=10,
    ).select(
        F.lit("exact").alias("kind"),
        F.col("vec_id").alias("id"),
        F.round("score", 6).alias("score"),
    )
    return (
        exact.unionByName(floored)
        .unionByName(meta)
        .unionByName(stop)
        .orderBy("kind", "id")
    )
