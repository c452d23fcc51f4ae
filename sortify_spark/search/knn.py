"""Vector top-k scans (SURVEY.md O4, V1/V2/V8).

The reference's ANN index is an in-process HNSW (Chroma,
``vector_db_service.py:73-76``); Spark has no built-in HNSW, and at test
scale exact brute-force cosine is both correct and fast (a single
scan+TakeOrdered).  The 100 TB path is IVF: a coarse-centroid assignment
turns top-k into a partition-pruned scan of ``nprobe`` buckets — same
DataFrame shape, strictly less data read.  Both are here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sortify_spark.functions.vectors import cosine, cosine_given_norms, dot, l2_norm

DEFAULT_TOP_K = 10


def score_vectors(
    vectors: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float | None = None,
    pre_filter: Column | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Score every vector against the broadcast 1-row query (cosine,
    rounded 6), with optional pre-filter (the owner/type predicates the
    reference pushes into the Chroma ``where``,
    ``vector_db_service.py:193-224``) and τ post-filter (``:226-246``)."""
    q = F.broadcast(
        query.select(F.col(vec_col).alias("__qvec")).withColumn(
            "__qn", l2_norm("__qvec")
        )
    )
    base = vectors.filter(pre_filter) if pre_filter is not None else vectors
    # Norm below the join: one fold per stored vector, not per (vector,
    # query) output row; the broadcast side's norm is folded once at build.
    base = base.withColumn("__vn", l2_norm(vec_col))
    scored = base.crossJoin(q).select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.round(
            cosine_given_norms(
                F.col(vec_col), F.col("__qvec"), F.col("__vn"), F.col("__qn")
            ),
            6,
        ).alias("score"),
    )
    if threshold is not None:
        scored = scored.filter(F.col("score") >= threshold)
    return scored


def brute_force_topk(
    vectors: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_TOP_K,
    threshold: float | None = None,
    pre_filter: Column | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact cosine top-k (V1/V2): score + TakeOrdered(k) with id
    tie-break — a single scan, no shuffle beyond the final take."""
    scored = score_vectors(
        vectors, query, id_col, vec_col, threshold, pre_filter, carry_cols
    )
    return scored.orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    ).limit(k)


def score_vectors_many(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    pre_filter: Column | None = None,
) -> DataFrame:
    """BATCHED :func:`score_vectors`: N queries against the corpus in
    ONE plan — (query_id, id, score) with scores BIT-IDENTICAL to the
    single-query path (same norm folds computed below the join, same
    multiply order, same round-6), so a batched serving API can be
    parity-tested row-for-row against the per-query loop.

    Scale shape: the query side is a broadcast of N rows (serving
    batches are small); each stored vector's norm folds ONCE, then the
    broadcast nested-loop join emits N×corpus scored rows that feed a
    per-query rank window — corpus scanned once, not N times."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid"),
            F.col(query_vec_col).alias("__qvec"),
        ).withColumn("__qn", l2_norm("__qvec"))
    )
    base = vectors.filter(pre_filter) if pre_filter is not None else vectors
    base = base.withColumn("__vn", l2_norm(vec_col))
    return base.crossJoin(q).select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        F.round(
            cosine_given_norms(
                F.col(vec_col), F.col("__qvec"), F.col("__vn"), F.col("__qn")
            ),
            6,
        ).alias("score"),
    )


def brute_force_topk_many(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_TOP_K,
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    pre_filter: Column | None = None,
) -> DataFrame:
    """Exact cosine top-k for N queries in ONE plan — the batched twin
    of :func:`brute_force_topk` (VERDICT r8 next #2).  The global
    TakeOrdered becomes a per-query rank window: partitioned by
    query_id, so it is a distributed sort across queries, never a
    single-partition global sort.  Returns (query_id, id, score, rnk),
    per-query rows ranked exactly as the single-query path orders
    (score desc, id asc)."""
    from pyspark.sql.window import Window

    scored = score_vectors_many(
        vectors, queries, id_col, vec_col,
        query_id_col, query_vec_col, pre_filter,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def build_centroids(
    vectors: DataFrame,
    assign_col: str,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Per-bucket mean vector — the IVF coarse quantizer.  Element-wise
    array mean via posexplode + groupBy (two shuffles, run once at index
    build time, not per query)."""
    exploded = vectors.select(
        F.col(assign_col).alias("bucket"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"),
    )
    per_dim = exploded.groupBy("bucket", "i").agg(F.avg("x").alias("m"))
    return (
        per_dim.groupBy("bucket")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("i"), F.col("m")))
            ).alias("pairs")
        )
        .select(
            "bucket",
            F.transform(F.col("pairs"), lambda p: p.getField("m")).alias(
                "centroid"
            ),
        )
    )


def assign_nearest_centroid(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "label",
    score_round: int = 6,
) -> DataFrame:
    """Expression-twin nearest-centroid assignment: broadcast the
    centroid table, score every (vector, centroid) pair JVM-side, keep
    the argmax with ROUNDED score and lowest-bucket tie-break.  The
    rounding makes the assignment engine-portable (a SQL oracle can
    replay it exactly — the same contract every oracle-checked score in
    this package uses), where the BLAS twin's unrounded float argmax
    could flip near-ties across BLAS implementations.  Use this for
    oracle-replayed builds; the BLAS twin for throughput."""
    c = F.broadcast(centroids.select("bucket", "centroid"))
    scored = (
        vectors.select(id_col, vec_col)
        .crossJoin(c)
        .select(
            F.col(id_col),
            F.col("bucket"),
            F.round(
                cosine(F.col(vec_col), F.col("centroid")), score_round
            ).alias("__s"),
        )
    )
    # lexicographic max over (score, -bucket) = best score, lowest
    # bucket on ties — ROW_NUMBER() ... ORDER BY s DESC, bucket ASC
    return scored.groupBy(id_col).agg(
        F.max_by(
            "bucket", F.struct(F.col("__s"), (-F.col("bucket")).alias("nb"))
        ).alias(out_col)
    )


def nearest_centroid_fn(buckets, centroids):
    """The nearest-centroid kernel of :func:`assign_nearest_centroid_np`
    as a function of a sequence of vectors → their bucket ids: cosine
    argmax by one BLAS product against the unit centroids, ties to the
    lowest bucket id.  The Spark assignment and the driver-side IVF add
    (``search.index.upsert_ivf_index``) both call it."""
    import numpy as np

    order = np.argsort(np.asarray(buckets, dtype=np.int64), kind="stable")
    ids = np.asarray(buckets, dtype=np.int64)[order]
    C = np.array([centroids[i] for i in order], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1.0
    Cu = (C / cn[:, None]).T  # dim × nlist, ready for X @ Cu

    def nearest(vectors) -> np.ndarray:
        X = np.array(list(vectors), dtype=np.float64)
        xn = np.linalg.norm(X, axis=1)
        xn[xn == 0] = 1.0
        return ids[((X / xn[:, None]) @ Cu).argmax(axis=1)]

    return nearest


def assign_nearest_centroid_np(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "label",
) -> DataFrame:
    """Arrow/BLAS nearest-centroid assignment — the IVF index-build
    kernel at production scale (what FAISS pays per Lloyd step): the
    nlist × dim centroid matrix is closure-broadcast to every Arrow
    batch, each batch scores ``X @ C.T`` in one BLAS call, and the
    cosine argmax breaks ties to the lowest bucket id (buckets sorted
    ascending; ``argmax`` returns the first maximum) — the same
    contract as the expression twin (crossJoin + ``max_by`` over
    :func:`functions.vectors.cosine`), which this kernel vectorizes.
    The centroid collect is nlist rows — index metadata, not data."""
    import pandas as pd

    rows = centroids.select("bucket", "centroid").collect()
    nearest = nearest_centroid_fn(
        [r["bucket"] for r in rows], [r["centroid"] for r in rows]
    )

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, out_col: nearest(pdf[vec_col])}
            )

    id_type = vectors.schema[id_col].dataType.simpleString()
    return vectors.select(id_col, vec_col).mapInPandas(
        fn, schema=f"{id_col} {id_type}, {out_col} long"
    )


def ivf_topk(
    vectors: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_col: str = "label",
    k: int = DEFAULT_TOP_K,
    nprobe: int = 2,
    bscore_round: int | None = None,
) -> DataFrame:
    """IVF top-k: rank buckets by centroid similarity to the query, scan
    only the best ``nprobe`` buckets, brute-force inside them.

    At scale the vectors table is partitioned by bucket, so the bucket
    restriction is partition pruning — the scan reads nprobe/nlist of the
    data.  Recall < 1 by construction; nprobe trades recall for cost.
    ``bscore_round`` rounds the bucket-ranking score (with the bucket id
    as tie-break) so the probe choice is reproducible across engines —
    used by the oracle-checked recall query.
    """
    best_buckets = rank_buckets(
        centroids, query, vec_col, assign_col, nprobe, bscore_round
    )
    pruned = vectors.join(F.broadcast(best_buckets), assign_col, "left_semi")
    return brute_force_topk(pruned, query, id_col, vec_col, k)


def rank_buckets(
    centroids: DataFrame,
    query: DataFrame,
    vec_col: str = "embedding",
    assign_col: str = "label",
    nprobe: int = 2,
    bscore_round: int | None = None,
) -> DataFrame:
    """The IVF coarse step alone: the ``nprobe`` buckets whose centroids
    best match the query (rounded score, bucket-id tie-break) — shared
    by exact-rerank IVF and the IVF-PQ composition."""
    q = F.broadcast(query.select(F.col(vec_col).alias("__qvec")))
    bscore = cosine(F.col("centroid"), F.col("__qvec"))
    if bscore_round is not None:
        bscore = F.round(bscore, bscore_round)
    return (
        centroids.crossJoin(q)
        .select("bucket", bscore.alias("bscore"))
        .orderBy(F.col("bscore").desc(), F.col("bucket").asc())
        .limit(nprobe)
        .select(F.col("bucket").alias(assign_col))
    )


def brute_force_topk_np(
    vectors: DataFrame,
    qvec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_TOP_K,
    threshold: float | None = None,
) -> DataFrame:
    """Arrow-batched numpy brute-force top-k — the high-dimension scale
    path next to :func:`brute_force_topk`.

    Catalyst's higher-order folds are interpreted per element; at 768
    dims x millions of rows the scoring is compute-bound there.  This
    variant ships each Arrow batch to numpy as one (n x d) matrix and
    scores it with a single BLAS matvec — per-batch, not per-element,
    Python cost.  The query vector is a plain closure constant (it is a
    parameter of the search, the same way the reference materializes
    the query embedding before the index call,
    ``enhanced_search_service.py:84-111``).  Same contract as the exact
    scorer: cosine rounded to 6, tau post-filter, (score desc, id asc)
    top-k.
    """
    import numpy as np
    import pandas as pd

    q = np.asarray(qvec, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            denom = np.linalg.norm(m, axis=1) * qn
            with np.errstate(divide="ignore", invalid="ignore"):
                s = np.where(denom == 0.0, 0.0, m @ q / denom)
            out = pd.DataFrame(
                {id_col: pdf[id_col], "score": np.round(s, 6)}
            )
            if threshold is not None:
                out = out[out["score"] >= threshold]
            yield out

    scored = vectors.select(id_col, vec_col).mapInPandas(
        _score, f"{id_col} long, score double"
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


# ---------------------------------------------------------------------------
# Portable hyperplane LSH keys (oracle-checkable bucket keys)
# ---------------------------------------------------------------------------

#: LCG constants for hyperplane components: pure integer arithmetic that
#: any engine reproduces bit-identically — unlike seeded RNG hyperplanes
#: (MLlib's BucketedRandomProjectionLSH), the index itself becomes
#: oracle-checkable.  Component (j, i) = ((A*(j*J + i) + C) % M - 1000)/1000
#: ∈ [-1, 1], plenty uniform for sign buckets.
LSH_A, LSH_C, LSH_M, LSH_J = 1103515245, 12345, 2001, 1000003


def lsh_portable_key(vec_col: str, nbits: int = 4) -> Column:
    """Hyperplane-sign bucket key: bit j = sign(v · h_j) with h_j derived
    from the LCG above.  One interpreted fold per bit; at scale this is
    a write-once index column, not a per-query cost."""
    key = F.lit(0)
    for j in range(nbits):
        dot = F.expr(
            f"aggregate(zip_with(CAST({vec_col} AS ARRAY<DOUBLE>), "
            f"sequence(0, size({vec_col}) - 1), (x, i) -> x * ("
            f"(CAST((CAST({LSH_A} AS BIGINT) * ({j} * {LSH_J} + i) "
            f"+ {LSH_C}) % {LSH_M} AS DOUBLE) - 1000) / 1000.0)), "
            f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        key = key + F.when(dot >= 0, F.lit(2**j)).otherwise(F.lit(0))
    return key


def lsh_key_sql(arr_expr: str, nbits: int = 4) -> str:
    """DuckDB rendering of :func:`lsh_portable_key` over an arbitrary
    DOUBLE[] expression — same LCG constants, so the bucket key is
    bit-identical across engines (the DOCSEM curation oracle reuses
    this).

    The per-plane dot folds LEFT-TO-RIGHT (``list_reduce``, matching
    Spark's ``aggregate``) — a ``list_sum`` would be
    summation-order-free only in exact arithmetic, and a dot near zero
    could flip the sign bit between engines."""
    bits = []
    for j in range(nbits):
        bits.append(
            f"CASE WHEN list_reduce(list_transform("
            f"range(1, len({arr_expr}) + 1), i -> "
            f"{arr_expr}[i] * ((CAST(({LSH_A}::BIGINT * ({j} * {LSH_J} "
            f"+ (i - 1)) + {LSH_C}) % {LSH_M} AS DOUBLE) - 1000) "
            f"/ 1000.0)), (a, b) -> a + b) >= 0 THEN {2**j} ELSE 0 END"
        )
    return "(" + " + ".join(bits) + ")"
