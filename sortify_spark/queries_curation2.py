"""Round-4 curation operators: the published-pipeline quartet, plus
document-level SemDeDup, the KMV cardinality sketch, and one-scan
table profiling (all appended below the quartet).

The quartet — four ops a 100-TB training-data pipeline runs that the
corpus-curation flagship did not yet cover, each with a DuckDB oracle
built from the same constants as the Spark plan:

- ``common_span_removal`` — C4/RefinedWeb-style boilerplate pruning:
  non-overlapping k-word spans counted across the corpus; any span seen
  in >= ``BOILER_MIN_DOCS`` distinct docs is boilerplate and its words
  are deducted.  Explode -> hash-agg -> semi-join-back: every stage
  map-side combines, the span key-space bounds the shuffle, never n².
- ``corpus_freq_buckets`` — CCNet-style head/middle/tail tiering by a
  corpus-statistics language-model proxy: per-doc mean corpus word
  frequency (the unigram-LM likelihood with the log dropped, keeping
  the score an exact bigint-sum / bigint-count so both engines get the
  identical double).  ntile(3) per source with doc_id tie-break.
- ``sequence_packing`` — GPT-style training-sequence packing: docs are
  concatenated in deterministic (source, doc_id) order and cut every
  ``PACK_BUDGET`` tokens; a doc belongs to the sequence where it
  starts, and boundary-straddling docs are counted.  One window per
  source partition; at 100 TB the partition key becomes
  (source, shard-salt) so no single source serializes a window.
- ``semdedup_prune`` — SemDeDup (Abbas et al. 2023) style semantic
  dedup: within a semantic block (the embedding table's label — the
  same IVF-bucket blocking ``embedding_neardup_topk`` uses), drop any
  vector whose cosine to an EARLIER (lower-id) vector >= ``SEM_TAU``
  (the greedy-by-id approximation of keep-one-per-cluster).  Pair
  space is Σ block², never n²; at scale the block count grows with N
  (SemDeDup sets k ∝ N) so block sizes stay bounded.

Reference anchor: the reference's dedup/cleanup surface stops at exact
hashes (backend/app/services/document/document_processing_service.py);
these are the beyond-reference scale ops the build plan calls for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sortify_spark.dedup import DOCSEM_BITS, DOCSEM_DIM, DOCSEM_TAU
from sortify_spark.functions.text import (
    PARA_POS_BASE,
    PARA_W,
    md5_prefix_bigint,
    paragraphs_of,
    rebuild_expr,
)
from sortify_spark.functions.vectors import cosine_given_norms, l2_norm
from sortify_spark.queries import register, _t

SPAN_W = 8  #: words per boilerplate span (non-overlapping)
BOILER_MIN_DOCS = 2  #: distinct-doc threshold for a span to be boilerplate
PACK_BUDGET = 1024  #: tokens per packed training sequence
SEM_TAU = 0.30  #: cosine threshold for semantic near-dup (synthetic corpus)


def _words(col: str = "text"):
    return F.filter(F.split(F.col(col), " "), lambda x: x != "")


# ---------------------------------------------------------------------------
# C4-style common-span (boilerplate) removal
# ---------------------------------------------------------------------------

_SPAN_SQL = f"""
WITH w AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
sp AS (
  SELECT doc_id, source,
         unnest(list_transform(range(0, len(w) // {SPAN_W}),
             s -> array_to_string(
                 w[s*{SPAN_W}+1 : s*{SPAN_W}+{SPAN_W}], ' '))) AS span
  FROM w WHERE len(w) >= {SPAN_W}
),
boiler AS (
  SELECT span FROM sp GROUP BY span
  HAVING COUNT(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
),
rem AS (
  SELECT doc_id, COUNT(*) AS nrem FROM sp
  WHERE span IN (SELECT span FROM boiler) GROUP BY doc_id
),
doc AS (SELECT doc_id, source, len(w) AS nw FROM w)
SELECT source, COUNT(*) AS docs,
       SUM(nw) AS words_total,
       SUM(COALESCE(nrem, 0)) * {SPAN_W} AS words_removed,
       ROUND(CAST(SUM(COALESCE(nrem, 0)) * {SPAN_W} AS DOUBLE)
             / SUM(nw), 6) AS removed_frac
FROM doc LEFT JOIN rem USING (doc_id)
GROUP BY source ORDER BY source
"""


@register(
    "common_span_removal",
    _SPAN_SQL,
    note="C4/RefinedWeb boilerplate pruning: non-overlapping "
    f"{SPAN_W}-word spans, corpus-wide distinct-doc count per span, "
    f"spans in >= {BOILER_MIN_DOCS} docs deducted.  Trailing partial "
    "spans are never removable by design (kept words).  "
    "explode -> map-side-combined hash-agg on span -> broadcast/semi "
    "join back; shuffle volume bounded by the span key-space.",
)
def q_common_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_removal_stats(_t(spark, sf_dir, "documents"))


def span_removal_stats(docs: DataFrame) -> DataFrame:
    """Kernel over any (doc_id, source, text) frame — the registered
    query binds it to the documents table; scale_stress runs it on the
    inflated corpus."""
    w = docs.select("doc_id", "source", _words().alias("w"))
    sp = (
        w.filter(F.size("w") >= SPAN_W)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(
                    F.lit(0), (F.size("w") / SPAN_W).cast("bigint") - 1
                )
            ).alias("s"),
            F.col("w"),
        )
        .select(
            "doc_id",
            "source",
            F.concat_ws(
                " ", F.slice(F.col("w"), F.col("s") * SPAN_W + 1, SPAN_W)
            ).alias("span"),
        )
    )
    boiler = (
        sp.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= BOILER_MIN_DOCS)
        .select("span")
    )
    rem = (
        sp.join(F.broadcast(boiler), "span", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nrem"))
    )
    doc = w.select("doc_id", "source", F.size("w").alias("nw"))
    return (
        doc.join(rem, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("nw").alias("words_total"),
            (F.sum(F.coalesce(F.col("nrem"), F.lit(0))) * SPAN_W).alias(
                "words_removed"
            ),
            F.round(
                (
                    F.sum(F.coalesce(F.col("nrem"), F.lit(0))) * SPAN_W
                ).cast("double")
                / F.sum("nw"),
                6,
            ).alias("removed_frac"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# CCNet-style corpus-frequency tiering
# ---------------------------------------------------------------------------

_FREQ_SQL = """
WITH wx AS (
  SELECT doc_id, source, unnest(list_filter(string_split(text, ' '),
                                            x -> x <> '')) AS word
  FROM documents
),
vocab AS (SELECT word, COUNT(*) AS wc FROM wx GROUP BY word),
ds AS (
  SELECT wx.doc_id, wx.source,
         SUM(vocab.wc) AS fsum, COUNT(*) AS nw
  FROM wx JOIN vocab USING (word)
  GROUP BY wx.doc_id, wx.source
),
tiered AS (
  SELECT source, fsum, nw,
         NTILE(3) OVER (PARTITION BY source
                        ORDER BY CAST(fsum AS DOUBLE) / nw DESC,
                                 doc_id ASC) AS tier
  FROM ds
)
SELECT source, tier, COUNT(*) AS docs, SUM(nw) AS words,
       ROUND(CAST(SUM(fsum) AS DOUBLE) / SUM(nw), 6) AS avg_word_freq
FROM tiered GROUP BY source, tier ORDER BY source, tier
"""


@register(
    "corpus_freq_buckets",
    _FREQ_SQL,
    note="CCNet-style head/middle/tail tiering by self-trained corpus "
    "statistics: per-doc mean corpus word count (exact bigint sum / "
    "bigint count, one double division — engine-identical), ntile(3) "
    "per source with doc_id tie-break.  Vocab build map-side combines; "
    "the word join AQE-broadcasts a small vocab and falls back to a "
    "skew-handled shuffle join when the vocab outgrows broadcast.",
)
def q_corpus_freq_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return freq_bucket_stats(_t(spark, sf_dir, "documents"))


def freq_bucket_stats(docs: DataFrame) -> DataFrame:
    """Kernel over any (doc_id, source, text) frame.

    The occurrence stream NEVER crosses the wire (r4 plan-audit fix,
    now unconditional): the vocab is broadcast EXPLICITLY, so the
    exploded word stream goes scan → explode → broadcast-probe →
    per-doc partial aggregate, and only one compact row per doc is
    exchanged.  The r4 shape left the join strategy to AQE — which
    statically planned a SortMergeJoin whose occurrence-side Exchange
    was materialized (250 M shuffled rows at the 5 M-doc stress scale,
    the 41.9 s hotspot in r4 scale stress) before the runtime
    broadcast conversion could skip it.  Measured at 1000×: explicit
    broadcast 39.3 s vs AQE-converted 45.4 s vs a forced shuffled-hash
    join 61.2 s vs the "pre-aggregate per (doc, word) first" rewrite
    462 s.  Cost left on the table: the corpus is scanned + exploded
    twice (vocab build + score probe) — two shuffle-free passes, the
    right trade against materializing a corpus-sized intermediate.
    Contract: the vocab must fit in executor memory; real pipelines
    bound it (CCNet scores against a FIXED LM vocab), and a
    pathological stopword skews any formulation equally — the
    production answer is the standard hot-key split, not a different
    join.
    """
    wx = docs.select(
        "doc_id", "source", F.explode(_words()).alias("word")
    )
    vocab = wx.groupBy("word").agg(F.count(F.lit(1)).alias("wc"))
    ds = (
        wx.join(F.broadcast(vocab), "word")
        .groupBy("doc_id", "source")
        .agg(F.sum("wc").alias("fsum"), F.count(F.lit(1)).alias("nw"))
    )
    tier_w = Window.partitionBy("source").orderBy(
        F.desc(F.col("fsum").cast("double") / F.col("nw")),
        F.asc("doc_id"),
    )
    tiered = ds.select(
        "source", "fsum", "nw", F.ntile(3).over(tier_w).alias("tier")
    )
    return (
        tiered.groupBy("source", "tier")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("nw").alias("words"),
            F.round(
                F.sum("fsum").cast("double") / F.sum("nw"), 6
            ).alias("avg_word_freq"),
        )
        .orderBy("source", "tier")
    )


# ---------------------------------------------------------------------------
# GPT-style sequence packing
# ---------------------------------------------------------------------------

_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
         COALESCE(len(list_filter(string_split(text, ' '),
                                  x -> x <> '')), 0) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
  FROM t
),
s AS (
  SELECT source, n_tok, cum,
         (cum - n_tok) // {PACK_BUDGET} AS seq_id,
         CASE WHEN (cum - 1) // {PACK_BUDGET}
              > (cum - n_tok) // {PACK_BUDGET}
              THEN 1 ELSE 0 END AS straddle
  FROM c
)
SELECT source, seq_id, COUNT(*) AS docs, SUM(n_tok) AS tokens,
       SUM(straddle) AS straddles
FROM s GROUP BY source, seq_id ORDER BY source, seq_id
"""


@register(
    "sequence_packing",
    _PACK_SQL,
    note="GPT-style sequence packing: docs concatenated in "
    "(source, doc_id) order, cut every "
    f"{PACK_BUDGET} tokens; a doc joins the sequence where it starts "
    "and boundary-straddlers are counted.  One running-sum window per "
    "source; at 100 TB partition on (source, shard-salt) so no single "
    "source serializes a window (packing only needs a deterministic "
    "order WITHIN a shard, not globally).",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(_t(spark, sf_dir, "documents"))


def pack_sequences(docs: DataFrame, shards: int = 1) -> DataFrame:
    """Kernel over any (doc_id, source, text) frame.

    ``shards > 1`` is the skew path for when one source dominates the
    corpus (the 100-TB common case — one crawl source holds most rows):
    the running-sum window partitions on (source, crc32-shard) instead
    of source alone, so no single source serializes one window task.
    Packing only needs a deterministic order WITHIN a shard — each
    shard packs its own token stream and sequence ids are namespaced as
    ``shard · 10⁹ + seq`` so the output schema is shard-free and, at
    ``shards=1``, byte-identical to the oracle-checked shape.  The cost
    of salting is at most ``shards`` extra partially-filled tail
    sequences per source (one per shard), which the balance stats
    surface.
    """
    # null text → 0 tokens (joins the current sequence, adds nothing)
    # rather than a NULL sequence bucket
    t = docs.select(
        "doc_id",
        "source",
        F.coalesce(F.size(_words()), F.lit(0)).alias("n_tok"),
    )
    if shards > 1:
        t = t.withColumn(
            "shard", F.pmod(F.crc32(F.col("doc_id").cast("string")), shards)
        )
        part_keys = ["source", "shard"]
    else:
        t = t.withColumn("shard", F.lit(0))
        part_keys = ["source"]
    win = (
        Window.partitionBy(*part_keys)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tok").over(win))
    s = c.select(
        "source",
        "shard",
        "n_tok",
        (
            F.col("shard").cast("bigint") * 1_000_000_000
            + F.expr(f"(cum - n_tok) div {PACK_BUDGET}")
        ).alias("seq_id"),
        F.when(
            F.expr(f"(cum - 1) div {PACK_BUDGET}")
            > F.expr(f"(cum - n_tok) div {PACK_BUDGET}"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("straddle"),
    )
    return (
        s.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tok").alias("tokens"),
            F.sum("straddle").alias("straddles"),
        )
        .orderBy("source", "seq_id")
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic pruning
# ---------------------------------------------------------------------------

_SEM_SQL = f"""
WITH b AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
d AS (
  SELECT b2.label, b2.vec_id AS j
  FROM b a JOIN b b2 ON a.label = b2.label AND a.vec_id < b2.vec_id
  WHERE ROUND(list_cosine_similarity(a.e, b2.e), 6) >= {SEM_TAU}
  GROUP BY b2.label, b2.vec_id
)
SELECT b.label, COUNT(*) AS n_vecs, COUNT(d.j) AS n_dropped,
       COUNT(*) - COUNT(d.j) AS n_kept,
       SUM(CASE WHEN d.j IS NULL THEN b.vec_id END) AS kept_id_sum
FROM b LEFT JOIN d ON b.label = d.label AND b.vec_id = d.j
GROUP BY b.label ORDER BY b.label
"""


@register(
    "semdedup_prune",
    _SEM_SQL,
    note="SemDeDup semantic dedup: within each semantic block (label = "
    "the IVF-bucket blocking of embedding_neardup_topk), drop any "
    f"vector with cosine >= {SEM_TAU} to an earlier (lower-id) vector "
    "— the greedy-by-id keep-first rule.  Norms computed once per row "
    "below the self-join (N folds, not N²); pair space Σ block², and "
    "at scale block count grows with N (SemDeDup sets k ∝ N) so block "
    "sizes stay bounded.  kept_id_sum hash-pins the exact survivor "
    "set, not just its size.",
)
def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup_stats(_t(spark, sf_dir, "embeddings"))


def semdedup_stats(emb: DataFrame, tau: float = SEM_TAU) -> DataFrame:
    """Kernel over any (vec_id, label, embedding) frame."""
    from sortify_spark.dedup import (
        DEFAULT_HOT_BUCKET_CAP,
        banded_self_join_pairs,
    )
    from sortify_spark.operators.partitioning import fan_out

    # Small-corpus parallelism gate (the fan_out idiom applied to the
    # PAIR stage): a plain equi-self-join on `label` spreads the
    # interpreted O(block²·dim) cosine folds over at most |labels|
    # tasks — at test scale 10 IVF buckets on 32 cores, 3× idle.  When
    # the input is a sub-parallelism scan (local single-file corpus),
    # lower the guard cap so every block sub-splits into id-hash
    # groups and the pair work spreads to g(g+1)/2 partitions per
    # block; candidate set identical (the guard's property-tested
    # contract).  On a cluster-scale scan (#blocks = k ∝ N ≫ cores,
    # SemDeDup's own sizing) the gate leaves the default cap, so the
    # over-cap key broadcast stays flood-only and empty in the common
    # case.
    sc = emb.sparkSession.sparkContext
    small = emb.rdd.getNumPartitions() < sc.defaultParallelism
    hot_cap = 64 if small else DEFAULT_HOT_BUCKET_CAP
    # the fan-out frame feeds ONLY the pair guard (where the norm folds
    # run, below the guard's checkpoint); the final membership join
    # reads a separate unfanned (vec_id, label) projection so its
    # branch keeps the plain scan → single hash exchange shape
    b = fan_out(emb).select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("e"),
    ).withColumn("nrm", l2_norm("e"))
    ids = emb.select("vec_id", "label")

    def _cos_ge_tau():
        # symmetric under a/b swap (the pair_filter contract): the dot
        # fold multiplies term-by-term in index order, so the swapped
        # pair runs the identical IEEE op sequence
        return (
            F.round(
                cosine_given_norms(
                    F.col("e_a"), F.col("e_b"), F.col("nrm_a"), F.col("nrm_b")
                ),
                6,
            )
            >= tau
        )

    # guarded block self-join: an over-cap semantic block (a templated
    # corpus collapsing into one cluster) splits into id-hash groups
    # instead of serializing one quadratic task; pair set unchanged.
    # The cosine predicate rides pair_filter so on the hot path it
    # prunes BEFORE the canonicalization projection's swap-CASEs over
    # the two 64-double carry arrays (dedup.py's documented contract).
    dropped = (
        banded_self_join_pairs(
            b, key_cols=("label",), id_col="vec_id",
            carry_cols=("e", "nrm"),
            hot_cap=hot_cap,
            pair_filter=_cos_ge_tau,
        )
        .select(F.col("label").alias("dlabel"), F.col("id_b").alias("j"))
        .distinct()
    )
    return (
        ids.join(
            dropped,
            (F.col("label") == F.col("dlabel"))
            & (F.col("vec_id") == F.col("j")),
            "left",
        )
        .select("label", "vec_id", "j")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count("j").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("j")).alias("n_kept"),
            F.sum(
                F.when(F.col("j").isNull(), F.col("vec_id"))
            ).alias("kept_id_sum"),
        )
        .orderBy("label")
    )


def semdedup_stats_np(emb: DataFrame, tau: float = SEM_TAU) -> DataFrame:
    """Arrow/BLAS twin of :func:`semdedup_stats` — the throughput path.

    The expression kernel's per-pair cosine is a higher-order array fold
    interpreted per row: O(block² · dim) interpreted multiplies.  This
    twin groups by label and hands each block to numpy as ONE Arrow
    batch: normalize the block matrix, one ``M @ M.T`` (BLAS), round to
    6 decimals (the same contract the expression kernel and the DuckDB
    oracle share), apply the identical greedy-by-id rule.  ~20-40×
    faster per block at dim 64; same output — equality with the
    oracle-checked expression kernel is asserted by
    ``tests/test_scale_queries.py::test_semdedup_np_twin_matches``.

    Scale shape: one shuffle on label; per-block memory is
    O(block_size · dim + block_size²), bounded because SemDeDup sizes
    blocks via k ∝ N.  numpy's pairwise-summed dot may differ from the
    sequential fold at the last ulp, which the shared round-to-6
    contract absorbs (a flip would need a cosine within 1e-10 of a
    6-decimal rounding boundary).
    """
    import numpy as np
    import pandas as pd

    schema = (
        "label int, n_vecs bigint, n_dropped bigint, n_kept bigint, "
        "kept_id_sum bigint"
    )

    def block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        embs = list(pdf["embedding"].iloc[order])
        # null embeddings behave like the expression kernel: cosine is
        # indeterminate → the row is never dropped; a zero row gives
        # cosine 0 everywhere, which at tau > 0 is the same outcome
        dim = next((len(e) for e in embs if e is not None), 1)
        M = np.stack(
            [
                np.zeros(dim)
                if e is None
                else np.asarray(e, dtype=np.float64)
                for e in embs
            ]
        )
        n = np.linalg.norm(M, axis=1)
        n[n == 0] = 1.0  # zero vectors stay zero → cosine 0, like the guard
        U = M / n[:, None]
        C = np.round(U @ U.T, 6)
        hit = np.triu(C >= tau, k=1)  # [i, j] with i < j in id order
        dropped = hit.any(axis=0)
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n_vecs": [int(len(ids))],
                "n_dropped": [int(dropped.sum())],
                "n_kept": [int((~dropped).sum())],
                "kept_id_sum": [int(ids[~dropped].sum())],
            }
        )

    return (
        emb.select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInPandas(block, schema)
        .orderBy("label")
    )


@register(
    "semdedup_prune_np",
    None,  # rows-only: BLAS twin; equality with the oracle-checked
    # expression kernel is unit-tested (test_scale_queries.py)
    note="Arrow/BLAS twin of semdedup_prune — the throughput path "
    "(bench row shows the kernel-swap win at identical output).",
)
def q_semdedup_prune_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup_stats_np(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# SemDeDup over raw documents (no embedding table): expression encoder
# + portable-LSH blocking, fully oracle-replayable
# ---------------------------------------------------------------------------

def _docsem_oracle_sql() -> str:
    from sortify_spark.functions import sql_embed as SE
    from sortify_spark.search.knn import lsh_key_sql

    dim = DOCSEM_DIM
    return f"""
WITH t AS (
  SELECT doc_id, source, {SE.tokens_sql('text')} AS toks FROM documents
),
r AS (SELECT doc_id, source,
             {SE.raw_embed_sql('toks', dim)} AS raw FROM t),
n AS (SELECT doc_id, source, raw, {SE.norm_sql('raw')} AS nrm FROM r),
e AS (SELECT doc_id, source,
             {SE.normalize_sql('raw', 'nrm')} AS e FROM n),
k AS (SELECT doc_id, source, e,
             {lsh_key_sql('e', DOCSEM_BITS)} AS bucket FROM e),
p AS (
  SELECT b.doc_id AS j
  FROM k a JOIN k b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
  WHERE ROUND({SE.dot_sql('a.e', 'b.e', dim)}, 6) >= {DOCSEM_TAU}
  GROUP BY b.doc_id
)
SELECT source, COUNT(*) AS docs, COUNT(p.j) AS dropped,
       COUNT(*) - COUNT(p.j) AS kept,
       SUM(CASE WHEN p.j IS NULL THEN doc_id END) AS kept_id_sum
FROM k LEFT JOIN p ON k.doc_id = p.j
GROUP BY source ORDER BY source
"""


def semdedup_docs_stats(docs: DataFrame) -> DataFrame:
    """SemDeDup directly over text: md5 expression-encoder embeddings
    (unit vectors — cosine reduces to the dot product), hyperplane-sign
    LSH blocks as the semantic clusters, greedy-by-id drop at
    ``DOCSEM_TAU``.  The whole pipeline — tokenize, embed, block, pair,
    drop — is pure Catalyst expressions replayed verbatim in DuckDB.

    Scale: the embedding + bucket key are write-once index columns; the
    pair space is Σ bucket² with bucket count 2^DOCSEM_BITS growing via
    nbits as the corpus grows (the same k ∝ N contract as
    ``semdedup_prune``); the pair dot is dim-16 on unit vectors.
    """
    from sortify_spark.functions.sql_embed import expr_embed
    from sortify_spark.functions.vectors import dot
    from sortify_spark.search.knn import lsh_portable_key

    # Materialize once: the embedded frame feeds both self-join branches
    # AND the final stats join — without it the md5 fold runs three
    # times.  localCheckpoint (not persist) so the blocks are released
    # by the context cleaner when the result is gone, instead of
    # accumulating in the cache manager across repeated invocations.
    # r14: the embedding comes from the broadcast vocab-map form where
    # the vocabulary is bounded (bit-identical fold; md5 work vocab×dim
    # instead of occurrences×dim — see hybrid_lexical_semantic), with
    # the per-occurrence fold kept as the unbounded fallback.
    from sortify_spark.functions.sql_embed import vocab_embed_frame

    vf = vocab_embed_frame(
        docs, id_col="doc_id", dim=DOCSEM_DIM, carry_cols=("source",)
    )
    embedded = (
        vf.withColumnRenamed("id", "doc_id")
        if vf is not None
        else docs.select(
            "doc_id",
            "source",
            expr_embed(F.col("text"), dim=DOCSEM_DIM).alias("e"),
        )
    )
    e = embedded.withColumn(
        "bucket", lsh_portable_key("e", nbits=DOCSEM_BITS)
    ).localCheckpoint(eager=True)
    from sortify_spark.dedup import banded_self_join_pairs

    # guarded block self-join (see semdedup_stats): the greedy drop
    # rule keeps the SMALLER id, so dropped = id_b of each qualifying
    # ordered pair — identical with or without the hot-bucket split
    dropped = (
        banded_self_join_pairs(
            e, key_cols=("bucket",), id_col="doc_id", carry_cols=("e",)
        )
        .filter(F.round(dot(F.col("e_a"), F.col("e_b")), 6) >= DOCSEM_TAU)
        .select(F.col("id_b").alias("j"))
        .distinct()
    )
    return (
        e.join(dropped, e.doc_id == dropped.j, "left")
        .select("source", "doc_id", "j")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.count("j").alias("dropped"),
            (F.count(F.lit(1)) - F.count("j")).alias("kept"),
            F.sum(
                F.when(F.col("j").isNull(), F.col("doc_id"))
            ).alias("kept_id_sum"),
        )
        .orderBy("source")
    )


@register(
    "semdedup_docs",
    _docsem_oracle_sql(),
    note="SemDeDup over raw documents: md5 expression-encoder unit "
    "embeddings, 6-bit hyperplane-sign LSH blocks as semantic "
    f"clusters, greedy-by-id drop at dot >= {DOCSEM_TAU}.  Tokenize -> "
    "embed -> block -> pair -> drop is one expression pipeline, "
    "replayed verbatim in DuckDB (same LCG hyperplanes, same fold "
    "orders).  Σ bucket² pair space; embedding and bucket are "
    "write-once index columns at scale.",
)
def q_semdedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup_docs_stats(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# KMV distinct sketch: mergeable cardinality estimation, deterministic
# (md5 hash space) so the sketch itself is oracle-checkable
# ---------------------------------------------------------------------------

KMV_K = 64  #: sketch size (k smallest hashes kept)
_KMV_SPACE = float(2**32)  #: md5-prefix hash space


def kmv_sketch_stats(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """Per-event-type KMV cardinality sketch vs the exact count.

    The sketch keeps the k smallest distinct 32-bit md5-prefix hashes of
    the key; estimate = (k-1) · 2³² / kth_min.  Unlike HLL
    (`approx_count_distinct`, whose register layout is
    engine-internal), KMV over a fixed hash is FULLY deterministic, so
    estimate AND sketch content replay exactly in DuckDB — an
    approx-distinct path that still passes a value-hash gate.

    Scale: the k-smallest pass is a map-side-combinable aggregate shape
    (distinct hash → per-partition top-k via window at this size; at
    100 TB swap the window for a partial top-k aggregator, same
    contract); sketches MERGE by unioning and re-taking the k smallest
    — proven by ``test_kmv_sketch_merges`` sharding the input 8 ways
    and recovering the identical sketch.  The exact count is computed
    alongside here only to audit the relative error.
    """
    from pyspark.sql import Window as W

    h = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
            16,
            10,
        )
        .cast("bigint")
        .alias("h")
    )
    hashes = events.select("event_type", h).distinct()
    rn = F.row_number().over(
        W.partitionBy("event_type").orderBy(F.asc("h"))
    )
    topk = hashes.withColumn("rn", rn).filter(F.col("rn") <= k)
    sk = topk.groupBy("event_type").agg(
        F.max("h").alias("kth_hash"),
        F.count(F.lit(1)).alias("sketch_size"),
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    est = F.when(
        F.col("sketch_size") < k,
        F.col("sketch_size").cast("double"),  # undersaturated → exact
    ).otherwise(
        F.round((k - 1) * F.lit(_KMV_SPACE) / F.col("kth_hash"), 6)
    )
    return (
        sk.join(exact, "event_type")
        .select(
            "event_type",
            "kth_hash",
            "sketch_size",
            est.alias("est_distinct"),
            "exact_distinct",
            F.round(
                F.abs(
                    est - F.col("exact_distinct").cast("double")
                )
                / F.col("exact_distinct"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


_KMV_SQL = f"""
WITH hx AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM events
),
tk AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
  FROM hx
),
sk AS (
  SELECT event_type, MAX(h) AS kth_hash, COUNT(*) AS sketch_size
  FROM tk WHERE rn <= {KMV_K} GROUP BY event_type
),
ex AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
),
j AS (
  SELECT sk.event_type, kth_hash, sketch_size,
         CASE WHEN sketch_size < {KMV_K}
              THEN CAST(sketch_size AS DOUBLE)
              ELSE ROUND(({KMV_K} - 1) * {_KMV_SPACE} / kth_hash, 6)
         END AS est_distinct,
         exact_distinct
  FROM sk JOIN ex ON sk.event_type = ex.event_type
)
SELECT event_type, kth_hash, sketch_size, est_distinct, exact_distinct,
       ROUND(ABS(est_distinct - CAST(exact_distinct AS DOUBLE))
             / exact_distinct, 6) AS rel_err
FROM j ORDER BY event_type
"""


@register(
    "kmv_distinct_sketch",
    _KMV_SQL,
    note=f"KMV cardinality sketch (k={KMV_K}): k smallest distinct md5 "
    "hashes per event_type, estimate (k-1)*2^32/kth_min, audited "
    "against the exact count.  Deterministic hash space makes the "
    "whole sketch value-hash-checkable (unlike HLL); sketches merge "
    "by union + re-take-k (tested).",
)
def q_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmv_sketch_stats(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Table profiling: Deequ-style per-column audit in ONE scan
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def profile_stats(df: DataFrame, cols=_PROFILE_COLS) -> DataFrame:
    """Per-column profile — rows, nulls, exact distincts, min/max (as
    strings for a uniform shape) — computed in a SINGLE pass: one wide
    aggregate row unpivoted to (column, ...) rows.  The one-scan shape
    is the point at 100 TB: five per-column queries would read the
    table five times; this reads it once (count-distincts share the
    same shuffle via Spark's multiple-distinct rewrite via Expand)."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(
                F.when(F.col(c).isNull(), 1).otherwise(0)
            ).alias(f"{c}__nulls"),
            F.countDistinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) AS "
        "(col_name, n_rows, n_nulls, n_distinct, min_str, max_str)"
    ).orderBy("col_name")


def _profile_oracle_sql(cols=_PROFILE_COLS, source: str = "documents") -> str:
    parts = [
        f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       MIN(CAST({c} AS VARCHAR)) AS min_str,
       MAX(CAST({c} AS VARCHAR)) AS max_str
FROM {source}"""
        for c in cols
    ]
    return "\nUNION ALL\n".join(parts) + "\nORDER BY col_name"


@register(
    "profile_documents",
    _profile_oracle_sql(),
    note="Deequ-style table profile: rows/nulls/exact distincts/min/max "
    "per column, ONE scan via a wide aggregate unpivoted with stack() "
    "— five per-column queries would read the table five times.",
)
def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_stats(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al., MOSS): guaranteed-density
# local fingerprint selection + cross-doc overlap pairs
# ---------------------------------------------------------------------------

WIN_K = 4  #: words per k-gram
WIN_W = 4  #: k-gram hashes per winnowing window


def winnowing_pairs(docs: DataFrame, top: int = 20) -> DataFrame:
    """MOSS-style overlap detection: per doc, hash every ``WIN_K``-word
    k-gram (md5-prefix ints — engine-identical), slide a ``WIN_W``
    window over the hash sequence keeping each window's MINIMUM, and
    count shared selected fingerprints across doc pairs (top pairs by
    shared count).

    vs MinHash: winnowing guarantees any shared run of
    ``WIN_K + WIN_W - 1`` words is DETECTED (a shared window forces a
    shared selected min), with selected density ~2/(w+1) — the
    plagiarism-grade local guarantee MinHash's global sampling lacks.
    Scale: selected fingerprints per doc are O(n·2/(w+1)); the pair
    space is Σ per-fingerprint-bucket², the same bounded equi-join
    shape as the span and band joins.
    """
    w = _words()
    gram = lambda arr, i: F.concat_ws(" ", F.slice(arr, i, WIN_K))  # noqa: E731
    h = F.transform(
        F.sequence(F.lit(1), F.size(F.col("__w")) - (WIN_K - 1)),
        lambda i: F.conv(
            F.substring(F.md5(gram(F.col("__w"), i)), 1, 8), 16, 10
        ).cast("bigint"),
    )
    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("__h")) - (WIN_W - 1)),
            lambda j: F.array_min(F.slice(F.col("__h"), j, WIN_W)),
        )
    )
    # per-gram md5 + window-min selection are interpreted higher-order
    # expressions evaluated in the scan stage — fan the tiny single-file
    # scan out to every core first (cluster no-op; §4-equivalent cost)
    from sortify_spark.operators.partitioning import fan_out

    fps = (
        fan_out(docs)
        .select("doc_id", w.alias("__w"))
        .filter(F.size("__w") >= WIN_K + WIN_W - 1)
        .select("doc_id", h.alias("__h"))
        .select("doc_id", F.explode(sel).alias("fp"))
        .distinct()
    )
    from sortify_spark.dedup import banded_self_join_pairs

    # guarded fingerprint-bucket self-join: a boilerplate fingerprint
    # shared by a huge doc fraction splits instead of serializing
    return (
        banded_self_join_pairs(fps, key_cols=("fp",), id_col="doc_id")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .orderBy(F.desc("shared_fps"), F.asc("id_a"), F.asc("id_b"))
        .limit(top)
    )


_WINNOW_SQL = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
h AS (
  SELECT doc_id,
         list_transform(range(1, len(w) - {WIN_K - 2}),
             i -> ('0x' || substr(md5(
                      array_to_string(w[i : i + {WIN_K - 1}], ' ')),
                   1, 8))::BIGINT) AS h
  FROM w WHERE len(w) >= {WIN_K + WIN_W - 1}
),
fp AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(
      list_transform(range(1, len(h) - {WIN_W - 2}),
          j -> list_min(h[j : j + {WIN_W - 1}])))) AS fp
  FROM h
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fps
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
ORDER BY shared_fps DESC, id_a ASC, id_b ASC LIMIT 20
"""


@register(
    "winnowing_pairs",
    _WINNOW_SQL,
    note=f"Winnowing (MOSS) overlap pairs: {WIN_K}-word k-gram md5 "
    f"hashes, window-of-{WIN_W} minimum selection (guaranteed "
    f"detection of any shared {WIN_K + WIN_W - 1}-word run, density "
    f"~2/{WIN_W + 1}), shared-fingerprint counts per doc pair, top 20. "
    "The local-match guarantee MinHash's global sampling lacks; same "
    "bounded fingerprint-bucket equi-join shape.",
)
def q_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnowing_pairs(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# N-gram novelty: per-source fraction of overlapping k-grams that are
# corpus-duplicated — the templated-text signal
# ---------------------------------------------------------------------------

NOV_K = 3  #: overlapping k-gram width
NOV_DUP_FRAC = 0.5  #: per-doc duplicated-gram fraction flagging templated docs


def ngram_novelty_stats(docs: DataFrame) -> DataFrame:
    """Per source: total overlapping ``NOV_K``-grams, how many of them
    also occur in ANOTHER doc (corpus-duplicated), the exact duplicated
    fraction (bigint sums, one division), and how many docs exceed
    ``NOV_DUP_FRAC`` duplicated-gram share (templated-doc count).

    This is the cross-doc OVERLAPPING-gram coverage signal —
    complementary to ``common_span_removal`` (exact non-overlapping
    chunks) and ``repetition_signals`` (within-doc).  Shuffle shape:
    ONE tokenize+explode pass (the r13 rewrite: the old
    gram-doc-frequency branch + gram-key join-back evaluated the
    interpreted gram kernel twice) feeds a map-side-combined
    per-(gram, doc) count; gram doc-frequency is then a count over the
    gram window of that compacted frame (one row per (gram, doc), so
    ``count(*)`` IS ``count(distinct doc)``), and per-doc totals are
    weighted sums of the per-(gram, doc) counts — exact bigint
    arithmetic, identical values."""
    from sortify_spark.operators.partitioning import fan_out

    w = _words()
    grams = (
        fan_out(docs)
        .select("doc_id", "source", w.alias("__w"))
        .filter(F.size("__w") >= NOV_K)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1), F.size(F.col("__w")) - (NOV_K - 1)
                    ),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("__w"), i, NOV_K)
                    ),
                )
            ).alias("gram"),
        )
    )
    gcounts = grams.groupBy("gram", "doc_id", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    gdocs = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    per_doc = (
        gcounts.withColumn("gdocs", gdocs)
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(
                F.when(F.col("gdocs") >= 2, F.col("c")).otherwise(0)
            ).alias("dup_grams"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_grams").alias("grams_total"),
            F.sum("dup_grams").alias("grams_duplicated"),
            F.round(
                F.sum("dup_grams").cast("double") / F.sum("n_grams"), 6
            ).alias("dup_frac"),
            F.sum(
                F.when(
                    F.col("dup_grams").cast("double")
                    > F.lit(NOV_DUP_FRAC) * F.col("n_grams"),
                    1,
                ).otherwise(0)
            ).alias("templated_docs"),
        )
        .orderBy("source")
    )


_NOVELTY_SQL = f"""
WITH w AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
g AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(w) - {NOV_K - 2}),
             i -> array_to_string(w[i : i + {NOV_K - 1}], ' '))) AS gram
  FROM w WHERE len(w) >= {NOV_K}
),
gdf AS (SELECT gram, COUNT(DISTINCT doc_id) AS gdocs FROM g GROUP BY gram),
pd AS (
  SELECT doc_id, source, COUNT(*) AS n_grams,
         SUM(CASE WHEN gdocs >= 2 THEN 1 ELSE 0 END) AS dup_grams
  FROM g JOIN gdf USING (gram)
  GROUP BY doc_id, source
)
SELECT source, COUNT(*) AS docs,
       SUM(n_grams) AS grams_total,
       SUM(dup_grams) AS grams_duplicated,
       ROUND(CAST(SUM(dup_grams) AS DOUBLE) / SUM(n_grams), 6) AS dup_frac,
       SUM(CASE WHEN CAST(dup_grams AS DOUBLE)
                     > {NOV_DUP_FRAC} * n_grams
                THEN 1 ELSE 0 END) AS templated_docs
FROM pd GROUP BY source ORDER BY source
"""


@register(
    "ngram_novelty",
    _NOVELTY_SQL,
    note=f"Cross-doc overlapping {NOV_K}-gram novelty: duplicated-gram "
    "fraction per source (exact bigint sums, one division) and "
    f"templated-doc count at >{NOV_DUP_FRAC} duplicated share — the "
    "RefinedWeb-style templated-text signal, complementary to exact "
    "span removal (non-overlapping) and repetition signals "
    "(within-doc).  Map-side-combined gram hash-agg + gram-key join "
    "back; no n² anywhere.",
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_novelty_stats(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Dolma-style paragraph-level exact dedup with document reassembly
# ---------------------------------------------------------------------------

def paragraph_dedup_stats(docs: DataFrame) -> DataFrame:
    """Per-source paragraph-dedup audit with full text reassembly:
    (source, docs, paras_total, paras_dropped, docs_emptied,
    rebuilt_hash_sum).

    Dolma (Soldaini et al. 2024) and RedPajama-v2 dedup at PARAGRAPH
    granularity below document level: every duplicated paragraph keeps
    exactly ONE copy corpus-wide (the earliest by (doc_id, position) —
    first-writer-wins), and documents are re-emitted with their
    surviving paragraphs in order.  This is a different contract from
    ``common_span_removal`` (C4 boilerplate: spans frequent enough are
    removed EVERYWHERE, no copy survives).  The synthetic corpus has no
    newline structure, so pseudo-paragraphs are the non-overlapping
    ``PARA_W``-word windows (trailing partial window kept — reassembly
    is total: a doc is exactly the concatenation of its paragraphs).

    ``rebuilt_hash_sum`` hash-checks the actual reconstructed text of
    every doc (md5-prefix sum, the repo's hash-bucket idiom), so the
    oracle proves the rebuilt strings — not just the counts.

    Scale shape: one explode of the corpus into paragraphs; the winner
    per paragraph is a MAP-SIDE-COMBINED min over a composite bigint
    (doc_id * 2^20 + pidx) — on a duplicate-heavy crawl the combiner
    collapses each hot paragraph to one row per partition before the
    shuffle (a window row_number would sort the full occurrence stream
    with no partial aggregation); join-back on the paragraph key, then
    one groupBy(doc) rebuild and one per-source rollup.  No n², no
    driver-side anything.
    """
    # One materialization of the paragraph stream: winners and the
    # join-back otherwise EACH re-run the interpreted chunk kernel
    # (transform + slice + array_join per paragraph) — the same
    # redundant-pass pathology the round-13 ngram/dsir fixes removed;
    # the sibling substring_dedup_stats checkpoints its token frame for
    # the same reason.  The winner MIN stays a map-side-combined
    # aggregate + join (NOT a window): on a duplicate-heavy crawl the
    # combiner collapses hot paragraphs before the shuffle and AQE can
    # skew-split the join, neither of which a window over ptext gets.
    p = paragraphs_of(docs).localCheckpoint(eager=False)
    winners = p.groupBy("ptext").agg(F.min("pos_key").alias("w0"))
    kept = (
        p.join(winners, "ptext")
        .filter(F.col("pos_key") == F.col("w0"))
        .groupBy("doc_id")
        .agg(
            rebuild_expr().alias("rebuilt"),
            F.count(F.lit(1)).alias("paras_kept"),
        )
    )
    # paras_total is pure arithmetic on the word count — ceil(n / w)
    # for n > 0 exactly reproduces the explode's row count (docs with
    # no paragraphs produce no rows, same as the oracle's unnest) — so
    # the totals branch needs ONE tokenize pass and NO explode/shuffle.
    totals = docs.select(
        "doc_id",
        "source",
        F.size(_words()).alias("__n"),
    ).select(
        "doc_id",
        "source",
        F.expr(f"(__n + {PARA_W - 1}) DIV {PARA_W}").alias("paras_total"),
    ).filter(F.col("paras_total") > 0)
    d = totals.join(kept, "doc_id", "left").select(
        "source",
        "paras_total",
        F.coalesce("paras_kept", F.lit(0)).alias("paras_kept"),
        F.coalesce("rebuilt", F.lit("")).alias("rebuilt"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("paras_total").cast("bigint").alias("paras_total"),
            F.sum(F.col("paras_total") - F.col("paras_kept"))
            .cast("bigint")
            .alias("paras_dropped"),
            F.sum(F.when(F.col("paras_kept") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_emptied"),
            F.sum(md5_prefix_bigint("rebuilt"))
            .cast("bigint")
            .alias("rebuilt_hash_sum"),
        )
        .orderBy("source")
    )


_PARA_SQL = f"""
WITH w AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
p0 AS (
  SELECT doc_id, source, w,
         unnest(range(0, (len(w) + {PARA_W - 1}) // {PARA_W})) AS pidx
  FROM w
),
p AS (
  SELECT doc_id, source, pidx,
         array_to_string(
             w[pidx * {PARA_W} + 1 : pidx * {PARA_W} + {PARA_W}], ' ')
             AS ptext,
         doc_id * {PARA_POS_BASE} + pidx AS pos_key
  FROM p0
),
winners AS (SELECT ptext, MIN(pos_key) AS w0 FROM p GROUP BY ptext),
kept AS (
  SELECT p.doc_id,
         string_agg(p.ptext, ' ' ORDER BY p.pidx) AS rebuilt,
         COUNT(*) AS paras_kept
  FROM p JOIN winners ON p.ptext = winners.ptext AND p.pos_key = winners.w0
  GROUP BY p.doc_id
),
totals AS (
  SELECT doc_id, source, COUNT(*) AS paras_total FROM p GROUP BY 1, 2
),
d AS (
  SELECT totals.source, totals.paras_total,
         COALESCE(kept.paras_kept, 0) AS paras_kept,
         COALESCE(kept.rebuilt, '') AS rebuilt
  FROM totals LEFT JOIN kept ON totals.doc_id = kept.doc_id
)
SELECT source, COUNT(*) AS docs,
       CAST(SUM(paras_total) AS BIGINT) AS paras_total,
       CAST(SUM(paras_total - paras_kept) AS BIGINT) AS paras_dropped,
       CAST(SUM(CASE WHEN paras_kept = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_emptied,
       CAST(SUM(('0x' || substring(md5(rebuilt), 1, 7))::BIGINT) AS BIGINT)
           AS rebuilt_hash_sum
FROM d GROUP BY source ORDER BY source
"""


@register(
    "paragraph_dedup_keep_first",
    _PARA_SQL,
    note="Dolma/RedPajama-v2 paragraph-level exact dedup with document "
    f"reassembly: non-overlapping {PARA_W}-word pseudo-paragraphs "
    "(tail kept), every duplicated paragraph keeps exactly ONE copy "
    "corpus-wide (earliest by (doc_id, position) via a map-side-"
    "combined MIN over a composite bigint), docs re-emitted with "
    "surviving paragraphs in order and the REBUILT TEXT hash-checked "
    "per source — a different contract from common_span_removal "
    "(C4 removes all copies of frequent spans).  One paragraph "
    "explode, combiner-collapsed winner agg, key join-back, one "
    "rebuild groupBy.",
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return paragraph_dedup_stats(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Exact substring dedup (Lee et al. 2021) — sliding-window keep-first
# ---------------------------------------------------------------------------

SSD_W = 8  #: duplicated-window width in words (Lee et al. use 50 BPE
#: tokens on web crawl; the synthetic docs are short, so 8 keeps the
#: operator observable at test SF — the plan is width-independent)
SSD_BASE = 1 << 20  #: composite (doc_id, window-start) bigint base —
#: same documented bounds as PARA_POS_BASE (doc_id < 2^43, s < 2^20)


def substring_dedup_stats(docs: DataFrame, w: int = SSD_W) -> DataFrame:
    """Per-source EXACT substring dedup audit with text reassembly:
    (source, docs, tokens_total, tokens_removed, docs_emptied,
    rebuilt_hash_sum).

    Lee et al. 2021 ("Deduplicating Training Data Makes Language
    Models Better") dedupe exact SUBSTRINGS below both document and
    paragraph granularity with suffix arrays; the Spark-native exact
    equivalent at window granularity: every ``w``-token sliding window
    (stride 1) that occurs more than once corpus-wide keeps its FIRST
    occurrence (min (doc_id, position)), and a token survives iff it
    is covered by at least one KEPT window (tokens of sub-``w`` docs
    always survive — nothing to match).  That coverage rule is what
    makes this Lee-style rather than naive: in a self-repeating doc
    ``x*n`` the first window keeps its ``w`` tokens and only the tail
    is removed, and a doc embedding a copied span keeps the span's
    boundary tokens (whose windows straddle into unique text) while
    the interior is removed.  Differs from ``paragraph_dedup`` (fixed
    non-overlapping blocks — misses dups at unaligned offsets) and
    from ``common_span_removal`` (C4 removes ALL copies, no survivor).

    Scale shape: ONE wide shuffle — the per-window-gram MIN over a
    composite bigint, map-side combinable, so a duplicate-heavy crawl
    collapses each hot window to one row per partition before the
    exchange; windows are md5 surrogates (16 bytes, never the text).
    The winner rows THEMSELVES encode (doc_id, start) — no join back
    to the window stream at all (the aggregate output is decoded with
    DIV/MOD), so the boilerplate-gram skew that would make a join-back
    one-sided never materializes.  Interval merging is two
    same-partitioning windows over the winner rows (one per distinct
    surviving gram — bounded), and the rebuild is interval SLICES of
    the token array (no per-token lambda over intervals).
    """
    from sortify_spark.operators.partitioning import fan_out
    from pyspark.sql.window import Window

    par = docs.sparkSession.sparkContext.defaultParallelism
    toks = (
        fan_out(docs)
        .select("doc_id", "source", _words().alias("w"))
        # projection-collapse barrier (dedup.py:170-192): without the
        # exchange the split re-evaluates inside every slice()
        .repartition(par, "doc_id")
        .select("doc_id", "source", "w", F.size("w").alias("n"))
        .localCheckpoint(eager=False)
    )
    wins = toks.filter(F.col("n") >= w).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, n - {w}), "
                f"s -> md5(CAST(array_join(slice(w, s + 1, {w}), ' ') "
                "AS BINARY)))"
            )
        ).alias("s", "g"),
    )
    kept = (
        wins.groupBy("g")
        .agg(
            F.min(
                F.col("doc_id") * F.lit(SSD_BASE) + F.col("s")
            ).alias("k")
        )
        .select(
            F.expr(f"k DIV {SSD_BASE}").alias("doc_id"),
            F.expr(f"k % {SSD_BASE}").cast("int").alias("s"),
        )
    )
    # gaps-and-islands merge of the kept [s, s+w) intervals per doc
    prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = kept.withColumn(
        "brk",
        F.when(
            F.col("s")
            > F.coalesce(F.max(F.col("s") + w).over(prev), F.lit(-1)),
            1,
        ).otherwise(0),
    ).withColumn("grp", F.sum("brk").over(cum))
    merged = isl.groupBy("doc_id", "grp").agg(
        F.min("s").alias("st"), (F.max("s") + w).alias("en")
    )
    parts = merged.join(toks, "doc_id").select(
        "doc_id",
        "st",
        F.expr("array_join(slice(w, st + 1, en - st), ' ')").alias(
            "part"
        ),
        (F.col("en") - F.col("st")).alias("kept_tok"),
    )
    agg_parts = parts.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(st, part))), x -> x.part), ' ')"
        ).alias("kept_text"),
        F.sum("kept_tok").alias("kept_tok"),
    )
    perdoc = toks.join(agg_parts, "doc_id", "left").select(
        "source",
        "n",
        F.when(F.col("n") < w, F.expr("array_join(w, ' ')"))
        .otherwise(F.coalesce("kept_text", F.lit("")))
        .alias("rebuilt"),
        F.when(F.col("n") < w, F.lit(0))
        .otherwise(F.col("n") - F.coalesce("kept_tok", F.lit(0)))
        .alias("removed"),
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n").cast("bigint").alias("tokens_total"),
            F.sum("removed").cast("bigint").alias("tokens_removed"),
            F.sum(
                F.when(
                    (F.col("n") >= w) & (F.col("rebuilt") == ""), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("docs_emptied"),
            F.sum(md5_prefix_bigint("rebuilt"))
            .cast("bigint")
            .alias("rebuilt_hash_sum"),
        )
        .orderBy("source")
    )


_SSD_SQL = f"""
WITH tn AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS w,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
  FROM documents
),
wins0 AS (
  SELECT doc_id, w, unnest(range(0, n - {SSD_W} + 1)) AS s FROM tn
),
wins AS (
  SELECT doc_id, s,
         md5(array_to_string(w[s + 1 : s + {SSD_W}], ' ')) AS g
  FROM wins0
),
kept AS (
  SELECT k // {SSD_BASE} AS doc_id, k % {SSD_BASE} AS s
  FROM (SELECT MIN(doc_id * {SSD_BASE} + s) AS k FROM wins GROUP BY g)
),
isl AS (
  SELECT doc_id, s,
         CASE WHEN s > COALESCE(MAX(s + {SSD_W}) OVER (
                  PARTITION BY doc_id ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              -1)
              THEN 1 ELSE 0 END AS brk
  FROM kept
),
isl2 AS (
  SELECT doc_id, s,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS grp
  FROM isl
),
merged AS (
  SELECT doc_id, MIN(s) AS st, MAX(s) + {SSD_W} AS en
  FROM isl2 GROUP BY doc_id, grp
),
parts AS (
  SELECT m.doc_id, m.st,
         array_to_string(t.w[m.st + 1 : m.en], ' ') AS part,
         m.en - m.st AS kept_tok
  FROM merged m JOIN tn t ON m.doc_id = t.doc_id
),
agg_parts AS (
  SELECT doc_id, string_agg(part, ' ' ORDER BY st) AS kept_text,
         SUM(kept_tok) AS kept_tok
  FROM parts GROUP BY doc_id
),
perdoc AS (
  SELECT t.source, t.n,
         CASE WHEN t.n < {SSD_W} THEN array_to_string(t.w, ' ')
              ELSE COALESCE(a.kept_text, '') END AS rebuilt,
         CASE WHEN t.n < {SSD_W} THEN 0
              ELSE t.n - COALESCE(a.kept_tok, 0) END AS removed
  FROM tn t LEFT JOIN agg_parts a ON t.doc_id = a.doc_id
)
SELECT source, COUNT(*) AS docs,
       CAST(SUM(n) AS BIGINT) AS tokens_total,
       CAST(SUM(removed) AS BIGINT) AS tokens_removed,
       CAST(SUM(CASE WHEN n >= {SSD_W} AND rebuilt = '' THEN 1 ELSE 0
                END) AS BIGINT) AS docs_emptied,
       CAST(SUM(('0x' || substring(md5(rebuilt), 1, 7))::BIGINT)
            AS BIGINT) AS rebuilt_hash_sum
FROM perdoc GROUP BY source ORDER BY source
"""


@register(
    "substring_dedup_keep_first",
    _SSD_SQL,
    note="EXACT substring dedup below paragraph granularity (Lee et "
    f"al. 2021, window form): every duplicated {SSD_W}-token sliding "
    "window keeps its FIRST occurrence corpus-wide (map-side-combined "
    "MIN over a composite bigint of md5 window surrogates); a token "
    "survives iff covered by at least one kept window, so copied-span "
    "interiors are removed while boundary tokens and the first copy "
    "survive; docs rebuilt from merged kept intervals (gaps-and-"
    "islands) and the REBUILT TEXT hash-checked per source.  Winner "
    "rows encode (doc, start) directly — no join back onto the "
    "window stream, so hot boilerplate grams never skew a join.",
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_dedup_stats(_t(spark, sf_dir, "documents"))
