"""Dedup *resolution* queries — not just finding duplicates but emitting
the kept corpus, the operation a training-data pipeline actually runs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sortify_spark import dedup
from sortify_spark import textstats as ts
from sortify_spark.queries import register, _t
from sortify_spark.streaming import await_or_raise

_FP = ts.FINGERPRINT_SQL.format(t="text")


@register(
    "dedup_keep_representative",
    f"""
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY {_FP}
                                ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    note="Exact dedup resolution: keep the lowest-id representative per "
    "content fingerprint — one partitioned row_number window, the "
    "distributed form of hash-groupBy dedup (dedup.py).",
)
def q_dedup_keep_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept = dedup.drop_exact_duplicates(_t(spark, sf_dir, "documents"))
    return kept.select("doc_id", "lang", "n_chars")


def _curation_oracle() -> str:
    """Compose the stage oracles: exact dedup → near-dup drop → quality
    and language filter → per-source token budget."""
    fp = ts.FINGERPRINT_SQL.format(t="text")
    kept_exact = f"""(
      SELECT doc_id, text, lang, source, n_chars FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY {fp}
                                     ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    )"""
    pairs = dedup.minhash_lsh_oracle_sql(
        threshold=0.5, shingle_k=3, source="kept_exact"
    )
    quality = ts.quality_score_sql("text", "n_chars")
    tokens = ts.TOKEN_COUNT_SQL.format(t="text")
    return f"""
    WITH kept_exact AS {kept_exact},
    pairs AS ({pairs}),
    kept AS (
      SELECT * FROM kept_exact
      WHERE doc_id NOT IN (SELECT id_b FROM pairs)
    ),
    filtered AS (
      SELECT * FROM kept
      WHERE {quality} >= 0.5 AND lang IN ('en', 'de', 'fr', 'es')
    )
    SELECT source,
           COUNT(*) AS docs,
           CAST(SUM({tokens}) AS BIGINT) AS token_budget
    FROM filtered GROUP BY source
    """


@register(
    "corpus_curation",
    _curation_oracle(),
    note="Flagship training-data curation pipeline in ONE lazy plan: "
    "exact dedup (fingerprint window) → MinHash-LSH near-dup drop "
    "(anti-join) → quality >= 0.5 and language filter → per-source "
    "token budget. Every stage reuses an independently oracle-checked "
    "operator; the composed oracle is the composition of their SQL.",
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    kept_exact = dedup.drop_exact_duplicates(docs)
    pairs = dedup.minhash_lsh_pairs(kept_exact, threshold=0.5, use_shingles=3)
    kept = dedup.drop_near_duplicates(kept_exact, pairs)
    filtered = kept.filter(
        (ts.quality_score(F.col("text"), F.col("n_chars")) >= 0.5)
        & F.col("lang").isin("en", "de", "fr", "es")
    )
    return filtered.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(ts.token_count(F.col("text"))).cast("bigint").alias(
            "token_budget"
        ),
    )


@register(
    "streaming_dedup",
    f"""
    WITH allrows AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25
    )
    SELECT {_FP} AS fp, MIN(doc_id) AS doc_id
    FROM allrows GROUP BY 1
    """,
    note="Custom stateful streaming operator (applyInPandasWithState): "
    "exact dedup at ingest — per-fingerprint state emits one "
    "representative ever, across microbatches. The availableNow run "
    "over documents + 25 injected duplicates must hash-match the batch "
    "group-min oracle; cross-batch suppression is covered in "
    "tests/test_scale_queries.py.",
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from sortify_spark.streaming.pipeline import streaming_exact_dedup

    docs = _t(spark, sf_dir, "documents")
    dupes = docs.filter(F.col("doc_id") < 25).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    full = docs.unionByName(dupes).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    tmp = tempfile.mkdtemp(prefix="sortify_sdedup_")
    full.write.mode("overwrite").parquet(f"{tmp}/in")
    q = streaming_exact_dedup(
        spark, f"{tmp}/in", f"{tmp}/ckpt", out_table="streaming_dedup_out"
    )
    # availableNow terminates on its own; a False return means the
    # 300 s timeout fired with the stream still running, and reading
    # the memory table then would silently return a PARTIAL result
    # that hash-mismatches the oracle with no err recorded (ADVICE r7)
    await_or_raise(q, 300, "streaming_dedup")
    return spark.table("streaming_dedup_out")


@register(
    "corpus_after_neardup",
    f"""
    WITH pairs AS ({dedup.minhash_lsh_oracle_sql(threshold=0.5, shingle_k=3)})
    SELECT doc_id, lang FROM documents
    WHERE doc_id NOT IN (SELECT id_b FROM pairs)
    """,
    note="Near-dup resolution end-to-end: MinHash-LSH verified pairs → "
    "greedy drop of each pair's higher id → kept corpus as one "
    "anti-join (no iterative connected components).",
)
def q_corpus_after_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5, use_shingles=3)
    return dedup.drop_near_duplicates(docs, pairs).select("doc_id", "lang")


@register(
    "decontaminate_vs_benchmark",
    dedup.decontaminate_oracle_sql(shingle_k=5, bench_mod=53),
    note="Benchmark decontamination (training-data pipeline step beyond "
    "the reference): training docs sharing any 5-word shingle with the "
    "held-out benchmark slice (doc_id % 53 = 0) are flagged via a "
    "broadcast left-semi join on exploded shingles — the training side "
    "never shuffles. Per-source contamination counts are oracle-exact.",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 53 == 0)
    train = docs.filter(F.col("doc_id") % 53 != 0)
    flagged = dedup.contaminated_by_shingles(train, bench, shingle_k=5)
    return (
        flagged.join(docs.select(F.col("doc_id").alias("id"), "source"), "id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("contaminated_docs"))
    )


def _contamination_fraction_oracle(
    shingle_k: int = 5, bench_mod: int = 53
) -> str:
    sh = dedup._shingle_list_expr(shingle_k)
    return f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    base AS (SELECT doc_id, {sh} AS toks FROM w),
    sh AS (SELECT doc_id, unnest(toks) AS shingle
           FROM base WHERE len(toks) > 0),
    bsh AS (SELECT DISTINCT shingle FROM sh
            WHERE doc_id % {bench_mod} = 0),
    pd AS (
      SELECT s.doc_id, COUNT(*) AS total, COUNT(b.shingle) AS hits
      FROM sh s LEFT JOIN bsh b ON s.shingle = b.shingle
      WHERE s.doc_id % {bench_mod} <> 0
      GROUP BY s.doc_id
    )
    SELECT d.source,
           COUNT(*) AS docs,
           COUNT(CASE WHEN hits > 0 THEN 1 END) AS contaminated_any,
           COUNT(CASE WHEN hits * 10 >= total THEN 1 END) AS frac_ge_10,
           COUNT(CASE WHEN hits * 2 >= total THEN 1 END) AS frac_ge_50,
           ROUND(CAST(SUM(CAST(ROUND(CAST(hits AS DOUBLE) / total, 9)
                              AS DECIMAL(18,9))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_overlap
    FROM pd JOIN documents d USING (doc_id)
    GROUP BY d.source ORDER BY d.source
    """


@register(
    "contamination_fraction",
    _contamination_fraction_oracle(),
    note="Benchmark-overlap FRACTION per training doc — the measure "
    "that sets decontamination thresholds (a binary any-shingle flag "
    "treats a 2% incidental overlap like a verbatim inclusion): per "
    "source, docs with any overlap and with >=10% / >=50% of their "
    "distinct 5-shingles in the benchmark set, plus the decimal-exact "
    "mean overlap.  Plan: both sides explode distinct shingles once "
    "(projection-collapse barrier like minhash), benchmark set "
    "broadcasts into a LEFT join marker, per-doc counts map-side "
    "combine — the training shingle stream never shuffles.",
)
def q_contamination_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    k, bench_mod = 5, 53

    def sh(df: DataFrame) -> DataFrame:
        return (
            df.select("doc_id", dedup.words(F.col("text")).alias("__w"))
            .repartition(par, "doc_id")
            .select(
                "doc_id",
                F.explode(dedup.shingles(F.col("__w"), k)).alias(
                    "shingle"
                ),
            )
        )

    train_sh = sh(docs.filter(F.col("doc_id") % bench_mod != 0))
    bench_sh = (
        sh(docs.filter(F.col("doc_id") % bench_mod == 0))
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    per_doc = (
        train_sh.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count("__hit").alias("hits"),
        )
    )
    ratio = F.round(
        F.col("hits").cast("double") / F.col("total"), 9
    ).cast("decimal(18,9)")
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.count(F.when(F.col("hits") > 0, 1)).alias(
                "contaminated_any"
            ),
            F.count(
                F.when(F.col("hits") * 10 >= F.col("total"), 1)
            ).alias("frac_ge_10"),
            F.count(
                F.when(F.col("hits") * 2 >= F.col("total"), 1)
            ).alias("frac_ge_50"),
            F.round(
                F.sum(ratio).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_overlap"),
        )
        .orderBy("source")
    )


def _contamination_attribution_oracle(
    shingle_k: int = 5, bench_mod: int = 53
) -> str:
    sh = dedup._shingle_list_expr(shingle_k)
    return f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    base AS (SELECT doc_id, {sh} AS toks FROM w),
    sh AS (SELECT doc_id, unnest(toks) AS shingle
           FROM base WHERE len(toks) > 0),
    tsh AS (SELECT * FROM sh WHERE doc_id % {bench_mod} <> 0),
    bsh AS (SELECT doc_id AS bdoc, shingle FROM sh
            WHERE doc_id % {bench_mod} = 0),
    tot AS (SELECT doc_id, COUNT(*) AS total_shingles FROM tsh GROUP BY 1),
    hit AS (
      SELECT t.doc_id, b.bdoc, COUNT(*) AS shared_shingles
      FROM tsh t JOIN bsh b ON t.shingle = b.shingle
      GROUP BY t.doc_id, b.bdoc
    ),
    top AS (
      SELECT doc_id, bdoc AS bench_doc, shared_shingles
      FROM hit
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY doc_id
        ORDER BY shared_shingles DESC, bdoc ASC) = 1
    )
    SELECT top.doc_id, d.source, top.bench_doc, top.shared_shingles,
           tot.total_shingles,
           ROUND(CAST(top.shared_shingles AS DOUBLE)
                 / tot.total_shingles, 9) AS top_frac
    FROM top
    JOIN tot ON top.doc_id = tot.doc_id
    JOIN documents d ON top.doc_id = d.doc_id
    ORDER BY top.doc_id
    """


@register(
    "contamination_attribution",
    _contamination_attribution_oracle(),
    note="Decontamination ATTRIBUTION: for every contaminated training "
    "doc, the benchmark doc it most overlaps (max shared distinct "
    "5-shingles, min-id tie-break), the shared count, and the doc's "
    "overlap fraction against that item — the eval-integrity report "
    "behind the flag ('train doc X contains benchmark item Y'), the "
    "decontamination analog of dedup_attribution.  Plan: train "
    "shingles inner-join the BROADCAST benchmark shingle table, "
    "per-(doc, bench-doc) counts map-side combine, one window rank "
    "over the contaminated subset only — the training stream never "
    "shuffles for the join and the ranked set is hit-sized.",
)
def q_contamination_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return contamination_attribution(_t(spark, sf_dir, "documents"))


def contamination_attribution(
    docs: DataFrame, k: int = 5, bench_mod: int = 53
) -> DataFrame:
    from pyspark.sql.window import Window

    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism

    def sh(df: DataFrame) -> DataFrame:
        return (
            df.select("doc_id", dedup.words(F.col("text")).alias("__w"))
            .repartition(par, "doc_id")
            .select(
                "doc_id",
                F.explode(dedup.shingles(F.col("__w"), k)).alias(
                    "shingle"
                ),
            )
        )

    train_sh = sh(
        docs.filter(F.col("doc_id") % bench_mod != 0)
    ).localCheckpoint(eager=False)
    bench_sh = sh(docs.filter(F.col("doc_id") % bench_mod == 0)).select(
        F.col("doc_id").alias("bdoc"), "shingle"
    )
    tot = train_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("total_shingles")
    )
    hit = (
        train_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id", "bdoc")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("shared_shingles"), F.asc("bdoc")
    )
    top = (
        hit.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("bdoc").alias("bench_doc"),
            "shared_shingles",
        )
    )
    return (
        top.join(tot, "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            "bench_doc",
            "shared_shingles",
            "total_shingles",
            F.round(
                F.col("shared_shingles").cast("double")
                / F.col("total_shingles"),
                9,
            ).alias("top_frac"),
        )
        .orderBy("doc_id")
    )


def _curation_full_oracle() -> str:
    """The complete pipeline oracle: every stage's SQL nested as a CTE —
    exact dedup → near-dup drop → benchmark decontamination → quality +
    language filter → mixture resample → per-source budget."""
    from sortify_spark.operators.sampling import stratified_oracle_predicate
    from sortify_spark.queries_scale import _MIX_DEFAULT, _MIX_RATES

    fp = ts.FINGERPRINT_SQL.format(t="text")
    pairs = dedup.minhash_lsh_oracle_sql(
        threshold=0.5, shingle_k=3, source="kept_exact"
    )
    cont = dedup.decontaminate_ids_sql(
        shingle_k=5, bench_mod=53, source="unioned"
    )
    quality = ts.quality_score_sql("text", "n_chars")
    tokens = ts.TOKEN_COUNT_SQL.format(t="text")
    mix_pred = stratified_oracle_predicate(
        "source", _MIX_RATES, _MIX_DEFAULT, "doc_id"
    )
    return f"""
    WITH kept_exact AS (
      SELECT doc_id, text, lang, source, n_chars FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY {fp}
                                     ORDER BY doc_id) AS rn
        FROM documents WHERE doc_id % 53 <> 0
      ) WHERE rn = 1
    ),
    pairs AS ({pairs}),
    comp AS (
      SELECT node, MIN(lab) AS comp FROM (
        WITH RECURSIVE edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION
          SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach(node, lab) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT node, lab FROM reach
      ) GROUP BY node
    ),
    kept AS (
      SELECT * FROM kept_exact
      WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> comp)
    ),
    unioned AS (
      SELECT doc_id, text FROM kept
      UNION ALL
      SELECT doc_id, text FROM documents WHERE doc_id % 53 = 0
    ),
    cont AS ({cont}),
    decon AS (
      SELECT * FROM kept
      WHERE doc_id NOT IN (SELECT doc_id FROM cont)
    ),
    filtered AS (
      SELECT * FROM decon
      WHERE {quality} >= 0.5 AND lang IN ('en', 'de', 'fr', 'es')
    ),
    sampled AS (SELECT * FROM filtered WHERE {mix_pred})
    SELECT source,
           COUNT(*) AS docs,
           CAST(SUM({tokens}) AS BIGINT) AS token_budget
    FROM sampled GROUP BY source
    """


@register(
    "corpus_curation_full",
    _curation_full_oracle(),
    note="The COMPLETE training-data curation pipeline: exact dedup "
    "(fingerprint window) → near-dup CONNECTED-COMPONENT resolution "
    "(MinHash-LSH pairs → transitive closure → keep min-id "
    "representative per duplicate cluster; the per-pair variant is "
    "corpus_after_neardup) → benchmark decontamination (broadcast "
    "shingle semi-join against the doc_id % 53 held-out slice) → "
    "quality ≥ 0.5 + language filter → deterministic mixture resample "
    "(hash-bucket rates) → per-source token budget. Every stage is "
    "independently oracle-checked; only the component labels "
    "materialize (iterative by nature), the rest stays one lazy plan.",
)
def q_corpus_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark.operators.sampling import stratified_hash_sample
    from sortify_spark.queries_scale import _MIX_DEFAULT, _MIX_RATES

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 53 == 0)
    train = docs.filter(F.col("doc_id") % 53 != 0)
    kept_exact = dedup.drop_exact_duplicates(train)
    pairs = dedup.minhash_lsh_pairs(kept_exact, threshold=0.5, use_shingles=3)
    comp = dedup.connected_components(pairs)
    drops = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    kept = kept_exact.join(F.broadcast(drops), "doc_id", "left_anti")
    cont = dedup.contaminated_by_shingles(kept, bench, shingle_k=5)
    decon = kept.join(
        cont.withColumnRenamed("id", "doc_id"), "doc_id", "left_anti"
    )
    filtered = decon.filter(
        (ts.quality_score(F.col("text"), F.col("n_chars")) >= 0.5)
        & F.col("lang").isin("en", "de", "fr", "es")
    )
    sampled = stratified_hash_sample(
        filtered, "source", _MIX_RATES, _MIX_DEFAULT, "doc_id"
    )
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(ts.token_count(F.col("text"))).cast("bigint").alias(
            "token_budget"
        ),
    )


@register(
    "shard_balance_stats",
    """
    SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
               % 16 AS shard,
           COUNT(*) AS docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM documents GROUP BY 1
    """,
    note="Training-shard export audit (sinks.export_training_shards): "
    "deterministic md5-bucket shard assignment over the kept corpus — "
    "per-shard doc/char totals and id ranges hash-checked, proving both "
    "the assignment and the size balance the training loader depends on. "
    "Pure expression + one map-side-combined aggregate.",
)
def q_shard_balance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark.operators.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("shard", hash_bucket("doc_id", 16))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_chars").cast("bigint").alias("chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Exact set-similarity join with prefix filtering (PPJoin-style)
# ---------------------------------------------------------------------------

PPJ_TAU = 0.5  #: Jaccard threshold (same contract as minhash_lsh_pairs)
PPJ_K = 3  #: shingle width

#: Observability for ``order="auto"``: the element order the LAST auto
#: call chose ("hash" | "freq") plus the probe's over-cap bucket count.
#: Diagnostics only (tests + ops) — the returned pair set is identical
#: under either order by construction.
PPJOIN_AUTO_CHOICE: dict = {"order": None, "over_cap_buckets": None}


def jaccard_prefix_join(
    docs: DataFrame,
    order: str = "hash",
    hot_cap: int | None = 0,
    hot_groups: int | None = None,
) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (Xiao et al.,
    "Efficient Similarity Joins for Near Duplicate Detection", WWW
    2008): two shingle sets with Jaccard >= tau MUST share at least one
    element in each other's (s - ceil(tau*s) + 1)-element prefix under
    any agreed global element order, so candidate pairs come from an
    equi-join on prefix elements only — no all-pairs, no LSH recall
    loss.  The exact complement to ``minhash_lsh_pairs`` (same
    threshold, probabilistic recall) on the same corpus.

    Element order (``order``):

    * ``"hash"`` (default): md5-hash order — uniform, expression-local,
      NO corpus-wide document-frequency pass or broadcast vocab (the
      100-TB trade: one less global stage; the prefix bound holds for
      any total order).
    * ``"freq"``: the classic ascending corpus-frequency order (Xiao
      et al. §2's canonical choice) — two extra corpus-shingle shuffles
      (per-shingle df, per-doc re-sort), but boilerplate shingles are
      now the LAST elements of every set and almost never enter a
      prefix, so a templated corpus generates far fewer candidates and
      far cooler buckets.  The PAIR SET is identical under any order
      (property-tested).
    * ``"auto"`` (VERDICT r8 #6): build the hash-order prefix frame,
      probe it with ``dedup.hot_bucket_stats`` (one map-side-combined
      aggregate — the same count the guard itself runs), and fall back
      to freq order iff any prefix bucket exceeds the hot cap: uniform
      corpora keep hash order's one-less-global-stage plan, boilerplate
      corpora get freq order's structurally cool prefixes (measured
      dominant on floods: max stage wall 0.76-1.91 s vs guarded-hash
      0.96-1.14 s, r8 scale stress) with the runtime guard still
      covering adversarial leftovers.

    ``hot_cap``: 0 (default) = the guard's default cap; positive =
    explicit cap; ``None`` = bypass the guard (the documented
    known-bounded escape hatch — with ``order="auto"`` the probe then
    decides on the DEFAULT cap).

    Prefix length uses the exact integer form
    ``s - ((s + 1) DIV 2) + 1`` for tau = 1/2 — no float ceil.

    Skew hardening: the prefix equi-join routes through
    ``dedup.banded_self_join_pairs`` — the runtime hot-bucket guard
    every banded join in this package uses (in-plan bucket counts,
    broadcast over-cap set, deterministic id-hash sub-split), so ONE
    boilerplate shingle shared by thousands of prefixes spreads over
    g(g+1)/2 tasks instead of serializing |bucket|² candidate work into
    one shuffle partition (VERDICT r7 #1).  The length and positional
    prunes are exact and evaluate as join-level filters either way;
    exactness is preserved by the full-set verify.

    Returns (id_a, id_b, overlap, jaccard) for all pairs with
    jaccard >= tau, verified exactly on the full sets.
    """
    from sortify_spark.dedup import (
        banded_self_join_pairs,
        shingles,
        words,
    )

    # Same two lessons as minhash_signatures (dedup.py:170-192): the
    # Exchange between the words projection and the shingle lambda is a
    # projection-collapse barrier (without it Catalyst inlines the
    # split back into every element_at — O(shingles x words) re-splits,
    # measured 44 ms/row), and it fans a single-file scan out to every
    # core.  The keyed frame then materializes ONCE because it feeds
    # FOUR plan branches (both sides of the prefix self-join, both
    # verify hydrations).  Net: 31 s -> ~4 s at sf0.1.
    from sortify_spark.operators.partitioning import fan_out

    if order not in ("hash", "freq", "auto"):
        raise ValueError(
            f"order must be 'hash', 'freq', or 'auto', got {order!r}"
        )
    par = docs.sparkSession.sparkContext.defaultParallelism
    # Emptiness filtered on the words column BELOW the shingle
    # projection: ``size(sh) > 0`` ⟺ ``size(w) >= PPJ_K`` (the oracle's
    # own ``WHERE len(w) >= k``), and a ``size(sh) > 0`` filter ABOVE
    # the projection is pushed below both exchanges onto the raw scan
    # with ``words(text)`` inlined into every ``element_at`` of the
    # shingle lambda — the O(shingles × words) re-split again, through
    # the predicate (measured 5.3 s → 0.55 s on this kernel at sf0.1).
    base = (
        fan_out(docs)
        .select("doc_id", words(F.col("text")).alias("w"))
        .filter(F.size("w") >= PPJ_K)
        .repartition(par, "doc_id")
        .select("doc_id", shingles(F.col("w"), PPJ_K).alias("sh"))
    )
    if order != "hash":
        # Materialize the shingle kernel ONCE: the freq path's df
        # aggregate, df join, and keyed join (and auto's possible
        # fallback rebuild) each re-run the interpreted words/shingles
        # HOFs otherwise (measured 59 s -> ~8 s on the 24k-doc
        # adversarial corpus).
        base = base.localCheckpoint(eager=True)

    def _freq_keyed() -> DataFrame:
        # Classic ascending-df order: shingle df in one grouped
        # aggregate, then each doc's elements re-sorted by
        # (df, md5) — an injective total order (md5 breaks df ties).
        # Hot boilerplate shingles sort LAST and so rarely make a
        # prefix; the guard below still covers adversarial leftovers.
        ex = base.select("doc_id", F.explode("sh").alias("s"))
        dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        ordered = (
            ex.join(dfreq, "s")
            .select(
                "doc_id",
                F.struct(
                    F.col("df"),
                    F.expr("md5(CAST(s AS BINARY))").alias("h"),
                ).alias("e"),
            )
            .groupBy("doc_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(e)), x -> x.h)"
                ).alias("osh")
            )
        )
        return (
            base.join(ordered, "doc_id")
            .select("doc_id", "sh", "osh", F.size("sh").alias("sz"))
            .withColumn("plen", F.expr("sz - ((sz + 1) DIV 2) + 1"))
            .localCheckpoint(eager=True)
        )

    def _hash_keyed() -> DataFrame:
        # order every doc's shingles by full md5 hex (a 128-bit
        # injective surrogate: hex strings sort identically in both
        # engines and collisions are cryptographically negligible);
        # the prefix is a slice of that sorted array
        return (
            base.select(
                "doc_id",
                "sh",
                F.expr(
                    "array_sort(transform(sh, s -> md5(CAST(s AS BINARY))))"
                ).alias("osh"),
                F.size("sh").alias("sz"),
            )
            .withColumn("plen", F.expr("sz - ((sz + 1) DIV 2) + 1"))
            .localCheckpoint(eager=True)
        )

    def _prefix_frame(k: DataFrame) -> DataFrame:
        # posexplode carries the element's 1-based position for the
        # positional filter below
        return k.select(
            "doc_id",
            "sz",
            F.posexplode(F.expr("slice(osh, 1, plen)")).alias("p0", "h"),
        ).select("doc_id", "sz", (F.col("p0") + 1).alias("p"), "h")

    from sortify_spark.dedup import DEFAULT_HOT_BUCKET_CAP, hot_bucket_stats

    if order == "freq":
        keyed = _freq_keyed()
    else:
        keyed = _hash_keyed()
        if order == "auto":
            over = hot_bucket_stats(
                _prefix_frame(keyed),
                key_cols=("h",),
                cap=hot_cap if hot_cap else DEFAULT_HOT_BUCKET_CAP,
            ).count()
            PPJOIN_AUTO_CHOICE["order"] = "freq" if over else "hash"
            PPJOIN_AUTO_CHOICE["over_cap_buckets"] = over
            if over:
                # flooded prefix bucket(s): pay freq order's two extra
                # shuffles to make the prefixes structurally cool (base
                # is CHECKPOINTED above, so the rebuild re-reads
                # materialized shingles, not the interpreted HOF kernel)
                keyed = _freq_keyed()
    prefixes = _prefix_frame(keyed)
    # Candidate generation through the GUARDED banded self-join
    # (dedup.py: in-plan bucket counts, broadcast over-cap keys,
    # id-hash sub-split — candidate set provably identical), then two
    # further EXACT PPJoin prunes (Xiao et al., WWW 2008 §3):
    # (1) length filter — J >= tau forces max(sa,sb) <= min(sa,sb)/tau,
    # i.e. max <= 2*min at tau = 1/2; (2) positional filter — any
    # common value sorts at-or-after the first one, so at a match at
    # 1-based positions (pa, pb) the overlap is <= 1 + min(sa-pa,
    # sb-pb), which must reach the required overlap
    # ceil(tau/(1+tau)*(sa+sb)) = (sa+sb+2) DIV 3.  A true pair always
    # matches on its first common value, where the bound >= the actual
    # overlap — no true pair is lost.  Both prunes reference only the
    # joined row, so Catalyst evaluates them AT the join (pushed into
    # the cold equi-join / applied per sub-split task on the hot path)
    # — same evaluation position as hand-written join conditions.
    from sortify_spark.dedup import (
        DEFAULT_HOT_BUCKET_CAP,
        DEFAULT_HOT_GROUPS,
    )

    def _ppjoin_prunes():
        # SYMMETRIC under a/b swap (the pair_filter contract): both
        # prunes are functions of {sa, sb} / {sa-pa, sb-pb} as sets
        sa, sb = F.col("sz_a"), F.col("sz_b")
        return (F.greatest(sa, sb) <= F.least(sa, sb) * 2) & (
            F.lit(1) + F.least(sa - F.col("p_a"), sb - F.col("p_b"))
            >= F.expr("(sz_a + sz_b + 2) DIV 3")
        )

    pairs = banded_self_join_pairs(
        prefixes,
        key_cols=("h",),
        id_col="doc_id",
        carry_cols=("sz", "p"),
        hot_cap=DEFAULT_HOT_BUCKET_CAP if hot_cap == 0 else hot_cap,
        hot_groups=hot_groups or DEFAULT_HOT_GROUPS,
        # evaluated AT the join, before the hot path's swap-CASE
        # projection — a flooded prefix discards its pairs at 3
        # expressions each instead of ~13 (dedup.py pair_filter note)
        pair_filter=_ppjoin_prunes,
    )
    cand = (
        pairs.select("id_a", "id_b")
        .distinct()
        # AQE coalesces by BYTES, and 210k candidate id-pairs are only a
        # few MB — it planned the downstream interpreted array_intersect
        # onto 1-2 partitions (22 s vs 10 s measured under the engine
        # session).  A user repartition is respected by AQE and spreads
        # the CPU-bound verify across every core; the shuffled payload
        # is two bigints per pair.
        .repartition(par)
    )
    sets = keyed.select(
        "doc_id", F.col("sh").alias("toks"), "sz"
    )
    # Evaluate the interpreted array_intersect exactly ONCE per
    # candidate: predicate pushdown would otherwise substitute the
    # jaccard filter below the projection, inlining the intersect 2-3x
    # over all candidates (measured 9.5 s -> ~2 s at sf0.1).  The lazy
    # localCheckpoint is an optimizer barrier; the materialized rows
    # are 5 scalars per candidate — the arrays are already dropped.
    hydrated = (
        cand.join(
            sets.select(
                F.col("doc_id").alias("id_a"),
                F.col("toks").alias("ta"),
                F.col("sz").alias("sa"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("id_b"),
                F.col("toks").alias("tb"),
                F.col("sz").alias("sb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "sa",
            "sb",
            F.size(F.array_intersect("ta", "tb")).alias("overlap"),
        )
        .localCheckpoint(eager=False)
    )
    verified = hydrated.withColumn(
        "jaccard",
        F.round(
            F.col("overlap").cast("double")
            / (F.col("sa") + F.col("sb") - F.col("overlap")).cast(
                "double"
            ),
            9,
        ),
    ).filter(F.col("jaccard") >= PPJ_TAU)
    return verified.select("id_a", "id_b", "overlap", "jaccard").orderBy(
        "id_a", "id_b"
    )


_PPJ_SQL = f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - {PPJ_K - 2}),
             i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS sh
  FROM w WHERE len(w) >= {PPJ_K}
),
keyed AS (
  SELECT doc_id,
         list_sort(list_transform(sh, s -> md5(s))) AS osh,
         len(sh) AS sz,
         len(sh) - ((len(sh) + 1) // 2) + 1 AS plen
  FROM sh
),
prefixes AS (
  SELECT doc_id, unnest(osh[1:plen]) AS h FROM keyed
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM prefixes a JOIN prefixes b
    ON a.h = b.h AND a.doc_id < b.doc_id
),
verified AS (
  SELECT cand.id_a, cand.id_b,
         len(list_intersect(sa.sh, sb.sh)) AS overlap,
         ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / CAST(len(sa.sh) + len(sb.sh)
                      - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE),
               9) AS jaccard
  FROM cand
  JOIN sh sa ON cand.id_a = sa.doc_id
  JOIN sh sb ON cand.id_b = sb.doc_id
)
SELECT id_a, id_b, overlap, jaccard
FROM verified
WHERE jaccard >= {PPJ_TAU}
ORDER BY id_a, id_b
"""


@register(
    "jaccard_prefix_join",
    _PPJ_SQL,
    note=f"EXACT Jaccard >= {PPJ_TAU} similarity join over {PPJ_K}-word "
    "shingle sets via PPJoin prefix filtering (Xiao et al., WWW 2008): "
    "only pairs sharing an element in each other's "
    "(s - ceil(tau*s) + 1)-prefix under the md5-hash global order are "
    "candidates, then verified exactly on the full sets — the exact "
    "complement to minhash_lsh_pairs at the same threshold (LSH "
    "recall-misses vs prefix-pruned exactness).  Hash order needs no "
    "global frequency pass; prefix length is integer-exact.  The "
    "prefix equi-join rides the runtime hot-bucket guard "
    "(dedup.banded_self_join_pairs), so a boilerplate shingle flooding "
    "one prefix bucket sub-splits instead of serializing; "
    "order='freq' additionally offers the classic ascending-df "
    "element order that keeps hot shingles out of prefixes entirely.",
)
def q_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_prefix_join(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Training-shard interleave audit (gaps-and-islands over the read order)
# ---------------------------------------------------------------------------


def shard_interleave_stats(docs: DataFrame) -> DataFrame:
    """Per shard: docs, distinct sources, same-source runs, and the
    longest same-source run in the deterministic md5 read order.

    A training dataloader streams each shard sequentially; long runs of
    one source mean correlated batches (the reason exports shuffle
    rows).  ``export_training_shards`` orders rows by md5 — this audit
    measures the interleave quality of that order: runs are found with
    the gaps-and-islands pattern (lag + running change count), two
    same-partitioning windows plus the final per-shard aggregate, so
    the corpus shuffles once, by shard — the partitioning the export
    itself already uses.
    """
    from pyspark.sql.window import Window

    from sortify_spark.operators.sampling import hash_bucket

    ordered = docs.select(
        "doc_id",
        "source",
        hash_bucket("doc_id", 16).alias("shard"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("ord"),
    )
    w = Window.partitionBy("shard").orderBy("ord", "doc_id")
    runs = (
        ordered.withColumn("prev", F.lag("source").over(w))
        .withColumn(
            "chg",
            F.when(
                F.col("prev").isNull()
                | (F.col("source") != F.col("prev")),
                1,
            ).otherwise(0),
        )
        .withColumn("run_id", F.sum("chg").over(w))
    )
    per_run = runs.groupBy("shard", "run_id").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.first("source").alias("source"),
    )
    return (
        per_run.groupBy("shard")
        .agg(
            F.sum("run_len").alias("docs"),
            F.countDistinct("source").alias("distinct_sources"),
            F.count(F.lit(1)).alias("runs"),
            F.max("run_len").alias("max_run"),
        )
        .orderBy("shard")
    )


_INTERLEAVE_SQL = """
WITH ordered AS (
  SELECT doc_id, source,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
             % 16 AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS ord
  FROM documents
),
runs AS (
  SELECT shard, source,
         SUM(CASE WHEN prev IS NULL OR source <> prev THEN 1 ELSE 0 END)
             OVER (PARTITION BY shard ORDER BY ord, doc_id
                   ROWS UNBOUNDED PRECEDING) AS run_id
  FROM (
    SELECT shard, source, ord, doc_id,
           LAG(source) OVER (PARTITION BY shard ORDER BY ord, doc_id)
               AS prev
    FROM ordered
  ) l
),
per_run AS (
  SELECT shard, run_id, COUNT(*) AS run_len
  FROM runs GROUP BY shard, run_id
)
SELECT shard, SUM(run_len) AS docs,
       (SELECT COUNT(DISTINCT source) FROM ordered o
        WHERE o.shard = per_run.shard) AS distinct_sources,
       COUNT(*) AS runs, MAX(run_len) AS max_run
FROM per_run
GROUP BY shard
ORDER BY shard
"""


@register(
    "shard_interleave_stats",
    _INTERLEAVE_SQL,
    note="Training-shard interleave audit: per md5-bucket shard, the "
    "same-source run structure of the deterministic md5 read order "
    "(gaps-and-islands: lag + running change count) — docs, distinct "
    "sources, run count, longest run.  Long runs = correlated training "
    "batches; this hash-checks the property the export's row shuffle "
    "exists to provide.  Two same-partitioning windows + the final "
    "aggregate shuffle the corpus once, by shard (the export's own "
    "partitioning).",
)
def q_shard_interleave_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shard_interleave_stats(_t(spark, sf_dir, "documents"))
