"""Deduplication operators for corpus curation at 100 TB scale.

Five families (SURVEY.md §7.2 step 9; first-class engine components):

* **exact**       — fingerprint hash-groupBy; one shuffle on the hash.
* **MinHash+LSH** — token-set min-hashing into banded buckets; candidate
  pairs only form inside a bucket, so the pair space never materializes
  globally (the classic shingle→minhash→band→bucket-join plan).
* **n-gram Jaccard** — exact verify step on candidate pairs.
* **SimHash**     — 64-bit weighted-projection signature; near-dup =
  small Hamming distance within banded buckets.
* **embedding near-dup** — cosine over an embedding column inside cheap
  blocks.

Hash choice: md5 hex strings (lexicographic min) — deliberately, because
md5 is bit-identical in Spark, DuckDB, and Python, which makes every
stage oracle-checkable.  At production scale you would swap in xxhash64
for speed; the plan shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sortify_spark.textstats import fingerprint

DEFAULT_NUM_HASHES = 8
DEFAULT_BAND_SIZE = 2


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level exact-duplication summary in one aggregate pass."""
    fp = fingerprint(F.col(text_col))
    return df.select(fp.alias("fp")).agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct("fp").alias("distinct_docs"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("duplicate_docs"),
    )


def drop_exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the lowest-id representative per fingerprint group — the
    distributed form of hash-groupBy dedup."""
    fp = fingerprint(F.col(text_col)).alias("__fp")
    w = df.select("*", fp)
    from pyspark.sql.window import Window

    rn = F.row_number().over(
        Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    )
    return w.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__fp", "__rn")


def drop_near_duplicates(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Resolve verified near-dup pairs (id_a < id_b) into a kept corpus:
    drop every document that is the HIGHER id of any pair.

    This is the standard greedy pairwise policy (each duplicate cluster
    keeps ids that dominate no pair — for a chain a-b-c it keeps ``a``);
    it needs no iterative connected-components pass, so it stays one
    anti-join at any scale.
    """
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Token sets and MinHash
# ---------------------------------------------------------------------------


def token_set(text_col: Column) -> Column:
    """Distinct non-empty whitespace tokens (word-level shingles; for
    k-gram shingles see :func:`shingles`)."""
    return F.array_distinct(
        F.filter(F.split(text_col, " "), lambda w: w != F.lit(""))
    )


def words(text_col: Column) -> Column:
    """Non-empty whitespace tokens, order preserved."""
    return F.filter(F.split(text_col, " "), lambda w: w != F.lit(""))


def shingles(words_col: Column, k: int = 3) -> Column:
    """k-word shingles as strings — pure Catalyst expression (no UDF):
    transform over a 0..n-k index sequence.

    ``words_col`` MUST be a materialized column reference (see
    :func:`words`), not an inline split expression: the lambda's
    ``element_at`` calls would re-evaluate an inline expression once per
    element — O(shingles × words) re-splits per document."""
    n = F.size(words_col)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1)))
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.element_at(words_col, i + j + 1) for j in range(k)]
                ),
            )
        )
    )


#: Universal-hash family over a 28-bit base hash: h_j = (a·h + b) mod P.
#: P = 2^31 − 1; operands stay < 2^63, so Spark and DuckDB int64
#: arithmetic agree exactly.  Coefficients are arbitrary fixed odd values.
MINHASH_PRIME = 2_147_483_647
HASH_COEFFS: tuple[tuple[int, int], ...] = (
    (2654435761, 104729),
    (2246822519, 224737),
    (3266489917, 350377),
    (668265263, 479909),
    (374761393, 611953),
    (2166136261, 746773),
    (16777619, 882377),
    (1540483477, 1020379),
)


def base_hash(col: Column) -> Column:
    """28-bit base hash from the md5 hex prefix — the one expensive hash
    per token; everything else is integer arithmetic.  Bit-identical in
    DuckDB: ``('0x' || substring(md5(t), 1, 7))::BIGINT``."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 7), 16, 10).cast(
        "bigint"
    )


def derived_hash(h: Column, j: int) -> Column:
    a, b = HASH_COEFFS[j]
    return (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays via
    inclusion-exclusion (array_intersect is distinct-preserving)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a) + F.size(b) - F.size(F.array_intersect(a, b))
    return F.when(F.lit(union) == 0, F.lit(0.0)).otherwise(inter / union)


def signature_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    use_shingles: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared MinHash front half: ``(base, banded)`` where ``base`` is
    ``(id, toks)`` (persisted — token sets for the verify step) and
    ``banded`` is ``(id, band_idx, band_key)``.

    Both the self-join pair finder (:func:`minhash_lsh_pairs`) and the
    batch-vs-corpus incremental path build on this so their bucketing is
    identical by construction.
    """
    # Small single-file sources arrive as one partition; fan out the RAW
    # text before deriving shingles so the expression work parallelizes
    # (deriving first would run inside the single scan task).  The words
    # array is materialized in its own projection so the shingle lambda
    # reads a column reference, not a re-evaluated split.  Docs too short
    # to produce a shingle have no signature and are dropped.
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        shingles(F.col("__w"), use_shingles)
        if use_shingles
        else F.array_distinct(F.col("__w"))
    )
    # Emptiness is filtered on the WORDS column, BELOW the shingle
    # projection: ``size(toks) > 0`` ⟺ ``size(__w) >= k`` (shingle mode;
    # ``>= 1`` in word mode — array_distinct of a non-empty array of
    # non-empty strings is non-empty), and a filter placed ABOVE the
    # projection is pushed by Catalyst below BOTH exchanges onto the raw
    # scan with ``words(text)`` inlined into every ``element_at`` of the
    # shingle lambda — the O(shingles × words) re-split the Exchange
    # barrier exists to prevent, reintroduced through the predicate
    # (measured 5.3 s → 0.55 s on the sf0.1 kernel; same rows, same
    # hashes).
    base = (
        df.select(F.col(id_col).alias("id"), words(F.col(text_col)).alias("__w"))
        .filter(F.size("__w") >= (use_shingles or 1))
        # The Exchange doubles as a projection-collapse barrier: without
        # it Catalyst inlines __w back into the shingle lambda and the
        # O(shingles × words) re-split returns.
        .repartition(par, "id")
        .select("id", toks.alias("toks"))
        .persist()
    )
    # Relational minhash: explode shingles, ONE md5 per shingle, 8 derived
    # universal hashes, codegen'd hash-aggregate minima.  Map-side partial
    # aggregation makes the shuffle ~1 row per doc — this is the plan that
    # survives 100 TB (the earlier higher-order-function formulation
    # evaluated 8 interpreted md5 lambdas per token).
    sh = base.select("id", F.explode("toks").alias("shingle"))
    h = base_hash(F.col("shingle"))
    sig = (
        sh.select(
            "id", *[derived_hash(h, j).alias(f"h{j}") for j in range(num_hashes)]
        )
        .groupBy("id")
        .agg(*[F.min(f"h{j}").alias(f"h{j}") for j in range(num_hashes)])
    )
    # Band key packs the band's minima into one bigint (components < 2^31).
    band_cols = []
    for b in range(num_hashes // band_size):
        key = F.col(f"h{b * band_size}")
        for j in range(1, band_size):
            key = key * MINHASH_PRIME + F.col(f"h{b * band_size + j}")
        band_cols.append(key)
    banded = sig.select(
        "id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_key")
    )
    return base, banded


#: Runtime hot-bucket guard defaults: a bucket whose membership exceeds
#: the cap is split into this many id-hash groups before the pair join.
#: 1024² = ~1 M candidate pairs per bucket-task is the most one shuffle
#: partition should serialize; real templated-web corpora can put 30%+
#: of all docs into ONE boilerplate band bucket, which without the
#: guard becomes a single quadratic join partition.
DEFAULT_HOT_BUCKET_CAP = 1024
DEFAULT_HOT_GROUPS = 8
#: Adaptive-group clamp: a bucket of n rows splits into
#: clamp(ceil(n/cap), hot_groups, MAX_HOT_GROUPS) id-hash groups, so
#: sub-task pair work stays ~cap² until the clamp binds (n > 256·cap ≈
#: 262k rows per bucket at defaults), past which it grows as
#: (n/256)² — the duplication-vs-straggler trade documented in
#: :func:`banded_self_join_pairs`.
MAX_HOT_GROUPS = 256


def hot_bucket_stats(
    banded: DataFrame,
    key_cols: tuple[str, ...] = ("band_idx", "band_key"),
    cap: int = DEFAULT_HOT_BUCKET_CAP,
) -> DataFrame:
    """Observability for the guard: one row per OVER-CAP bucket with its
    size — the loud metric for what :func:`banded_self_join_pairs` will
    split.  Run it where bucket skew is suspected (scale-stress records
    it); an empty result means the guard was a no-op."""
    return (
        banded.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > cap)
    )


def banded_self_join_pairs(
    banded: DataFrame,
    key_cols: tuple[str, ...] = ("band_idx", "band_key"),
    id_col: str = "id",
    carry_cols: tuple[str, ...] = (),
    hot_cap: int | None = DEFAULT_HOT_BUCKET_CAP,
    hot_groups: int = DEFAULT_HOT_GROUPS,
    pair_filter=None,
) -> DataFrame:
    """All within-bucket ordered candidate pairs (``id_a < id_b``) with
    a RUNTIME hot-bucket guard — the skew hardening every banded join in
    this package routes through.

    ``hot_cap=None`` BYPASSES the guard entirely (VERDICT r8 #1): a
    plain equi-self-join with none of the guard's fixed costs (no
    localCheckpoint, no in-plan bucket count, no broadcast) — for
    callers whose bucket sizes are bounded BY CONSTRUCTION (e.g. a
    vocabulary-sized token block table).  The guarded default stays
    right for every corpus-derived key; measured on fuzzy_link_parts
    at sf0.1 the guard's fixed costs are the entire on/off delta
    (SCALE.md round-9 note).

    The plain equi-self-join sends every row of one bucket to one
    shuffle partition and emits |bucket|² pairs there; fine when banding
    is selective, quadratic-in-one-task when a templated corpus floods
    one bucket.  The guard counts bucket sizes IN-PLAN with a map-side-
    combined aggregate (shuffle ≈ one row per bucket), broadcasts the
    OVER-CAP keys back (≤ n/cap keys by pigeonhole — at 10⁹ band rows
    and the default cap that is ≤ 10⁶ keys ≈ tens of MB; raise the cap
    if that ever binds), and splits those buckets into ``hot_groups``
    deterministic id-hash groups: group ``ga`` joins group ``gb``
    (``ga ≤ gb``) under a key extended with (ga, gb), so the bucket's
    pair work spreads over g(g+1)/2 partitions of (|bucket|/g)² pairs
    each.  A window count over the join keys would also work in one
    pass but pays a per-branch sort — measured 3× on the unskewed sf0.1
    bench, vs noise for the aggregate+broadcast form.  The candidate
    SET is identical with or without the guard (property-tested) —
    cross-group pairs appear once as (smaller-group row, larger-group
    row) and are canonicalized by id; same-group pairs keep the ordered
    filter.

    ``carry_cols`` ride along as ``<col>_a`` / ``<col>_b`` (e.g. the
    SimHash signature for the Hamming verify).

    ``pair_filter`` (a zero-arg callable returning a Column over the
    ``id_a/id_b/<carry>_a/<carry>_b`` names) prunes candidate pairs AT
    THE JOIN, before the hot path's canonicalization projection.  A
    filter applied by the caller AFTER this function evaluates on the
    hot path only past the ~10 swap-CASE expressions of the
    canonicalized projection — on a flooded bucket that is billions of
    discarded pairs each paying the full projection (measured: a 150k
    hot bucket's guarded plan went from ~50 s to ~3 s moving the
    PPJoin prunes inside).  The predicate MUST be symmetric under an
    a/b swap — the hot path evaluates it on pre-canonical (possibly
    id-reversed) pairs.
    """
    keys = list(key_cols)
    if hot_cap is None:  # documented bypass: raw equi-join, zero fixed cost
        raw_cols = (
            ["id_a", "id_b"]
            + [f"{c}_a" for c in carry_cols]
            + [f"{c}_b" for c in carry_cols]
            + keys
        )

        def _raw(suffix: str) -> DataFrame:
            return banded.select(
                F.col(id_col).alias(f"id_{suffix}"),
                *[F.col(c).alias(f"{c}_{suffix}") for c in carry_cols],
                *keys,
            )

        raw_pairs = (
            _raw("a")
            .join(_raw("b"), on=keys)
            .filter(F.col("id_a") < F.col("id_b"))
        )
        if pair_filter is not None:
            raw_pairs = raw_pairs.filter(pair_filter())
        return raw_pairs.select(*raw_cols)
    # Materialize the band rows once: the size count AND the join(s)
    # read them, and for MinHash/SimHash inputs re-deriving the rows
    # means re-running the md5 signature pipeline per consumer (measured
    # 2.5× on minhash_lsh_pairs without this).  localCheckpoint — not
    # persist — so the blocks are freed by the context cleaner when the
    # result is dropped, and the signature lineage is truncated.
    banded = banded.localCheckpoint(eager=False)
    # Per-bucket ADAPTIVE group count (round 8): a fixed g leaves each
    # sub-task (|bucket|/g)² pair evaluations — still quadratic in the
    # bucket, so a 150k-row flood serialized ~350M evals per sub-task
    # and the "guarded" plan lost to the raw join (measured).  With
    # g_b = ceil(|bucket|/cap) each sub-task does ~cap² evals — a
    # CONSTANT — and the bucket's quadratic total spreads over
    # g(g+1)/2 keys.  The trade is row duplication (each hot row ships
    # ~g_b/2 copies, i.e. |bucket|²/(2·cap) shuffled rows per bucket),
    # so g_b is clamped at MAX_HOT_GROUPS: past the clamp, sub-task
    # work grows quadratically again but over a 256-way split —
    # raise the cap (more memory per task) or the clamp (more shuffle)
    # for pathological corpora; both knobs are per-call.
    hot_keys_df = (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") > hot_cap)
        .select(
            *keys,
            F.least(
                F.greatest(
                    F.ceil(F.col("__bn") / F.lit(hot_cap)),
                    F.lit(hot_groups),
                ),
                F.lit(MAX_HOT_GROUPS),
            )
            .cast("long")
            .alias("__gn"),
        )
    )
    tagged = banded.join(F.broadcast(hot_keys_df), keys, "left")

    def _side(df: DataFrame, suffix: str, extra: list) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"id_{suffix}"),
            *[F.col(c).alias(f"{c}_{suffix}") for c in carry_cols],
            *keys,
            *extra,
        )

    cold = tagged.filter(F.col("__gn").isNull())
    cold_pairs = (
        _side(cold, "a", [])
        .join(_side(cold, "b", []), on=keys)
        .filter(F.col("id_a") < F.col("id_b"))
    )
    if pair_filter is not None:
        cold_pairs = cold_pairs.filter(pair_filter())
    grp = F.pmod(F.abs(F.xxhash64(F.col(id_col))), F.col("__gn"))
    hot = tagged.filter(F.col("__gn").isNotNull()).withColumn("__g", grp)
    # EXPLICIT repartition on the extended key, both sides: the join
    # reuses this partitioning (no extra exchange), and — critically —
    # AQE cannot coalesce a user repartition with a fixed partition
    # count.  Left to the join's own shuffle, AQE sees the tiny INPUT
    # bytes of the hot rows and merges the group-pair partitions back
    # into one task, silently restoring the quadratic serialization the
    # split exists to prevent (measured: 16 k-row bucket, 128 M pairs —
    # coalesced "guarded" plan 18 s vs 6.5 s unguarded).
    n_part = int(
        banded.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    hot_keys = keys + ["__ga", "__gb"]
    hl = _side(
        hot.withColumn("__ga", F.col("__g")).withColumn(
            "__gb",
            F.explode(F.sequence(F.col("__g"), F.col("__gn") - 1)),
        ),
        "a",
        ["__ga", "__gb"],
    ).repartition(n_part, *hot_keys)
    hr = _side(
        hot.withColumn("__gb", F.col("__g")).withColumn(
            "__ga", F.explode(F.sequence(F.lit(0).cast("long"), F.col("__g")))
        ),
        "b",
        ["__ga", "__gb"],
    ).repartition(n_part, *hot_keys)
    swap = F.col("id_a") > F.col("id_b")

    def _canon(c_a: str, c_b: str, out: str):
        return F.when(swap, F.col(c_b)).otherwise(F.col(c_a)).alias(out)

    hot_pairs = hl.join(hr, on=keys + ["__ga", "__gb"]).filter(
        # cross-group pairs arrive exactly once (possibly id-reversed —
        # canonicalize); same-group keys see both orderings, keep one
        (F.col("__ga") < F.col("__gb")) | (F.col("id_a") < F.col("id_b"))
    )
    if pair_filter is not None:
        # pre-canonical prune: predicate is symmetric by contract, so
        # id-reversed pairs evaluate identically — the discarded pairs
        # never reach the swap-CASE projection below
        hot_pairs = hot_pairs.filter(pair_filter())
    hot_pairs = (
        hot_pairs
        .select(
            _canon("id_a", "id_b", "id_a"),
            _canon("id_b", "id_a", "id_b"),
            *[
                c
                for cc in carry_cols
                for c in (
                    _canon(f"{cc}_a", f"{cc}_b", f"{cc}_a"),
                    _canon(f"{cc}_b", f"{cc}_a", f"{cc}_b"),
                )
            ],
            *keys,
        )
    )
    out_cols = (
        ["id_a", "id_b"]
        + [f"{c}_a" for c in carry_cols]
        + [f"{c}_b" for c in carry_cols]
        + keys
    )
    return cold_pairs.select(*out_cols).unionByName(
        hot_pairs.select(*out_cols)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    threshold: float = 0.5,
    use_shingles: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs: minhash → band → bucket self-join → exact
    Jaccard verify ≥ threshold.

    Scale shape: the only join is *within band buckets* (equi-join on the
    band key), so cost is Σ bucket² not n² — the standard LSH bound.  The
    verify step re-joins token sets by id; at 100 TB you'd carry the token
    arrays through the bucket join only for bucketed candidates (done
    here), never for the full corpus.
    """
    base, banded = signature_bands(
        df, id_col, text_col, num_hashes, band_size, use_shingles
    )
    # Guarded bucket self-join (plain-key equi-join — the aliased form
    # can degrade to a nested-loop join re-evaluating the signature
    # expressions per row pair; the guard splits over-cap buckets so a
    # boilerplate-flooded band never serializes one quadratic task).
    cand = (
        banded_self_join_pairs(banded)
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Exact-verify only the candidates: hydrate token sets by id.
    ta = base.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"))
    tb = base.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("toks_a"), F.col("toks_b")), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_oracle_sql(
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    threshold: float = 0.5,
    shingle_k: int = 3,
    source: str = "documents",
) -> str:
    """DuckDB rendering of :func:`minhash_lsh_pairs` over ``source``
    (a view name or parenthesized subquery) — generated from the SAME
    hash constants so engine and oracle cannot drift."""
    p = MINHASH_PRIME
    hash_exprs = ", ".join(
        f"MIN(({a} * h + {b}) % {p}) AS h{j}"
        for j, (a, b) in enumerate(HASH_COEFFS[:num_hashes])
    )
    band_cases = []
    for b in range(num_hashes // band_size):
        key = f"h{b * band_size}"
        for j in range(1, band_size):
            key = f"({key}) * {p} + h{b * band_size + j}"
        band_cases.append(f"WHEN {b} THEN {key}")
    band_idx_list = ", ".join(str(b) for b in range(num_hashes // band_size))
    # 1-based start positions 1..n-k+1 → range(1, n-k+2).
    shingle_expr = (
        f"list_distinct(list_transform(range(1, len(w) - {shingle_k} + 2), i -> "
        + " || ' ' || ".join(f"w[i+{j}]" for j in range(shingle_k))
        + "))"
    ).replace("w[i+0]", "w[i]")
    return f"""
    WITH w AS (
      SELECT doc_id AS id,
             list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM {source}
    ),
    base AS (
      SELECT id, {shingle_expr} AS toks FROM w
    ),
    base2 AS (SELECT * FROM base WHERE len(toks) > 0),
    sh AS (SELECT id, unnest(toks) AS shingle FROM base2),
    hh AS (SELECT id, ('0x' || substring(md5(shingle), 1, 7))::BIGINT AS h
           FROM sh),
    sig AS (SELECT id, {hash_exprs} FROM hh GROUP BY id),
    banded AS (
      SELECT id, b.band_idx,
             CASE b.band_idx {' '.join(band_cases)} END AS band_key
      FROM sig, (SELECT unnest([{band_idx_list}]) AS band_idx) b
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, c.id AS id_b
      FROM banded a JOIN banded c
        ON a.band_idx = c.band_idx AND a.band_key = c.band_key
       AND a.id < c.id
    ),
    verified AS (
      SELECT cand.id_a, cand.id_b,
             ROUND(CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE)
                   / (len(x.toks) + len(y.toks)
                      - len(list_intersect(x.toks, y.toks))), 6) AS jaccard
      FROM cand
      JOIN base2 x ON x.id = cand.id_a
      JOIN base2 y ON y.id = cand.id_b
    )
    SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {threshold}
    """


# ---------------------------------------------------------------------------
# Duplicate-graph resolution: connected components
# ---------------------------------------------------------------------------
#
# Pairwise near-dup output is not yet a dedup decision: if A~B and B~C,
# dropping "the b of every pair" can drop B and C while keeping A, or
# orphan C depending on pair order.  The principled resolution is the
# connected component of the duplicate graph: every doc in a component is
# a copy-cluster, keep exactly one representative (the min id).
# Reference behaviour is per-pair (no transitive closure); this is the
# "beyond" operator every large corpus pipeline (C4, Gopher, RefinedWeb)
# actually runs after LSH.


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """``(node, component)`` for every node in ``pairs``; component =
    min node id reachable through the undirected pair graph.

    Hybrid execution, sized by the measured edge count:

    * **small graph** (≤ ``driver_max_edges``): exact union-find on the
      driver — the LSH duplicate graph is typically 100-1000× smaller
      than the corpus, and a sub-million-edge graph resolves in
      milliseconds where the iterative distributed loop would pay
      ~20 scheduler stages.  This is a *documented bounded collect*
      (like fusion's diversity re-selection): the bound is explicit,
      and the fallback below kicks in past it.
    * **large graph**: alternating *neighbor-min propagation* +
      *pointer jumping* (label ← label[label]), the standard Spark
      idiom — per iteration two equi-join shuffles over one-row-per-node
      label state; pointer jumping halves the remaining label-tree
      depth, so convergence is O(log diameter) iterations.  Duplicate
      clusters from LSH are near-cliques (diameter ≤ 3), so 2-3
      iterations settle real corpora; ``max_iters`` is a safety bound.
      ``localCheckpoint`` truncates lineage each iteration (use
      ``checkpoint`` to reliable storage on a real cluster).
    """
    if driver_max_edges is None:
        # Deploy-time tunable: a boilerplate-heavy crawl can exceed any
        # fixed bound, and the right cutover depends on driver memory —
        # lower it in cluster conf rather than editing code.
        import os

        driver_max_edges = int(
            os.environ.get("SORTIFY_CC_DRIVER_MAX_EDGES", "1000000")
        )
    raw = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # Union-find is direction- and duplicate-tolerant, so the driver
    # path collects the RAW pair list and symmetrizes in Python — the
    # symmetrize union + dropDuplicates exchange the r13 plans paid
    # before the bounded collect existed only to serve the distributed
    # fallback, which still builds it below (guide §2.4 remove shuffles
    # outright; VERDICT r13 next #6).  ``raw`` is persisted because the
    # size probe and the collect (or the fallback's symmetrize) are two
    # actions over the same pair-finder subtree.
    raw = raw.persist()
    n_pairs = raw.count()
    # same effective bound as before: the symmetrized edge list the old
    # code counted is ≤ 2 × the raw pair count
    if 2 * n_pairs <= driver_max_edges:
        rows = raw.collect()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in rows:
            ra, rb = find(row.src), find(row.dst)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        nodes = {r.src for r in rows} | {r.dst for r in rows}
        out = [(n, find(n)) for n in sorted(nodes)]
        raw.unpersist()
        return pairs.sparkSession.createDataFrame(
            out, schema=pairs.select(F.col(src).alias("node")).schema.add(
                "comp", pairs.schema[dst].dataType
            )
        )
    edges = (
        raw.union(
            raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    lab = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=False)
    )
    # ONE Spark job per iteration: the checkpoint is lazy and gets
    # materialized by the convergence probe itself.  Convergence is
    # detected through the label sum — min-propagation is monotone
    # non-increasing per node, so an unchanged Σcomp means a fixpoint
    # (decimal accumulation: immune to long overflow at any node count).
    prev_sum = None
    for _ in range(max_iters):
        nbr = (
            edges.join(
                lab.select(
                    F.col("node").alias("dst"), F.col("comp").alias("dst_comp")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_comp").alias("nbr_comp"))
            .select(F.col("src").alias("node"), "nbr_comp")
        )
        stepped = lab.join(nbr, "node", "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
        )
        # Pointer jumping: follow the label's own label one hop.
        parent = stepped.select(
            F.col("node").alias("comp"), F.col("comp").alias("comp2")
        )
        jumped = (
            stepped.join(parent, "comp", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("comp2", "comp")).alias("comp"),
            )
            .localCheckpoint(eager=False)
        )
        cur_sum = jumped.agg(
            F.sum(F.col("comp").cast("decimal(38,0)"))
        ).first()[0]
        lab = jumped
        if prev_sum is not None and cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    raw.unpersist()
    return lab.select("node", "comp")


def components_oracle_sql(pairs_sql: str) -> str:
    """DuckDB rendering of :func:`connected_components` over the pair
    statement ``pairs_sql`` (any SELECT yielding ``id_a, id_b``): a
    recursive reachability closure, then min label per node."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node, MIN(lab) AS comp FROM reach GROUP BY node
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


#: Signature width: 15 md5 hex digits = 60 bits — always positive in a
#: signed 64-bit long, so Spark, DuckDB, and Python agree with no
#: sign-bit special case.
SIMHASH_BITS = 60

#: Top-16-bit prefix blocking (docs differing in the prefix are unlikely
#: near-dups; at scale use 4 rotated prefixes for recall).
SIMHASH_BLOCK_SHIFT = SIMHASH_BITS - 16


def simhash_sig(tokens_col: Column) -> Column:
    """60-bit SimHash: per-token portable md5-prefix hash (bit-identical
    in DuckDB/Python — same choice as the MinHash base hash), per-bit
    majority vote over the token set sets the bit.  Pure Catalyst
    expression: 60 aggregates over the token array, per row, JVM-side.
    """
    hashed = F.transform(
        tokens_col,
        lambda t: F.conv(F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10)
        .cast("bigint"),
    )
    n = F.size(tokens_col)
    bits = []
    for bit in range(SIMHASH_BITS):
        mask = 1 << bit
        ones = F.size(
            F.filter(
                hashed,
                lambda h: h.bitwiseAND(F.lit(mask)) != 0,  # noqa: B023
            )
        )
        # bit set on strict majority of the tokens
        bits.append(
            F.when(ones * 2 > n, F.lit(mask)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 16,
) -> DataFrame:
    """Near-dup pairs by SimHash distance, blocked on the signature's top
    16 bits (docs differing there are unlikely near-dups — standard
    prefix-blocking; at scale use 4 rotated prefixes for recall)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    sig = (
        df.select(F.col(id_col).alias("id"), F.col(text_col))
        .repartition(par, "id")
        .select("id", token_set(F.col(text_col)).alias("__toks"))
        # Tokenless docs (null/empty/whitespace) would all collide at
        # signature 0 and pair with each other — drop them, matching the
        # oracle's len(toks) > 0 filter.
        .filter(F.size("__toks") > 0)
        .select("id", simhash_sig(F.col("__toks")).alias("sig"))
        .withColumn(
            "block", F.shiftrightunsigned(F.col("sig"), SIMHASH_BLOCK_SHIFT)
        )
        .persist()
    )
    return (
        banded_self_join_pairs(
            sig, key_cols=("block",), carry_cols=("sig",)
        )
        .select(
            "id_a",
            "id_b",
            hamming64(F.col("sig_a"), F.col("sig_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_banded(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 12,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs with ROTATED (banded) blocking — the
    recall upgrade over :func:`simhash_pairs`'s single top-16-bit prefix.

    The 60-bit signature splits into ``n_bands`` disjoint 15-bit bands;
    a pair is a candidate when ANY band matches (explode → equi-join per
    band, the Hamming-space analog of MinHash banding).  By pigeonhole,
    every pair with hamming < n_bands is guaranteed to share an intact
    band, so recall is exact for distances below the band count and
    probabilistic above — versus the single-prefix variant, which misses
    any near-dup whose differing bits land in the prefix.  Candidate
    volume stays Σ band-bucket², and the distinct() dedupes pairs caught
    by several bands before the (cheap, post-filter) verify."""
    assert SIMHASH_BITS % n_bands == 0, "bands must tile the signature"
    width = SIMHASH_BITS // n_bands
    mask = (1 << width) - 1
    par = df.sparkSession.sparkContext.defaultParallelism
    sig = (
        df.select(F.col(id_col).alias("id"), F.col(text_col))
        .repartition(par, "id")
        .select("id", token_set(F.col(text_col)).alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select("id", simhash_sig(F.col("__toks")).alias("sig"))
    )
    bands = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("band_idx"),
                        F.shiftrightunsigned(F.col("sig"), r * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for r in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("id", "sig", "band.band_idx", "band.band_val")
    return (
        banded_self_join_pairs(
            bands, key_cols=("band_idx", "band_val"), carry_cols=("sig",)
        )
        .select(
            "id_a",
            "id_b",
            hamming64(F.col("sig_a"), F.col("sig_b")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _simhash_sig_ctes() -> str:
    """Shared oracle CTE chain: documents → token sets → per-bit votes →
    60-bit signature (generated from the same constants as the Spark
    expression so engine and oracle cannot drift)."""
    vote_cols = ", ".join(
        f"SUM(CASE WHEN (h >> {bit}) & 1 = 1 THEN 1 ELSE 0 END) AS b{bit}"
        for bit in range(SIMHASH_BITS)
    )
    sig_expr = " + ".join(
        f"(CASE WHEN b{bit} * 2 > n THEN {1 << bit} ELSE 0 END)"
        for bit in range(SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id AS id,
             list_distinct(list_filter(string_split(text, ' '),
                                       x -> x <> '')) AS toks
      FROM documents
    ),
    base AS (SELECT id, toks FROM toks WHERE len(toks) > 0),
    sh AS (SELECT id, unnest(toks) AS t FROM base),
    hh AS (SELECT id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS h
           FROM sh),
    votes AS (
      SELECT id, COUNT(*) AS n, {vote_cols}
      FROM hh GROUP BY id
    ),
    sig AS (SELECT id, CAST({sig_expr} AS BIGINT) AS sig FROM votes)
    """


def simhash_banded_oracle_sql(max_hamming: int = 12, n_bands: int = 4) -> str:
    """DuckDB rendering of :func:`simhash_pairs_banded`."""
    width = SIMHASH_BITS // n_bands
    mask = (1 << width) - 1
    any_band = " OR ".join(
        f"((a.sig >> {r * width}) & {mask}) = ((b.sig >> {r * width}) & {mask})"
        for r in range(n_bands)
    )
    return f"""
    {_simhash_sig_ctes()}
    SELECT a.id AS id_a, b.id AS id_b,
           bit_count(xor(a.sig, b.sig)) AS hamming
    FROM sig a JOIN sig b
      ON a.id < b.id AND ({any_band})
    WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
    """


def simhash_oracle_sql(max_hamming: int = 16) -> str:
    """DuckDB rendering of :func:`simhash_pairs` over the ``documents``
    view — generated from the SAME bit-width/blocking constants so the
    engine and the oracle cannot drift."""
    vote_cols = ", ".join(
        f"SUM(CASE WHEN (h >> {bit}) & 1 = 1 THEN 1 ELSE 0 END) AS b{bit}"
        for bit in range(SIMHASH_BITS)
    )
    sig_expr = " + ".join(
        f"(CASE WHEN b{bit} * 2 > n THEN {1 << bit} ELSE 0 END)"
        for bit in range(SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id AS id,
             list_distinct(list_filter(string_split(text, ' '),
                                       x -> x <> '')) AS toks
      FROM documents
    ),
    base AS (SELECT id, toks FROM toks WHERE len(toks) > 0),
    sh AS (SELECT id, unnest(toks) AS t FROM base),
    hh AS (SELECT id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS h
           FROM sh),
    votes AS (
      SELECT id, COUNT(*) AS n, {vote_cols}
      FROM hh GROUP BY id
    ),
    sig AS (SELECT id, CAST({sig_expr} AS BIGINT) AS sig FROM votes)
    SELECT a.id AS id_a, b.id AS id_b,
           bit_count(xor(a.sig, b.sig)) AS hamming
    FROM sig a JOIN sig b
      ON (a.sig >> {SIMHASH_BLOCK_SHIFT}) = (b.sig >> {SIMHASH_BLOCK_SHIFT})
     AND a.id < b.id
    WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# Embedding near-dup
# ---------------------------------------------------------------------------

#: Document-level semantic dedup (SemDeDup over raw text): the batch
#: ``semdedup_docs`` row, the streaming admission screen and their
#: oracles share these, so the expression-encoder embeddings, the
#: hyperplane-sign blocks and the drop threshold agree on every path.
DOCSEM_TAU = 0.995  #: near-identical cosine threshold over unit vectors
DOCSEM_BITS = 6  #: hyperplane-sign bits → 64 semantic blocks
DOCSEM_DIM = 8  #: encoder dim for this op (md5 fold cost ∝ dim)


def embedding_neardup_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    k: int = 20,
    allow_unblocked: bool = False,
) -> DataFrame:
    """Top-k most-similar same-block pairs by cosine.  Blocking keeps the
    pair space at Σ block² — with an IVF-style coarse assignment as the
    block at scale (see search.knn), this is the embedding-dedup plan.

    ``block_col=None`` plans an ALL-PAIRS self-join (n² rows) — a scale
    cliff, so it is rejected unless the caller opts in explicitly with
    ``allow_unblocked=True`` (acceptable only for small, bounded inputs;
    at scale derive a block with ``search.knn.build_centroids`` +
    centroid assignment first)."""
    from sortify_spark.functions.vectors import cosine_given_norms, l2_norm

    if block_col is None and not allow_unblocked:
        raise ValueError(
            "embedding_neardup_topk without block_col is an all-pairs n² "
            "self-join; pass a blocking column (e.g. an IVF assignment) "
            "or opt in with allow_unblocked=True for small inputs"
        )
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("vec")]
    if block_col:
        cols.append(F.col(block_col).alias("block"))
    # Norm folded once per row below the self-join — the pair space is
    # Σ block², so a per-pair norm recompute would dominate the plan.
    base = df.select(*cols).withColumn("n", l2_norm("vec"))
    if block_col:
        # guarded block self-join: an over-cap block splits into
        # id-hash groups (pair set unchanged) instead of serializing
        # one quadratic task on a clustered corpus
        pairs = banded_self_join_pairs(
            base, key_cols=("block",), id_col="id", carry_cols=("vec", "n")
        )
    else:
        a, b = base.alias("a"), base.alias("b")
        pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.vec").alias("vec_a"),
            F.col("b.vec").alias("vec_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(
                cosine_given_norms(
                    F.col("vec_a"), F.col("vec_b"), F.col("n_a"), F.col("n_b")
                ),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def contaminated_by_shingles(
    train: DataFrame,
    bench: DataFrame,
    shingle_k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Training docs sharing >=1 k-word shingle with a benchmark set —
    the decontamination step of a training-data pipeline (beyond the
    reference's surface, like the dedup family).

    Plan shape: both sides explode to (id, shingle); the benchmark
    shingle set (small by construction) deduplicates and BROADCASTS into
    a left-semi join against the training shingles, so the training side
    never shuffles.  At 100 TB with a huge benchmark suite the same plan
    degrades gracefully to a shuffled semi-join on the shingle hash.
    """

    def explode_shingles(df: DataFrame) -> DataFrame:
        # NOT the array-building shingles() helper: a Generate over an
        # array-valued lambda re-evaluates the whole transform per output
        # row (~8 s at sf0.1).  Instead explode a cheap integer index
        # sequence and assemble each shingle with codegen'd scalar
        # element_at calls over the words array, materialized once behind
        # the Exchange (projection-collapse barrier, as minhash).  Per-doc
        # distinctness is skipped — the semi-join + final distinct make it
        # irrelevant to the contamination set.
        par = df.sparkSession.sparkContext.defaultParallelism
        w = F.col("__w")
        return (
            df.select(
                F.col(id_col).alias("id"), words(F.col(text_col)).alias("__w")
            )
            .repartition(par, "id")
            .filter(F.size(w) >= shingle_k)
            .select(
                "id",
                "__w",
                F.explode(
                    F.sequence(F.lit(0), F.size(w) - shingle_k)
                ).alias("i"),
            )
            .select(
                "id",
                F.concat_ws(
                    " ",
                    *[
                        F.element_at(w, F.col("i") + j + 1)
                        for j in range(shingle_k)
                    ],
                ).alias("shingle"),
            )
        )

    bench_sh = explode_shingles(bench).select("shingle").distinct()
    return (
        explode_shingles(train)
        .join(F.broadcast(bench_sh), "shingle", "left_semi")
        .select("id")
        .distinct()
    )


def _shingle_list_expr(shingle_k: int) -> str:
    """Shared DuckDB k-word-shingle list expression over a words column
    ``w`` — single source for every oracle that shingles."""
    return (
        f"list_distinct(list_transform(range(1, len(w) - {shingle_k} + 2), i -> "
        + " || ' ' || ".join(f"w[i+{j}]" for j in range(shingle_k))
        + "))"
    ).replace("w[i+0]", "w[i]")


def decontaminate_ids_sql(
    shingle_k: int = 5, bench_mod: int = 53, source: str = "documents"
) -> str:
    """Contaminated (doc_id) set as a full SELECT — the composable core
    of :func:`decontaminate_oracle_sql`, nested by pipeline oracles that
    need to anti-filter on it (e.g. the full curation flagship)."""
    shingle_expr = _shingle_list_expr(shingle_k)
    return f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM {source}
    ),
    base AS (SELECT doc_id, {shingle_expr} AS toks FROM w),
    sh AS (SELECT doc_id, unnest(toks) AS shingle
           FROM base WHERE len(toks) > 0)
    SELECT DISTINCT doc_id FROM sh
    WHERE doc_id % {bench_mod} <> 0
      AND shingle IN (SELECT shingle FROM sh WHERE doc_id % {bench_mod} = 0)
    """


def decontaminate_oracle_sql(
    shingle_k: int = 5, bench_mod: int = 53, source: str = "documents"
) -> str:
    """DuckDB rendering of :func:`contaminated_by_shingles` with the
    benchmark side defined as ``doc_id % bench_mod = 0`` — same shingle
    construction as :func:`minhash_lsh_oracle_sql` so engine and oracle
    cannot drift."""
    shingle_expr = _shingle_list_expr(shingle_k)
    return f"""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM {source}
    ),
    base AS (SELECT doc_id, source, {shingle_expr} AS toks FROM w),
    sh AS (SELECT doc_id, source, unnest(toks) AS shingle
           FROM base WHERE len(toks) > 0),
    cont AS (
      SELECT DISTINCT doc_id, source FROM sh
      WHERE doc_id % {bench_mod} <> 0
        AND shingle IN (SELECT shingle FROM sh WHERE doc_id % {bench_mod} = 0)
    )
    SELECT source, COUNT(*) AS contaminated_docs FROM cont GROUP BY source
    """
