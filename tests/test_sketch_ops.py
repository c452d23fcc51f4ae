"""Sketch-operator invariants (queries_sketch): the guarantees the
papers prove, machine-checked on the synthetic corpus — exact parity
with DuckDB is covered by test_oracle_parity."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sortify_spark.all_queries import REGISTRY
from sortify_spark.queries_sketch import BLOOM_K, CMS_TOPK
from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_countmin_never_underestimates(spark):
    """The count-min guarantee: est >= exact for every audited word,
    and the audit covers exactly the top-k rows."""
    rows = REGISTRY["countmin_word_counts"].fn(spark, SF_DIR).collect()
    assert len(rows) == CMS_TOPK
    assert all(r.overest >= 0 for r in rows)
    assert all(r.cms_est == r.exact_cnt + r.overest for r in rows)


def test_bloom_no_false_negatives(spark):
    """Every true semi-join match passes the filter: per priority,
    bloom_pass >= true_match and false_pos == bloom_pass - true_match
    exactly (true rows always pass, so the overshoot is all FP)."""
    rows = REGISTRY["bloom_prefilter_join"].fn(spark, SF_DIR).collect()
    assert rows, "expected per-priority rows"
    for r in rows:
        assert r.bloom_pass >= r.true_match, r
        assert r.false_pos == r.bloom_pass - r.true_match, r
        assert r.orders_total >= r.bloom_pass, r


def test_dsir_weights_target_slice_upweighted(spark):
    """DSIR sanity: weights are positive, kept counts are bounded by
    doc counts, and the per-source mean weights are not all identical
    (the hashed-feature ratio does discriminate)."""
    rows = REGISTRY["dsir_importance_weights"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.mean_w > 0, r
        assert 0 <= r.kept_docs <= r.docs, r
    assert len({r.mean_w for r in rows}) > 1


def test_countmin_plan_broadcast_min_probe(spark):
    """The sketch table joins the probe side broadcast; no Python in
    plan, no SortMergeJoin — the word stream only feeds hash
    aggregates with map-side partials."""
    plan = _plan(spark, "countmin_word_counts")
    assert "EvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan


def test_bloom_plan_probe_side_never_shuffles(spark):
    """The order stream reaches the per-priority aggregate through
    broadcast joins only: k bitset joins + the truth join are all
    BroadcastHashJoin, and the probe-side exchange carries the 5
    priority groups (map-side combined), never order rows."""
    plan = _plan(spark, "bloom_prefilter_join")
    assert plan.count("BroadcastHashJoin") >= BLOOM_K + 1
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan
    assert "partial_" in plan


def test_dsir_plan_token_stream_broadcast_joined(spark):
    """The ratio table is broadcast: the per-(doc, bucket) count frame
    never sort-merge-joins; per-doc aggregation map-side combines.
    r13: the full query checkpoints the per-doc frame (one evaluation
    feeds both the corpus-mean and the final aggregate), so the
    broadcast discipline is asserted on the scoring subtree
    (_dsir_per_doc) and the full query is checked above the
    checkpoint."""
    from sortify_spark.queries import _t
    from sortify_spark.queries_sketch import _dsir_per_doc

    kernel = _dsir_per_doc(_t(spark, SF_DIR, "documents"))
    kplan = kernel._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in kplan
    assert "SortMergeJoin" not in kplan
    assert "EvalPython" not in kplan
    assert "partial_" in kplan

    plan = _plan(spark, "dsir_importance_weights")
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_bloom_filter_actually_sheds_rows(spark):
    """The pre-screen is useful, not vacuous: across the corpus the
    filter rejects a substantial share of non-matching orders (fp rate
    well under 50%) while passing all matches."""
    agg = (
        REGISTRY["bloom_prefilter_join"]
        .fn(spark, SF_DIR)
        .agg(
            F.sum("orders_total").alias("n"),
            F.sum("bloom_pass").alias("p"),
            F.sum("true_match").alias("t"),
            F.sum("false_pos").alias("fp"),
        )
        .collect()[0]
    )
    non_match = agg.n - agg.t
    assert non_match > 0
    # False-positive rate over non-matching rows: with m/n ≈ 4096/906
    # bits per key and k=3 the analytic rate is ~1%; assert a loose 10%.
    assert agg.fp / non_match < 0.10, (agg.fp, non_match)


def test_funnel_single_event_shuffle(spark):
    """The three step columns + per-user collapse share one hash
    exchange of the event stream (same user_id partitioning reused);
    no joins materialize on the Spark side."""
    plan = _plan(spark, "funnel_conversion")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_funnel_steps_monotone(spark):
    """Funnel invariants: user counts never increase down the funnel,
    conversions are in (0, 1], and step-1 conversion is exactly 1."""
    rows = REGISTRY["funnel_conversion"].fn(spark, SF_DIR).collect()
    assert [r.step for r in rows] == [1, 2, 3]
    assert rows[0].conv_from_first == 1.0
    assert rows[0].users >= rows[1].users >= rows[2].users
    for r in rows:
        assert 0 < r.conv_from_first <= 1.0
        assert r.avg_us_from_first >= 0.0


def test_funnel_empty_is_null_not_nan(spark):
    """Degenerate corpus with ZERO step-1 events: every rate division
    is guarded (CASE WHEN den = 0 THEN NULL), so the result is NULL on
    both engines — Spark's Divide yields NULL for 0/0 while DuckDB
    yields NaN, which would hash-diverge unguarded (ADVICE r7)."""
    import math

    from sortify_spark.queries_funnel import funnel_conversion

    events = spark.createDataFrame(
        [(1, "click", 1_000_000), (1, "purchase", 2_000_000)],
        "user_id bigint, event_type string, ts_us bigint",
    ).select(
        "user_id",
        "event_type",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
    )
    rows = funnel_conversion(events).collect()
    assert [r.users for r in rows] == [0, 0, 0]
    for r in rows:
        assert r.conv_from_first is None or not math.isnan(
            r.conv_from_first
        ), r
    assert all(r.conv_from_first is None for r in rows)


def test_bm25_idf_orders_rare_term_first(spark):
    """The rare query term ('dup', df=25/500 at sf0.001-scale ratios)
    must outrank docs matching only common terms: every doc matching
    the rare term scores above every doc matching only common ones."""
    from sortify_spark.queries_bm25 import QUERY_TERMS
    from sortify_spark.search.lexical import bm25_scored
    from sortify_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    scored = bm25_scored(docs, QUERY_TERMS).collect()
    assert scored
    rare = QUERY_TERMS[0]
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    with_rare = [r.bm25 for r in scored if f" {rare} " in f" {texts[r.doc_id]} "
                 or texts[r.doc_id].startswith(rare + " ")
                 or texts[r.doc_id].endswith(" " + rare)
                 or texts[r.doc_id] == rare]
    without = [r.bm25 for r in scored if r.doc_id not in {
        d for d, t in texts.items()
        if f" {rare} " in f" {t} "}]
    if with_rare and without:
        assert min(with_rare) > max(without)


def test_bm25_no_explode_no_join_on_corpus(spark):
    """BM25 for a bounded term set: tf/dl are array expressions in one
    scan — no Explode/Generate node, stats joined broadcast, top-k is
    TakeOrdered (no global sort)."""
    plan = _plan(spark, "bm25_topk")
    assert "Generate" not in plan  # explode would appear as Generate
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_hybrid_fusion_rank_consistency(spark):
    """RRF output invariants: a doc ranked in both lists outscores one
    ranked only in a single list at equal-or-worse rank; scores match
    1/(60+lex) + 1/(60+sem) recomputed from the emitted ranks."""
    rows = (
        REGISTRY["hybrid_lexical_semantic_rrf"].fn(spark, SF_DIR).collect()
    )
    assert rows
    for r in rows:
        expect = round(
            (1.0 / (60 + r.lex_rank) if r.lex_rank is not None else 0.0)
            + (1.0 / (60 + r.sem_rank) if r.sem_rank is not None else 0.0),
            12,
        )
        assert abs(r.rrf_score - expect) < 1e-12, r


def test_facade_keyword_and_hybrid_lexical_strategies(spark):
    """The facade serves BM25 ('keyword') and the lexical x dense RRF
    ('hybrid_lexical') as search strategies: keyword results rank docs
    containing the rare query term first; the fused list is bounded by
    top_k and carries RRF scores consistent with two rank lists."""
    from sortify_spark.facade import SortifyEngine

    eng = SortifyEngine(spark, SF_DIR, dim=16)
    kw = eng.semantic_search("dup spark merge", "keyword").collect()
    assert kw and len(kw) <= 10
    assert kw == sorted(kw, key=lambda r: (-r.score, r.id))
    docs = {
        str(r.doc_id): r.text
        for r in eng.documents.select("doc_id", "text").collect()
    }
    # the rare term 'dup' has ~19x the idf-ratio of the common terms:
    # the top hit must actually contain it
    assert "dup" in docs[kw[0].id].split()

    fused = eng.semantic_search(
        "dup spark merge", "hybrid_lexical"
    ).collect()
    assert fused and len(fused) <= 10
    for r in fused:
        assert r.rrf_score > 0


def test_ppjoin_exact_superset_of_lsh(spark):
    """The exact prefix-filtered join dominates LSH at the same
    threshold: every minhash_lsh_pairs pair appears in
    jaccard_prefix_join's result (LSH can only lose recall)."""
    exact = {
        (r.id_a, r.id_b)
        for r in REGISTRY["jaccard_prefix_join"].fn(spark, SF_DIR).collect()
    }
    lsh = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b))
        for r in REGISTRY["minhash_lsh_pairs"].fn(spark, SF_DIR).collect()
    }
    assert exact, "expected exact pairs on the planted near-dups"
    assert lsh <= exact, lsh - exact


def test_ppjoin_prefix_actually_prunes(spark):
    """Candidate pairs from the prefix equi-join are far fewer than
    all-pairs: the filter earns its keep on this corpus."""
    from sortify_spark.dedup import shingles, words
    from sortify_spark.queries_dedup import PPJ_K
    from sortify_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    base = (
        docs.select("doc_id", words(F.col("text")).alias("w"))
        .select("doc_id", shingles(F.col("w"), PPJ_K).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    n = base.count()
    keyed = base.select(
        "doc_id",
        F.expr(
            "array_sort(transform(sh, s -> md5(CAST(s AS BINARY))))"
        ).alias("osh"),
        F.size("sh").alias("sz"),
    ).withColumn("plen", F.expr("sz - ((sz + 1) DIV 2) + 1"))
    pref = keyed.select(
        "doc_id", F.explode(F.expr("slice(osh, 1, plen)")).alias("h")
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    all_pairs = n * (n - 1) // 2
    assert cand < all_pairs / 10, (cand, all_pairs)


def test_shard_interleave_well_mixed(spark):
    """The md5 read order interleaves sources: no shard's longest
    same-source run exceeds a small bound, and every doc lands in a
    run (docs == sum of run lengths, runs <= docs)."""
    rows = REGISTRY["shard_interleave_stats"].fn(spark, SF_DIR).collect()
    assert len(rows) == 16
    for r in rows:
        assert 1 <= r.runs <= r.docs
        assert r.max_run <= 6, r  # ~20 sources: long runs ≈ impossible
        assert r.distinct_sources >= 2


# ---------------------------------------------------------------------------
# PPJoin exactness: prefix lemma + length/positional filters lose no pair
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


def _ppjoin_shingles(ws: list[str], k: int = 3) -> frozenset[str]:
    return frozenset(
        " ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)
    )


def _ppjoin_candidates(sets: dict[int, frozenset[str]]) -> set:
    """Pure-python mirror of jaccard_prefix_join's candidate stage:
    md5-order prefixes + length filter + positional filter."""
    import hashlib
    from collections import defaultdict

    by = defaultdict(list)
    for i, sh in sets.items():
        osh = sorted(
            hashlib.md5(s.encode()).hexdigest() for s in sh
        )
        sz = len(osh)
        plen = sz - ((sz + 1) // 2) + 1
        for p, h in enumerate(osh[:plen], start=1):
            by[h].append((i, p, sz))
    out = set()
    for lst in by.values():
        for i1, p1, s1 in lst:
            for i2, p2, s2 in lst:
                if (
                    i1 < i2
                    and max(s1, s2) <= 2 * min(s1, s2)
                    and 1 + min(s1 - p1, s2 - p2) >= (s1 + s2 + 2) // 3
                ):
                    out.add((i1, i2))
    return out


_DOCS = st.lists(
    st.lists(
        st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
        min_size=3,
        max_size=12,
    ),
    min_size=2,
    max_size=25,
)


@given(_DOCS)
@settings(max_examples=300, deadline=None)
def test_ppjoin_prefix_filters_lose_no_true_pair(docs):
    """Every pair with exact Jaccard >= 0.5 over 3-shingle sets MUST
    survive the prefix + length + positional filters (candidate
    completeness — the WWW'08 lemmas under the md5 total order).  The
    tiny alphabet forces heavy shingle sharing, the adversarial case
    for a hash-ordered prefix."""
    sets = {
        i: _ppjoin_shingles(ws)
        for i, ws in enumerate(docs)
        if len(ws) >= 3
    }
    sets = {i: s for i, s in sets.items() if s}
    true_pairs = set()
    ids = sorted(sets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = sets[ids[ai]], sets[ids[bi]]
            if len(a & b) * 2 >= len(a | b):  # J >= 0.5, exact integers
                true_pairs.add((ids[ai], ids[bi]))
    cands = _ppjoin_candidates(sets)
    missing = true_pairs - cands
    assert not missing, f"prefix filtering lost true pairs: {missing}"


@pytest.mark.slow
def test_ppjoin_spark_matches_bruteforce(spark):
    """End-to-end: the Spark operator's verified pair set and overlap
    counts equal a python brute force over an adversarial corpus (heavy
    shared boilerplate + near-dup clones), independent of the DuckDB
    oracle (which replays the same plan)."""
    import random

    from sortify_spark.queries_dedup import jaccard_prefix_join

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    boiler = ["the", "quick", "brown", "fox", "jumps", "over"]
    rows = []
    texts = {}
    for i in range(40):
        words = boiler * 2 + [rng.choice(vocab) for _ in range(rng.randint(3, 10))]
        if i % 4 == 1:  # clone of the previous doc with a tweak
            words = texts[i - 1].split()[:]
            words[-1] = rng.choice(vocab)
        texts[i] = " ".join(words)
        rows.append((i, texts[i]))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.overlap
        for r in jaccard_prefix_join(docs).collect()
    }
    want = {}
    sets = {i: _ppjoin_shingles(t.split()) for i, t in texts.items()}
    for a in range(40):
        for b in range(a + 1, 40):
            sa, sb = sets[a], sets[b]
            if sa and sb and len(sa & sb) * 2 >= len(sa | sb):
                want[(a, b)] = len(sa & sb)
    assert got == want
    # Guard forced ON (every prefix bucket over-cap, 3-way sub-split)
    # and the classic ascending-df element order: the pair set and
    # overlaps are provably order-/guard-invariant — exactness comes
    # from the full-set verify (VERDICT r7 #1 done-criteria).
    for kw in (
        dict(hot_cap=1, hot_groups=3),
        dict(order="freq"),
        dict(order="freq", hot_cap=1, hot_groups=2),
        dict(order="auto"),
        dict(order="auto", hot_cap=1, hot_groups=3),
        dict(hot_cap=None),  # documented guard bypass: raw equi-join
        dict(order="freq", hot_cap=None),
    ):
        via = {
            (r.id_a, r.id_b): r.overlap
            for r in jaccard_prefix_join(docs, **kw).collect()
        }
        assert via == want, kw


@pytest.mark.slow
def test_ppjoin_auto_order_choice(spark):
    """order='auto' keeps hash order on a uniform corpus (no over-cap
    prefix bucket) and switches to ascending-df order on a flooded one
    — with the pair sets identical to the explicit orders either way
    (VERDICT r8 #6 done-criteria)."""
    import random

    from sortify_spark.queries_dedup import (
        PPJOIN_AUTO_CHOICE,
        jaccard_prefix_join,
    )

    rng = random.Random(11)
    vocab = [f"u{i}" for i in range(400)]
    uniform = spark.createDataFrame(
        [
            (i, " ".join(rng.sample(vocab, 9)))
            for i in range(60)
        ],
        ["doc_id", "text"],
    )
    got_uniform = {
        (r.id_a, r.id_b)
        for r in jaccard_prefix_join(uniform, order="auto").collect()
    }
    assert PPJOIN_AUTO_CHOICE["order"] == "hash"
    assert got_uniform == {
        (r.id_a, r.id_b)
        for r in jaccard_prefix_join(uniform, order="hash").collect()
    }
    # flood: shared boilerplate dominates every doc, so under hash
    # order the boilerplate shingles land in (over-cap) prefix buckets
    boiler = " ".join(["the quick brown fox jumps over the lazy dog"] * 2)
    flooded = spark.createDataFrame(
        [
            (i, boiler + " " + " ".join(rng.sample(vocab, 3)))
            for i in range(80)
        ],
        ["doc_id", "text"],
    )
    got_flooded = {
        (r.id_a, r.id_b)
        for r in jaccard_prefix_join(
            flooded, order="auto", hot_cap=16
        ).collect()
    }
    assert PPJOIN_AUTO_CHOICE["order"] == "freq"
    assert PPJOIN_AUTO_CHOICE["over_cap_buckets"] > 0
    assert got_flooded == {
        (r.id_a, r.id_b)
        for r in jaccard_prefix_join(
            flooded, order="freq", hot_cap=16
        ).collect()
    }
