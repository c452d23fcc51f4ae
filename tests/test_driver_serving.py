"""The driver-served search path (``search/serving``) against the Spark
plans it stands in for: the same rows, scores, order, schema and IVF
escalation trace for every strategy, dense mode and owner scope, on a
fresh engine and after each kind of mutation.  The Spark side is forced
by shutting the snapshot gate (``SNAPSHOT_MAX_BYTES = 0``).  A served
batch (``semantic_search_many``) must equal the served single-search
loop in the same matrix."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType

from sortify_spark import facade
from sortify_spark.search import index as ix
from sortify_spark.search import knn, lexical, serving
from tests.conftest import SF_DIR

STRATEGIES = (
    "keyword",
    "summary_only",
    "chunks_only",
    "rrf_fusion",
    "traditional",
    "hybrid",
    "hybrid_lexical",
)
#: The Spark path of these ends in a per-document groupBy: no order.
UNORDERED = ("summary_only", "chunks_only")
QUERY = "data pipeline quality and join performance"
BATCH = {"q1": QUERY, "q2": "vector index build and search serving"}
DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _spark_only(monkeypatch):
    """The Spark plans the served path must never reach."""

    def boom(*_a, **_k):
        raise AssertionError("served search planned a Spark search")

    monkeypatch.setattr(facade, "brute_force_topk", boom)
    monkeypatch.setattr(knn, "brute_force_topk_many", boom)
    monkeypatch.setattr(lexical, "probe_lexical_index", boom)
    monkeypatch.setattr(lexical, "probe_lexical_index_many", boom)
    monkeypatch.setattr(ix, "probe_ivf_index", boom)
    monkeypatch.setattr(ix, "probe_ivf_index_many", boom)


def _jobs_run(spark, fn):
    """``fn()`` and the ids of the Spark jobs it ran.  A marker job run
    after it shows that the (asynchronous) status listener has seen
    every earlier job."""
    sc = spark.sparkContext
    key, group = "spark.jobGroup.id", f"counted-{time.monotonic_ns()}"
    prev = sc.getLocalProperty(key)
    try:
        sc.setLocalProperty(key, group)
        out = fn()
        sc.setLocalProperty(key, f"{group}-marker")
        spark.range(1).count()
    finally:
        sc.setLocalProperty(key, prev)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(f"{group}-marker"):
        assert time.monotonic() < deadline, "status listener fell behind"
        time.sleep(0.05)
    return out, tracker.getJobIdsForGroup(group)


def _search(eng, strategy, cfg, owner, query=QUERY):
    ix._set_probe_escalation("unset")
    df = eng.semantic_search(query, strategy, cfg, owner)
    rows = [tuple(r) for r in df.collect()]
    schema = [(f.name, f.dataType) for f in df.schema]
    return schema, rows, ix.PROBE_ESCALATION


def _both(eng, strategy, cfg, owner, query=QUERY):
    with pytest.MonkeyPatch.context() as mp:
        _spark_only(mp)
        served = _search(eng, strategy, cfg, owner, query)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(serving, "SNAPSHOT_MAX_BYTES", 0)
        on_spark = _search(eng, strategy, cfg, owner, query)
    if strategy in UNORDERED:
        schema, rows, trace = on_spark
        on_spark = schema, sorted(rows, key=lambda r: (-r[1], r[0])), trace
    return served, on_spark


def _served_batch(eng, strategy, cfg, owner, served):
    """A served batch over ``BATCH`` — its schema, rows in ``rnk``
    order, and the Spark jobs that building its frame ran — beside the
    served single-search loop's schema and rows in the batch's form;
    ``served`` is the served single search of ``QUERY``."""
    with pytest.MonkeyPatch.context() as mp:
        _spark_only(mp)
        df, jobs = _jobs_run(
            eng.spark,
            lambda: eng.semantic_search_many(BATCH, strategy, cfg, owner),
        )
        rows = sorted(df.collect(), key=lambda r: (r["query_id"], r["rnk"]))
        got = [(f.name, f.dataType) for f in df.schema], list(map(tuple, rows))
        loop = [served, _search(eng, strategy, cfg, owner, BATCH["q2"])]
    schema = served[0]
    names = [n for n, _ in schema]
    rows = []
    for qid, (_, hits, _) in zip(BATCH, loop):
        for rnk, hit in enumerate(hits, 1):
            r = dict(zip(names, hit))
            tier = (r["tier"],) if "tier" in r else ()
            score = r["rrf_score"] if "rrf_score" in r else r["score"]
            rows.append((qid, r["id"], score, *tier, rnk))
    want = (
        [("query_id", StringType())]
        + [
            ("score" if n == "rrf_score" else n, t)
            for n, t in schema
            if n in ("id", "score", "rrf_score", "tier")
        ]
        + [("rnk", IntegerType())],
        rows,
    )
    return got, want, jobs


def _assert_parity(eng, owner, state, traces):
    cfgs = {
        "exact": facade.SearchConfig(top_k=5),
        # a narrow probe so owner-scoped searches escalate
        "ivf": facade.SearchConfig(
            ann="ivf", top_k=5, ivf_nprobe=1, ivf_min_recall_buckets=2
        ),
    }
    for ann, cfg in cfgs.items():
        for o in (None, owner):
            for st in STRATEGIES:
                served, on_spark = _both(eng, st, cfg, o)
                case = (state, ann, o, st)
                assert served == on_spark, case
                assert served[1], case  # every case returns rows
                traces.append(served[2])
                batch, loop, jobs = _served_batch(eng, st, cfg, o, served)
                assert batch == loop, case
                # warm snapshots: building the frame ran no Spark job
                assert not jobs, (case, jobs)


def test_served_search_matches_spark_path(spark, tmp_path):
    # no search, mutation or maintenance call may write session conf
    conf_before = dict(spark.conf.getAll)
    eng = facade.SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=60,
        index_root=str(tmp_path), owner_col="source",
    )
    owner = eng.documents.groupBy("source").count().orderBy(
        F.desc("count"), "source"
    ).first()["source"]
    traces: list = []
    _assert_parity(eng, owner, "fresh", traces)

    texts = (
        "data pipeline quality checks for join performance",
        "join performance of a data pipeline under skew",
        "quality of data and pipeline join plans",
    )
    new = spark.createDataFrame(
        [
            (950_001 + i, t, "en", owner if i < 2 else "elsewhere", len(t))
            for i, t in enumerate(texts)
        ],
        DOCS_SCHEMA,
    )
    eng.add_documents(new)
    _assert_parity(eng, owner, "added", traces)

    top = eng.semantic_search(QUERY, "summary_only").collect()
    doomed = sorted({top[0]["id"], "950002"})
    eng.delete_vectors(doomed)
    for st in STRATEGIES:
        ids = {r[0] for r in eng.semantic_search(QUERY, st).collect()}
        assert not ids & set(doomed), st
    _assert_parity(eng, owner, "deleted", traces)

    eng.maintain_indexes(keep_last=1)
    _assert_parity(eng, owner, "maintained", traces)
    # the escalation traces compared above include escalated probes
    assert any(t not in (None, "unset") and t["levels"] for t in traces)
    # one snapshot per artifact, dropped on release
    assert set(eng._snapshots) == {
        "lexical", "vectors", "ivf_summary", "ivf_chunk",
    }
    eng.release()
    assert not eng._snapshots
    assert dict(spark.conf.getAll) == conf_before


def test_served_ties_break_numeric_then_string(spark, tmp_path):
    """Tied BM25 scores over ids 1..15: the keyword list keeps NUMERIC
    order (1..10), while RRF fusion re-ranks its inputs by STRING id —
    the served path must reproduce both tie-breaks."""
    eng = facade.SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=10,
        index_root=str(tmp_path),
    )
    eng.documents = spark.createDataFrame(
        [(i, "alpha beta gamma", "en", "web", 16) for i in range(1, 16)],
        DOCS_SCHEMA,
    )
    cfg = facade.SearchConfig(top_k=10)
    for st in ("keyword", "hybrid_lexical"):
        served, on_spark = _both(eng, st, cfg, None, query="alpha")
        assert served == on_spark, st
    keyword = _both(eng, "keyword", cfg, None, query="alpha")[0][1]
    assert [r[0] for r in keyword] == [str(i) for i in range(1, 11)]
    eng.release()


def test_spark_round_matches_spark(spark):
    """``spark_round`` equals Spark's ``ROUND(double, n)`` at the scales
    the served kernels use, on random doubles across magnitudes and on
    exact half-way decimals."""
    rng = np.random.default_rng(11)
    n = 40_000
    xs = list(
        rng.uniform(-1.0, 1.0, n) * 10.0 ** rng.integers(-9, 4, n)
    )
    for scale in (6, 9, 12):
        for m in rng.integers(0, 10**scale, 20_000).tolist():
            xs.append(float(f"{'-' if m % 3 == 0 else ''}0.{m:0{scale}d}5"))
    df = spark.createDataFrame(pd.DataFrame({"x": xs}), "x double")
    got = df.select(
        "x", *[F.round("x", s).alias(f"r{s}") for s in (6, 9, 12)]
    ).toPandas()
    assert len(got) >= 100_000
    for s in (6, 9, 12):
        want = got[f"r{s}"].tolist()
        mine = [serving.spark_round(x, s) for x in got["x"].tolist()]
        bad = [(x, a, b) for x, a, b in zip(got["x"], mine, want) if a != b]
        assert not bad, (s, bad[:5])


def test_top_rounds_only_rows_that_can_reach_top_k():
    """``_top`` rounds only the rows within its margin of the k-th raw
    score, yet returns the full ranking's rows: scores crowded onto
    round-6 half-way points, ties broken by key."""
    rng = np.random.default_rng(5)
    rounded = total = 0
    for _ in range(200):
        n, k = int(rng.integers(1, 400)), int(rng.integers(1, 20))
        raw = rng.integers(0, 40, n) / 1e5 + rng.choice(
            [0.0, 5e-7, 4.999999e-7, -5e-7, 1e-9, -1e-12], n
        )
        keys = np.array(
            [f"d{x}" for x in rng.integers(0, 60, n).tolist()], dtype=object
        )
        seen = []

        def exact(i):
            seen.append(len(i))
            return serving._round_all(raw[i], 6)

        got = serving._top(keys, raw, k, 2e-6, exact)
        everything = zip(keys.tolist(), serving._round_all(raw, 6).tolist())
        assert got == sorted(everything, key=lambda r: (-r[1], r[0]))[:k]
        rounded, total = rounded + sum(seen), total + n
    assert rounded < total / 2


def test_cached_search_forgets_deleted_document(spark, tmp_path):
    """A cached result must not outlive a delete: the same cached search
    after deleting its top document no longer returns it."""
    eng = facade.SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=30,
        index_root=str(tmp_path),
    )
    first = eng.cached_search(QUERY, "summary_only").collect()
    top = max(first, key=lambda r: (r["score"], r["id"]))["id"]
    eng.delete_vectors([top])
    again = {r["id"] for r in eng.cached_search(QUERY, "summary_only").collect()}
    assert again and top not in again
    eng.release()


def test_query_frames_bit_identical_through_arrow(spark):
    """The Arrow-built query frames hold the same float32 embeddings as
    the row-list frames they replace."""
    from sortify_spark.functions.vectors import hash_embed_text

    eng = facade.SortifyEngine(spark, SF_DIR, dim=16, doc_limit=5)
    queries = {"a": QUERY, "b": "vector index build", "c": "x" * 600}
    want = {
        r["query_id"]: r["embedding"]
        for r in spark.createDataFrame(
            [(q, hash_embed_text(t[:512], 16)) for q, t in queries.items()],
            "query_id string, embedding array<float>",
        ).collect()
    }
    got = {
        r["query_id"]: r["embedding"]
        for r in eng._query_df_many(queries).collect()
    }
    assert got == want
    assert eng._query_df(QUERY).first()["embedding"] == want["a"]
    assert eng._query_vecs(queries)["a"].tolist() == want["a"]
