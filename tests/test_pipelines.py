"""Write-path, query-spec, multimodal, and facade tests."""

from __future__ import annotations

import os

import pandas as pd
import pyspark.sql.functions as F
import pytest

from sortify_spark.pipelines import (
    delete_vectors_for_docs,
    ingest_vectorize,
    refresh_vectors,
)
from sortify_spark.tables import load_table
from tests.conftest import SF_DIR
from tests.oracle_utils import bm25_keyword_reference


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents")


@pytest.fixture(params=["served", "spark"])
def snapshot_gate(request, monkeypatch):
    """Runs a facade search test on both sides of the snapshot gate:
    served on the driver (the default) and on Spark (gate shut)."""
    if request.param == "spark":
        from sortify_spark.search import serving

        monkeypatch.setattr(serving, "SNAPSHOT_MAX_BYTES", 0)
    return request.param


def test_ingest_vectorize_shape(spark, docs):
    vecs = ingest_vectorize(docs, chunk_size=128, overlap=32, dim=16)
    total_docs = docs.count()
    summaries = vecs.filter(F.col("vtype") == "summary")
    chunks = vecs.filter(F.col("vtype") == "chunk")
    assert summaries.count() == total_docs
    assert chunks.count() >= total_docs  # every doc has ≥1 chunk
    # vector ids unique, embeddings fixed-width
    assert vecs.select("vector_id").distinct().count() == vecs.count()
    row = vecs.first()
    assert len(row["embedding"]) == 16


def test_ingest_deterministic(spark, docs):
    sub = docs.limit(20)
    a = ingest_vectorize(sub, dim=8).orderBy("vector_id").collect()
    b = ingest_vectorize(sub, dim=8).orderBy("vector_id").collect()
    assert a == b


def test_delete_and_refresh(spark, docs):
    vecs = ingest_vectorize(docs.limit(50), dim=8)
    ids = spark.createDataFrame([("3",), ("7",)], ["document_id"])
    kept = delete_vectors_for_docs(vecs, ids)
    assert kept.filter(F.col("document_id").isin("3", "7")).count() == 0
    refreshed = refresh_vectors(vecs, docs.filter(F.col("doc_id") == 3), dim=8)
    assert refreshed.filter(F.col("document_id") == "3").count() > 0
    # no duplicate vector ids after refresh
    assert (
        refreshed.select("vector_id").distinct().count() == refreshed.count()
    )


def _wait_until(pred, timeout_s: float = 90.0, poll_s: float = 0.5):
    """Poll ``pred`` until truthy or timeout; return its last value."""
    import time

    deadline = time.time() + timeout_s
    val = pred()
    while not val and time.time() < deadline:
        time.sleep(poll_s)
        val = pred()
    return val


def test_query_spec_compile(spark, docs):
    from sortify_spark.plans.query_spec import QuerySpec, compile_spec

    spec = QuerySpec(
        filters=[("lang", "eq", "en"), ("n_chars", "gte", 200)],
        projection=["doc_id", "lang", "n_chars"],
        limit=10,
    )
    out = compile_spec(docs, spec)
    rows = out.collect()
    assert len(rows) <= 10
    assert set(out.columns) == {"doc_id", "lang", "n_chars"}
    for r in rows:
        assert r["lang"] == "en" and r["n_chars"] >= 200


def test_query_spec_from_json_and_validation(spark, docs):
    from sortify_spark.plans.query_spec import (
        QuerySpec,
        QuerySpecError,
        compile_spec,
    )

    spec = QuerySpec.from_json(
        '{"filters": [{"col": "source", "op": "contains", "value": "SRC1"}],'
        ' "projection": ["doc_id", "source"], "limit": 5}'
    )
    assert compile_spec(docs, spec).count() <= 5
    bad = QuerySpec(filters=[("lang", "regex_dollar", "x")])
    with pytest.raises(QuerySpecError):
        compile_spec(docs, bad).count()


def test_query_spec_mongo_shapes(spark, docs):
    """The reference's composite query shapes ($exists, $regex, $or,
    $elemMatch — crud_documents.py:40-56) compile and enforce their
    bounds LOUDLY at compile time, not mid-job."""
    from sortify_spark.plans.query_spec import (
        QuerySpec,
        QuerySpecError,
        compile_spec,
    )

    d = docs.withColumn(
        "opt",
        F.when(F.col("doc_id") % 2 == 0, F.col("source")),
    ).withColumn(
        "tags",
        F.transform(
            F.slice(F.split(F.col("text"), " "), 1, 3),
            lambda w: F.struct(w.alias("tag"), F.length(w).alias("n")),
        ),
    )
    # exists
    spec = QuerySpec(filters=[("opt", "exists", True)])
    assert all(
        r["doc_id"] % 2 == 0 for r in compile_spec(d, spec).collect()
    )
    spec = QuerySpec(filters=[("opt", "exists", False)])
    assert all(
        r["doc_id"] % 2 == 1 for r in compile_spec(d, spec).collect()
    )
    # regex (case-insensitive dict form) vs plain contains
    ci = QuerySpec(
        filters=[("text", "regex", {"pattern": "DATA", "options": "i"})]
    )
    plain = QuerySpec(filters=[("text", "contains", "data")])
    assert compile_spec(d, ci).count() == compile_spec(d, plain).count()
    with pytest.raises(QuerySpecError, match="invalid regex"):
        compile_spec(
            d, QuerySpec(filters=[("text", "regex", "([")])
        ).count()
    # or: union semantics, bounded, no nesting
    left = QuerySpec(filters=[("lang", "eq", "en")])
    right = QuerySpec(filters=[("n_chars", "lt", 150)])
    both = QuerySpec(
        filters=[
            (
                "$or",
                "or",
                [
                    {"col": "lang", "op": "eq", "value": "en"},
                    {"col": "n_chars", "op": "lt", "value": 150},
                ],
            )
        ]
    )
    ids = lambda s: {r["doc_id"] for r in compile_spec(d, s).collect()}  # noqa: E731
    assert ids(both) == ids(left) | ids(right)
    with pytest.raises(QuerySpecError, match="branches"):
        compile_spec(
            d,
            QuerySpec(
                filters=[
                    (
                        "$or",
                        "or",
                        [{"col": "lang", "op": "eq", "value": "en"}] * 9,
                    )
                ]
            ),
        ).count()
    with pytest.raises(QuerySpecError, match="nested"):
        compile_spec(
            d,
            QuerySpec(
                filters=[
                    (
                        "$or",
                        "or",
                        [{"col": "$or", "op": "or", "value": []}],
                    )
                ]
            ),
        ).count()
    # elem_match: ANY element satisfying ALL conditions
    em = QuerySpec(
        filters=[
            (
                "tags",
                "elem_match",
                {"tag": {"op": "contains", "value": "the"}, "n": 3},
            )
        ]
    )
    for r in compile_spec(d, em).select("tags").collect():
        assert any(
            "the" in t["tag"].lower() and t["n"] == 3 for t in r["tags"]
        )
    with pytest.raises(QuerySpecError, match="not allowed"):
        compile_spec(
            d,
            QuerySpec(
                filters=[
                    ("tags", "elem_match", {"tag": {"op": "regex", "value": "x"}})
                ]
            ),
        ).count()


def test_query_spec_malformed_untrusted_shapes(spark, docs):
    """Malformed untrusted-LLM spec shapes fail with QuerySpecError at
    the declared trust boundary, never KeyError/TypeError or a mid-job
    executor failure (ADVICE r6): non-dict / key-missing `or`
    sub-filters, and Python-valid-but-Java-invalid regex (rlike
    executes JVM-side)."""
    from sortify_spark.plans.query_spec import (
        QuerySpec,
        QuerySpecError,
        compile_spec,
    )

    with pytest.raises(QuerySpecError, match="sub-filter must be a dict"):
        compile_spec(
            docs,
            QuerySpec(filters=[("$or", "or", ["lang = 'en'"])]),
        ).count()
    with pytest.raises(QuerySpecError, match="missing required key"):
        compile_spec(
            docs,
            QuerySpec(filters=[("$or", "or", [{"col": "lang"}])]),
        ).count()
    # named group: fine in Python re, PatternSyntaxException in Java
    with pytest.raises(QuerySpecError, match="Java regex"):
        compile_spec(
            docs,
            QuerySpec(filters=[("text", "regex", "(?P<name>data)")]),
        ).count()
    # a pattern valid in BOTH dialects still compiles and runs
    ok = QuerySpec(filters=[("text", "regex", "d[ao]ta")])
    assert compile_spec(docs, ok).count() >= 0


def test_query_spec_offline_java_regex_subset(monkeypatch):
    """The conservative OFFLINE Java-regex subset check rejects
    Python-valid/Java-invalid patterns even with NO live session
    (VERDICT r7 item 7) — a session-less compile_spec validation must
    not pass a pattern that later dies on an executor."""
    import pyspark.sql as pss

    from sortify_spark.plans.query_spec import (
        QuerySpecError,
        _compile_filter,
        _offline_java_regex_check,
    )

    # no session visible to the validator
    monkeypatch.setattr(
        pss.SparkSession, "getActiveSession", classmethod(lambda cls: None)
    )
    for bad, frag in (
        ("(?P<name>data)", "named-group"),
        ("(a)(?(1)a|b)", "conditional"),
        ("version{", "Illegal repetition"),
        ("a{x}", "Illegal repetition"),
    ):
        with pytest.raises(QuerySpecError, match=frag):
            _compile_filter("text", "regex", bad)
    # valid-in-both shapes pass offline: quantifiers, escaped/classed
    # braces, ordinary groups
    for good in ("a{2}", "a{2,}", "a{2,5}", r"\{", "[{]x", "(?i)x(a|b)"):
        _offline_java_regex_check(good, "text")
        _compile_filter("text", "regex", good)  # builds a Column


def test_discover_dynamic_schema(spark):
    from sortify_spark.plans.query_spec import discover_dynamic_schema

    events = load_table(spark, SF_DIR, "events")
    schema = discover_dynamic_schema(events, "props", sample_n=5)
    assert schema.get("k") == "int"


def test_multimodal_features(spark):
    from sortify_spark.multimodal import (
        extract_features,
        sample_frames,
        synthetic_media,
        FEATURE_DIM,
    )

    media = synthetic_media(spark, 30)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r["feature"]) == FEATURE_DIM
        assert r["n_bytes"] > 0
    # deterministic
    again = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert {r["media_id"]: r["feature"] for r in rows} == again
    frames = sample_frames(media, every_n=10, max_frames=4)
    fr = frames.groupBy("media_id").count().collect()
    assert fr and all(r["count"] <= 4 for r in fr)


def test_sample_frames_no_phantom_frame(spark):
    """Videos with missing/zero n_frames meta must emit NO frames, not
    a phantom frame_index 0."""
    from sortify_spark.multimodal import MEDIA_SCHEMA, sample_frames

    rows = [
        ("v0", "video", bytearray(b"x"), {}),                 # missing meta
        ("v1", "video", bytearray(b"x"), {"n_frames": "0"}),  # zero frames
        ("v2", "video", bytearray(b"x"), {"n_frames": "25"}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = sample_frames(media, every_n=10, max_frames=4).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r["frame_index"])
    assert "v0" not in by_id and "v1" not in by_id
    assert sorted(by_id["v2"]) == [0, 10, 20]


def test_facade_end_to_end(spark):
    from sortify_spark.facade import SortifyEngine
    from sortify_spark.operators.filters import DocumentFilter

    eng = SortifyEngine(spark, SF_DIR, dim=16)
    page, total = eng.list_documents(
        DocumentFilter(extra=[F.col("lang") == "en"]),
        sort_by="n_chars",
        sort_order="desc",
        limit=5,
    )
    assert len(page.collect()) <= 5
    assert total.first()["total"] > 0

    for stype in ("summary_only", "hybrid", "rrf_fusion", "traditional"):
        res = eng.semantic_search("data query join", search_type=stype)
        rows = res.collect()
        assert rows, stype
        assert len(rows) <= 10

    detail = eng.detail_query(
        '{"filters": [{"col": "doc_id", "op": "eq", "value": 3}],'
        ' "projection": ["doc_id", "text"]}'
    )
    assert detail.count() == 1
    assert eng.dashboard().first()["total_events"] > 0


def test_facade_search_at_reference_dimension(spark):
    """The facade e2e at dim=768 — the reference's embedding width
    (``config.py`` embedding model dim).  Same contract as the dim-16
    fast tests: k bound, unique doc ids, deterministic (score desc, id
    asc) ordering, scores in [-1, 1]."""
    from sortify_spark.facade import SearchConfig, SortifyEngine

    eng = SortifyEngine(spark, SF_DIR, dim=768)
    for stype in ("summary_only", "hybrid", "rrf_fusion", "traditional"):
        rows = eng.semantic_search("data query join", search_type=stype).collect()
        assert rows, stype
        assert len(rows) <= 10, stype
        ids = [r["id"] for r in rows]
        assert len(ids) == len(set(ids)), f"{stype}: duplicate doc ids"
        score_col = "rrf_score" if stype == "rrf_fusion" else "score"
        if score_col in rows[0].asDict():
            scores = [r[score_col] for r in rows]
            if stype != "hybrid":  # hybrid orders by (tier, score)
                assert scores == sorted(scores, reverse=True), stype
            assert all(-1.0 <= s <= 1.0 for s in scores), stype
    # repeat search must be deterministic (hash-embed stub + fixed plans)
    a = eng.semantic_search("storage cost", search_type="rrf_fusion").collect()
    b = eng.semantic_search("storage cost", search_type="rrf_fusion").collect()
    assert a == b


def test_facade_serves_from_persisted_ivf_index(spark, tmp_path):
    """``ann="ivf"`` serves from the COMMITTED index artifact: first
    search builds version 1 through the versioned store, results equal
    the exact top-k restricted to the probed buckets, and a pinned
    ``ivf_version`` keeps serving the old snapshot while a rebuild
    commits a new one (the reference's persistent-collection semantics,
    vector_db_service.py:18-20,73-76)."""
    from sortify_spark.facade import SearchConfig, SortifyEngine
    from sortify_spark.search.index import (
        build_ivf_index,
        rank_index_buckets,
    )
    from sortify_spark.search.knn import brute_force_topk
    from sortify_spark.sources.versioned import read_manifest, read_versioned

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, index_root=str(tmp_path)
    )
    cfg = SearchConfig(ann="ivf", ivf_nprobe=3)
    got = eng.semantic_search(
        "data query join", search_type="summary_only", cfg=cfg
    ).collect()
    assert got and len(got) <= cfg.top_k
    path = eng.ivf_index_path("summary")
    assert read_manifest(f"{path}/assign")["version"] == 1
    # result == exact top-k over ONLY the probed buckets' vectors
    q = eng._query_df("data query join")
    probed = {
        r["bucket"]
        for r in rank_index_buckets(spark, path, q, nprobe=3).collect()
    }
    assign = read_versioned(spark, f"{path}/assign", "bucket")
    restricted = assign.filter(F.col("bucket").isin(probed))
    want = (
        brute_force_topk(restricted, q, k=cfg.top_k)
        .select(
            F.split(F.col("vec_id"), "#")[0].alias("id"), "score"
        )
        .groupBy("id")
        .agg(F.max("score").alias("score"))
        .collect()
    )
    assert {(r["id"], r["score"]) for r in got} == {
        (r["id"], r["score"]) for r in want
    }
    # rebuild over a shrunk corpus (even doc ids only) commits v2; a
    # reader pinned to v1 is untouched by the rebuild
    shrunk = eng.vectors.filter(
        (F.col("vtype") == "summary")
        & (F.col("document_id").cast("long") % 2 == 0)
    ).select(
        F.col("vector_id").alias("vec_id"),
        "embedding",
        F.pmod(F.abs(F.xxhash64("document_id")), F.lit(16)).alias("seed"),
    )
    assert build_ivf_index(shrunk, path, seed_col="seed") == 2
    pinned = eng.semantic_search(
        "data query join",
        search_type="summary_only",
        cfg=SearchConfig(ann="ivf", ivf_nprobe=3, ivf_version=1),
    ).collect()
    assert {(r["id"], r["score"]) for r in pinned} == {
        (r["id"], r["score"]) for r in got
    }
    current = eng.semantic_search(
        "data query join", search_type="summary_only", cfg=cfg
    ).collect()
    assert all(int(r["id"]) % 2 == 0 for r in current)


def test_fit_dims_contract():
    from sortify_spark.multimodal import fit_dims

    assert fit_dims(100, 100, 256) == (100, 100)  # no upscale
    assert fit_dims(512, 256, 256) == (256, 128)  # landscape
    assert fit_dims(256, 512, 256) == (128, 256)  # portrait
    assert fit_dims(256, 256, 256) == (256, 256)  # exact fit
    assert fit_dims(1000, 10, 256) == (256, 2)    # extreme aspect


def test_audio_windows_empty_and_cap(spark):
    from sortify_spark.multimodal import MEDIA_SCHEMA, audio_windows

    media = spark.createDataFrame(
        [
            ("a0", "audio", None, {"sample_rate": "16000", "n_samples": "0"}),
            ("a1", "audio", None, {"sample_rate": "16000",
                                   "n_samples": "99999999"}),
            ("a2", "audio", None, {}),  # missing meta → no rows, no crash
            ("v0", "video", None, {"n_frames": "30"}),  # filtered out
        ],
        MEDIA_SCHEMA,
    )
    rows = audio_windows(media, window_ms=250, max_windows=12).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    assert "a0" not in by_id and "a2" not in by_id and "v0" not in by_id
    assert len(by_id["a1"]) == 12  # capped
    assert by_id["a1"][0]["samples_per_window"] == 4000


@pytest.mark.slow
def test_facade_add_documents_incremental_index(spark, tmp_path):
    """The upload path keeps the persisted IVF artifact current:
    a small add goes through upsert_ivf_index (quantizer version
    unchanged, new vectors searchable), and a large add past the
    rebuild_over drift budget triggers a full re-train."""
    from sortify_spark.facade import SearchConfig, SortifyEngine
    from sortify_spark.sources.versioned import read_manifest

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, doc_limit=200, index_root=str(tmp_path)
    )
    cfg = SearchConfig(ann="ivf", ivf_nprobe=4)
    eng.semantic_search("data", search_type="summary_only", cfg=cfg)
    path = eng.ivf_index_path("summary")
    m1 = read_manifest(f"{path}/assign")
    assert m1["version"] == 1
    # small add: one new doc with a distinctive phrase
    new = spark.createDataFrame(
        [
            (
                900001,
                "zanzibar quokka melange a wholly new document about "
                "incremental vector index maintenance",
                "en",
                "upload",
                90,
            )
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    out = eng.add_documents(new)
    assert out["summary"][0] == "upsert"
    m2 = read_manifest(f"{path}/assign")
    assert m2["centroid_version"] == m1["centroid_version"]
    got = eng.semantic_search(
        "zanzibar quokka melange", search_type="summary_only", cfg=cfg
    ).collect()
    assert any(r["id"] == "900001" for r in got)
    # large add (> rebuild_over x built_rows): full re-train
    bulk = eng.documents.filter(F.col("doc_id") < 150).select(
        (F.col("doc_id") + 950_000).alias("doc_id"),
        F.concat(F.lit("replica corpus growth "), F.col("text")).alias(
            "text"
        ),
        "lang",
        "source",
        "n_chars",
    )
    out2 = eng.add_documents(bulk, rebuild_over=0.3)
    assert out2["summary"][0] == "rebuild"
    m3 = read_manifest(f"{path}/assign")
    assert m3["centroid_version"] > m1["centroid_version"]


@pytest.mark.slow
def test_facade_lexical_index_serving_and_pinning(spark, tmp_path):
    """keyword/hybrid_lexical serve from the PERSISTED BM25 artifact:
    first search builds version 1, the index probe agrees
    value-for-value with the index-free BM25 reference,
    add_documents incrementally upserts the index
    (new doc immediately ranked), and a probe PINNED to version 1
    keeps serving the pre-add snapshot — the serve-during-rebuild
    contract the IVF artifact already has (VERDICT r7 missing #1)."""
    from sortify_spark.facade import SearchConfig, SortifyEngine
    from sortify_spark.sources.versioned import read_manifest

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, doc_limit=200, index_root=str(tmp_path)
    )
    q = "dup spark merge"
    idx = {
        (r["id"], r["score"])
        for r in eng.semantic_search(q, "keyword").collect()
    }
    path = eng.lexical_index_path()
    assert read_manifest(f"{path}/postings")["version"] == 1
    scan = set(bm25_keyword_reference(eng.documents, q, k=10))
    assert idx == scan and idx
    hyb = eng.semantic_search(q, "hybrid_lexical").collect()
    assert len(hyb) > 0
    new = spark.createDataFrame(
        [(900001, "dup dup spark merge dup spark merge", "en", "upload", 35)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = eng.add_documents(new)
    assert out["lexical"][0] == "upsert"
    assert read_manifest(f"{path}/postings")["version"] > 1
    latest = {
        r["id"] for r in eng.semantic_search(q, "keyword").collect()
    }
    assert "900001" in latest
    pinned = {
        (r["id"], r["score"])
        for r in eng.semantic_search(
            q, "keyword", SearchConfig(lex_version=1)
        ).collect()
    }
    assert pinned == idx  # time travel: pre-add snapshot still served


def test_lexical_batched_probe_matches_single(spark, tmp_path):
    """probe_lexical_index_many (ONE plan for N queries) returns the
    same ranked doc set per query as the bit-exact single probe —
    including a query whose terms are absent from the vocabulary."""
    from sortify_spark.search.lexical import (
        build_lexical_index,
        probe_lexical_index,
        probe_lexical_index_many,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(200)
    path = str(tmp_path / "lex")
    build_lexical_index(docs, path)
    # NB: terms must be distinct — the batched probe dedupes repeated
    # terms (its contract) while the slot-based single probe scores a
    # repeated term once per slot, matching bm25_scored
    queries = {
        "a": ("dup", "spark", "merge"),
        "b": ("data", "quality"),
        "c": ("zzz_not_in_vocab",),
    }
    many = probe_lexical_index_many(spark, path, queries, k=10).collect()
    by_q: dict = {}
    for r in many:
        by_q.setdefault(r.query_id, []).append(
            (r.doc_id, r.matched_terms)
        )
    for q, terms in queries.items():
        single = [
            (r.doc_id, r.matched_terms)
            for r in probe_lexical_index(spark, path, terms, k=10).collect()
        ]
        assert by_q.get(q, []) == single, q
    assert by_q.get("c", []) == []  # unseen terms match nothing


def test_lexical_build_anchor_consistent_with_tables(spark, tmp_path):
    """build_lexical_index overlaps the stats aggregate and the
    postings/doclen writes in a thread pool (guide §2.6); the anchor
    (the postings manifest) must still be internally consistent — its
    n_docs/sum_dl equal a recount of the committed doclen snapshot and
    of the raw corpus, and its doclen_version resolves to a readable
    snapshot."""
    from pyspark.sql import functions as F

    from sortify_spark.search.lexical import build_lexical_index
    from sortify_spark.sources.versioned import read_manifest, read_versioned

    docs = load_table(spark, SF_DIR, "documents").limit(300)
    path = str(tmp_path / "lex")
    ver = build_lexical_index(docs, path)
    anchor = read_manifest(f"{path}/postings", ver)
    dl = read_versioned(
        spark, f"{path}/doclen", "pd", version=anchor["doclen_version"]
    )
    got = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).first()
    assert int(anchor["n_docs"]) == int(got["n"]) == docs.count()
    corpus_dl = docs.select(
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("dl")
    ).agg(F.sum("dl")).first()[0]
    assert int(anchor["sum_dl"]) == int(got["s"]) == int(corpus_dl)
    post = read_versioned(spark, f"{path}/postings", "pt", version=ver)
    # every doc with at least one token has posting rows
    assert post.select("doc_id").distinct().count() == (
        docs.filter(
            F.size(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            )
            > 0
        ).count()
    )


@pytest.mark.slow
def test_facade_delete_maintains_lexical_and_ivf(spark, tmp_path):
    """S10 on the persisted artifacts (VERDICT r8 next #1): deleting a
    document removes it from keyword/hybrid_lexical AND ivf serving
    WITHOUT a rebuild — the lexical anchor's stats shrink by exact
    deltas and every posting partition keeps its original version dir
    (the delete is a tombstone commit, not a rewrite)."""
    from sortify_spark.facade import SearchConfig, SortifyEngine
    from sortify_spark.sources.versioned import read_manifest

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, doc_limit=200, index_root=str(tmp_path)
    )
    q = "dup spark merge"
    cfg_ivf = SearchConfig(ann="ivf", ivf_nprobe=16)
    before_kw = [r["id"] for r in eng.semantic_search(q, "keyword").collect()]
    before_ivf = [
        r["id"]
        for r in eng.semantic_search(
            q, search_type="summary_only", cfg=cfg_ivf
        ).collect()
    ]
    assert before_kw and before_ivf
    victim = before_kw[0]
    lex_path = eng.lexical_index_path()
    a1 = read_manifest(f"{lex_path}/postings")
    eng.delete_vectors([victim])
    a2 = read_manifest(f"{lex_path}/postings")
    assert a2["n_docs"] == a1["n_docs"] - 1
    assert a2["sum_dl"] < a1["sum_dl"]
    # a tombstone commit, not a rewrite: the partitions are untouched
    assert a2["partitions"] == a1["partitions"]
    assert [int(victim), a2["version"]] in a2["tombstones"]
    after_kw = [r["id"] for r in eng.semantic_search(q, "keyword").collect()]
    assert victim not in after_kw
    after_hyb = [
        r["id"] for r in eng.semantic_search(q, "hybrid_lexical").collect()
    ]
    assert victim not in after_hyb
    after_ivf = [
        r["id"]
        for r in eng.semantic_search(
            q, search_type="summary_only", cfg=cfg_ivf
        ).collect()
    ]
    assert victim not in after_ivf
    # the post-delete keyword list equals a FRESH ranking of the
    # shrunk corpus (BM25 reference = ground truth, no artifact involved)
    fresh = [i for i, _ in bm25_keyword_reference(eng.documents, q, k=10)]
    assert after_kw == fresh


def test_facade_lexical_scan_index_share_tie_order(spark, tmp_path):
    """At TIED BM25 scores straddling the top-k boundary the index
    probe and the index-free BM25 reference must return the SAME doc
    set: both order by NUMERIC doc_id (ADVICE r8 — string-cast ids
    would tie-break with '10' < '9')."""
    from sortify_spark.facade import SortifyEngine

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, doc_limit=10, index_root=str(tmp_path)
    )
    # 15 identical docs, ids 1..15: every score ties, so top-10 is
    # decided purely by the tie-break; string order would pick
    # {1,10,11,12,13,14,15,2,3,4}, numeric picks 1..10
    eng.documents = spark.createDataFrame(
        [(i, "alpha beta gamma", "en", "web", 16) for i in range(1, 16)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    idx = [r["id"] for r in eng.semantic_search("alpha", "keyword").collect()]
    scan = [i for i, _ in bm25_keyword_reference(eng.documents, "alpha", k=10)]
    assert idx == scan == [str(i) for i in range(1, 11)]


def test_facade_lexical_config_validated():
    """``SearchConfig.ann`` accepts only the two served dense paths: a
    removed mode or a typo must fail loudly instead of silently serving
    exact search."""
    from sortify_spark.facade import SearchConfig

    for ann in ("lsh", "ivff"):
        with pytest.raises(ValueError, match="ann"):
            SearchConfig(ann=ann)
    assert SearchConfig(ann="ivf").ann == "ivf"


def test_facade_lexical_adoption_reconciles_drift(spark, tmp_path):
    """Adopting a pre-existing on-disk artifact reconciles it against
    the served corpus (ADVICE r8): docs added BEFORE the first lexical
    search (while _lex_built was False) must still be searchable —
    the adoption drift check rebuilds on an n_docs mismatch."""
    from sortify_spark.facade import SortifyEngine

    e1 = SortifyEngine(
        spark, SF_DIR, dim=16, doc_limit=50, index_root=str(tmp_path)
    )
    e1.semantic_search("data", "keyword")  # builds the artifact
    e2 = SortifyEngine(
        spark, SF_DIR, dim=16, doc_limit=50, index_root=str(tmp_path)
    )
    new = spark.createDataFrame(
        [(900002, "xylophone zephyr quill a drifted document", "en",
          "upload", 42)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    e2.add_documents(new)  # _lex_built False: artifact NOT upserted
    got = {
        r["id"]
        for r in e2.semantic_search("xylophone zephyr", "keyword").collect()
    }
    assert "900002" in got


def test_lexical_pd_buckets_recorded_and_honored(spark, tmp_path):
    """The doclen fan-out is a build-time placement decision recorded
    in the anchor (ADVICE r8): an upsert against an index built with a
    NON-default pd_buckets must hash replaced docs into the partitions
    the BUILD chose — otherwise the old doclen row survives in an
    untouched partition and repl/sum_dl accounting double-counts."""
    from sortify_spark.search.lexical import (
        build_lexical_index,
        upsert_lexical_index,
    )
    from sortify_spark.sources.versioned import (
        read_manifest,
        read_versioned,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    path = str(tmp_path / "lex")
    build_lexical_index(docs, path, pd_buckets=4)
    anchor = read_manifest(f"{path}/postings")
    assert anchor["pd_buckets"] == 4
    repl = docs.filter(F.col("doc_id") < 5).withColumn(
        "text", F.concat(F.col("text"), F.lit(" replaced tail"))
    )
    upsert_lexical_index(repl, path)
    a2 = read_manifest(f"{path}/postings")
    assert a2["pd_buckets"] == 4
    assert a2["n_docs"] == anchor["n_docs"]  # pure replace
    dupes = (
        read_versioned(
            spark, f"{path}/doclen", "pd", version=a2["doclen_version"]
        )
        .groupBy("doc_id")
        .count()
        .filter(F.col("count") > 1)
    )
    assert dupes.isEmpty()


@pytest.mark.slow
def test_facade_batched_serving_matches_per_query(
    spark, tmp_path, snapshot_gate
):
    """semantic_search_many (ONE plan per leg for N queries) returns,
    per query, the SAME rows as the semantic_search loop — across the
    lexical, dense, and fused strategies (VERDICT r8 next #2)."""
    from sortify_spark.facade import SortifyEngine

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, doc_limit=200, index_root=str(tmp_path)
    )
    qs = {"a": "dup spark merge", "b": "data quality", "c": "document"}

    def by_query(df, ordered=True):
        rows = df.collect()
        if ordered:
            rows = sorted(rows, key=lambda r: (r["query_id"], r["rnk"]))
        out: dict = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append((r["id"], r["score"]))
        return out

    # keyword: ordered doc lists match; scores at round-6 (the batched
    # probe's aggregation-order sum differs from the single probe's
    # fixed-order sum only in the last round-9 ulp — its contract)
    many = by_query(eng.semantic_search_many(qs, "keyword"))
    for q, text in qs.items():
        single = [
            (r["id"], round(r["score"], 6))
            for r in eng.semantic_search(text, "keyword").collect()
        ]
        assert [
            (i, round(s, 6)) for i, s in many.get(q, [])
        ] == single, q
    # hybrid_lexical: fused order + scores must match
    many = by_query(eng.semantic_search_many(qs, "hybrid_lexical"))
    for q, text in qs.items():
        single = [
            (r["id"], r["rrf_score"])
            for r in eng.semantic_search(text, "hybrid_lexical").collect()
        ]
        assert many.get(q, []) == single, q
    # summary_only: the single path returns an unordered deduped set
    many = by_query(eng.semantic_search_many(qs, "summary_only"), False)
    for q, text in qs.items():
        single = {
            (r["id"], r["score"])
            for r in eng.semantic_search(text, "summary_only").collect()
        }
        assert set(many.get(q, [])) == single, q
    # rrf_fusion: fused order + scores must match
    many = by_query(eng.semantic_search_many(qs, "rrf_fusion"))
    for q, text in qs.items():
        single = [
            (r["id"], r["rrf_score"])
            for r in eng.semantic_search(text, "rrf_fusion").collect()
        ]
        assert many.get(q, []) == single, q
    # hybrid (the default two-stage strategy): ordered (id, score)
    # per query must match the loop; tier breaks remaining ties
    many = by_query(eng.semantic_search_many(qs, "hybrid"))
    for q, text in qs.items():
        single = [
            (r["id"], r["score"])
            for r in eng.semantic_search(text, "hybrid").collect()
        ]
        assert many.get(q, []) == single, q
    # traditional: per-doc max-score merge
    many = by_query(eng.semantic_search_many(qs, "traditional"))
    for q, text in qs.items():
        single = [
            (r["id"], r["score"])
            for r in eng.semantic_search(text, "traditional").collect()
        ]
        assert many.get(q, []) == single, q
    # contract errors
    with pytest.raises(ValueError, match="not support"):
        eng.semantic_search_many(qs, "no_such_strategy")
    with pytest.raises(ValueError, match="no terms"):
        eng.semantic_search_many({"x": "   "}, "keyword")


@pytest.mark.slow
def test_ivf_batched_probe_matches_single(spark, tmp_path, snapshot_gate):
    """probe_ivf_index_many (N queries, ONE union-of-buckets plan)
    returns per query exactly the single probe's ranked list — same
    probed buckets (same rounded centroid ranking), same round-6
    scores — and the facade's batched ivf strategy matches the
    per-query loop."""
    from sortify_spark.facade import SearchConfig, SortifyEngine
    from sortify_spark.search.index import (
        build_ivf_index,
        probe_ivf_index,
        probe_ivf_index_many,
    )

    vecs = load_table(spark, SF_DIR, "embeddings").limit(400).select(
        F.col("vec_id").cast("string").alias("vec_id"),
        "embedding",
        F.col("label").alias("seed"),
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(vecs, path, seed_col="seed")
    qrows = vecs.limit(3).collect()
    queries = spark.createDataFrame(
        [(f"q{i}", r["embedding"]) for i, r in enumerate(qrows)],
        "query_id string, embedding array<float>",
    )
    many = {}
    for r in probe_ivf_index_many(
        spark, path, queries, k=10, nprobe=4
    ).collect():
        many.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    for i, qr in enumerate(qrows):
        single = [
            (r["vec_id"], r["score"])
            for r in probe_ivf_index(
                spark,
                path,
                spark.createDataFrame(
                    [(qr["embedding"],)], "embedding array<float>"
                ),
                k=10,
                nprobe=4,
            ).collect()
        ]
        assert many.get(f"q{i}", []) == single, f"q{i}"
    # facade: batched ivf summary search == per-query loop
    eng = SortifyEngine(
        spark, SF_DIR, dim=16, doc_limit=150, index_root=str(tmp_path / "e")
    )
    cfg = SearchConfig(ann="ivf", ivf_nprobe=4)
    qs = {"a": "data quality", "b": "spark merge windows"}
    batched = {}
    for r in eng.semantic_search_many(qs, "summary_only", cfg).collect():
        batched.setdefault(r["query_id"], set()).add((r["id"], r["score"]))
    for q, text in qs.items():
        single = {
            (r["id"], r["score"])
            for r in eng.semantic_search(
                text, "summary_only", cfg
            ).collect()
        }
        assert batched.get(q, set()) == single, q


@pytest.mark.slow
def test_lexical_upsert_heals_orphaned_partial_commit(spark, tmp_path):
    """Crash INSIDE upsert_lexical_index (the doclen segment committed,
    the postings ANCHOR not): probes keep serving the pre-crash
    snapshot, and RE-RUNNING the upsert for the affected doc heals the
    artifact to value-identity with a from-scratch rebuild — the re-run
    appends to the doclen snapshot the anchor pins, dropping the
    orphaned commit.  A failure between a commit's reservation and its
    manifest swap leaves the previous snapshot readable and the table
    writable."""
    from sortify_spark.search.lexical import (
        _tokenize_rows,
        build_lexical_index,
        probe_lexical_index,
        upsert_lexical_index,
    )
    from sortify_spark.sources import versioned

    docs = load_table(spark, SF_DIR, "documents").limit(100)
    path = str(tmp_path / "lex")
    build_lexical_index(docs.filter(F.col("doc_id") != 7), path)
    a1 = versioned.read_manifest(f"{path}/postings")
    seven = docs.filter(F.col("doc_id") == 7)
    # simulate the crash: commit doc 7's doclen segment exactly as
    # upsert_lexical_index would, but never the anchor
    _, dlen = _tokenize_rows(
        seven.select("doc_id", "text").toPandas(), "doc_id", "text", (),
        int(a1["pt_buckets"]), int(a1["pd_buckets"]),
    )
    versioned.append_versioned(dlen, f"{path}/doclen", "pd", key="doc_id")
    terms = ("dup", "spark", "merge")

    def probe(p):
        return [
            (r["doc_id"], r["matched_terms"], r["bm25"])
            for r in probe_lexical_index(spark, p, terms, k=50).collect()
        ]

    # the anchor still pins the pre-crash pair: doc 7 invisible
    pre = probe(path)
    assert all(d != 7 for d, _, _ in pre)

    def crash(*_a, **_k):
        raise RuntimeError("crash between reservation and swap")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(versioned, "_commit_manifest", crash)
        with pytest.raises(RuntimeError, match="crash"):
            upsert_lexical_index(seven, path)
    assert versioned.read_manifest(f"{path}/postings") == a1
    assert probe(path) == pre
    # the heal: re-run the upsert for the drifted doc
    upsert_lexical_index(seven, path)
    ref = str(tmp_path / "ref")
    build_lexical_index(docs, ref)
    assert probe(path) == probe(ref)
    anchor = versioned.read_manifest(f"{path}/postings")
    doclen = versioned.read_versioned_pandas(
        f"{path}/doclen", "pd", version=anchor["doclen_version"]
    )
    assert doclen["doc_id"].is_unique and 7 in set(doclen["doc_id"])
    assert anchor["n_docs"] == len(doclen)


@pytest.mark.slow
def test_lexical_artifact_vacuum_preserves_current_probe(spark, tmp_path):
    """Vacuum on the lexical artifact's tables reclaims superseded
    version dirs without touching the CURRENT anchored snapshot: after
    several upserts and a merge of the segments into a new base,
    vacuuming both tables leaves the probe value-identical, while a
    probe PINNED to a vacuumed anchor fails loudly (the versioned
    store's vacuumed-snapshot contract applied to the BM25 artifact
    lifecycle)."""
    from sortify_spark.search.lexical import (
        build_lexical_index,
        probe_lexical_index,
        upsert_lexical_index,
    )
    from sortify_spark.sources.versioned import (
        merge_versioned,
        read_manifest,
        vacuum,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(120)
    path = str(tmp_path / "lex")
    v1 = build_lexical_index(docs.filter(F.col("doc_id") < 40), path)
    for lo, hi in ((40, 80), (80, 120)):
        upsert_lexical_index(
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ),
            path,
        )
    terms = ("dup", "spark", "merge")
    before = [
        (r["doc_id"], r["matched_terms"], r["bm25"])
        for r in probe_lexical_index(spark, path, terms, k=30).collect()
    ]
    dv = merge_versioned(f"{path}/doclen", "pd")
    merge_versioned(f"{path}/postings", "pt", extra={"doclen_version": dv})
    merged = read_manifest(f"{path}/postings")
    assert not merged.get("segments") and not merged.get("tombstones")
    removed = []
    for sub in ("postings", "doclen"):
        removed += vacuum(f"{path}/{sub}", keep_last=0)
    assert removed  # superseded version dirs actually reclaimed
    after = [
        (r["doc_id"], r["matched_terms"], r["bm25"])
        for r in probe_lexical_index(spark, path, terms, k=30).collect()
    ]
    assert after == before
    # time travel to the vacuumed v1 anchor now fails loudly
    with pytest.raises(FileNotFoundError):
        probe_lexical_index(spark, path, terms, k=5, version=v1).collect()


def test_ivf_filtered_probe(spark, tmp_path):
    """Filtered ANN: carry_cols metadata rides the assign table, and a
    probe's pre_filter evaluates inside the probed buckets — results
    equal the unfiltered probe post-filtered (the filter can only
    remove rows from probed buckets), every hit satisfies the
    predicate, and the batched probe agrees with the single one."""
    from sortify_spark.search.index import (
        build_ivf_index,
        probe_ivf_index,
        probe_ivf_index_many,
    )

    vecs = load_table(spark, SF_DIR, "embeddings").limit(300).select(
        F.col("vec_id").cast("string").alias("vec_id"),
        "embedding",
        "label",
        F.col("label").alias("seed"),
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(vecs, path, seed_col="seed", carry_cols=("label",))
    q = vecs.limit(1).select("embedding")
    flt = F.col("label") % 2 == 0
    hits = probe_ivf_index(
        spark, path, q, k=10, nprobe=8, pre_filter=flt
    ).collect()
    assert hits
    # every hit satisfies the predicate (label is even by vec_id join)
    labels = {
        r["vec_id"]: r["label"]
        for r in vecs.select("vec_id", "label").collect()
    }
    assert all(labels[r["vec_id"]] % 2 == 0 for r in hits)
    # filtered probe == unfiltered probe's rows restricted to the
    # predicate, re-limited (same buckets, same scores)
    unfiltered = probe_ivf_index(spark, path, q, k=300, nprobe=8).collect()
    want = [
        (r["vec_id"], r["score"])
        for r in unfiltered
        if labels[r["vec_id"]] % 2 == 0
    ][:10]
    assert [(r["vec_id"], r["score"]) for r in hits] == want
    # batched probe with the same filter agrees per query
    queries = spark.createDataFrame(
        [("q0", q.first()["embedding"])],
        "query_id string, embedding array<float>",
    )
    many = probe_ivf_index_many(
        spark, path, queries, k=10, nprobe=8, pre_filter=flt
    ).collect()
    assert [(r["vec_id"], r["score"]) for r in many] == [
        (r["vec_id"], r["score"]) for r in hits
    ]


def test_delete_from_ivf_index_unit(spark, tmp_path):
    """Keyed IVF delete: deleted ids vanish from probes, survivors'
    scores are unchanged, centroid pairing + built_rows carry through,
    and a no-match delete is a no-op commit."""
    from sortify_spark.search.index import (
        build_ivf_index,
        delete_from_ivf_index,
        probe_ivf_index,
    )
    from sortify_spark.sources.versioned import read_manifest

    vecs = load_table(spark, SF_DIR, "embeddings").limit(300).select(
        F.col("vec_id").cast("string").alias("vec_id"),
        F.col("embedding"),
        F.col("label").alias("seed"),
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(vecs, path, seed_col="seed")
    m1 = read_manifest(f"{path}/assign")
    q = vecs.limit(1).select("embedding")
    before = probe_ivf_index(spark, path, q, k=10, nprobe=8).collect()
    victims = [r["vec_id"] for r in before[:3]]
    vdf = spark.createDataFrame([(v,) for v in victims], "vec_id string")
    v2 = delete_from_ivf_index(vdf, path)
    m2 = read_manifest(f"{path}/assign")
    assert v2 == m2["version"] > m1["version"]
    assert m2["centroid_version"] == m1["centroid_version"]
    assert m2.get("built_rows") == m1.get("built_rows")
    after = probe_ivf_index(spark, path, q, k=10, nprobe=8).collect()
    ids_after = {r["vec_id"] for r in after}
    assert not ids_after & set(victims)
    kept = {r["vec_id"]: r["score"] for r in before if r["vec_id"] not in victims}
    for r in after:
        if r["vec_id"] in kept:
            assert r["score"] == kept[r["vec_id"]]
    # idempotent: deleting unknown ids commits nothing
    v3 = delete_from_ivf_index(
        spark.createDataFrame([("nope",)], "vec_id string"), path
    )
    assert v3 == v2


# ---------------------------------------------------------------------------
# Round 10: owner-scoped (tenant-isolated) serving — VERDICT r9 #1
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_owner_scoped_search_every_strategy(spark, tmp_path):
    """Every facade strategy (dense exact, IVF, keyword via the
    owner-carrying BM25 artifact, hybrid_lexical, two-stage hybrid,
    RRF, traditional) honors owner_id: results ⊆ the owner's docs, two
    owners' result sets are disjoint, and the dense path equals the
    filter-then-topk composition computed independently."""
    from sortify_spark.facade import SearchConfig, SortifyEngine
    from sortify_spark.search.knn import brute_force_topk

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=120,
        index_root=str(tmp_path), owner_col="source",
    )
    owners = [
        r["source"]
        for r in eng.documents.select("source").distinct()
        .orderBy("source").limit(2).collect()
    ]
    docs_of = {
        o: {
            str(r["doc_id"])
            for r in eng.documents.filter(F.col("source") == o)
            .select("doc_id").collect()
        }
        for o in owners
    }
    q = "data pipeline quality and join performance"
    strategies = [
        ("summary_only", None),
        ("chunks_only", None),
        ("rrf_fusion", None),
        ("traditional", None),
        ("hybrid", None),
        ("keyword", None),
        ("hybrid_lexical", None),
        ("summary_only", SearchConfig(ann="ivf", ivf_nprobe=16)),
    ]
    for st, cfg in strategies:
        per_owner = {}
        for o in owners:
            ids = {
                r["id"]
                for r in eng.semantic_search(
                    q, st, cfg, owner_id=o
                ).collect()
            }
            assert ids <= docs_of[o], (st, o, ids - docs_of[o])
            per_owner[o] = ids
        assert not (per_owner[owners[0]] & per_owner[owners[1]]), st
    # keyword == the index-free BM25 reference: owner filter applied
    # before the top-k, scores kept corpus-global
    for o in owners:
        got_kw = [
            (r["id"], r["score"])
            for r in eng.semantic_search(q, "keyword", owner_id=o).collect()
        ]
        assert got_kw == bm25_keyword_reference(
            eng.documents, q, k=10, owner_id=o, owner_col="source"
        ), o
    # dense exact == independent filter-then-topk composition
    o = owners[0]
    got = {
        (r["id"], r["score"])
        for r in eng.semantic_search(q, "summary_only", owner_id=o).collect()
    }
    qdf = eng._query_df(q)
    base = eng.vectors.filter(
        (F.col("vtype") == "summary") & (F.col("owner_id") == o)
    )
    exp = {
        (r["document_id"], r["score"])
        for r in brute_force_topk(
            base, qdf, id_col="document_id", k=10
        ).collect()
    }
    assert got == exp


@pytest.mark.slow
def test_owner_scoped_batched_matches_per_query(
    spark, tmp_path, snapshot_gate
):
    """semantic_search_many(owner_id=...) parity: per-query rows match
    the single-query loop for every batched strategy (round-6 for the
    lexical legs, the documented batched contract)."""
    from sortify_spark.facade import SearchConfig, SortifyEngine

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=120,
        index_root=str(tmp_path), owner_col="source",
    )
    owner = eng.documents.select("source").orderBy("source").first()[
        "source"
    ]
    queries = {
        "q1": "data pipeline quality and join performance",
        "q2": "vector index build and search serving",
    }
    for st in (
        "keyword",
        "hybrid_lexical",
        "summary_only",
        "rrf_fusion",
        "traditional",
        "hybrid",
    ):
        many = (
            eng.semantic_search_many(queries, st, owner_id=owner)
            .orderBy("query_id", "rnk")
            .collect()
        )
        for qid, text in queries.items():
            sdf = eng.semantic_search(text, st, owner_id=owner)
            # single-query fusion paths emit rrf_score; the batched API
            # normalizes every strategy to a `score` column
            scol = "rrf_score" if "rrf_score" in sdf.columns else "score"
            single = sdf.orderBy(F.desc(scol), F.asc("id")).collect()
            got = [
                (r["id"], round(r["score"], 6))
                for r in many
                if r["query_id"] == qid
            ]
            exp = [(r["id"], round(r[scol], 6)) for r in single]
            if st == "hybrid":
                # two_stage orders by (tier, score); compare as sets
                assert {g[0] for g in got} == {e[0] for e in exp}, (st, qid)
            else:
                assert sorted(got) == sorted(exp), (st, qid)
        ids = {r["id"] for r in many}
        owner_docs = {
            str(r["doc_id"])
            for r in eng.documents.filter(F.col("source") == owner)
            .select("doc_id").collect()
        }
        assert ids <= owner_docs, st


def test_owner_scoped_requires_owner_col(spark):
    """An engine built without owner_col refuses owner-scoped search
    loudly (its vectors carry the constant 'default' owner — silently
    matching nothing would look like an empty corpus)."""
    import pytest

    from sortify_spark.facade import SortifyEngine

    eng = SortifyEngine(spark, SF_DIR, dim=16, embed="expr", doc_limit=50)
    with pytest.raises(ValueError, match="owner_col"):
        eng.semantic_search("data", "summary_only", owner_id="u1")
    with pytest.raises(ValueError, match="owner_col"):
        eng.semantic_search_many({"q": "data"}, "summary_only", owner_id="u1")


@pytest.mark.slow
def test_owner_scoped_artifacts_survive_mutations(spark, tmp_path):
    """Owner metadata stays correct through the artifact lifecycle:
    add_documents upserts owner-carrying postings/assign rows (the new
    doc is findable under ITS owner only), delete keeps serving the
    survivors, and the result cache keys per owner."""
    from sortify_spark.facade import SearchConfig, SortifyEngine

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=60,
        index_root=str(tmp_path), owner_col="source",
    )
    owner = eng.documents.select("source").orderBy("source").first()[
        "source"
    ]
    other = [
        r["source"]
        for r in eng.documents.select("source").distinct().collect()
        if r["source"] != owner
    ][0]
    cfg = SearchConfig(ann="ivf", ivf_nprobe=16)
    # build both artifacts (lexical via keyword, ivf via config)
    eng.semantic_search("data", "keyword", owner_id=owner)
    eng.semantic_search("data", "summary_only", cfg, owner_id=owner)
    new = spark.createDataFrame(
        [
            (
                910001,
                "xylophone quasar document about owner scoped upsert",
                "en",
                owner,
                52,
            )
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    eng.add_documents(new)
    probe_q = "xylophone quasar owner scoped upsert"
    for st, c in (("keyword", None), ("summary_only", cfg)):
        mine = {
            r["id"]
            for r in eng.semantic_search(
                probe_q, st, c, owner_id=owner
            ).collect()
        }
        assert "910001" in mine, st
        theirs = {
            r["id"]
            for r in eng.semantic_search(
                probe_q, st, c, owner_id=other
            ).collect()
        }
        assert "910001" not in theirs, st
    eng.delete_vectors(["910001"])
    for st, c in (("keyword", None), ("summary_only", cfg)):
        mine = {
            r["id"]
            for r in eng.semantic_search(
                probe_q, st, c, owner_id=owner
            ).collect()
        }
        assert "910001" not in mine, st
    # result cache: same query text, different owner → different rows
    a = {
        r["id"]
        for r in eng.cached_search("data", "summary_only", owner_id=owner)
        .collect()
    }
    b = {
        r["id"]
        for r in eng.cached_search("data", "summary_only", owner_id=other)
        .collect()
    }
    assert a and b and not (a & b)


@pytest.mark.slow
def test_facade_maintain_indexes(spark, tmp_path):
    """One maintenance entrypoint for the persisted artifacts: after a
    few mutations, maintain_indexes() merges every appended segment and
    tombstone into a new base and vacuums old version dirs while every
    probe result stays identical."""
    import glob

    from sortify_spark.facade import SearchConfig, SortifyEngine

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=60,
        index_root=str(tmp_path), owner_col="source",
    )
    cfg = SearchConfig(ann="ivf", ivf_nprobe=8)
    owner = eng.documents.select("source").orderBy("source").first()[
        "source"
    ]
    # build both artifacts, then mutate a few times to accrue versions
    eng.semantic_search("data pipeline", "keyword", owner_id=owner)
    eng.semantic_search("data pipeline", "summary_only", cfg)
    for i in range(3):
        eng.add_documents(
            spark.createDataFrame(
                [
                    (
                        920_000 + i,
                        f"maintenance round ten document {i} about "
                        "vacuum and compaction",
                        "en",
                        owner,
                        50,
                    )
                ],
                "doc_id long, text string, lang string, source string, "
                "n_chars long",
            )
        )
    eng.delete_vectors(["920001"])

    def probes():
        kw = [
            (r["id"], r["score"])
            for r in eng.semantic_search(
                "data pipeline", "keyword", owner_id=owner
            ).collect()
        ]
        iv = [
            (r["id"], r["score"])
            for r in eng.semantic_search(
                "data pipeline", "summary_only", cfg
            ).collect()
        ]
        return kw, iv

    def dirs():
        lex = eng.lexical_index_path()
        ivf = eng.ivf_index_path("summary")
        return sum(
            len(glob.glob(f"{p}/v=*"))
            for p in (
                f"{lex}/postings", f"{lex}/doclen",
                f"{ivf}/assign", f"{ivf}/centroids",
            )
        )

    before_probe = probes()
    before_dirs = dirs()
    out = eng.maintain_indexes(keep_last=1)
    assert set(out) >= {"lex/postings", "lex/doclen", "ivf_summary/assign"}
    assert all(
        out[t]["merged"]
        for t in ("lex/postings", "lex/doclen", "ivf_summary/assign")
    )
    assert sum(v["vacuumed"] for v in out.values()) > 0
    assert dirs() < before_dirs
    assert probes() == before_probe
    # nothing left to merge: a second pass commits nothing
    again = eng.maintain_indexes(keep_last=1)
    assert not any(v["merged"] for v in again.values())
    assert probes() == before_probe


@pytest.mark.slow
def test_facade_maintain_indexes_real_compaction(spark, tmp_path):
    """maintain_indexes on an artifact written fragmented (another
    writer splitting files via maxRecordsPerFile) and then mutated: the
    merge must preserve the anchor's manifest extras (n_docs /
    pt_buckets / carry survive the merge commit) and re-pin the anchor
    onto the merged doclen version BEFORE vacuum, so a keep_last=1 pass
    never strands the pinned manifest — keyword probes are hash-stable
    and alive across the pass."""
    from sortify_spark.facade import SortifyEngine
    from sortify_spark.sources.versioned import read_manifest

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=60,
        index_root=str(tmp_path), owner_col="source",
    )
    owner = eng.documents.select("source").orderBy("source").first()[
        "source"
    ]
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "5")
    try:
        eng.semantic_search("data pipeline", "keyword", owner_id=owner)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    # one mutation so there is a segment to merge and a version to vacuum
    eng.add_documents(
        spark.createDataFrame(
            [(930_000, "compaction probe document about data pipeline",
              "en", owner, 40)],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )
    )

    def kw_probe():
        return [
            (r["id"], round(r["score"], 9))
            for r in eng.semantic_search(
                "data pipeline", "keyword", owner_id=owner
            ).collect()
        ]

    lex = eng.lexical_index_path()
    before = kw_probe()
    anchor_before = read_manifest(f"{lex}/postings")
    out = eng.maintain_indexes(keep_last=1)
    assert out["lex/postings"]["merged"] and out["lex/doclen"]["merged"]
    anchor = read_manifest(f"{lex}/postings")
    for key in ("n_docs", "sum_dl", "pt_buckets", "pd_buckets", "carry",
                "layout_col"):
        assert anchor.get(key) == anchor_before.get(key), key
    assert not anchor.get("segments") and not anchor.get("tombstones")
    assert (
        anchor["doclen_version"]
        == read_manifest(f"{lex}/doclen")["version"]
    )
    assert kw_probe() == before
    out2 = eng.maintain_indexes(keep_last=1)
    assert not any(v["merged"] for v in out2.values())
    assert kw_probe() == before


@pytest.mark.slow
def test_facade_maintain_indexes_stale_pin_skips_repin(spark, tmp_path):
    """If the doclen table holds a commit after the one the anchor pins
    (a crash landed between the doclen commit and the anchor commit),
    maintain_indexes must neither merge that orphan into the doclen base
    nor re-pin the anchor onto it, and must not vacuum the pinned
    manifest: it skips the doclen table and warns.  The next mutation
    re-bases doclen on the pinned version."""
    import warnings as _warnings

    from sortify_spark.facade import SortifyEngine
    from sortify_spark.search.lexical import _tokenize_rows
    from sortify_spark.sources.versioned import (
        append_versioned,
        read_manifest,
        read_versioned_pandas,
    )

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=60,
        index_root=str(tmp_path), owner_col="source",
    )
    owner = eng.documents.select("source").orderBy("source").first()[
        "source"
    ]
    eng.semantic_search("data pipeline", "keyword", owner_id=owner)
    lex = eng.lexical_index_path()
    anchor = read_manifest(f"{lex}/postings")
    pinned = anchor["doclen_version"]
    _, orphan = _tokenize_rows(
        pd.DataFrame({"doc_id": [960_000], "text": ["orphan doc"]}),
        "doc_id", "text", (), anchor["pt_buckets"], anchor["pd_buckets"],
    )
    append_versioned(orphan, f"{lex}/doclen", "pd", key="doc_id")
    before = eng.semantic_search("data pipeline", "keyword").collect()
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        out = eng.maintain_indexes(keep_last=0)
    assert any(
        "doclen_version" in str(w.message) for w in caught
    ), [str(w.message) for w in caught]
    assert out["lex/doclen"] == {"merged": False, "vacuumed": 0, "stale_pin": True}
    assert read_manifest(f"{lex}/postings")["doclen_version"] == pinned
    assert os.path.exists(f"{lex}/doclen/_MANIFEST.v{pinned}")
    assert eng.semantic_search("data pipeline", "keyword").collect() == before
    # the next mutation appends to the pinned snapshot: the orphan goes
    eng.add_documents(
        spark.createDataFrame(
            [(960_001, "stale pin heal data pipeline", "en", owner, 30)],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )
    )
    healed = read_manifest(f"{lex}/postings")
    ids = set(
        read_versioned_pandas(
            f"{lex}/doclen", "pd", version=healed["doclen_version"]
        )["doc_id"]
    )
    assert 960_001 in ids and 960_000 not in ids
    assert healed["n_docs"] == len(ids)


def test_facade_delete_vectors_batch_cap(spark, tmp_path):
    """delete_vectors mirrors the reference's 1000-id batch cap
    (apis/v1/documents.py:948): an oversized deletion list must fail
    loudly instead of collecting millions of ids into a driver-local
    relation embedded in four plans; the DataFrame form must bound the
    driver transfer via limit(cap+1) before the check."""
    import pytest as _pytest

    from sortify_spark.facade import _DELETE_BATCH_CAP, SortifyEngine

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=30,
        index_root=str(tmp_path),
    )
    big = [str(i) for i in range(_DELETE_BATCH_CAP + 1)]
    with _pytest.raises(ValueError, match="deletion batch exceeds"):
        eng.delete_vectors(big)
    big_df = spark.range(_DELETE_BATCH_CAP + 50).select(
        F.col("id").cast("string").alias("document_id")
    )
    with _pytest.raises(ValueError, match="deletion batch exceeds"):
        eng.delete_vectors(big_df)
    # at the cap it goes through (ids need not exist — delete of
    # absent ids is a no-op on every artifact)
    eng.delete_vectors([str(i) for i in range(5)])


@pytest.mark.slow
def test_facade_mutation_storage_clean(spark, tmp_path):
    """Storage-leak gate over the facade mutation lifecycle (VERDICT
    r10 #5): N add/search/delete cycles must reach a STEADY storage
    state (no per-cycle accretion of persisted blocks — the r10 class
    of leak), and ``release()`` must return executor storage to its
    pre-engine block set once checkpoint references are GC'd."""
    import gc
    import time as _time

    from sortify_spark.facade import SearchConfig, SortifyEngine

    def rdd_ids():
        return {
            info.id()
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    pre = rdd_ids()
    eng = SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=60,
        index_root=str(tmp_path), owner_col="source",
    )
    owner = eng.documents.select("source").orderBy("source").first()[
        "source"
    ]

    def cycle(i):
        eng.add_documents(
            spark.createDataFrame(
                [(940_000 + i,
                  f"storage cycle probe document {i} data pipeline",
                  "en", owner, 40)],
                "doc_id long, text string, lang string, source string, "
                "n_chars long",
            )
        )
        eng.semantic_search("data pipeline", "hybrid", owner_id=owner)
        eng.semantic_search(
            "data pipeline", "summary_only",
            SearchConfig(ann="ivf"), owner_id=owner,
        )
        eng.delete_vectors([str(940_000 + i)])
        gc.collect()  # drop superseded checkpoint references promptly

    counts = []
    for i in range(4):
        cycle(i)
        # the context cleaner reclaims GC'd checkpoint blocks
        # asynchronously — poll to a stable count
        for _ in range(30):
            n = len(rdd_ids() - pre)
            _time.sleep(0.5)
            if len(rdd_ids() - pre) == n:
                break
        counts.append(len(rdd_ids() - pre))
    # steady state: later cycles must not accrete blocks beyond the
    # engine's live caches (vectors); tolerate one block of
    # cleaner jitter, not monotonic growth
    assert counts[-1] <= counts[1] + 1, counts

    eng.release()
    del eng
    gc.collect()
    deadline = _time.time() + 30
    while _time.time() < deadline:
        leaked = rdd_ids() - pre
        if not leaked:
            break
        _time.sleep(0.5)
        gc.collect()
    assert not leaked, f"storage blocks leaked past release(): {leaked}"


@pytest.mark.slow
def test_owner_scoped_ivf_batched_matches_single_composed(
    spark, tmp_path, snapshot_gate
):
    """cfg.ann='ivf' owner-scoped serving uses the COMPOSED
    filtered-IVF default on BOTH paths (occupancy-aware bucket choice
    + per-query nprobe escalation, VERDICT r11 #1): the batched IVF
    leg's per-query rows equal the single-query loop even at nprobe=1
    on a selective tenant — where an unmitigated probe would return
    nothing — and stay inside the tenant's corpus."""
    from sortify_spark.facade import SearchConfig, SortifyEngine
    from sortify_spark.search.knn import brute_force_topk

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=120,
        index_root=str(tmp_path), owner_col="source",
    )
    owner = eng.documents.select("source").orderBy("source").first()[
        "source"
    ]
    owner_docs = {
        str(r["doc_id"])
        for r in eng.documents.filter(F.col("source") == owner)
        .select("doc_id").collect()
    }
    cfg = SearchConfig(ann="ivf", ivf_nprobe=1)
    queries = {
        "q1": "data pipeline quality and join performance",
        "q2": "vector index build and search serving",
    }
    many = (
        eng.semantic_search_many(
            queries, "summary_only", cfg, owner_id=owner
        )
        .orderBy("query_id", "rnk")
        .collect()
    )
    assert {r["id"] for r in many} <= owner_docs
    for qid, text in queries.items():
        single = eng.semantic_search(
            text, "summary_only", cfg, owner_id=owner
        ).orderBy(F.desc("score"), F.asc("id")).collect()
        got = sorted(
            (r["id"], round(r["score"], 6))
            for r in many
            if r["query_id"] == qid
        )
        exp = sorted((r["id"], round(r["score"], 6)) for r in single)
        assert got == exp, qid
        # the recall CONTRACT: escalation guarantees ≥ k of the
        # tenant's vectors inside the probed buckets (or exhausts the
        # tenant's occupied universe), so the result never silently
        # collapses below min(k, tenant size) — the failure mode a
        # fixed nprobe=1 probe exhibits on a selective tenant
        n_owner = eng.vectors.filter(
            (F.col("vtype") == "summary") & (F.col("owner_id") == owner)
        ).count()
        assert len(got) == min(10, n_owner), qid
        # and when the tenant is smaller than k the composed probe IS
        # the exact filtered scan
        if n_owner <= 10:
            qdf = eng._query_df(text)
            base = eng.vectors.filter(
                (F.col("vtype") == "summary")
                & (F.col("owner_id") == owner)
            )
            exact = sorted(
                (r["document_id"], round(r["score"], 6))
                for r in brute_force_topk(
                    base, qdf, id_col="document_id", k=10
                ).collect()
            )
            assert got == exact, qid


@pytest.mark.slow
def test_delete_vectors_batched_2500_ids(spark, tmp_path):
    """delete_vectors_batched (VERDICT r11 #5 / r12 advice): a 2,500-id
    deletion set — above the 1,000-id per-plan cap delete_vectors
    loudly refuses — loops bounded batches through BOTH persisted
    artifacts.  Asserts the direct call still fails loudly, the helper
    deletes every present doc (unfindable via keyword AND ivf AND the
    served frames), probe file counts stay flat after EVERY batch
    (keyed deletes rewrite partitions in place), and the adoption
    dirty-flags end reconciled (artifacts stayed built + adopted, no
    rebuild pending)."""
    import glob

    from sortify_spark.facade import SearchConfig, SortifyEngine
    from sortify_spark.sources.versioned import snapshot_files

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=120,
        index_root=str(tmp_path),
    )
    # build both persisted artifacts (lexical via keyword serving, the
    # summary IVF via an ann='ivf' search)
    eng.semantic_search("data pipeline quality", "keyword")
    eng.semantic_search(
        "data pipeline quality", "summary_only",
        SearchConfig(ann="ivf", ivf_nprobe=4),
    )
    assert eng._lex_built and "summary" in eng._ivf_built

    doomed = [
        str(r["doc_id"])
        for r in eng.documents.select("doc_id").orderBy("doc_id")
        .limit(60).collect()
    ]
    # pad with absent ids to 2,500: three full batches at the cap, the
    # no-op anti-joins exercising the same artifact paths
    ids = doomed + [str(77_000_000 + i) for i in range(2500 - 60)]
    with pytest.raises(ValueError, match="delete_vectors_batched"):
        eng.delete_vectors(ids)

    def probe_files():
        counts = {
            "ivf": len(snapshot_files(eng.ivf_index_path("summary") + "/assign")),
        }
        lex_root = eng.lexical_index_path()
        for sub in sorted(glob.glob(lex_root + "/*/")):
            if os.path.exists(os.path.join(sub, "_MANIFEST")):
                counts[os.path.basename(sub.rstrip("/"))] = len(
                    snapshot_files(sub.rstrip("/"))
                )
        return counts

    before = probe_files()
    per_batch: list[dict] = []
    orig = eng.delete_vectors

    def spying_delete(batch):
        out = orig(batch)
        per_batch.append(probe_files())
        return out

    eng.delete_vectors = spying_delete
    try:
        eng.delete_vectors_batched(ids)
    finally:
        eng.delete_vectors = orig
    assert len(per_batch) == 3  # ceil(2500/1000)
    for i, snap in enumerate(per_batch):
        for table, n in snap.items():
            assert n <= before[table], (i, table, n, before[table])

    # unfindable everywhere, survivors intact
    assert eng.documents.filter(
        F.col("doc_id").isin([int(d) for d in doomed])
    ).count() == 0
    assert eng.vectors.filter(
        F.col("document_id").isin(doomed)
    ).count() == 0
    assert eng.documents.count() == 120 - 60
    for st, cfg in (
        ("keyword", None),
        ("summary_only", SearchConfig(ann="ivf", ivf_nprobe=4)),
    ):
        hits = {
            r["id"]
            for r in eng.semantic_search(
                "data pipeline quality", st, cfg
            ).collect()
        }
        assert not (hits & set(doomed)), st
    # adoption reconciled: both artifacts still BUILT (served in place,
    # no rebuild pending) and nothing marked dirty for adoption
    assert eng._lex_built and not eng._lex_dirty
    assert "summary" in eng._ivf_built
    assert "summary" not in eng._ivf_dirty
    eng.release()


@pytest.mark.slow
def test_ivf_occupancy_cache_once_per_snapshot(spark, tmp_path, monkeypatch):
    """The per-tenant occupancy set behind the composed owner-scoped
    IVF default is computed ONCE per (tenant, snapshot) and cached
    (r12): repeated single and batched searches reuse it (no
    per-query scan), every mutation commit (add/delete bumps the
    assign version) invalidates it, and the recomputed set keeps the
    recall contract — a doc added into a bucket the tenant never
    occupied is findable immediately (a stale set would silently miss
    it)."""
    from sortify_spark.facade import SearchConfig, SortifyEngine
    from sortify_spark.search import index as ix
    from sortify_spark.search import serving

    calls = {"n": 0}
    orig = ix.ivf_tenant_occupancy

    def counting(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(ix, "ivf_tenant_occupancy", counting)
    # the occupancy cache belongs to the Spark probe path; the
    # driver-served path reads occupancy from its snapshot
    monkeypatch.setattr(serving, "SNAPSHOT_MAX_BYTES", 0)
    eng = SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=80,
        index_root=str(tmp_path), owner_col="source",
    )
    owner = eng.documents.select("source").orderBy("source").first()[
        "source"
    ]
    cfg = SearchConfig(ann="ivf", ivf_nprobe=1)
    q = "data pipeline quality and join performance"
    eng.semantic_search(q, "summary_only", cfg, owner_id=owner).collect()
    assert calls["n"] == 1
    eng.semantic_search(q, "summary_only", cfg, owner_id=owner).collect()
    eng.semantic_search_many(
        {"a": q, "b": "vector index build"}, "summary_only", cfg,
        owner_id=owner,
    ).collect()
    assert calls["n"] == 1  # cache hit across single AND batched
    # mutation bumps the snapshot: the next probe recomputes and the
    # new doc (distinctive text => its own shingle mass) is findable
    new_text = "zq quorble fenwick zq quorble fenwick zq quorble"
    eng.add_documents(
        spark.createDataFrame(
            [(950_001, new_text, "en", owner, len(new_text))],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )
    )
    hits = {
        r["id"]
        for r in eng.semantic_search(
            new_text, "summary_only", cfg, owner_id=owner
        ).collect()
    }
    assert "950001" in hits
    assert calls["n"] == 2
    # delete: version bump again; unfindable, exactly one more scan
    eng.delete_vectors(["950001"])
    hits = {
        r["id"]
        for r in eng.semantic_search(
            new_text, "summary_only", cfg, owner_id=owner
        ).collect()
    }
    assert "950001" not in hits
    assert calls["n"] == 3
    eng.release()


def test_ivf_occupancy_cache_lru_under_churn(spark, tmp_path, monkeypatch):
    """Occupancy-cache lifecycle under mutation churn (VERDICT r12 #5
    + ADVICE r12 LRU): interleave lookups across far more (tenant,
    version) keys than the cache holds and assert (a) results stay
    exact for EVERY key — the version key makes staleness impossible
    by construction; this pins that construction — and (b) eviction is
    LRU: a hot tenant's entry refreshed by hits outlives colder
    entries inserted after it (pure FIFO would evict the hot entry
    first and re-pay its occupancy scan per query).  Driver-only: the
    occupancy function is stubbed with a version-deterministic fake
    and versions are passed explicitly, so no artifact builds run."""
    from sortify_spark.facade import SortifyEngine
    from sortify_spark.search import index as ix
    from sortify_spark.search import serving

    calls: list[tuple] = []

    def fake_occupancy(_spark, _path, _pred, version=None):
        calls.append(version)
        # version-deterministic: the correct set for a snapshot is a
        # pure function of its version, so any stale serve would show
        # up as a wrong tuple below
        return [int(version) % 7, 40 + int(version) % 3]

    monkeypatch.setattr(ix, "ivf_tenant_occupancy", fake_occupancy)
    monkeypatch.setattr(SortifyEngine, "_OCC_CACHE_MAX", 4)
    # the occupancy cache belongs to the Spark probe path
    monkeypatch.setattr(serving, "SNAPSHOT_MAX_BYTES", 0)
    eng = SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=10,
        index_root=str(tmp_path), owner_col="source",
    )

    def occ(owner, ver):
        got_ver, got = eng._ivf_occupied("p", "summary", owner, ver)
        assert got_ver == ver
        assert got == (ver % 7, 40 + ver % 3), (owner, ver)
        return got

    # LRU, not FIFO: fill to capacity with hot first, refresh hot by
    # hitting it, then overflow — the insertion-oldest entry is hot,
    # but the hit moved it behind the cold ones.
    occ("hot", 1)
    occ("c1", 1)
    occ("c2", 1)
    occ("c3", 1)
    assert len(calls) == 4
    occ("hot", 1)              # hit — refreshes recency, no new call
    assert len(calls) == 4
    occ("c4", 1)               # overflow: evicts c1 (oldest unrefreshed)
    assert len(calls) == 5
    occ("hot", 1)              # still cached
    assert len(calls) == 5
    occ("c1", 1)               # was evicted — one recompute
    assert len(calls) == 6

    # churn: >>cache-max distinct (tenant, version) keys from
    # interleaved "commits" (version bumps) across 3 tenants; the
    # cache stays bounded and every lookup — hit or recompute —
    # returns the version-exact set (asserted inside occ()).
    for ver in range(2, 300):
        for tenant in ("t0", "t1", "t2"):
            occ(tenant, ver)
    assert len(eng._occ_cache) <= 4
    # the 3 newest keys of the last version are cache-resident: one
    # more probe each must not recompute
    n = len(calls)
    for tenant in ("t0", "t1", "t2"):
        occ(tenant, 299)
    assert len(calls) == n
    eng.release()


def test_delete_vectors_batched_partial_failure_reports_progress(
    spark, tmp_path,
):
    """delete_vectors_batched's partial-failure contract (ADVICE r12):
    the list applies per-batch atomically, not list-atomically — on a
    mid-list failure the raised error names the failing id range and
    the committed-batch count so a caller can resume, earlier batches
    stay applied, and later ids stay live."""
    from sortify_spark.facade import SortifyEngine

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=30,
        index_root=str(tmp_path),
    )
    doomed = [
        str(r["doc_id"])
        for r in eng.documents.select("doc_id").orderBy("doc_id")
        .limit(9).collect()
    ]
    orig = eng.delete_vectors
    calls = {"n": 0}

    def flaky(batch):
        calls["n"] += 1
        if calls["n"] == 2:
            raise ValueError("boom")
        return orig(batch)

    eng.delete_vectors = flaky
    try:
        with pytest.raises(RuntimeError) as ei:
            eng.delete_vectors_batched(doomed, batch_size=3)
    finally:
        eng.delete_vectors = orig
    msg = str(ei.value)
    # resumable: the error names the unapplied range, the progress,
    # and — since batching order is sorted-dedup, not input order —
    # says so and anchors the failing batch's first id
    assert "ids[3:6]" in msg and "1 committed" in msg
    assert "SORTED" in msg and "sorted(set(ids))[3:]" in msg
    assert repr(sorted(doomed)[3]) in msg
    # first batch applied (sorted order: doomed[:3] gone) …
    assert eng.documents.filter(
        F.col("doc_id").isin([int(d) for d in sorted(doomed)[:3]])
    ).count() == 0
    # … later batches untouched
    assert eng.documents.filter(
        F.col("doc_id").isin([int(d) for d in sorted(doomed)[3:]])
    ).count() == 6
    # idempotent resume with the remaining ids completes the delete
    eng.delete_vectors_batched(sorted(doomed)[3:], batch_size=3)
    assert eng.documents.filter(
        F.col("doc_id").isin([int(d) for d in doomed])
    ).count() == 0
    eng.release()


def test_facade_builds_pass_derived_layout_floor(spark, tmp_path):
    """The facade's persisted-artifact builds pass the derived
    crossover floor (VERDICT r12 #2): both owner-scoped artifacts
    record ``layout_floor`` ≈ one parquet row group's rows for their
    OWN row width, and at test scale (buckets far below a row group)
    every bucket writes ONE file — the measured fast side of the
    file-count crossover — while owner-scoped probe results are
    unchanged layout-only semantics (already asserted by the
    composed-default battery; re-checked here against the exact
    scan)."""
    import os as _os
    from collections import Counter

    from sortify_spark.facade import SearchConfig, SortifyEngine
    from sortify_spark.search.knn import brute_force_topk
    from sortify_spark.sources.versioned import (
        read_manifest,
        snapshot_files,
    )

    eng = SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=80,
        index_root=str(tmp_path), owner_col="source",
    )
    owner = eng.documents.select("source").orderBy("source").first()[
        "source"
    ]
    cfg = SearchConfig(ann="ivf", ivf_nprobe=2)
    text = "data pipeline quality and join performance"
    got = sorted(
        (r["id"], round(r["score"], 6))
        for r in eng.semantic_search(
            text, "summary_only", cfg, owner_id=owner
        ).collect()
    )
    # the assign manifest records a row-width-derived floor: a
    # dim-16 double embedding row is a few hundred bytes, so the
    # floor must be row-group scale (≳ 10k rows), never a degenerate
    # handful
    man = read_manifest(eng.ivf_index_path("summary") + "/assign")
    assert man["layout_col"] == "owner_id"
    assert man.get("layout_floor", 0) > 10_000
    assert man["layout_roll"] >= man["layout_floor"]
    # at test scale every bucket is far below one row group → exactly
    # one file per bucket partition (the unfloored shape wrote up to
    # layout_files=4 per bucket)
    per_bucket = Counter(
        _os.path.dirname(f)
        for f in snapshot_files(eng.ivf_index_path("summary") + "/assign")
    )
    assert per_bucket and max(per_bucket.values()) == 1
    # lexical artifact: same floor contract on the postings table
    eng.semantic_search("data pipeline quality", "keyword",
                        owner_id=owner)
    pman = read_manifest(eng.lexical_index_path() + "/postings")
    assert pman["layout_col"] == "owner_id"
    assert pman.get("layout_floor", 0) > 10_000
    # layout-only: the owner-scoped IVF result equals the tenant's
    # exact scan (the composed default exhausts a small tenant)
    qdf = eng._query_df(text)
    base = eng.vectors.filter(
        (F.col("vtype") == "summary") & (F.col("owner_id") == owner)
    )
    exact = sorted(
        (r["document_id"], round(r["score"], 6))
        for r in brute_force_topk(
            base, qdf, id_col="document_id", k=10
        ).collect()
    )
    assert got == exact
    eng.release()


@pytest.mark.slow
def test_warm_ivf_occupancy_one_scan_for_all_tenants(
    spark, tmp_path, monkeypatch,
):
    """warm_ivf_occupancy (r13): ONE (owner, bucket) distinct scan
    fills the version-keyed cache for EVERY tenant — the many-tenant
    post-commit shape (T tenants after a commit would otherwise pay T
    lazy per-tenant scans).  Warmed entries must be byte-identical to
    what the lazy path computes, and every subsequent owner-scoped
    probe must hit the cache."""
    from sortify_spark.facade import SearchConfig, SortifyEngine
    from sortify_spark.search import index as ix
    from sortify_spark.search import serving
    from sortify_spark.sources.versioned import read_manifest

    calls = {"n": 0}
    orig = ix.ivf_tenant_occupancy

    def counting(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(ix, "ivf_tenant_occupancy", counting)
    # the occupancy cache belongs to the Spark probe path; the
    # driver-served path reads occupancy from its snapshot
    monkeypatch.setattr(serving, "SNAPSHOT_MAX_BYTES", 0)
    eng = SortifyEngine(
        spark, SF_DIR, dim=16, embed="expr", doc_limit=80,
        index_root=str(tmp_path), owner_col="source",
    )
    owners = sorted(
        r["source"]
        for r in eng.documents.select("source").distinct().collect()
    )
    assert len(owners) >= 2
    warmed = eng.warm_ivf_occupancy("summary")
    assert warmed == len(owners)
    path = eng.ivf_index_path("summary")
    ver = int(read_manifest(f"{path}/assign")["version"])
    # warmed sets ≡ the lazy per-tenant computation, for every tenant
    for o in owners:
        lazy = tuple(orig(spark, path, eng._owner_pred(o), version=ver))
        assert eng._occ_cache[("summary", o, ver)] == lazy
        assert lazy  # every source owns documents at this doc_limit
    # serving hits the warmed cache: zero per-tenant scans
    before = calls["n"]
    cfg = SearchConfig(ann="ivf", ivf_nprobe=2)
    for o in owners[:2]:
        got = {
            r["id"]
            for r in eng.semantic_search(
                "data pipeline quality", "summary_only", cfg,
                owner_id=o,
            ).collect()
        }
        own_docs = {
            str(r["doc_id"])
            for r in eng.documents.filter(F.col("source") == o)
            .select("doc_id").collect()
        }
        assert got and got <= own_docs
    assert calls["n"] == before  # all hits — the warm scan covered them
    eng.release()
