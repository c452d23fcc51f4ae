"""The workloads.  Each is a closed loop with one client: every call
waits for its reply before the next is sent.

A workload runs whole cycles (``ingest``) or passes (``curate``) of a
fixed composition until the measured window has lasted ``--seconds``,
so every run measures the same mix of work and only the seeded
arguments differ between seeds.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

import checks
import gen
from stats import median, percentile, tail_percentile, tree_peak_rss_mb
from trace import Tracer

INGEST_DOCS = 400
QUERY_POOL = 512
#: New documents per ``add_documents`` and deletions per cycle.
ADD_BATCH = 30
DELETE_BATCH = 10
CURATE_BASE_DOCS = 10_000
BATCH_QUERIES = 64
#: Table loads per ``curate`` run; ``setup_s`` is their median (the
#: first load is cold, the rest are alike).  An engine set-up takes a
#: third of an ``ingest`` run, so ``ingest`` sets up once.
CURATE_SETUPS = 5
TOP_K = 10
STAGE2_K = 5

#: The serving requests of one cycle: (kind, strategy, ann).  Searches
#: alternate between unscoped and owner-scoped calls.
SERVE_ROUND = (
    ("search", "summary_only", "exact"),
    ("search", "keyword", "exact"),
    ("search", "hybrid_lexical", "exact"),
    ("search", "rrf_fusion", "exact"),
    ("search", "hybrid", "exact"),
    ("search", "summary_only", "ivf"),
    ("qa", None, None),
    *(("cached", None, None),) * 10,
    ("batch", None, None),
    ("list", None, None),
    ("dashboard", None, None),
    ("detail", None, None),
    ("chunks", None, None),
)
BROWSE = ("list", "dashboard", "detail", "chunks")


@dataclass
class Run:
    """Everything one run records: op latencies by kind, failures, and
    the request spans of the measured window when traced."""

    spark: object
    seed: int
    seconds: float
    tracer: Tracer
    work: str
    cores: int
    lat: dict = field(default_factory=lambda: defaultdict(list))
    order: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    #: time spent checking outputs, taken out of the measured window
    check_s: float = 0.0
    problems: list = field(default_factory=list)
    requests: list = field(default_factory=list)
    setup_s: list = field(default_factory=list)
    details: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    #: objects the per-layer summary reads (engine, inputs)
    state: dict = field(default_factory=dict)

    def scratch(self, tracer: Tracer | None = None) -> "Run":
        """A side run (overhead probe) sharing this run's session; fold
        its counts back with :meth:`absorb`."""
        return Run(self.spark, self.seed, 0, tracer or Tracer(self.spark, False),
                   self.work, self.cores)

    def absorb(self, other: "Run") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.problems += other.problems

    @contextmanager
    def untimed(self):
        """Checks and bookkeeping: their time is not part of the window."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0

    def op(self, kind: str, call, check=None):
        """Time ``call`` as one request; run ``check`` on its output
        outside the timing.  Errors and failed checks count as failed."""
        self.attempted += 1
        try:
            with self.tracer.span(kind, request=True) as sp:
                t0 = time.perf_counter()
                out = call()
                dt = time.perf_counter() - t0
        except Exception as exc:  # a failed request is a result, not a crash
            self.failed += 1
            self.problems.append(f"{kind}: {type(exc).__name__}: {exc}"[:300])
            return None
        if sp is not None:
            self.requests.append(sp.idx)
        with self.untimed():
            errs = check(out) if check else []
        if errs:
            self.failed += 1
            self.problems.append(f"{kind}: {'; '.join(errs)}"[:300])
        self.lat[kind].append(dt)
        self.order.append((kind, dt))
        return out

    def e2e(self, wall: float, work_done: float, lats: list[float]) -> dict:
        """End-to-end metrics of the window, the latency over ``lats``.

        The latency is the mean: a run has ten samples or fewer, and
        their median jumps between request kinds from run to run, while
        the mean spreads host noise over all of them.  The median and
        the tail go to the run details."""
        lats = lats or [0.0]
        q = tail_percentile(len(lats))
        self.details.update(
            ops=len(self.order),
            latency_samples=len(lats),
            window_s=wall,
            latency_p50_s=median(lats),
            latency_tail_pct=q,
            latency_tail_s=percentile(lats, q) if q else max(lats),
        )
        return {
            "setup_s": median(self.setup_s),
            "throughput_per_s": work_done / wall,
            "latency_mean_s": sum(lats) / len(lats),
            "peak_rss_mb": tree_peak_rss_mb(),
        }


def _window(run: Run, step) -> tuple[float, list[float]]:
    """Run ``step`` until the window has lasted ``run.seconds``; returns
    the window wall and each step's wall, both net of untimed checks."""

    def since(t, c):
        return time.perf_counter() - t - (run.check_s - c)

    t0, c0 = time.perf_counter(), run.check_s
    walls = []
    while True:
        t1, c1 = time.perf_counter(), run.check_s
        step()
        walls.append(since(t1, c1))
        if since(t0, c0) >= run.seconds:
            return since(t0, c0), walls


def _overhead(run: Run, unit) -> None:
    """Tracing overhead: the wall of ``unit`` traced minus untraced.
    ``unit(r)`` performs one identical unit of work recorded into ``r``."""
    run.tracer.uninstall()
    run.tracer.enabled = False
    plain = run.scratch()
    t0 = time.perf_counter()
    unit(plain)
    untraced = time.perf_counter() - t0
    run.tracer.enabled = True
    run.tracer.install()
    traced = run.scratch(run.tracer)
    t0 = time.perf_counter()
    unit(traced)
    run.layer["trace.overhead_s"] = time.perf_counter() - t0 - untraced
    run.absorb(plain)
    run.absorb(traced)


def _rows(rows) -> list[dict]:
    """Result rows as dicts, the fused ``rrf_score`` read as ``score``."""
    out = []
    for r in rows:
        d = r.asDict()
        if "rrf_score" in d:
            d["score"] = d["rrf_score"]
        out.append(d)
    return out


def _search(run: Run, eng, q, strategy, cfg, owner):
    """A search as the user sees it: plan, then collect."""
    with run.tracer.span("facade.plan"):
        df = eng.semantic_search(q, strategy, cfg, owner)
    return _rows(run.tracer.collect(df))


# -- the served corpus ---------------------------------------------------------


class Live:
    """The client's model of the served corpus: live documents, their
    text and tenant, and per-tenant vector counts."""

    def __init__(self, corpus: gen.Corpus) -> None:
        self.ids: list[int] = []
        self.text: dict[int, str] = {}
        self.tenant: dict[int, str] = {}
        self.members: dict[str, set[str]] = defaultdict(set)
        #: tenant (None = all) -> [summary vectors, chunk vectors]
        self.vectors: dict = defaultdict(lambda: [0, 0])
        self.add(corpus)

    def _count(self, d: int, sign: int) -> None:
        from sortify_spark.functions.text import chunk_text

        n_chunks = len(chunk_text(self.text[d], 128, 32))
        for key in (self.tenant[d], None):
            self.vectors[key][0] += sign
            self.vectors[key][1] += sign * n_chunks

    def add(self, corpus: gen.Corpus) -> None:
        for d, text, t in zip(corpus.doc_id, corpus.text, corpus.source):
            self.ids.append(d)
            self.text[d], self.tenant[d] = text, t
            self.members[t].add(str(d))
            self._count(d, 1)

    def remove(self, ids: list[int]) -> None:
        gone = set(ids)
        self.ids = [d for d in self.ids if d not in gone]
        for d in ids:
            self._count(d, -1)
            self.members[self.tenant[d]].discard(str(d))


class ServeClient:
    """Seeded serving requests and their checks against one engine."""

    def __init__(self, run: Run, eng, inp: gen.ServeInputs, live: Live, rng) -> None:
        from sortify_spark.facade import SearchConfig

        self.run, self.eng, self.inp, self.live, self.rng = run, eng, inp, live, rng
        self.pool_p = gen.zipf_probs(len(inp.queries), s=1.2, q=1.0)
        self.cfg = {"exact": SearchConfig(), "ivf": SearchConfig(ann="ivf")}
        #: rows of each cached query's last miss (a hit must equal it)
        self.cached_rows: dict[str, list] = {}
        self.scoped = False

    def pool_query(self) -> str:
        return self.inp.queries[int(self.rng.choice(len(self.pool_p), p=self.pool_p))]

    def doc(self) -> int:
        return self.live.ids[int(self.rng.integers(0, len(self.live.ids)))]

    def search(self, strategy: str, ann: str) -> None:
        live = self.live
        self.scoped = not self.scoped
        d = self.doc()
        owner = live.tenant[d] if self.scoped else None
        allowed = live.members[owner] if owner else None
        label = f"search.{strategy}" + ("_ivf" if ann == "ivf" else "")
        if strategy == "keyword":
            q, known = gen.rare_token(self.inp.model.seed, d), d
        elif strategy == "summary_only":
            q, known = live.text[d][:512], d
        else:
            q, known = self.pool_query(), None
        if ann == "exact" and strategy != "keyword":
            # vectors an exact dense search scores: the summaries in scope,
            # plus the chunks for rrf_fusion (hybrid's rescoring of its
            # candidates' chunks is not counted)
            n_sum, n_chunk = live.vectors[owner]
            self.run.lat["knn.scored"].append(
                n_sum + (n_chunk if strategy == "rrf_fusion" else 0)
            )
        k = STAGE2_K if strategy == "hybrid" else TOP_K
        ordered = strategy not in ("summary_only", "keyword")
        tier = "tier" if strategy == "hybrid" else None

        def check(rows):
            errs = checks.ranked(rows, k, ordered, tier, allowed)
            if known is not None:
                errs += checks.top_answer(rows, known)
            return errs

        self.run.op(
            label,
            lambda: _search(self.run, self.eng, q, strategy, self.cfg[ann], owner),
            check,
        )

    def qa(self) -> None:
        from sortify_spark import qa

        question = "find documents about " + self.pool_query()
        variants = []

        def call():
            res = qa.answer_question(self.eng, question, top_k=TOP_K)
            variants.append(len(res.variants))
            return _rows(self.run.tracer.collect(res.results))

        if self.run.op("qa", call, lambda rows: checks.ranked(rows, TOP_K)) is not None:
            self.run.lat["qa.variants"] += variants

    def cached(self) -> None:
        q = self.pool_query()
        stats = self.eng.result_cache.stats()
        misses0 = stats.miss_count

        def check(rows):
            errs = checks.ranked(_rows(rows), TOP_K, ordered=False)
            if self.eng.result_cache.stats().miss_count > misses0:
                self.cached_rows[q] = rows
                return errs
            return errs + checks.same_rows(rows, self.cached_rows.get(q, []))

        out = self.run.op(
            "cached",
            lambda: self.run.tracer.collect(self.eng.cached_search(q, "summary_only")),
            check,
        )
        if out is not None and self.eng.result_cache.stats().miss_count == misses0:
            self.run.lat["cache.hit"].append(self.run.lat["cached"][-1])

    def batch(self) -> None:
        qs = {f"q{i}": self.pool_query() for i in range(BATCH_QUERIES)}

        def call():
            return self.run.tracer.collect(
                self.eng.semantic_search_many(qs, "hybrid_lexical")
            )

        def check(rows):
            per = defaultdict(list)
            for r in rows:
                per[r["query_id"]].append(r.asDict())
            errs = [] if set(per) == set(qs) else ["batch lost queries"]
            for rs in per.values():
                errs += checks.ranked(sorted(rs, key=lambda r: r["rnk"]), TOP_K)
            return errs[:3]

        self.run.op("batch", call, check)

    def browse(self, kind: str) -> None:
        from sortify_spark.operators.filters import DocumentFilter
        from sortify_spark.plans.query_spec import QuerySpec

        eng, tr, live = self.eng, self.run.tracer, self.live
        d = self.doc()
        t = live.tenant[d]
        members = live.members[t]
        if kind == "list":
            def call():
                page, total = eng.list_documents(
                    DocumentFilter(owner_id=t, owner_col="source"),
                    sort_by="n_chars", sort_order="desc", limit=20,
                )
                return tr.collect(page), tr.collect(total)

            def check(out):
                page, total = out
                ns = [r["n_chars"] for r in page]
                errs = [] if total[0]["total"] == len(members) else ["wrong total"]
                if ns != sorted(ns, reverse=True) or len(page) != min(20, len(members)):
                    errs.append("bad page")
                if not {str(r["doc_id"]) for r in page} <= members:
                    errs.append("page outside tenant")
                return errs
        elif kind == "dashboard":
            def call():
                return tr.collect(eng.dashboard())

            def check(rows):
                return [] if rows[0]["total_events"] == self.inp.n_events else ["bad counts"]
        elif kind == "detail":
            lo = int(self.rng.integers(300, 1500))
            spec = QuerySpec(
                filters=[("source", "eq", t), ("n_chars", "gte", lo)],
                projection=["doc_id", "n_chars"], limit=20,
            )
            want = sum(1 for i in members if len(live.text[int(i)]) >= lo)

            def call():
                return tr.collect(eng.detail_query(spec))

            def check(rows):
                ok = len(rows) == min(20, want) and all(
                    r["n_chars"] >= lo and str(r["doc_id"]) in members for r in rows
                )
                return [] if ok else ["detail query rows wrong"]
        else:
            def call():
                return tr.collect(eng.document_chunks(str(d), owner_id=t))

            def check(rows):
                idx = [r["chunk_index"] for r in rows]
                ok = rows and idx == list(range(len(rows))) and all(
                    r["total_chunks"] == len(rows) for r in rows
                )
                return [] if ok else ["chunks wrong"]
        self.run.op(kind, call, check)

    def round(self) -> None:
        """Every request kind of ``SERVE_ROUND`` once, in seeded order."""
        for i in self.rng.permutation(len(SERVE_ROUND)):
            kind, strategy, ann = SERVE_ROUND[i]
            if kind == "search":
                self.search(strategy, ann)
            elif kind in BROWSE:
                self.browse(kind)
            else:
                getattr(self, kind)()


# -- ingest ----------------------------------------------------------------------


def _tables(root: str) -> list[str]:
    """Versioned tables (directories holding a manifest) under ``root``."""
    return [d for d, _, files in os.walk(root) if "_MANIFEST" in files]


def _versions(root: str) -> int:
    from sortify_spark.sources.versioned import read_manifest

    return sum(int(read_manifest(t)["version"]) for t in _tables(root))


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _build_engine(run: Run, sf_dir: str):
    """One setup: engine over ``sf_dir`` with its vectors materialized
    and the persisted lexical and summary-IVF artifacts built."""
    from sortify_spark.facade import SortifyEngine

    with run.tracer.span("setup", request=True):
        t0 = time.perf_counter()
        eng = SortifyEngine(
            run.spark, sf_dir, owner_col="source",
            index_root=os.path.join(run.work, "index"),
        )
        with run.tracer.span("pipelines.vectorize_count"):
            run.layer["pipelines.vectors"] = eng.vectors.count()
        eng.rebuild_lexical_index()
        eng.rebuild_ivf_index("summary")
        run.setup_s.append(time.perf_counter() - t0)
    return eng


class IngestClient:
    """One cycle: ``add_documents`` of a seeded batch, read-after-write
    probes, the serving round, ``delete_vectors`` of the oldest docs,
    read-after-delete probes, ``maintain_indexes``."""

    def __init__(self, run: Run, eng, inp: gen.ServeInputs) -> None:
        from sortify_spark.facade import SearchConfig

        self.run, self.eng, self.inp = run, eng, inp
        self.model = inp.model
        self.next_id = inp.next_id
        self.live = Live(inp.corpus)
        self.serve = ServeClient(run, eng, inp, self.live, np.random.default_rng(run.seed))
        self.exact, self.ivf = SearchConfig(), SearchConfig(ann="ivf")
        self.added = 0

    def _probe(self, kind, q, cfg, strategy, check):
        self.run.op(
            kind, lambda: _search(self.run, self.eng, q, strategy, cfg, None), check
        )

    def _mutate(self, kind: str, call, text_bytes: int = 0):
        """A write; when traced, also what it wrote under the index root:
        manifest versions committed and bytes of new or rewritten files."""
        if not self.run.tracer.enabled:
            return self.run.op(kind, call)
        root = os.path.dirname(self.eng.lexical_index_path())
        with self.run.untimed():
            files0, ver0 = _files(root), _versions(root)
        out = self.run.op(kind, call)
        with self.run.untimed():
            written = sum(
                size for p, (size, mt) in _files(root).items()
                if files0.get(p) != (size, mt)
            )
            lat = self.run.lat
            lat["versioned.commits"].append(_versions(root) - ver0)
            lat["versioned.bytes"].append(written)
            if text_bytes:
                lat["versioned.amp"].append(written / text_bytes)
        return out

    def cycle(self) -> None:
        run, eng, seed = self.run, self.eng, self.model.seed
        ids = list(range(self.next_id, self.next_id + ADD_BATCH))
        self.next_id += ADD_BATCH
        new = self.model.docs(ids)
        df = run.spark.createDataFrame(new.table().to_pandas())
        text_bytes = sum(len(t.encode()) for t in new.text)
        if self._mutate("add", lambda: eng.add_documents(df), text_bytes) is None:
            return
        self.added += ADD_BATCH
        self.live.add(new)
        d = ids[int(self.model.rng.integers(0, ADD_BATCH))]
        self._probe("search.keyword", gen.rare_token(seed, d), self.exact,
                    "keyword", lambda rows: checks.top_answer(rows, d))
        self._probe("search.summary_only_ivf", self.live.text[d][:512], self.ivf,
                    "summary_only", lambda rows: checks.top_answer(rows, d))
        self.serve.round()
        gone = self.live.ids[:DELETE_BATCH]
        if self._mutate("delete", lambda: eng.delete_vectors([str(g) for g in gone])) is None:
            return
        self.live.remove(gone)
        g = gone[int(self.model.rng.integers(0, DELETE_BATCH))]
        self._probe("search.keyword", gen.rare_token(seed, g), self.exact,
                    "keyword", lambda rows: checks.absent(rows, [g]))
        self._probe("search.summary_only_ivf", self.live.text[g][:512], self.ivf,
                    "summary_only", lambda rows: checks.absent(rows, [g]))
        self._mutate("maintain", eng.maintain_indexes)


def ingest(run: Run) -> dict:
    inp = gen.make_serve_inputs(
        run.seed, os.path.join(run.work, "ingest"), INGEST_DOCS, QUERY_POOL
    )
    eng = _build_engine(run, inp.sf_dir)
    client = IngestClient(run, eng, inp)
    wall, _ = _window(run, client.cycle)
    lat = run.lat
    searches = [dt for k, dt in run.order if k.startswith("search.")]
    batches = lat["batch"]
    run.details.update(
        add_p50_s=median(lat["add"] or [0.0]),
        delete_p50_s=median(lat["delete"] or [0.0]),
        search_p50_s=median(searches or [0.0]),
        browse_p50_s=median([dt for k, dt in run.order if k in BROWSE] or [0.0]),
        batch_queries_per_s=BATCH_QUERIES * len(batches) / sum(batches) if batches else 0.0,
        docs_indexed_per_s=client.added / wall,
    )
    st = eng.result_cache.stats()
    run.layer.update(
        {"cache.hit_rate": st.hit_rate, "cache.evictions": st.eviction_count}
    )
    run.state.update(engine=eng, inputs=inp)
    if run.tracer.enabled:
        def one_search_each(r):
            c = ServeClient(r, eng, inp, client.live, np.random.default_rng(run.seed + 1))
            for kind, strategy, ann in SERVE_ROUND:
                if kind == "search":
                    c.search(strategy, ann)

        _overhead(run, one_search_each)
    return run.e2e(wall, len(run.order), searches)


# -- curate ----------------------------------------------------------------------

CURATE_STAGES = ("exact", "lsh", "cc", "decontaminate", "quality", "sample_budget")


def _curate_pass(run: Run, train, bench, truth: gen.CurateInputs) -> None:
    """One curation pass, in the stage order of ``scale_stress.py``.
    Each stage is one timed operation that materializes its result; the
    pass is then checked against the generator's ground truth."""
    from pyspark.sql import functions as F

    from sortify_spark import dedup
    from sortify_spark import textstats as ts
    from sortify_spark.operators.sampling import stratified_hash_sample

    keep: list = []
    frames: dict = {}

    def persist(name, df):
        frames[name] = df.persist()
        keep.append(frames[name])
        return frames[name].count()

    def exact():
        return persist("ke", dedup.drop_exact_duplicates(train))

    def lsh():
        return persist(
            "pairs", dedup.minhash_lsh_pairs(frames["ke"], threshold=0.5, use_shingles=3)
        )

    def cc():
        return persist("comp", dedup.connected_components(frames["pairs"]))

    def decontaminate():
        comp = frames["comp"]
        drops = comp.filter(F.col("node") != F.col("comp")).select(
            F.col("node").alias("doc_id")
        )
        kept = frames["ke"].join(F.broadcast(drops), "doc_id", "left_anti")
        persist("cont", dedup.contaminated_by_shingles(kept, bench, shingle_k=5))
        return persist(
            "decon",
            kept.join(frames["cont"].withColumnRenamed("id", "doc_id"), "doc_id", "left_anti"),
        )

    def quality():
        return persist(
            "filt",
            frames["decon"].filter(
                (ts.quality_score(F.col("text"), F.col("n_chars")) >= 0.5)
                & F.col("lang").isin(*gen.LANGS)
            ),
        )

    def sample_budget():
        sampled = stratified_hash_sample(
            frames["filt"], "source", gen.CURATE_RATES,
            gen.CURATE_DEFAULT_RATE, "doc_id",
        )
        return sampled.groupBy("source").agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(ts.token_count(F.col("text"))).cast("bigint").alias("tokens"),
        ).collect()

    steps = (exact, lsh, cc, decontaminate, quality, sample_budget)
    try:
        outs = {}
        for name, step in zip(CURATE_STAGES, steps):
            outs[name] = run.op(f"curate.{name}", step)
            if outs[name] is None:
                return
        run.lat["lsh.pairs"].append(outs["lsh"])
        with run.untimed():
            _check_curate_pass(run, train, frames, outs, truth)
    finally:
        for df in keep:
            df.unpersist()


def _check_curate_pass(run: Run, train, frames, outs, truth) -> None:
    """The pass's outputs against the generator's ground truth; on
    traced runs also the LSH candidate pairs before verification (not a
    product output, so counted here, outside every timed stage)."""
    from pyspark.sql import functions as F

    from sortify_spark import dedup

    def ids(df, col):
        return {int(r[0]) for r in df.select(col).collect()}

    removed = ids(train, "doc_id") - ids(frames["ke"], "doc_id")
    comp = frames["comp"]
    dropped = ids(comp.filter(F.col("node") != F.col("comp")), "node")
    errs = checks.curate_exact(removed, truth)
    near, recall = checks.curate_near(dropped, truth)
    errs += near
    errs += checks.curate_contaminated(ids(frames["cont"], "id"), truth)
    errs += checks.curate_final(outs["sample_budget"], dropped, truth)
    run.details["near_dup_recall"] = recall
    if errs:
        run.failed += 1
        run.problems.append("curate: " + "; ".join(errs)[:300])
    if run.tracer.enabled:
        _, banded = dedup.signature_bands(
            frames["ke"], "doc_id", "text", dedup.DEFAULT_NUM_HASHES,
            dedup.DEFAULT_BAND_SIZE, 3,
        )
        cand = dedup.banded_self_join_pairs(banded).select("id_a", "id_b")
        run.lat["lsh.candidates"].append(cand.dropDuplicates().count())


def curate(run: Run) -> dict:
    from sortify_spark.tables import load_table

    truth = gen.make_curate_inputs(
        run.seed, os.path.join(run.work, "curate"), CURATE_BASE_DOCS
    )
    train = bench = None
    for _ in range(CURATE_SETUPS):
        if train is not None:
            train.unpersist()
            bench.unpersist()
        with run.tracer.span("setup", request=True):
            t0 = time.perf_counter()
            train = load_table(run.spark, truth.train_path, "documents").persist()
            bench = load_table(run.spark, truth.bench_path, "documents").persist()
            train.count()
            bench.count()
            run.setup_s.append(time.perf_counter() - t0)
    # warm-up: the first pass compiles every stage's plans (a pass over a
    # smaller corpus leaves the LSH stage cold); its checks count
    warm = run.scratch()
    t0 = time.perf_counter()
    _curate_pass(warm, train, bench, truth)
    run.details["warmup_s"] = time.perf_counter() - t0 - warm.check_s
    run.absorb(warm)
    wall, passes = _window(run, lambda: _curate_pass(run, train, bench, truth))
    run.details.update(passes=len(passes), curate_docs_per_s=truth.n_train * len(passes) / wall)
    if run.tracer.enabled:
        _overhead(run, lambda r: _curate_pass(r, train, bench, truth))
    # the latency a curation user waits for is that of a whole pass
    return run.e2e(wall, truth.n_train * len(passes), passes)
