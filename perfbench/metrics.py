"""Metric catalogue and the per-layer summary of a traced run.

``END_TO_END`` and ``PER_LAYER`` are the lists ``BENCHMARK.json``
declares (a test keeps the two in step).  Every run reports every
metric of its mode; a layer a workload never calls reads 0.
"""

from __future__ import annotations

import os
from collections import Counter

from stats import median, percentile, tail_percentile

END_TO_END = (
    ("setup_s", "s", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("latency_mean_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
)

STRATEGIES = (
    "hybrid", "rrf_fusion", "summary_only", "keyword", "hybrid_lexical",
    "summary_only_ivf",
)

PER_LAYER = (
    ("facade.plan_s", "s", "lower"),
    ("facade.action_s", "s", "lower"),
    ("facade.jobs_per_search", "count", "lower"),
    *((f"facade.search_{s}_p50_s", "s", "lower") for s in STRATEGIES),
    ("qa.answer_p50_s", "s", "lower"),
    ("qa.variants_per_question", "count", "lower"),
    ("cache.hit_rate", "frac", "higher"),
    ("cache.evictions", "count", "lower"),
    ("cache.hit_s", "s", "lower"),
    ("operators.page_with_total_s", "s", "lower"),
    ("operators.dashboard_counts_s", "s", "lower"),
    ("plans.compile_spec_s", "s", "lower"),
    ("pipelines.ingest_vectorize_s", "s", "lower"),
    ("pipelines.vectors_per_doc", "count", "lower"),
    ("functions.query_embed_s", "s", "lower"),
    ("search.knn.vectors_scored_per_query", "count", "lower"),
    ("search.knn.score_s", "s", "lower"),
    ("search.index.build_s", "s", "lower"),
    ("search.index.probe_buckets_read", "count", "lower"),
    ("search.index.upsert_s", "s", "lower"),
    ("search.index.delete_s", "s", "lower"),
    ("search.lexical.build_s", "s", "lower"),
    ("search.lexical.probe_s", "s", "lower"),
    ("search.lexical.postings_read_per_query", "count", "lower"),
    ("search.lexical.upsert_s", "s", "lower"),
    ("search.lexical.delete_s", "s", "lower"),
    ("search.fusion.rrf_s", "s", "lower"),
    ("search.fusion.two_stage_s", "s", "lower"),
    ("sources.versioned.commits", "count", "lower"),
    ("sources.versioned.bytes_written", "bytes", "lower"),
    ("sources.versioned.write_amplification", "ratio", "lower"),
    ("sources.versioned.files_per_snapshot", "count", "lower"),
    ("sources.versioned.maintain_s", "s", "lower"),
    ("dedup.exact_s", "s", "lower"),
    ("dedup.lsh_s", "s", "lower"),
    ("dedup.lsh_candidate_pairs", "count", "lower"),
    ("dedup.lsh_verified_ratio", "frac", "higher"),
    ("dedup.cc_s", "s", "lower"),
    ("dedup.decontaminate_s", "s", "lower"),
    ("textstats.quality_s", "s", "lower"),
    ("session.jobs", "count", "lower"),
    ("session.stages", "count", "lower"),
    ("session.tasks", "count", "lower"),
    ("session.executor_run_s", "s", "lower"),
    ("session.executor_cpu_s", "s", "lower"),
    ("session.gc_s", "s", "lower"),
    ("session.shuffle_read_bytes", "bytes", "lower"),
    ("session.shuffle_write_bytes", "bytes", "lower"),
    ("session.spill_bytes", "bytes", "lower"),
    ("session.core_busy_frac", "frac", "higher"),
    ("session.driver_wait_s", "s", "lower"),
    ("requests_per_s", "1/s", "higher"),
    ("search_p50_s", "s", "lower"),
    ("search_tail_s", "s", "lower"),
    ("browse_p50_s", "s", "lower"),
    ("batch_queries_per_s", "1/s", "higher"),
    ("add_p50_s", "s", "lower"),
    ("delete_p50_s", "s", "lower"),
    ("docs_indexed_per_s", "1/s", "higher"),
    ("curate_docs_per_s", "1/s", "higher"),
    ("failed_frac", "frac", "lower"),
    ("trace.overhead_s", "s", "lower"),
)

def _p50(xs) -> float:
    return median(xs) if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _postings(terms, df: Counter) -> int:
    if isinstance(terms, dict):
        return sum(_postings(t, df) for t in terms.values())
    return sum(df[t] for t in terms)


def layer_metrics(run, session: dict, search_jobs: float) -> dict[str, float]:
    """Per-layer metrics of a traced run (``run`` from ``workloads``),
    given the Spark counters of its window (``session``) and the mean
    Spark jobs per search request."""
    tr, lat = run.tracer, run.lat
    window = [tr.spans[i] for i in run.requests]
    searches = [s for s in window if s.name.startswith("search.")]
    search_ids = {s.idx for s in searches}
    child = [s for s in tr.spans if s.parent in search_ids]
    out = dict.fromkeys((n for n, _, _ in PER_LAYER), 0.0)
    out.update(
        {
            "facade.plan_s": _p50([s.wall for s in child if s.name == "facade.plan"]),
            "facade.action_s": _p50([s.wall for s in child if s.name == "collect"]),
            "facade.jobs_per_search": search_jobs,
            "qa.answer_p50_s": _p50(lat["qa"]),
            "qa.variants_per_question": _mean(lat["qa.variants"]),
            "cache.hit_s": _p50(lat["cache.hit"]),
            "operators.page_with_total_s": _p50(tr.layer_time("operators.page_with_total")),
            "operators.dashboard_counts_s": _p50(tr.layer_time("operators.dashboard_counts")),
            "plans.compile_spec_s": _p50(tr.layer_time("plans.compile_spec")),
            "pipelines.ingest_vectorize_s": _p50(tr.walls("pipelines.vectorize_count")),
            "functions.query_embed_s": _p50(tr.walls("functions.query_embed")),
            "search.knn.vectors_scored_per_query": _mean(lat["knn.scored"]),
            "search.knn.score_s": _p50(lat["search.summary_only"]),
            "search.index.build_s": _p50(tr.walls("search.index.build")),
            "search.index.probe_buckets_read": _mean(
                tr.attr_values("search.index.probe", "nprobe")
            ),
            "search.index.upsert_s": _p50(tr.walls("search.index.upsert")),
            "search.index.delete_s": _p50(tr.walls("search.index.delete")),
            "search.lexical.build_s": _p50(tr.walls("search.lexical.build")),
            "search.lexical.probe_s": _p50(lat["search.keyword"]),
            "search.lexical.upsert_s": _p50(tr.walls("search.lexical.upsert")),
            "search.lexical.delete_s": _p50(tr.walls("search.lexical.delete")),
            "search.fusion.rrf_s": _p50(tr.layer_time("search.fusion.rrf")),
            "search.fusion.two_stage_s": _p50(tr.layer_time("search.fusion.two_stage")),
            "sources.versioned.commits": _mean(lat["versioned.commits"]),
            "sources.versioned.bytes_written": _mean(lat["versioned.bytes"]),
            "sources.versioned.write_amplification": _mean(lat["versioned.amp"]),
            "sources.versioned.maintain_s": _p50(lat["maintain"]),
            "dedup.exact_s": _p50(lat["curate.exact"]),
            "dedup.lsh_s": _p50(lat["curate.lsh"]),
            "dedup.lsh_candidate_pairs": _mean(lat["lsh.candidates"]),
            "dedup.cc_s": _p50(lat["curate.cc"]),
            "dedup.decontaminate_s": _p50(lat["curate.decontaminate"]),
            "textstats.quality_s": _p50(lat["curate.quality"]),
            "failed_frac": run.failed / max(1, run.attempted),
            "trace.overhead_s": run.layer.get("trace.overhead_s", 0.0),
        }
    )
    for s in STRATEGIES:
        out[f"facade.search_{s}_p50_s"] = _p50(lat[f"search.{s}"])
    for k in ("cache.hit_rate", "cache.evictions"):
        out[k] = float(run.layer.get(k, 0.0))
    if lat["lsh.candidates"]:
        out["dedup.lsh_verified_ratio"] = _mean(lat["lsh.pairs"]) / max(
            1.0, out["dedup.lsh_candidate_pairs"]
        )
    inputs = run.state.get("inputs")
    if inputs is not None:
        df = Counter(w for t in inputs.corpus.text for w in set(t.split(" ")))
        probes = [s.attrs["terms"] for s in tr.spans
                  if s.name.startswith("search.lexical.probe") and "terms" in s.attrs]
        n_queries = sum(len(t) if isinstance(t, dict) else 1 for t in probes)
        out["search.lexical.postings_read_per_query"] = sum(
            _postings(t, df) for t in probes
        ) / max(1, n_queries)
        out["pipelines.vectors_per_doc"] = run.layer["pipelines.vectors"] / len(
            inputs.corpus.doc_id
        )
    eng = run.state.get("engine")
    if eng is not None:
        from sortify_spark.sources.versioned import snapshot_files

        from workloads import _tables

        tables = _tables(os.path.dirname(eng.lexical_index_path()))
        out["sources.versioned.files_per_snapshot"] = _mean(
            [len(snapshot_files(t)) for t in tables]
        )
    out.update(session)
    out.update({k: float(v) for k, v in workload_details(run).items() if k in out})
    return out


def workload_details(run) -> dict[str, float]:
    """The workload-specific end-to-end breakdowns (printed on stderr
    on every run, reported as per-layer metrics on traced runs)."""
    order = run.order
    d = dict(run.details)
    wall = d.get("window_s") or 1.0
    searches = [dt for k, dt in order if k.startswith("search.")]
    d["requests_per_s"] = len(order) / wall
    if searches:
        q = tail_percentile(len(searches))
        d["search_tail_pct"] = q
        d["search_tail_s"] = percentile(searches, q) if q else max(searches)
    d["failed_frac"] = run.failed / max(1, run.attempted)
    return d
