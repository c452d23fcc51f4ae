"""In-memory span tracing around the engine's layer functions.

The benchmark never edits the program: :class:`Tracer` replaces layer
functions with timing wrappers for the duration of a traced run, at
every name a caller looks them up by — the defining module and each
module that bound the function with a ``from`` import (``facade`` binds
several).  Functions imported inside a function body are looked up on
their module at call time, so patching the module covers them.

Every span tags the Spark jobs it starts with its own job group, and
restores the enclosing span's group on exit, so Spark's own per-job and
per-stage counters (read from the status REST API when the run ends)
can be attributed to spans and requests without any change to the
program.

A wrapped function that returns DataFrames does no Spark work itself;
the work runs when the caller collects.  The tracer therefore remembers
which layer produced each returned frame, and :meth:`Tracer.collect`
adds the collect time to that layer's span (see ``layer_time``).
"""

from __future__ import annotations

import importlib
import json
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

_GROUP_KEY = "spark.jobGroup.id"

#: (defining module, function, span name, modules that bind it by name):
#: the layer functions whose spans a per-layer metric reads.
TARGETS = (
    ("sortify_spark.operators.pagination", "page_with_total",
     "operators.page_with_total", ("sortify_spark.facade",)),
    ("sortify_spark.operators.aggregates", "dashboard_counts",
     "operators.dashboard_counts", ("sortify_spark.facade",)),
    ("sortify_spark.plans.query_spec", "compile_spec",
     "plans.compile_spec", ("sortify_spark.facade",)),
    # only the facade's binding: the module attribute is also read by the
    # embedding UDF, whose closure ships to Python workers
    ("sortify_spark.facade", "hash_embed_text", "functions.query_embed", ()),
    ("sortify_spark.search.index", "build_ivf_index", "search.index.build", ()),
    ("sortify_spark.search.index", "upsert_ivf_index", "search.index.upsert", ()),
    ("sortify_spark.search.index", "delete_from_ivf_index",
     "search.index.delete", ()),
    ("sortify_spark.search.index", "probe_ivf_index", "search.index.probe", ()),
    ("sortify_spark.search.lexical", "build_lexical_index",
     "search.lexical.build", ()),
    ("sortify_spark.search.lexical", "upsert_lexical_index",
     "search.lexical.upsert", ()),
    ("sortify_spark.search.lexical", "delete_from_lexical_index",
     "search.lexical.delete", ()),
    ("sortify_spark.search.lexical", "probe_lexical_index",
     "search.lexical.probe", ()),
    ("sortify_spark.search.lexical", "probe_lexical_index_many",
     "search.lexical.probe_many", ()),
    ("sortify_spark.search.fusion", "rrf_fuse", "search.fusion.rrf", ()),
    ("sortify_spark.search.fusion", "rrf_fuse_many", "search.fusion.rrf", ()),
    ("sortify_spark.search.fusion", "two_stage_hybrid",
     "search.fusion.two_stage", ()),
    ("sortify_spark.search.fusion", "two_stage_hybrid_many",
     "search.fusion.two_stage", ()),
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    group: str = ""
    idx: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; ``enabled=False`` makes every method a
    cheap no-op so untraced runs share the same client code."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._request: int | None = None
        self._producers: dict[int, tuple[Span, DataFrame]] = {}
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _set_group(self, group: str | None) -> None:
        self.spark.sparkContext.setLocalProperty(_GROUP_KEY, group)

    @contextmanager
    def span(self, name: str, request: bool = False, **attrs):
        """Time a block; ``request=True`` opens a new top-level request
        that every nested span and collect belongs to."""
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if request:
            self._request = idx
        sp = Span(name, time.perf_counter(), parent=parent,
                  request=self._request, group=f"pb-{idx}", idx=idx,
                  attrs=attrs)
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(sp.group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].group if self._stack else None)
            if request:
                self._request = None
                self._producers.clear()

    def collect(self, df: DataFrame) -> list:
        """``df.collect()``, charging its time to the layer span that
        built ``df`` when a wrapped function returned it as-is."""
        if not self.enabled:
            return df.collect()
        prod = self._producers.get(id(df))
        with self.span("collect") as sp:
            rows = df.collect()
        if prod is not None and prod[1] is df:
            prod[0].attrs["collect_s"] = prod[0].attrs.get("collect_s", 0.0) + sp.wall
        return rows

    # -- patching --------------------------------------------------------------

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if name.startswith("search.lexical.probe"):
                    sp.attrs["terms"] = args[2] if len(args) > 2 else kwargs["terms"]
                if name == "search.index.probe":
                    from sortify_spark.search import index as ivf

                    esc = ivf.PROBE_ESCALATION
                    sp.attrs["nprobe"] = (
                        esc["nprobe_final"] if esc else kwargs.get("nprobe", 0)
                    )
            for df in out if isinstance(out, tuple) else (out,):
                if isinstance(df, DataFrame):
                    tracer._producers[id(df)] = (sp, df)
            return out

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        """Patch every target (idempotent per tracer)."""
        if not self.enabled or self._patched:
            return
        for mod_name, attr, name, binders in TARGETS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            wrapped = self._wrap(fn, name)
            for m in (mod_name, *binders):
                holder = importlib.import_module(m)
                if getattr(holder, attr, None) is fn:
                    self._patched.append((holder, attr, fn))
                    setattr(holder, attr, wrapped)

    def uninstall(self) -> None:
        for holder, attr, fn in reversed(self._patched):
            setattr(holder, attr, fn)
        self._patched.clear()
        if self.enabled:
            self._set_group(None)

    # -- summaries -------------------------------------------------------------

    def walls(self, name: str) -> list[float]:
        return [s.wall for s in self.spans if s.name == name and s.end]

    def layer_time(self, name: str) -> list[float]:
        """Per-call time of a layer: each span's wall plus the collect
        time of the frames it returned."""
        return [
            s.wall + s.attrs.get("collect_s", 0.0)
            for s in self.spans
            if s.name == name and s.end
        ]

    def attr_values(self, name: str, key: str) -> list:
        return [s.attrs[key] for s in self.spans if s.name == name and key in s.attrs]


# -- Spark status REST API ------------------------------------------------------


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read().decode())


def spark_rest_base(spark) -> str:
    """``http://127.0.0.1:<ui port>/api/v1/applications/<app id>``."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    return f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"


def wait_listener_idle(spark, timeout_s: float = 20.0) -> None:
    """Wait until the status store has seen every job end (the listener
    bus is asynchronous)."""
    tracker = spark.sparkContext.statusTracker()
    base = spark_rest_base(spark)
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if not tracker.getActiveJobsIds():
            jobs = _get_json(f"{base}/jobs")
            if all(j.get("status") != "RUNNING" for j in jobs):
                return
        time.sleep(0.2)


def _ts(s: str | None) -> float | None:
    """Spark REST timestamps (``2026-01-01T00:00:00.000GMT``) → epoch s."""
    if not s:
        return None
    from datetime import datetime, timezone

    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def spark_counters(spark) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages by id) from the status REST API."""
    wait_listener_idle(spark)
    base = spark_rest_base(spark)
    jobs = _get_json(f"{base}/jobs")
    stages = {}
    for st in _get_json(f"{base}/stages"):
        if st.get("status") in ("COMPLETE", "FAILED"):
            stages[int(st["stageId"])] = st
    for j in jobs:
        j["t0"] = _ts(j.get("submissionTime"))
        j["t1"] = _ts(j.get("completionTime"))
    return jobs, stages


def session_metrics(
    tracer: Tracer, jobs: list[dict], stages: dict[int, dict],
    request_ids: list[int], wall_s: float, cores: int, epoch_offset: float,
) -> dict[str, float]:
    """Spark-runtime counters of the given requests, per request.

    ``epoch_offset`` converts ``perf_counter`` span times to epoch
    seconds (job timestamps are wall-clock)."""
    group_req = {sp.group: sp.request for sp in tracer.spans}
    wanted = set(request_ids)
    mine = [j for j in jobs if group_req.get(j.get("jobGroup")) in wanted]
    seen: set[int] = set()
    tot = defaultdict(float)
    for j in mine:
        tot["jobs"] += 1
        for sid in j.get("stageIds", []):
            st = stages.get(int(sid))
            if st is None or sid in seen:
                continue
            seen.add(sid)
            tot["stages"] += 1
            tot["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
            tot["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            tot["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            tot["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            tot["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
            tot["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            tot["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get(
                "diskBytesSpilled", 0
            )
    # wait: request wall not covered by any of its jobs
    by_req = defaultdict(list)
    for j in mine:
        if j["t0"] is not None and j["t1"] is not None:
            by_req[group_req[j["jobGroup"]]].append((j["t0"], j["t1"]))
    wait = 0.0
    for rid in wanted:
        sp = tracer.spans[rid]
        lo, hi = sp.start + epoch_offset, sp.end + epoch_offset
        covered, cur = 0.0, lo
        for a, b in sorted(by_req.get(rid, [])):
            a, b = max(a, cur), min(b, hi)
            if b > a:
                covered += b - a
                cur = b
        wait += (hi - lo) - covered
    n = max(1, len(wanted))
    out = {f"session.{k}": v / n for k, v in tot.items()}
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out.setdefault(f"session.{k}", 0.0)
    out["session.core_busy_frac"] = tot["executor_run_s"] / max(1e-9, wall_s * cores)
    out["session.driver_wait_s"] = wait / n
    return out
