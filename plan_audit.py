#!/usr/bin/env python
"""Plan/shuffle audit: measured evidence for the "minimize shuffles"
design claims, per headline query.

For each audited query this runs the registered plan at
``$SPARK_GRAFT_SF_DIR`` (default sf0.1) and records:

* wall-clock seconds;
* **shuffle write bytes/records actually moved** — measured, not
  inferred, as the delta of the Spark UI REST totals
  (``/api/v1/applications/<app>/stages``) around the run, so queries
  with internal actions (iterative CC, BPE merge steps) are fully
  accounted;
* the FINAL (post-AQE) physical plan's shape: hash/range/broadcast
  exchange counts, broadcast vs sort-merge join counts,
  whole-stage-codegen span count, and any Python eval nodes (the
  hot-path discipline: none expected outside the Arrow-batched
  kernels).

Output: ONE JSON line (the driver-artifact convention); redirect it to
a file to compare two runs.  Streaming-replay queries are
excluded (their cost is trigger plumbing, audited in
SCALE_STRESS/SCALE.md instead).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: batch queries whose plans carry the design claims
AUDIT = [
    "pricing_summary",
    "regional_revenue",
    "corpus_curation_full",
    "rrf_fusion",
    "two_stage_hybrid",
    "knn_bruteforce",
    "top_order_per_customer",
    "user_sessions",
    "asof_join_attribution",
    "range_join_clicks_1h",
    "salted_join_revenue",
    "minhash_lsh_pairs",
    "neardup_components",
    "corpus_freq_buckets",
    "sequence_packing",
    "semdedup_prune",
    "bpe_train_merges",
    "ngram_novelty",
    "contamination_fraction",
    "bigram_lm_quality",
    "countmin_word_counts",
    "bloom_prefilter_join",
    "dsir_importance_weights",
    "funnel_conversion",
    "bm25_topk",
    "hybrid_lexical_semantic_rrf",
    "jaccard_prefix_join",
    "pagerank_suppliers",
    "fuzzy_link_parts",
    "gap_fill_daily",
    "leakage_safe_split",
    "mv_merge_daily",
    "gopher_quality_rules",
    "paragraph_dedup_keep_first",
    # round 8/9 flagships: exact substring dedup (one map-side-combined
    # wide shuffle) and batched lexical serving (bucket-pruned probe)
    "substring_dedup_keep_first",
    "bm25_batched_probe",
]


def _stage_totals(ui: str, app: str) -> tuple[int, int]:
    url = f"{ui}/api/v1/applications/{app}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        stages = json.load(r)
    return (
        sum(s.get("shuffleWriteBytes", 0) for s in stages),
        sum(s.get("shuffleWriteRecords", 0) for s in stages),
    )


def _plan_shape(df) -> dict:
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges_hash": plan.count("Exchange hashpartitioning"),
        "exchanges_range": plan.count("Exchange rangepartitioning"),
        "broadcast_exchanges": plan.count("BroadcastExchange"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        # the executed plan marks codegen'd operators "*(n) Op" — count
        # DISTINCT span ids, i.e. fused pipeline regions
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python_eval": sum(
            plan.count(t)
            for t in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")
        ),
    }


class _KernelSpy:
    """VERDICT r13 next #2: the audited queries hide their expensive
    text/embedding kernels behind localCheckpoint/persist barriers, so
    the FINAL executed plan shows only `Scan ExistingRDD` /
    `InMemoryTableScan` where the kernel work happens.  This spy wraps
    both materialization entry points for the duration of one query's
    construction+run and records each materialized frame's plan shape,
    so the audit covers the behind-barrier sub-plans too (in particular:
    zero Python eval nodes must hold THERE, not just in the main plan).
    """

    def __init__(self):
        # Spark 4: concrete frames are pyspark.sql.classic.dataframe
        # .DataFrame, which OVERRIDES the public base-class methods —
        # patch the concrete class or the spy sees nothing.
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # pre-4.0 layout
            from pyspark.sql import DataFrame

        self._cls = DataFrame
        self._orig_ckpt = DataFrame.localCheckpoint
        self._orig_persist = DataFrame.persist
        self.shapes: list[dict] = []

    def __enter__(self):
        spy = self

        def ckpt(df, eager=True):
            try:
                spy.shapes.append({"kind": "localCheckpoint", **_plan_shape(df)})
            except Exception:  # noqa: BLE001 — audit must not break queries
                pass
            return spy._orig_ckpt(df, eager)

        def persist(df, *a, **kw):
            try:
                spy.shapes.append({"kind": "persist", **_plan_shape(df)})
            except Exception:  # noqa: BLE001
                pass
            return spy._orig_persist(df, *a, **kw)

        self._cls.localCheckpoint = ckpt
        self._cls.persist = persist
        return self

    def __exit__(self, *exc):
        self._cls.localCheckpoint = self._orig_ckpt
        self._cls.persist = self._orig_persist
        return False

    def summary(self) -> dict:
        return {
            "kernels": len(self.shapes),
            "python_eval": sum(s["python_eval"] for s in self.shapes),
            "exchanges_hash": sum(s["exchanges_hash"] for s in self.shapes),
            "smj": sum(s["smj"] for s in self.shapes),
            "bhj": sum(s["bhj"] for s in self.shapes),
        }


def main() -> None:
    from sortify_spark.all_queries import REGISTRY
    from sortify_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("sortify-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId

    out: dict = {}
    for name in AUDIT:
        fn = REGISTRY[name].fn
        fn(spark, sf_dir).collect()  # warm: JIT + IO, metrics discarded
        b0, r0 = _stage_totals(ui, app)
        t0 = time.time()
        with _KernelSpy() as spy:
            df = fn(spark, sf_dir)
            df.collect()
        sec = round(time.time() - t0, 3)
        b1, r1 = _stage_totals(ui, app)
        out[name] = {
            "sec": sec,
            "shuffle_write_mb": round((b1 - b0) / 1048576, 3),
            "shuffle_write_records": r1 - r0,
            **_plan_shape(df),
            "ckpt_kernels": spy.summary(),
        }
        print(f"  [{name}] {out[name]}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "plan_audit",
                "value": round(
                    sum(q["shuffle_write_mb"] for q in out.values()), 3
                ),
                "unit": "shuffle_mb_total",
                "sf_dir": sf_dir,
                "queries": out,
                "hot_buckets": _hot_bucket_audit(spark, sf_dir),
            }
        )
    )


def _hot_bucket_audit(spark, sf_dir: str) -> dict:
    """Per-round bucket-skew observability (VERDICT r7 item 8): run
    ``dedup.hot_bucket_stats`` over the banded frames the guarded joins
    actually build on this corpus — MinHash-LSH bands and the PPJoin
    prefix buckets — and record how many buckets exceed the runtime
    guard's cap and the largest one.  An all-zero record documents the
    corpus is benign at this SF; a non-zero one shows the guard's
    sub-split is live."""
    from pyspark.sql import functions as F

    from sortify_spark import dedup
    from sortify_spark.dedup import DEFAULT_HOT_BUCKET_CAP, words
    from sortify_spark.dedup import shingles as _sh
    from sortify_spark.operators.partitioning import fan_out
    from sortify_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    _, bands = dedup.signature_bands(docs, use_shingles=3)

    def _summ(banded, key_cols) -> dict:
        hot = dedup.hot_bucket_stats(banded, key_cols=key_cols).agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.max("bucket_size"), F.lit(0)).alias("mx"),
        ).first()
        return {
            "over_cap_buckets": int(hot["n"]),
            "max_bucket": int(hot["mx"]),
            "cap": DEFAULT_HOT_BUCKET_CAP,
        }

    from sortify_spark.queries_dedup import PPJ_K

    base = (
        fan_out(docs)
        .select("doc_id", words(F.col("text")).alias("w"))
        .select("doc_id", _sh(F.col("w"), PPJ_K).alias("sh"))
        .filter(F.size("sh") > 0)
        .select(
            "doc_id",
            F.expr(
                "array_sort(transform(sh, s -> md5(CAST(s AS BINARY))))"
            ).alias("osh"),
            F.size("sh").alias("sz"),
        )
        .withColumn("plen", F.expr("sz - ((sz + 1) DIV 2) + 1"))
    )
    prefixes = base.select(
        F.explode(F.expr("slice(osh, 1, plen)")).alias("h")
    )
    # round 9 (VERDICT r8 #8): the two other guarded frames — the
    # fuzzy-linkage token blocks (part-name tokens) and the exact
    # substring-dedup window grams
    part = load_table(spark, sf_dir, "part")
    tok = (
        part.select("p_name")
        .distinct()
        .select(F.explode(F.split("p_name", " ")).alias("tok"))
    )
    from sortify_spark.queries_curation2 import SSD_W

    grams = (
        fan_out(docs)
        .select("doc_id", words(F.col("text")).alias("w"))
        .select("doc_id", "w", F.size("w").alias("n"))
        .filter(F.col("n") >= SSD_W)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, n - {SSD_W}), "
                    f"s -> md5(CAST(array_join(slice(w, s + 1, {SSD_W}), "
                    "' ') AS BINARY)))"
                )
            ).alias("g")
        )
    )
    return {
        "minhash_bands": _summ(bands, ("band_idx", "band_key")),
        "ppjoin_prefixes": _summ(prefixes, ("h",)),
        "fuzzy_link_token_blocks": _summ(tok, ("tok",)),
        "substring_dedup_grams": _summ(grams, ("g",)),
    }


if __name__ == "__main__":
    main()
