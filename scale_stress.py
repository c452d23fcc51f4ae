#!/usr/bin/env python
"""Scale-stress harness: run the curation flagships on a ~10x-inflated
corpus with the driver-side connected-components path DISABLED.

The per-round bench (bench.py) measures steady-state per-query cost at
sf0.1 (~5 k documents).  This script answers the next question — do the
100x design claims hold when the data grows past the comfortable
single-batch regime?  It:

1. derives a seeded inflated corpus from sf0.1 ``documents``:
   ``INFLATE`` replicas per doc with remapped ids; replica 0 is the
   original, replicas 1..EXACT_COPIES are byte-identical (exact-dedup
   stress), the rest carry a per-replica suffix token (near-dup stress
   — same shingle mass, distinct fingerprints);
2. forces ``SORTIFY_CC_DRIVER_MAX_EDGES=0`` so connected components run
   the distributed min-propagation + pointer-jumping loop, never the
   driver union-find;
3. runs the full curation pipeline stage by stage with persists between
   stages, timing each increment honestly, plus the standalone
   ``neardup_components`` aggregate;
4. prints ONE JSON object with per-stage rows/seconds (redirect it to a
   file to compare two runs).

Usage:  python scale_stress.py [--inflate 10] [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Must be set before the engine reads it (connected_components reads the
# env at call time; set defensively before any import side effects).
os.environ["SORTIFY_CC_DRIVER_MAX_EDGES"] = "0"

EXACT_COPIES = 4  # replicas 1..4 byte-identical to replica 0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--inflate", type=int, default=10)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--keep-data", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sortify_spark import dedup, textstats as ts
    from sortify_spark.operators.sampling import stratified_hash_sample
    from sortify_spark.queries_scale import _MIX_DEFAULT, _MIX_RATES
    from sortify_spark.session import get_spark
    from sortify_spark.tables import load_table

    spark = get_spark("sortify-scale-stress")
    spark.sparkContext.setLogLevel("ERROR")

    stages: dict[str, dict] = {}

    def stage(name: str, fn):
        t0 = time.time()
        out = fn()
        stages[name] = {"sec": round(time.time() - t0, 2), **(out or {})}
        print(f"  [{name}] {stages[name]}", file=sys.stderr)
        return out

    work = tempfile.mkdtemp(prefix="sortify_scale_")
    derived = os.path.join(work, "derived")
    os.makedirs(derived, exist_ok=True)
    try:
        base = load_table(spark, args.sf_dir, "documents")
        n_base = base.count()

        # -- stage 0: seeded inflation ----------------------------------
        # crossJoin with a broadcast replica range (ONE plan node however
        # large the factor — a per-replica union would explode the plan at
        # --inflate 1000).  Replicas ≤ EXACT_COPIES are byte-identical
        # (exact-dedup stress); the rest carry a suffix token cycling
        # through SUFFIX_CLASSES variants, so the DISTINCT text count per
        # base doc stays bounded (1 + SUFFIX_CLASSES) and the near-dup
        # pair space stays Σ-bucket-bounded at any inflation factor —
        # exactly the boilerplate-heavy-crawl shape real corpora have.
        SUFFIX_CLASSES = 13

        def inflate():
            reps = F.broadcast(
                spark.range(args.inflate).select(
                    F.col("id").cast("int").alias("rep")
                )
            )
            out = base.select("doc_id", "text", "lang", "source").crossJoin(
                reps
            )
            out = out.select(
                (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
                F.when(F.col("rep") <= EXACT_COPIES, F.col("text"))
                .otherwise(
                    F.concat(
                        F.col("text"),
                        F.lit(" rtag"),
                        (F.col("rep") % SUFFIX_CLASSES).cast("string"),
                    )
                )
                .alias("text"),
                "lang",
                "source",
            ).withColumn("n_chars", F.length("text"))
            out.repartition(64).write.mode("overwrite").parquet(
                os.path.join(derived, "documents.parquet")
            )
            return {"rows": n_base * args.inflate}

        stage("inflate_write", inflate)
        docs = load_table(spark, derived, "documents")

        # -- curation pipeline, stage by stage --------------------------
        # Replica-stable held-out split: a BASE doc and all its inflated
        # variants land on the same side (benchmark docs must not appear
        # in training in any near-duplicate variant — the split that
        # makes decontamination meaningful on an inflated corpus).
        base_id = F.col("doc_id") % 1_000_000
        bench = docs.filter(base_id % 53 == 0)
        train = docs.filter(base_id % 53 != 0)

        kept_exact = dedup.drop_exact_duplicates(train).persist()
        stage("exact_dedup", lambda: {"rows": kept_exact.count()})

        pairs = dedup.minhash_lsh_pairs(
            kept_exact, threshold=0.5, use_shingles=3
        ).persist()
        stage("lsh_pairs", lambda: {"rows": pairs.count()})

        # connected_components iterates EAGERLY inside the call (per-
        # iteration fixpoint probes), so the construction itself must sit
        # inside the stage timer.
        comp_box: list = []

        def run_cc():
            c = dedup.connected_components(pairs).persist()
            comp_box.append(c)
            return {
                "rows": c.count(),
                "driver_max_edges": os.environ[
                    "SORTIFY_CC_DRIVER_MAX_EDGES"
                ],
            }

        stage("connected_components_distributed", run_cc)
        comp = comp_box[0]

        drops = comp.filter(F.col("node") != F.col("comp")).select(
            F.col("node").alias("doc_id")
        )
        kept = kept_exact.join(F.broadcast(drops), "doc_id", "left_anti")
        cont = dedup.contaminated_by_shingles(kept, bench, shingle_k=5)
        decon = kept.join(
            cont.withColumnRenamed("id", "doc_id"), "doc_id", "left_anti"
        ).persist()
        stage("decontaminate", lambda: {"rows": decon.count()})

        filtered = decon.filter(
            (ts.quality_score(F.col("text"), F.col("n_chars")) >= 0.5)
            & F.col("lang").isin("en", "de", "fr", "es")
        )
        sampled = stratified_hash_sample(
            filtered, "source", _MIX_RATES, _MIX_DEFAULT, "doc_id"
        )
        final = sampled.groupBy("source").agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(ts.token_count(F.col("text"))).cast("bigint").alias(
                "token_budget"
            ),
        )
        stage(
            "quality_mix_budget",
            lambda: {"rows": len(final.collect())},
        )

        # -- z-order layout at scale ------------------------------------
        # Write the post-dedup corpus z-ordered on (doc_id, n_chars) and
        # measure, from parquet footer statistics, what fraction of row
        # groups a 10% x 10% box predicate can skip — the multi-dim
        # data-skipping claim (operators/zorder.py) exercised at the
        # inflated scale rather than the unit-test toy grid.
        def zorder_stage():
            import glob

            import pyarrow.parquet as pq

            from sortify_spark.operators.zorder import write_zordered

            zpath = os.path.join(derived, "docs_zordered.parquet")
            id_hi = float(args.inflate * 1_000_000)
            write_zordered(
                kept_exact.select("doc_id", "n_chars", "source"),
                zpath,
                [("doc_id", 0.0, id_hi), ("n_chars", 0.0, 4096.0)],
                n_files=64,
            )
            rgs = []
            for f in glob.glob(os.path.join(zpath, "*.parquet")):
                meta = pq.ParquetFile(f).metadata
                names = {
                    meta.schema.column(i).name: i
                    for i in range(meta.num_columns)
                }
                for rg in range(meta.num_row_groups):
                    g = meta.row_group(rg)
                    sx = g.column(names["doc_id"]).statistics
                    sy = g.column(names["n_chars"]).statistics
                    rgs.append(((sx.min, sx.max), (sy.min, sy.max)))
            bx = (0.45 * id_hi, 0.55 * id_hi)
            by = (400, 800)
            pruned = sum(
                1
                for s in rgs
                if s[0][0] > bx[1] or s[0][1] < bx[0]
                or s[1][0] > by[1] or s[1][1] < by[0]
            )
            return {
                "rows": None,
                "row_groups": len(rgs),
                "box_prune_frac": round(pruned / max(len(rgs), 1), 3),
            }

        stage("zorder_layout_64files", zorder_stage)

        # -- standalone neardup_components aggregate --------------------
        def neardup():
            agg = (
                comp.groupBy(F.col("comp").alias("component"))
                .agg(F.count(F.lit(1)).alias("size"))
                .orderBy(F.desc("size"), F.asc("component"))
            )
            r = agg.collect()
            return {
                "rows": len(r),
                "max_component": int(r[0]["size"]) if r else 0,
            }

        stage("neardup_component_sizes", neardup)

        # -- leakage-safe split at inflated scale -----------------------
        # Component-atomic train/val/test assignment over the inflated
        # corpus, with the cross-split pair audit (must be 0 at any
        # scale — the property is by-construction, the audit proves the
        # plan preserves it when comp maps and pair sets are 100-1000x
        # the toy size).
        def leakage_split():
            from sortify_spark.operators.sampling import hash_bucket

            labeled = (
                kept_exact.select("doc_id")
                .join(comp, F.col("doc_id") == comp.node, "left")
                .select(
                    "doc_id", F.coalesce("comp", "doc_id").alias("comp")
                )
            )
            bkt = hash_bucket("comp", 10)
            s = labeled.withColumn(
                "split",
                F.when(bkt == 8, F.lit("val"))
                .when(bkt == 9, F.lit("test"))
                .otherwise(F.lit("train")),
            ).persist()
            per = {
                r["split"]: r["docs"]
                for r in s.groupBy("split")
                .agg(F.count(F.lit(1)).alias("docs"))
                .collect()
            }
            viol = (
                pairs.join(
                    s.select(
                        F.col("doc_id").alias("id_a"),
                        F.col("split").alias("sa"),
                    ),
                    "id_a",
                )
                .join(
                    s.select(
                        F.col("doc_id").alias("id_b"),
                        F.col("split").alias("sb"),
                    ),
                    "id_b",
                )
                .filter(F.col("sa") != F.col("sb"))
                .count()
            )
            s.unpersist()
            return {
                "rows": sum(per.values()),
                "train": per.get("train", 0),
                "val": per.get("val", 0),
                "test": per.get("test", 0),
                "cross_split_pairs": viol,
            }

        stage("leakage_safe_split", leakage_split)

        # -- PageRank over an inflated purchase graph -------------------
        # The graph is `reps` disjoint copies of the sf-dir purchase
        # graph (both endpoints offset per replica), so node AND edge
        # count scale with the factor while structure stays constant —
        # the right shape for "per-iteration cost is one rank shuffle +
        # one agg, linear in edges".  Replica factor is capped at 50
        # (~25 M edges locally) and RECORDED — not a silent cap.
        def pagerank_stage():
            from sortify_spark.queries_linkage import (
                PR_SUPP_OFFSET,
                pagerank_suppliers,
            )

            reps_n = min(args.inflate, 50)
            reps = F.broadcast(
                spark.range(reps_n).select(F.col("id").alias("rep"))
            )
            o = (
                load_table(spark, args.sf_dir, "orders")
                .select("o_orderkey", "o_custkey")
                .crossJoin(reps)
                .select(
                    (F.col("o_orderkey") + F.col("rep") * 10_000_000).alias(
                        "o_orderkey"
                    ),
                    (F.col("o_custkey") + F.col("rep") * 1_000_000).alias(
                        "o_custkey"
                    ),
                )
            )
            li = (
                load_table(spark, args.sf_dir, "lineitem")
                .select("l_orderkey", "l_suppkey")
                .crossJoin(reps)
                .select(
                    (F.col("l_orderkey") + F.col("rep") * 10_000_000).alias(
                        "l_orderkey"
                    ),
                    (F.col("l_suppkey") + F.col("rep") * 100_000).alias(
                        "l_suppkey"
                    ),
                )
            )
            assert reps_n * 100_000 < PR_SUPP_OFFSET
            # replica strides must also clear the base key ranges, or
            # replicas silently share keys and the graph stops being
            # "reps disjoint copies" (phantom cross-replica edges)
            mx = (
                load_table(spark, args.sf_dir, "orders")
                .agg(
                    F.max("o_orderkey").alias("ok"),
                    F.max("o_custkey").alias("ck"),
                )
                .collect()[0]
            )
            assert mx["ok"] < 10_000_000 and mx["ck"] < 1_000_000, (
                f"replica strides collide at this SF: max orderkey "
                f"{mx['ok']}, max custkey {mx['ck']}"
            )
            top = pagerank_suppliers(o, li).collect()
            return {
                "rows": len(top),
                "graph_replicas": reps_n,
                "top_pr_units": int(top[0]["pr_units"]) if top else 0,
            }

        stage("pagerank_5iter_inflated", pagerank_stage)

        # -- published-pipeline quartet at inflated scale ---------------
        # The three text kernels run over the full inflated corpus; the
        # SemDeDup kernel runs over an embeddings table inflated with
        # REMAPPED labels (new label = label + 10*rep) — block count
        # grows with N while block size stays constant, which is exactly
        # the SemDeDup k ∝ N scaling contract (pair space stays linear
        # in replicas, never quadratic in total rows).
        from sortify_spark.queries_curation2 import (
            freq_bucket_stats,
            pack_sequences,
            semdedup_stats_np,
            span_removal_stats,
        )

        stage(
            "span_removal",
            lambda: {"rows": span_removal_stats(docs).count()},
        )
        stage(
            "freq_buckets",
            lambda: {"rows": freq_bucket_stats(docs).count()},
        )
        stage(
            "sequence_packing",
            lambda: {"rows": pack_sequences(docs).count()},
        )

        # Skew case: collapse every doc into ONE source (the dominant-
        # crawl shape).  Unsalted, the running-sum window is a single
        # task over the whole corpus; salted (shards=32) it fans out to
        # 32 independent windows — same token mass, bounded tail waste.
        one_src = docs.withColumn("source", F.lit("crawl"))
        stage(
            "packing_one_source_single_window",
            lambda: {"rows": pack_sequences(one_src).count()},
        )
        stage(
            "packing_one_source_salted32",
            lambda: {"rows": pack_sequences(one_src, shards=32).count()},
        )

        # Round-7 curation ops at inflated scale: the held-out bigram
        # LM (corpus bigram stream through broadcast LM tables — cost
        # should track the corpus scan) and the data-derived
        # temperature mixture (one per-source aggregate + a broadcast
        # filter — near-free at any corpus size).
        def lm_quality():
            from sortify_spark.queries_lm import bigram_lm_quality

            rows = bigram_lm_quality(docs).collect()
            return {
                "rows": len(rows),
                "low_docs": sum(r["low_docs"] for r in rows),
            }

        stage("bigram_lm_quality", lm_quality)

        def temp_mix():
            from sortify_spark.queries_scale import q_temperature_mixture

            # reuse the registered plan over the derived corpus dir
            rows = q_temperature_mixture(spark, derived).collect()
            return {
                "rows": len(rows),
                "kept": sum(r["docs_kept"] for r in rows),
            }

        stage("temperature_mixture", temp_mix)

        # Round-7 sketch ops at inflated scale: the count-min sketch's
        # cost must track the word-count pass (the 4x256 grid is
        # constant-size however large the vocabulary), and DSIR's token
        # stream must reach its per-doc aggregate through the broadcast
        # ratio table alone — both are the fixed-memory-summary claim
        # measured, not asserted.
        def countmin():
            from sortify_spark.queries_sketch import countmin_word_counts

            rows = countmin_word_counts(docs).collect()
            return {
                "rows": len(rows),
                "max_overest": max(r["overest"] for r in rows),
            }

        stage("countmin_word_counts", countmin)

        def dsir():
            from sortify_spark.queries_sketch import (
                dsir_importance_weights,
            )

            rows = dsir_importance_weights(docs).collect()
            return {
                "rows": len(rows),
                "kept_docs": sum(r["kept_docs"] for r in rows),
            }

        stage("dsir_importance_weights", dsir)

        # BPE trainer: the only corpus-scale pass is the word count —
        # the merge iterations run on the compact distinct-word table,
        # so training cost should track the ingest scan, not explode
        # with the corpus.
        def bpe():
            from sortify_spark.queries_bpe import train_bpe_merges

            rows = train_bpe_merges(docs).collect()
            return {"rows": len(rows), "top_merge": rows[0]["merged"]}

        stage("bpe_train_merges", bpe)

        def semdedup():
            emb = load_table(spark, args.sf_dir, "embeddings")
            reps = F.broadcast(
                spark.range(min(args.inflate, 100)).select(
                    F.col("id").cast("int").alias("rep")
                )
            )
            inflated = emb.crossJoin(reps).select(
                (F.col("vec_id") + F.col("rep") * 1_000_000).alias(
                    "vec_id"
                ),
                "embedding",
                (F.col("label") + F.col("rep") * 10).alias("label"),
            )
            # The Arrow/BLAS kernel (equality with the oracle-checked
            # expression kernel is unit-tested) — one matmul per block.
            out = semdedup_stats_np(inflated).persist()
            n_blocks = out.count()
            dropped = out.agg(F.sum("n_dropped")).collect()[0][0]
            return {
                "rows": n_blocks,
                "dropped": int(dropped),
                "kernel": "arrow_blas",
            }

        stage("semdedup_blocked", semdedup)

        # -- hot-bucket guard A/B (round 6, VERDICT r5 item 2) ----------
        # Adversarial templated corpus: a large slice of all band rows
        # lands in ONE bucket (the boilerplate-shingle shape).  The
        # input rows are tiny, so AQE's skew-join never fires (it sees
        # input bytes, not quadratic OUTPUT), and the unguarded
        # self-join serializes |bucket|² pair production into one task.
        # The guard must bound wall time while emitting the IDENTICAL
        # pair count.
        def hot_bucket_guard():
            flood = 16000  # 128M pairs from one bucket if unguarded
            spread = 200_000
            banded = (
                spark.range(spread + flood)
                .select(
                    F.col("id"),
                    F.lit(0).alias("band_idx"),
                    F.when(F.col("id") < flood, F.lit(0))
                    .otherwise(
                        F.pmod(F.abs(F.xxhash64("id")), F.lit(50_000)) + 1
                    )
                    .alias("band_key"),
                )
                .localCheckpoint(eager=True)
            )
            hot = dedup.hot_bucket_stats(banded).collect()
            t0 = time.time()
            n_unguarded = dedup.banded_self_join_pairs(
                banded, hot_cap=10**9
            ).count()
            t_unguarded = round(time.time() - t0, 2)
            t0 = time.time()
            n_guarded = dedup.banded_self_join_pairs(banded).count()
            t_guarded = round(time.time() - t0, 2)
            assert n_guarded == n_unguarded, (n_guarded, n_unguarded)
            return {
                "pairs": int(n_guarded),
                "hot_buckets": [
                    {"band_key": int(r["band_key"]), "size": int(r["bucket_size"])}
                    for r in hot
                ],
                "guarded_sec": t_guarded,
                "unguarded_sec": t_unguarded,
                "speedup": round(t_unguarded / max(t_guarded, 0.01), 2),
            }

        stage("hot_bucket_guard_ab", hot_bucket_guard)

        # -- PPJoin hot-prefix guard A/B (round 8, VERDICT r7 item 1) ---
        # Adversarial boilerplate corpus for the EXACT Jaccard join:
        # every doc starts with the same 3 boilerplate words (one
        # shared shingle that md5-ranks into ~half the prefixes), sizes
        # stratified geometrically so the length filter kills cross-
        # class pairs INSIDE the join — the work an unguarded plan
        # serializes into the one hot-prefix task.  The guarded run
        # must stay bounded with the IDENTICAL result; the freq-order
        # variant must eliminate the hot prefix entirely (boilerplate
        # df sorts it last, out of every prefix).
        def ppjoin_guard_ab():
            from sortify_spark.queries_dedup import jaccard_prefix_join

            flood = 24000  # hot prefix bucket ~13k docs unguarded
            n_clones = 50
            word_counts = "array(5, 9, 17, 33, 65)"
            txt = F.concat(
                F.lit("b0 b1 b2 "),
                F.expr(
                    "array_join(transform(sequence(1, element_at("
                    f"{word_counts}, CAST(id % 5 AS INT) + 1) - 3), "
                    "j -> concat('w', id % "
                    f"{flood}, '_', j)), ' ')"
                ),
            )
            docs = (
                spark.range(flood + n_clones)
                .select(F.col("id").alias("doc_id"), txt.alias("text"))
                .localCheckpoint(eager=True)
            )
            # Wall clock swings up to 2x with host noise (SCALE.md), so
            # the guard's claim — MAX-TASK time stays bounded — is
            # measured directly: the longest single stage wall inside
            # each variant's run window (the unguarded hot join stage's
            # wall IS its straggler task; every other stage is
            # wide-parallel).
            import urllib.request as _rq

            ui = spark.sparkContext.uiWebUrl
            app = spark.sparkContext.applicationId

            def _stages():
                url = f"{ui}/api/v1/applications/{app}/stages?status=complete"
                with _rq.urlopen(url, timeout=10) as r:
                    return json.load(r)

            def _max_stage_wall(before_ids: set) -> float:
                import datetime as _dt

                def _p(ts):
                    return _dt.datetime.strptime(
                        ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f"
                    )

                walls = [
                    (_p(s["completionTime"]) - _p(s["firstTaskLaunchedTime"]))
                    .total_seconds()
                    for s in _stages()
                    if s["stageId"] not in before_ids
                    and s.get("completionTime")
                    and s.get("firstTaskLaunchedTime")
                ]
                return round(max(walls), 2) if walls else 0.0

            # freq first: the heavy runs below leave tens of millions
            # of checkpoint blocks for the context cleaner; running
            # the cheap variant last under that pressure mismeasured
            # it ~10x in development.
            runs = {}
            for label, kw in (
                ("freq_order", dict(order="freq")),
                ("guarded", dict()),
                ("unguarded", dict(hot_cap=10**9)),
            ):
                seen = {s["stageId"] for s in _stages()}
                t0 = time.time()
                n = jaccard_prefix_join(docs, **kw).count()
                runs[label] = {
                    "rows": int(n),
                    "sec": round(time.time() - t0, 2),
                    "max_stage_wall_sec": _max_stage_wall(seen),
                }
            rows = {r["rows"] for r in runs.values()}
            assert len(rows) == 1, runs
            # the clones are exact dups of their base doc (J = 1.0)
            assert runs["guarded"]["rows"] >= n_clones, runs

            # Candidate-stage A/B at a flood the full operator cannot
            # afford: 50k prefix rows on ONE hot hash (~1.25e9 pair
            # evaluations), (sz, p) crafted so the length+positional
            # prunes kill EVERY hot pair inside the join — i.e. the
            # exact work an unguarded plan serializes into the one hot
            # SMJ task, with zero verify cost confounding the measure.
            # (The 24k full-operator corpus above proves result
            # equality; at that size the hot task is only ~85M evals,
            # ~1 s of JVM time — too small to separate from noise.)
            # ~11e9 hot-pair evaluations: a single codegen'd SMJ task
            # streams ~2.5e8 filter evals/s on this box, so the
            # unguarded straggler is O(45 s) while the guarded plan
            # spreads the same work over g(g+1)/2 sub-partitions.
            hot_n, cold_n = 150_000, 200_000
            pref = (
                spark.range(hot_n + cold_n)
                .select(
                    F.col("id").alias("doc_id"),
                    F.when(F.col("id") < hot_n, F.lit("h0"))
                    .otherwise(
                        F.pmod(F.abs(F.xxhash64("id")), F.lit(100_000))
                        .cast("string")
                    )
                    .alias("h"),
                    # sizes 10/100 alternate: cross pairs die at the
                    # length filter (ratio 10 > 2); p = sz/2 makes
                    # same-size pairs die at the positional filter
                    # (bound 1 + s/2 < required (2s+2) DIV 3 for both)
                    F.when(F.col("id") % 2 == 0, F.lit(10))
                    .otherwise(F.lit(100))
                    .alias("sz"),
                )
                .withColumn("p", (F.col("sz") / 2).cast("int"))
                .localCheckpoint(eager=True)
            )

            def _prunes():
                sa, sb = F.col("sz_a"), F.col("sz_b")
                return (F.greatest(sa, sb) <= F.least(sa, sb) * 2) & (
                    F.lit(1)
                    + F.least(sa - F.col("p_a"), sb - F.col("p_b"))
                    >= F.expr("(sz_a + sz_b + 2) DIV 3")
                )

            def cand_count(hot_cap):
                return dedup.banded_self_join_pairs(
                    pref,
                    key_cols=("h",),
                    id_col="doc_id",
                    carry_cols=("sz", "p"),
                    hot_cap=hot_cap,
                    # the operator's own shape: prunes AT the join
                    pair_filter=_prunes,
                ).count()

            cand = {}
            for label, cap in (
                ("guarded", dedup.DEFAULT_HOT_BUCKET_CAP),
                ("unguarded", 10**9),
            ):
                seen = {s["stageId"] for s in _stages()}
                t0 = time.time()
                n = cand_count(cap)
                cand[label] = {
                    "pairs": int(n),
                    "sec": round(time.time() - t0, 2),
                    "max_stage_wall_sec": _max_stage_wall(seen),
                }
            assert cand["guarded"]["pairs"] == cand["unguarded"]["pairs"]
            return {
                "rows": runs["guarded"]["rows"],
                "flood_docs": flood,
                **{f"{k}_{m}": v[m] for k, v in runs.items()
                   for m in ("sec", "max_stage_wall_sec")},
                "candidate_stage_150k_hot": cand,
                "max_task_bound_ratio": round(
                    cand["unguarded"]["max_stage_wall_sec"]
                    / max(cand["guarded"]["max_stage_wall_sec"], 0.01),
                    2,
                ),
            }

        stage("ppjoin_guard_ab", ppjoin_guard_ab)

        # -- ANN / search serving at scale (round 5, VERDICT r4 item 6) -
        # The batch products of the serving side exercised on an
        # inflated vectors table: IVF index build (nearest-centroid
        # assignment — the n × nlist scoring pass FAISS pays per Lloyd
        # step), exact vs IVF vs IVF-PQ top-k with recall@10 and the
        # probed fraction recorded.  Replicas are perturbed along a
        # seeded dimension so the geometry genuinely grows (byte copies
        # would make every bucket centroid identical and recall
        # meaningless); PQ trains on the rep-0 sample and encodes the
        # whole corpus — the fixed-codebook-size production shape
        # (cells never scale with nlist).
        from sortify_spark.search import knn, pq as pqm

        E = min(args.inflate, 100)
        ann: dict = {}

        def ann_index_build():
            emb = load_table(spark, args.sf_dir, "embeddings")
            reps = F.broadcast(
                spark.range(E).select(F.col("id").cast("int").alias("rep"))
            )
            pert = F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x, i: x
                + F.when(
                    i == F.pmod(F.col("rep"), F.lit(64)),
                    (F.pmod(F.col("rep"), F.lit(10))) * 0.05,
                ).otherwise(F.lit(0.0)),
            )
            inflated = (
                emb.crossJoin(reps)
                .select(
                    (F.col("vec_id") + F.col("rep") * 1_000_000).alias(
                        "vec_id"
                    ),
                    pert.alias("embedding"),
                    (F.col("label") + 10 * F.col("rep")).alias("seed"),
                )
                .persist()
            )
            n = inflated.count()
            seeds = knn.build_centroids(inflated, "seed")
            # one Lloyd step: every vector scored against every seeded
            # centroid — the real IVF index-build cost (n × nlist),
            # paid through the Arrow/BLAS kernel (one X @ C.T per
            # batch), measured
            assigned = knn.assign_nearest_centroid_np(inflated, seeds)
            data = (
                inflated.join(assigned, "vec_id")
                .select("vec_id", "embedding", "label")
                .persist()
            )
            n2 = data.count()
            assert n2 == n
            cents = knn.build_centroids(data, "label").persist()
            ann["data"] = data
            ann["cents"] = cents
            ann["nlist"] = cents.count()
            inflated.unpersist()
            return {"rows": n, "nlist": ann["nlist"]}

        stage("ann_index_build", ann_index_build)
        data = ann["data"]
        probe = data.filter(F.col("vec_id") == 0)
        corpus_v = data.filter(F.col("vec_id") != 0)

        def ann_exact():
            top = knn.brute_force_topk(corpus_v, probe, k=10).collect()
            ann["exact_ids"] = [r["vec_id"] for r in top]
            return {"rows": len(top)}

        stage("ann_exact_topk", ann_exact)

        # Recall-vs-probed-fraction curve: on unstructured synthetic
        # vectors the scattered-neighbor part of the top-10 recalls at
        # ~the probed fraction (the IVF premise — real embeddings
        # cluster — doesn't hold for uniform noise), while perturbed
        # near-copies of the query share its bucket and are found at
        # any nprobe; the curve records both effects honestly.
        for np_ in (1, 4, 16):

            def ann_ivf(np_=np_):
                nprobe = min(np_, ann["nlist"])
                top = knn.ivf_topk(
                    corpus_v, ann["cents"], probe, k=10, nprobe=nprobe,
                    bscore_round=6,
                ).collect()
                ids = [r["vec_id"] for r in top]
                return {
                    "rows": len(ids),
                    "recall_at_10": round(
                        len(set(ids) & set(ann["exact_ids"])) / 10, 3
                    ),
                    "probe_frac": round(nprobe / ann["nlist"], 4),
                }

            stage(f"ann_ivf_topk_nprobe{np_}", ann_ivf)

        # -- selective-tenant filtered-ANN recall (VERDICT r10 #1) -----
        # Shared corpus, one owner at ~1% selectivity, probed through
        # the PERSISTED artifact: fixed-nprobe owner-scoped probes
        # measured against the owner's exact scan at nprobe 1/4/16,
        # then the two mitigations — adaptive escalation
        # (min_candidates=k) and occupancy-aware bucket choice
        # (filter_buckets) — on the same index.
        def ivf_owner_setup():
            from sortify_spark.search.index import build_ivf_index

            owned = data.select(
                "vec_id",
                "embedding",
                "label",
                F.pmod(F.col("vec_id"), F.lit(100)).alias("owner"),
            )
            path = os.path.join(derived, "ivf_owner")
            build_ivf_index(
                owned.filter(F.col("vec_id") != 0),
                path,
                seed_col="label",
                carry_cols=("owner",),
            )
            ann["owner_path"] = path
            pred = F.col("owner") == 3
            n_owner = (
                owned.filter(F.col("vec_id") != 0).filter(pred).count()
            )
            exact = knn.brute_force_topk(
                owned.filter(F.col("vec_id") != 0).filter(pred),
                probe,
                k=10,
            ).collect()
            ann["owner_exact_ids"] = [r["vec_id"] for r in exact]
            return {
                "owner_rows": n_owner,
                "selectivity": round(
                    n_owner / max(1, data.count() - 1), 4
                ),
            }

        stage("ivf_owner_index_build", ivf_owner_setup)

        def owner_recall(ids):
            ex = set(ann["owner_exact_ids"])
            return round(len(set(ids) & ex) / max(1, len(ex)), 3)

        for np_ in (1, 4, 16):

            def ivf_owner_fixed(np_=np_):
                from sortify_spark.search.index import probe_ivf_index

                top = probe_ivf_index(
                    spark,
                    ann["owner_path"],
                    probe.select("embedding"),
                    k=10,
                    nprobe=np_,
                    pre_filter=F.col("owner") == 3,
                ).collect()
                return {
                    "rows": len(top),
                    "recall_at_10": owner_recall(
                        [r["vec_id"] for r in top]
                    ),
                    "probe_frac": round(np_ / ann["nlist"], 4),
                }

            stage(f"ivf_owner_fixed_nprobe{np_}", ivf_owner_fixed)

        def ivf_owner_escalated():
            from sortify_spark.search import index as ix

            top = ix.probe_ivf_index(
                spark,
                ann["owner_path"],
                probe.select("embedding"),
                k=10,
                nprobe=1,
                pre_filter=F.col("owner") == 3,
                min_candidates=10,
            ).collect()
            trace = ix.PROBE_ESCALATION or {}
            return {
                "rows": len(top),
                "recall_at_10": owner_recall([r["vec_id"] for r in top]),
                "nprobe_final": trace.get("nprobe_final", 1),
                "levels": trace.get("levels"),
            }

        stage("ivf_owner_escalated_min10", ivf_owner_escalated)

        def ivf_owner_occupancy():
            from sortify_spark.search import index as ix

            top = ix.probe_ivf_index(
                spark,
                ann["owner_path"],
                probe.select("embedding"),
                k=10,
                nprobe=16,
                pre_filter=F.col("owner") == 3,
                filter_buckets=True,
            ).collect()
            return {
                "rows": len(top),
                "recall_at_10": owner_recall([r["vec_id"] for r in top]),
                "nprobe": 16,
            }

        stage("ivf_owner_occupancy_nprobe16", ivf_owner_occupancy)

        # -- COMPOSED default (VERDICT r11 #1): occupancy-aware bucket
        # choice + escalation within the occupied universe — the
        # owner-scoped facade default on both serving paths.  Report
        # recall AND the probed-bucket count (the I/O unit): combined
        # must be >= each mitigation alone at equal-or-less buckets
        # read (escalation-only walks the FULL ranking, so its
        # nprobe_final counts mostly-unoccupied buckets; occupancy
        # fixed-16 reads 16 occupied buckets unconditionally; the
        # composition stops at the first occupied prefix holding k
        # candidates and can never read more than the tenant's
        # occupied buckets).
        def ivf_owner_composed():
            from sortify_spark.search import index as ix

            top = ix.probe_ivf_index(
                spark,
                ann["owner_path"],
                probe.select("embedding"),
                k=10,
                nprobe=1,
                pre_filter=F.col("owner") == 3,
                min_candidates=10,
                filter_buckets=True,
            ).collect()
            trace = ix.PROBE_ESCALATION or {}
            return {
                "rows": len(top),
                "recall_at_10": owner_recall([r["vec_id"] for r in top]),
                "buckets_read": trace.get("nprobe_final", 1),
                "levels": trace.get("levels"),
                "exhausted_occupied": trace.get("exhaustive"),
            }

        stage("ivf_owner_composed_occ_esc", ivf_owner_composed)

        # -- composed default at the facade's OWN knobs (VERDICT r12
        # #1): the r12 grid measured composed only at nprobe0=1 — the
        # one configuration users get (ivf_nprobe=3, and from r13 the
        # ivf_min_recall_buckets=16 floor) was the one not in the
        # grid.  Sweep base nprobe {3, 8, 16} over the occupied
        # universe, then the floored default: recall must reach
        # occupancy-only@16's at buckets_read ≤ max(16, escalation
        # need) — by construction the floored probe reads a SUPERSET
        # of occupancy-only@16's buckets, clamped at the tenant's own
        # occupancy.
        def owner_occupied_count():
            from sortify_spark.search import index as ix

            return len(
                ix.ivf_tenant_occupancy(
                    spark, ann["owner_path"], F.col("owner") == 3
                )
            )

        for np0 in (3, 8, 16):

            def ivf_owner_composed_np(np0=np0):
                from sortify_spark.search import index as ix

                top = ix.probe_ivf_index(
                    spark,
                    ann["owner_path"],
                    probe.select("embedding"),
                    k=10,
                    nprobe=np0,
                    pre_filter=F.col("owner") == 3,
                    min_candidates=10,
                    filter_buckets=True,
                ).collect()
                trace = ix.PROBE_ESCALATION or {}
                # no trace = the first level held ≥ k candidates with
                # no width adjustment — the TRUE width is the base
                # clamped to the occupied universe, NOT np0 (review
                # r13: reporting np0 fabricates the grid's x-axis
                # whenever np0 ≥ the tenant's occupied count)
                n_occ = owner_occupied_count()
                return {
                    "rows": len(top),
                    "recall_at_10": owner_recall(
                        [r["vec_id"] for r in top]
                    ),
                    "buckets_read": trace.get(
                        "nprobe_final", min(np0, n_occ)
                    ),
                    "occupied": n_occ,
                    "levels": trace.get("levels"),
                }

            stage(f"ivf_owner_composed_np{np0}", ivf_owner_composed_np)

        def ivf_owner_composed_floor16():
            # the r13 facade default: nprobe0=3 + min_probe_buckets=16
            from sortify_spark.search import index as ix

            top = ix.probe_ivf_index(
                spark,
                ann["owner_path"],
                probe.select("embedding"),
                k=10,
                nprobe=3,
                pre_filter=F.col("owner") == 3,
                min_candidates=10,
                filter_buckets=True,
                min_probe_buckets=16,
            ).collect()
            trace = ix.PROBE_ESCALATION or {}
            n_occ = owner_occupied_count()
            return {
                "rows": len(top),
                "recall_at_10": owner_recall([r["vec_id"] for r in top]),
                # the floor records a trace whenever it raises the
                # base; a missing trace means base == nprobe == the
                # clamped width (tiny occupied universe)
                "buckets_read": trace.get(
                    "nprobe_final", min(3, n_occ)
                ),
                "occupied": n_occ,
                "levels": trace.get("levels"),
                "exhausted_occupied": trace.get("exhaustive"),
            }

        stage(
            "ivf_owner_composed_floor16_default",
            ivf_owner_composed_floor16,
        )

        def ivf_owner_batched_floor16():
            # BATCHED floored serving (r13): the floored bucket union
            # is read ONCE for the whole batch, so the recall floor's
            # per-query cost amortizes with batch size — record
            # batched vs single q/s at the facade's serving knobs.
            from sortify_spark.search import index as ix

            queries = (
                data.filter(
                    (F.col("vec_id") >= 1) & (F.col("vec_id") <= 64)
                )
                .select(
                    F.col("vec_id").cast("string").alias("query_id"),
                    "embedding",
                )
                .localCheckpoint(eager=True)
            )
            t0 = time.time()
            rows = ix.probe_ivf_index_many(
                spark,
                ann["owner_path"],
                queries,
                k=10,
                nprobe=3,
                pre_filter=F.col("owner") == 3,
                min_candidates=10,
                filter_buckets=True,
                min_probe_buckets=16,
            ).collect()
            bt = time.time() - t0
            t0 = time.time()
            n_single = 4
            for q in queries.limit(n_single).collect():
                ix.probe_ivf_index(
                    spark,
                    ann["owner_path"],
                    spark.createDataFrame(
                        [(q["embedding"],)], "embedding array<double>"
                    ),
                    k=10,
                    nprobe=3,
                    pre_filter=F.col("owner") == 3,
                    min_candidates=10,
                    filter_buckets=True,
                    min_probe_buckets=16,
                ).collect()
            st = (time.time() - t0) / n_single
            return {
                "rows": len(rows),
                "batched_queries": 64,
                "batched_qps": round(64 / bt, 1),
                "single_qps": round(1 / st, 2),
                "speedup": round((64 / bt) * st, 1),
            }

        stage("ivf_owner_batched_floor16", ivf_owner_batched_floor16)

        # -- owner-aware artifact LAYOUT A/B (VERDICT r10 #3) ----------
        # Same corpus, same probe, two layouts: the carried-column
        # artifact (owner rides each row, probe row-filters whole
        # buckets) vs layout_col="owner" (each bucket's files range-
        # split on owner; the probe's scan-level pre_filter prunes
        # FILES via parquet footer stats).  Probe results must be
        # identical; input bytes must drop.
        def ivf_owner_layout_ab():
            import urllib.request as _rq

            from sortify_spark.search.index import (
                build_ivf_index,
                probe_ivf_index,
            )

            ui = spark.sparkContext.uiWebUrl
            app = spark.sparkContext.applicationId

            def _stages_rest():
                url = (
                    f"{ui}/api/v1/applications/{app}"
                    "/stages?status=complete"
                )
                with _rq.urlopen(url, timeout=10) as r:
                    return json.load(r)

            owned = data.select(
                "vec_id",
                "embedding",
                "label",
                F.pmod(F.col("vec_id"), F.lit(100)).alias("owner"),
            ).filter(F.col("vec_id") != 0)
            path_lay = os.path.join(derived, "ivf_owner_lay")
            build_ivf_index(
                owned,
                path_lay,
                seed_col="label",
                carry_cols=("owner",),
                layout_col="owner",
                layout_files=8,
            )
            out: dict = {}
            results = {}
            for label, p in (
                ("row_filtered", ann["owner_path"]),
                ("layout_pruned", path_lay),
            ):
                seen = {s["stageId"] for s in _stages_rest()}
                t0 = time.time()
                rows = probe_ivf_index(
                    spark,
                    p,
                    probe.select("embedding"),
                    k=10,
                    nprobe=16,
                    pre_filter=F.col("owner") == 3,
                ).collect()
                sec = time.time() - t0
                new = [
                    s
                    for s in _stages_rest()
                    if s["stageId"] not in seen
                ]
                ib = sum(s.get("inputBytes", 0) for s in new)
                ir = sum(s.get("inputRecords", 0) for s in new)
                results[label] = [
                    (r["vec_id"], round(r["score"], 9)) for r in rows
                ]
                out[label] = {
                    "sec": round(sec, 2),
                    "input_mb": round(ib / 1e6, 2),
                    # the honest pruning metric: rows DECODED by the
                    # scan (post row-group skip).  inputBytes is blind
                    # to parquet data-page IO on this Hadoop build
                    # (vectored reads bypass the FS statistics the
                    # task metric sums — measured r11: bytes ratio
                    # ~1.0 while decoded records dropped 4.5x in this
                    # stage, 6.9x in the isolated full-scan experiment
                    # in SCALE.md), so the ratio below is on records.
                    "input_records": ir,
                }
            assert results["row_filtered"] == results["layout_pruned"], (
                "layout is layout-only: probe results must be identical"
            )
            out["probe_results_identical"] = True
            out["records_ratio_layout_vs_row"] = round(
                out["layout_pruned"]["input_records"]
                / max(1, out["row_filtered"]["input_records"]),
                3,
            )
            return out

        stage("ivf_owner_layout_ab", ivf_owner_layout_ab)

        # -- layout bucket-size CROSSOVER A/B (VERDICT r11 #3) --------
        # Same corpus/probe, three intended shapes per bucket: 8 files
        # (unfloored), ~2 files, 1 file (layout_min_file_rows floor).
        # Records decoded rows (the honest pruning unit), snapshot file
        # count (the per-probe footer/task overhead unit), and per-file
        # rows (the crossover axis vs parquet row-group rows).  The
        # guard's contract: identical probe results, and below the
        # crossover fewer files should cost ~no extra decoded rows.
        def ivf_layout_crossover_ab():
            import urllib.request as _rq

            from sortify_spark.search.index import (
                build_ivf_index,
                probe_ivf_index,
            )
            from sortify_spark.sources.versioned import (
                _partition_row_counts,
                read_manifest,
                snapshot_files,
            )

            ui = spark.sparkContext.uiWebUrl
            app = spark.sparkContext.applicationId

            def _stages_rest():
                url = (
                    f"{ui}/api/v1/applications/{app}"
                    "/stages?status=complete"
                )
                with _rq.urlopen(url, timeout=10) as r:
                    return json.load(r)

            owned = data.select(
                "vec_id",
                "embedding",
                "label",
                F.pmod(F.col("vec_id"), F.lit(100)).alias("owner"),
            ).filter(F.col("vec_id") != 0)
            base_path = os.path.join(derived, "ivf_owner_lay")
            man = read_manifest(f"{base_path}/assign")
            rows_per = _partition_row_counts(
                spark, f"{base_path}/assign", "bucket", man
            )
            mx = max(rows_per.values(), default=1) or 1
            variants: dict[str, tuple[str, int | None]] = {
                "files8_unfloored": (base_path, None),
            }
            for name, floor in (
                ("files2_floored", -(-mx // 2)),
                ("files1_floored", int(mx)),
                # the facade's default (VERDICT r12 #2): floor derived
                # from the assign rows' own width ≈ one parquet row
                # group — at these scales every bucket is far below
                # it, so the default must land on the measured fast
                # (single-file) side of the crossover, converging to
                # files1_floored's shape and wall
                ("auto_derived", "auto"),
            ):
                p = os.path.join(derived, f"ivf_lay_{name}")
                build_ivf_index(
                    owned,
                    p,
                    seed_col="label",
                    carry_cols=("owner",),
                    layout_col="owner",
                    layout_files=8,
                    layout_min_file_rows=floor,
                )
                if floor == "auto":
                    floor = int(
                        read_manifest(f"{p}/assign")["layout_floor"]
                    )
                variants[name] = (p, floor)
            out: dict = {"max_bucket_rows": int(mx)}
            results = {}
            for name, (p, floor) in variants.items():
                files = len(snapshot_files(f"{p}/assign"))
                seen = {s["stageId"] for s in _stages_rest()}
                t0 = time.time()
                rows = probe_ivf_index(
                    spark,
                    p,
                    probe.select("embedding"),
                    k=10,
                    nprobe=16,
                    pre_filter=F.col("owner") == 3,
                ).collect()
                sec = time.time() - t0
                new = [
                    s
                    for s in _stages_rest()
                    if s["stageId"] not in seen
                ]
                results[name] = [
                    (r["vec_id"], round(r["score"], 9)) for r in rows
                ]
                out[name] = {
                    "sec": round(sec, 2),
                    "snapshot_files": files,
                    "input_records": sum(
                        s.get("inputRecords", 0) for s in new
                    ),
                    "floor_rows": floor,
                    "per_file_rows": int(
                        -(-mx // 8) if floor is None
                        else min(mx, floor)
                    ),
                }
            vals = list(results.values())
            assert all(v == vals[0] for v in vals), (
                "layout_min_file_rows is layout-only: probe results "
                "must be identical across shapes"
            )
            out["probe_results_identical"] = True
            return out

        stage("ivf_layout_crossover_ab", ivf_layout_crossover_ab)

        def ann_pq_train():
            # train on the rep-0 sample (vec_id < 1M), label-bounded
            # seeding — codebook size independent of corpus/nlist
            sample = data.filter(F.col("vec_id") < 1_000_000).select(
                "vec_id", (F.col("vec_id") % 10).alias("label"),
                "embedding",
            )
            cb = pqm.codebook(pqm.elements(sample)).persist()
            ann["cb"] = cb
            return {"rows": cb.count()}

        stage("ann_pq_train_sample", ann_pq_train)

        def ann_pq_encode():
            # Arrow/BLAS encode twin (output-equality-tested against
            # the relational encode) — the corpus-scale throughput path
            codes = pqm.encode_np(corpus_v, ann["cb"]).persist()
            ann["codes"] = codes
            return {"rows": codes.count(), "kernel": "arrow_blas"}

        stage("ann_pq_encode_corpus", ann_pq_encode)

        def ann_ivfpq():
            buckets = knn.rank_buckets(
                ann["cents"], probe, nprobe=3, bscore_round=6
            )
            probed_ids = corpus_v.join(
                F.broadcast(buckets), "label", "left_semi"
            ).select("vec_id")
            codes = ann["codes"].join(probed_ids, "vec_id", "left_semi")
            qtab = pqm.cell_dists(
                pqm.elements(
                    probe.select(
                        "vec_id", (F.col("vec_id") % 10).alias("label"),
                        "embedding",
                    )
                ),
                ann["cb"],
            ).select("s", "j", "d2")
            short = pqm.adc_topk(codes, qtab, k=50).select("id")
            shortlisted = corpus_v.join(
                F.broadcast(short),
                corpus_v.vec_id == short.id,
                "left_semi",
            )
            top = knn.brute_force_topk(shortlisted, probe, k=10).collect()
            ids = [r["vec_id"] for r in top]
            return {
                "rows": len(ids),
                "recall_at_10": round(
                    len(set(ids) & set(ann["exact_ids"])) / 10, 3
                ),
                "probe_frac": round(3 / ann["nlist"], 4),
                "adc_shortlist": 50,
            }

        stage("ann_ivfpq_topk", ann_ivfpq)

        def ann_batched_queries():
            # serving throughput: 64 queries through the IVF index in
            # ONE plan — per-query bucket ranking against the broadcast
            # centroid table, bucket-pruned candidate join, per-query
            # top-10 (the knn_batch_queries shape at scale)
            from pyspark.sql.window import Window

            from sortify_spark.functions.vectors import cosine

            NQ = 64
            queries = F.broadcast(
                data.orderBy("vec_id")
                .limit(NQ)
                .select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qe"),
                )
            )
            qb = (
                ann["cents"]
                .crossJoin(queries)
                .select(
                    "query_id",
                    "bucket",
                    "qe",
                    cosine(F.col("centroid"), F.col("qe")).alias("bs"),
                )
                .withColumn(
                    "rn",
                    F.row_number().over(
                        Window.partitionBy("query_id").orderBy(
                            F.desc("bs"), F.asc("bucket")
                        )
                    ),
                )
                .filter(F.col("rn") <= 3)
                .select("query_id", F.col("bucket").alias("label"), "qe")
            )
            scored = corpus_v.join(F.broadcast(qb), "label").select(
                "query_id",
                "vec_id",
                cosine(F.col("embedding"), F.col("qe")).alias("score"),
            )
            w = Window.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("vec_id")
            )
            t0 = time.time()
            n = (
                scored.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= 10)
                .count()
            )
            dt = time.time() - t0
            return {
                "rows": n,
                "queries": NQ,
                "qps": round(NQ / dt, 1),
            }

        stage("ann_batched_64_queries_ivf", ann_batched_queries)

        # -- facade search serving on a 10×-capped corpus ---------------
        # The full e2e stack (ingest → chunk → embed → index → search)
        # with the Arrow-batched hash encoder.
        def facade_stages():
            from sortify_spark.facade import SortifyEngine

            FE = min(args.inflate, 10)
            fdir = os.path.join(derived, "facade")
            os.makedirs(fdir, exist_ok=True)
            reps = F.broadcast(
                spark.range(FE).select(F.col("id").cast("int").alias("rep"))
            )
            fd = base.select("doc_id", "text", "lang", "source").crossJoin(
                reps
            )
            fd = fd.select(
                (F.col("doc_id") + F.col("rep") * 1_000_000).alias(
                    "doc_id"
                ),
                F.when(F.col("rep") == 0, F.col("text"))
                .otherwise(
                    F.concat(
                        F.col("text"), F.lit(" ftag"),
                        F.col("rep").cast("string"),
                    )
                )
                .alias("text"),
                "lang",
                "source",
            ).withColumn("n_chars", F.length("text"))
            fd.repartition(16).write.mode("overwrite").parquet(
                os.path.join(fdir, "documents.parquet")
            )
            evsrc = os.path.join(args.sf_dir, "events.parquet")
            evdst = os.path.join(fdir, "events.parquet")
            if not os.path.exists(evdst):
                os.symlink(evsrc, evdst)
            eng_box: list = []

            def build():
                eng = SortifyEngine(spark, fdir, dim=64, embed="hash")
                eng_box.append(eng)
                return {"rows": eng.vectors.count(), "docs": FE * n_base}

            stage(f"facade_index_build_{FE}x", build)
            eng = eng_box[0]
            qtext = "quality analytics pipeline for training data"

            def hybrid(label):
                def run():
                    rows = eng.semantic_search(qtext, "hybrid").collect()
                    return {"rows": len(rows)}

                return run

            stage("facade_hybrid_cold", hybrid("cold"))
            stage("facade_hybrid_warm", hybrid("warm"))

            # -- batched lexical + hybrid serving from the persisted
            # BM25 artifact (round 8, VERDICT r7 item 5): mirror of the
            # 64-query batched ANN stage for the keyword strategies.
            # Each keyword probe reads only its terms' posting buckets
            # of the committed index — the corpus never rescans.
            def lex_serving():
                from sortify_spark.search.lexical import (
                    probe_lexical_index_many,
                )
                from sortify_spark.sources.versioned import read_manifest

                t0 = time.time()
                eng.rebuild_lexical_index()
                build_sec = round(time.time() - t0, 2)
                path = eng.lexical_index_path()
                m = read_manifest(f"{path}/postings")
                pool = (
                    "data quality spark merge dup pipeline training "
                    "analytics model corpus document search index "
                    "stream batch vector"
                ).split()
                batch = {
                    f"q{i}": (
                        pool[i % 16],
                        pool[(i * 3 + 1) % 16],
                        pool[(i * 7 + 2) % 16],
                    )
                    for i in range(64)
                }
                # batched: 64 queries, ONE plan, one bucket-pruned
                # postings scan (the ANN 64-query stage's twin)
                t0 = time.time()
                n_rows = probe_lexical_index_many(
                    spark, path, batch, k=10
                ).count()
                kw_sec = time.time() - t0
                # per-query serving latency sample (facade path: one
                # probe per call — pays Spark job overhead per query)
                t0 = time.time()
                s_rows = 0
                for i in range(8):
                    s_rows += len(
                        eng.semantic_search(
                            " ".join(batch[f"q{i}"]), "keyword"
                        ).collect()
                    )
                single_sec = time.time() - t0
                t0 = time.time()
                h_rows = 0
                for i in range(8):
                    h_rows += len(
                        eng.semantic_search(
                            " ".join(batch[f"q{i}"]), "hybrid_lexical"
                        ).collect()
                    )
                hy_sec = time.time() - t0
                # r9 (VERDICT r8 #2): the batched facade API — whole
                # query batch per strategy in ONE plan.  64 keyword
                # queries and 64 hybrid queries through
                # semantic_search_many; done-criterion: batched-hybrid
                # q/s within ~2x of the weaker leg (batched lexical).
                texts = {
                    q: " ".join(ts) for q, ts in batch.items()
                }
                t0 = time.time()
                mk_rows = eng.semantic_search_many(
                    texts, "keyword"
                ).count()
                many_kw_sec = time.time() - t0
                t0 = time.time()
                mh_rows = eng.semantic_search_many(
                    texts, "hybrid_lexical"
                ).count()
                many_hy_sec = time.time() - t0
                return {
                    "rows": int(n_rows),
                    "indexed_docs": int(m["n_docs"]),
                    "build_sec": build_sec,
                    "batched_queries": 64,
                    "batched_qps": round(64 / kw_sec, 1),
                    "single_qps": round(8 / single_sec, 2),
                    "hybrid_rows": h_rows,
                    "hybrid_qps": round(8 / hy_sec, 2),
                    "facade_batched_kw_rows": int(mk_rows),
                    "facade_batched_kw_qps": round(64 / many_kw_sec, 1),
                    "facade_batched_hybrid_rows": int(mh_rows),
                    "facade_batched_hybrid_qps": round(
                        64 / many_hy_sec, 1
                    ),
                }

            stage(f"lex_serving_batched_{FE}x", lex_serving)

            # -- the persisted IVF artifact under a long upsert run: 20
            # keyed upsert batches against a built index — every upsert
            # merge-rewrites each touched bucket partition into one
            # file, so probe files stay flat at O(buckets), vacuum
            # reclaims old version dirs, probes are hash-stable across
            # it.
            def ivf_artifact_maintenance():
                import glob

                from sortify_spark.search.index import (
                    build_ivf_index,
                    probe_ivf_index,
                    upsert_ivf_index,
                )
                from sortify_spark.sources.versioned import (
                    snapshot_files,
                    vacuum,
                )

                vecs = eng.vectors.filter(
                    F.col("vtype") == "summary"
                ).select(
                    F.col("vector_id").alias("vec_id"), "embedding"
                )
                vecs = vecs.localCheckpoint(eager=True)
                path = os.path.join(derived, "ivf_maint") + "/ivf"
                build_ivf_index(vecs, path)
                q = eng._query_df(qtext)

                def probe_rows():
                    return [
                        (r["vec_id"], r["score"])
                        for r in probe_ivf_index(
                            spark, path, q, k=20, nprobe=4
                        ).collect()
                    ]

                files_seen, per_batch = [], []
                for b in range(20):
                    batch = vecs.limit(200).select(
                        F.concat(
                            F.lit(f"u{b}#"), F.col("vec_id")
                        ).alias("vec_id"),
                        "embedding",
                    )
                    t0 = time.time()
                    upsert_ivf_index(batch, path)
                    per_batch.append(round(time.time() - t0, 2))
                    files_seen.append(
                        len(snapshot_files(f"{path}/assign"))
                    )
                before_probe = probe_rows()
                dirs_before = len(
                    glob.glob(os.path.join(path, "assign", "v=*"))
                )
                vacuum(f"{path}/assign", keep_last=1)
                dirs_after = len(
                    glob.glob(os.path.join(path, "assign", "v=*"))
                )
                return {
                    "rows": len(before_probe),
                    "probe_files_min": min(files_seen),
                    "probe_files_max": max(files_seen),
                    "version_dirs_before_vacuum": dirs_before,
                    "version_dirs_after_vacuum": dirs_after,
                    "probe_stable_across_vacuum": (
                        probe_rows() == before_probe
                    ),
                    "mean_upsert_sec": round(
                        sum(per_batch) / len(per_batch), 2
                    ),
                }

            stage("ivf_artifact_maintenance_20upsert", ivf_artifact_maintenance)

        facade_stages()

        total = round(sum(s["sec"] for s in stages.values()), 2)
        print(
            json.dumps(
                {
                    "metric": "scale_stress_total",
                    "value": total,
                    "unit": "sec",
                    "inflate": args.inflate,
                    "base_rows": n_base,
                    "rows": n_base * args.inflate,
                    "cc_driver_max_edges": 0,
                    "stages": stages,
                    "sf_dir": args.sf_dir,
                    "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
                }
            )
        )
    finally:
        if not args.keep_data:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
