#!/usr/bin/env python
"""Where driver-served search stops beating the Spark plans, and how
much driver memory a snapshot really takes.

``SortifyEngine.semantic_search`` scores single queries on the driver
from snapshots of the committed artifacts while each snapshot's
estimated resident size is under ``serving.SNAPSHOT_MAX_BYTES``
(``sortify_spark/search/serving.py``).  This script measures both sides
of that gate:

1. **Latency crossover.**  For each corpus size N it swaps a seeded
   synthetic vectors table of N rows (one summary and three chunk
   vectors per document, eight owners) into an engine and times single
   ``summary_only`` and ``rrf_fusion`` searches — the exact dense path,
   which scores every stored vector — on the served path, on the Spark
   path (the gate shut), and the snapshot load the first served search
   after a commit pays.
2. **Resident bytes.**  On an engine over the first ``--docs`` documents
   it loads every snapshot (vectors, BM25, both IVF indexes) under
   ``tracemalloc`` and reports the bytes each one keeps against the
   gate's estimate.

Usage:  python serving_crossover.py --sf-dir DIR [--sizes 4000,40000,400000]
        [--dim 64] [--reps 5] [--docs 400]

``DIR`` holds the ``documents`` parquet table the engine loads.  Prints
one JSON object per line.
"""

from __future__ import annotations

import argparse
import gc
import json
import statistics
import tempfile
import time
import tracemalloc

from pyspark.sql import functions as F

from sortify_spark.facade import SearchConfig, SortifyEngine
from sortify_spark.search import serving
from sortify_spark.session import get_spark

QUERIES = (
    "data pipeline quality",
    "join performance under skew",
    "vector index build and probe",
    "streaming late data watermark",
    "tenant isolation in search",
)


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _synthetic_vectors(spark, n_rows: int, dim: int, seed: int):
    """N rows: per document one summary and three chunk vectors."""
    return (
        spark.range(n_rows)
        .select(
            (F.col("id") / 4).cast("long").cast("string").alias("document_id"),
            F.when(F.col("id") % 4 == 0, "summary")
            .otherwise("chunk")
            .alias("vtype"),
            F.concat(F.lit("o"), (F.col("id") % 8).cast("string")).alias(
                "owner_id"
            ),
            F.array(*[F.randn(seed + j) for j in range(dim)])
            .cast("array<float>")
            .alias("embedding"),
        )
        .persist()
    )


def crossover(spark, sf_dir: str, sizes, dim: int, reps: int) -> None:
    eng = SortifyEngine(
        spark, sf_dir, dim=dim, doc_limit=20, index_root=tempfile.mkdtemp()
    )
    cfg = SearchConfig(top_k=10)
    gate = serving.SNAPSHOT_MAX_BYTES
    for n in sizes:
        old = eng.vectors
        eng.vectors = _synthetic_vectors(spark, n, dim, seed=n)
        eng._vectors_n = eng.vectors.count()
        eng._vectors_gen += 1
        old.unpersist()
        for strategy in ("summary_only", "rrf_fusion"):
            def search(q):
                return eng.semantic_search(q, strategy, cfg).collect()

            serving.SNAPSHOT_MAX_BYTES = 0
            search(QUERIES[0])  # plan warm-up
            on_spark = [_timed(lambda: search(q)) for q in QUERIES[:reps]]
            serving.SNAPSHOT_MAX_BYTES = 1 << 62
            eng._snapshots.clear()
            first = _timed(lambda: search(QUERIES[0]))
            served = [_timed(lambda: search(q)) for q in QUERIES[:reps]]
            print(
                json.dumps(
                    {
                        "measure": "latency",
                        "vectors": n,
                        "dim": dim,
                        "strategy": strategy,
                        "estimated_bytes": serving.vectors_bytes(n, dim),
                        "spark_p50_s": statistics.median(on_spark),
                        "served_p50_s": statistics.median(served),
                        "served_first_s": first,
                    }
                ),
                flush=True,
            )
    serving.SNAPSHOT_MAX_BYTES = gate
    eng.release()


def resident(spark, sf_dir: str, dim: int, docs: int) -> None:
    eng = SortifyEngine(
        spark, sf_dir, dim=dim, doc_limit=docs, owner_col="source",
        index_root=tempfile.mkdtemp(),
    )
    loads = {
        "vectors": eng._vectors_snapshot,
        "lexical": eng._lexical_snapshot,
        "ivf_summary": lambda: eng._ivf_snapshot("summary"),
        "ivf_chunk": lambda: eng._ivf_snapshot("chunk"),
    }
    for name, load in loads.items():
        load()  # builds the artifact and estimates outside the trace
        estimate = eng._snapshots[name][1]
        eng._snapshots.clear()
        gc.collect()
        tracemalloc.start()
        load()
        gc.collect()
        kept, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        print(
            json.dumps(
                {
                    "measure": "resident",
                    "snapshot": name,
                    "docs": docs,
                    "estimated_bytes": estimate,
                    "resident_bytes": kept,
                    "load_peak_bytes": peak,
                    "resident_over_estimate": round(kept / estimate, 3),
                }
            ),
            flush=True,
        )
    eng.release()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--sizes", default="4000,40000,400000")
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--docs", type=int, default=400)
    args = ap.parse_args()
    spark = get_spark("serving-crossover", shuffle_partitions=4)
    resident(spark, args.sf_dir, args.dim, args.docs)
    sizes = [int(s) for s in args.sizes.split(",")]
    crossover(spark, args.sf_dir, sizes, args.dim, args.reps)


if __name__ == "__main__":
    main()
