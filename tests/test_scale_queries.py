"""Scale-operator properties: sessionization invariants and ANN recall."""

from __future__ import annotations

import pyspark.sql.functions as F

from sortify_spark.all_queries import REGISTRY
from tests.conftest import SF_DIR


def test_sessions_cover_all_events(spark):
    """Session event counts must sum to the filtered event count and
    session indexes per user must be 1..n without holes."""
    from sortify_spark.tables import load_table

    sessions = REGISTRY["user_sessions"].fn(spark, SF_DIR)
    events = load_table(spark, SF_DIR, "events").filter(F.col("user_id") < 40)
    assert (
        sessions.agg(F.sum("n_events")).first()[0] == events.count()
    )
    per_user = sessions.groupBy("user_id").agg(
        F.max("session_idx").alias("mx"), F.count(F.lit(1)).alias("n")
    )
    assert per_user.filter(F.col("mx") != F.col("n")).count() == 0
    assert sessions.filter(F.col("duration_us") < 0).count() == 0


def test_knn_lsh_recall_vs_exact(spark):
    """LSH top-10 must recover most of the exact L2 top-10."""
    from sortify_spark.tables import load_table
    from pyspark.ml.functions import array_to_vector

    from sortify_spark.queries_scale import knn_lsh_mllib

    lsh_ids = {
        r["vec_id"] for r in knn_lsh_mllib(spark, SF_DIR).collect()
    }
    emb = load_table(spark, SF_DIR, "embeddings")
    dim = len(emb.first()["embedding"])
    key = F.array(*[F.lit(0.1)] * dim).cast("array<double>")
    exact = (
        emb.select(
            "vec_id",
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding").cast("array<double>"),
                        key,
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(10)
    )
    exact_ids = {r["vec_id"] for r in exact.collect()}
    assert len(lsh_ids & exact_ids) >= 5, (lsh_ids, exact_ids)


def test_email_ingest_deterministic(spark):
    a = REGISTRY["email_ingest"].fn(spark, SF_DIR).collect()
    b = REGISTRY["email_ingest"].fn(spark, SF_DIR).collect()
    assert a == b
    assert len(a) == 3
    # fallback id for the message without a Message-ID
    assert any(r["_id"].startswith("email-") for r in a)
    # HTML stripped from bodies
    assert all("<" not in r["extracted_text"] for r in a)


def test_decontamination_flags_planted_overlap(spark):
    """A train doc sharing a 5-word run with a bench doc is flagged;
    disjoint docs are not."""
    from sortify_spark.dedup import contaminated_by_shingles

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox jumps right out"),
            (2, "completely different words with no shared run at all"),
            (3, "short"),
        ],
        "doc_id long, text string",
    )
    flagged = {
        r.id
        for r in contaminated_by_shingles(train, bench, shingle_k=5).collect()
    }
    assert flagged == {1}


def test_approx_percentiles_close_to_exact(spark):
    from sortify_spark.all_queries import REGISTRY
    from tests.conftest import SF_DIR

    exact = {
        r.event_type: r.p50
        for r in REGISTRY["latency_percentiles"].fn(spark, SF_DIR).collect()
    }
    approx = {
        r.event_type: r.p50
        for r in REGISTRY["latency_percentiles_approx"]
        .fn(spark, SF_DIR)
        .collect()
    }
    assert set(exact) == set(approx)
    for k in exact:
        assert abs(exact[k] - approx[k]) <= max(0.05 * abs(exact[k]), 1e-6)


def test_semdedup_np_twin_matches(spark):
    """The Arrow/BLAS SemDeDup kernel must produce exactly the
    expression kernel's output (same blocks, same drop decisions, same
    survivor checksum) — the round-to-6 contract absorbs the ulp-level
    summation-order difference between BLAS and the sequential fold."""
    from sortify_spark.queries_curation2 import (
        semdedup_stats,
        semdedup_stats_np,
    )
    from sortify_spark.tables import load_table
    from tests.conftest import SF_DIR_MID

    emb = load_table(spark, SF_DIR_MID, "embeddings")
    a = [tuple(r) for r in semdedup_stats(emb).collect()]
    b = [tuple(r) for r in semdedup_stats_np(emb).collect()]
    assert a == b


def test_semdedup_np_twin_edge_blocks(spark):
    """Edge blocks: a zero vector (cosine guard → 0, never dropped at
    tau > 0), a singleton label (no pairs), and an exact-duplicate pair
    (cos 1.0 → later id dropped) — both kernels must agree exactly."""
    from sortify_spark.queries_curation2 import (
        semdedup_stats,
        semdedup_stats_np,
    )

    rows = [
        (1, 0, [0.0] * 4),          # zero vector
        (2, 0, [1.0, 0.0, 0.0, 0.0]),
        (3, 0, [1.0, 0.0, 0.0, 0.0]),   # exact dup of 2 → dropped
        (4, 0, [0.0, 1.0, 0.0, 0.0]),   # orthogonal → kept
        (9, 7, [0.5, 0.5, 0.5, 0.5]),   # singleton block
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    a = [tuple(r) for r in semdedup_stats(emb).collect()]
    b = [tuple(r) for r in semdedup_stats_np(emb).collect()]
    assert a == b
    by_label = {r[0]: r for r in a}
    # label 0: 4 vecs, only vec 3 dropped (dup of 2)
    assert by_label[0][1:] == (4, 1, 3, 1 + 2 + 4)
    # label 7: singleton, nothing dropped
    assert by_label[7][1:] == (1, 0, 1, 9)


def test_sequence_packing_salted_conserves_tokens(spark):
    """The skew path (shards > 1) must conserve exactly the same token
    mass and doc count per source as the single-window shape, keep
    every sequence within budget except for straddle carryover, and pay
    at most `shards` extra tail sequences per source."""
    from sortify_spark.queries_curation2 import (
        PACK_BUDGET,
        pack_sequences,
    )
    from sortify_spark.tables import load_table
    from tests.conftest import SF_DIR_MID

    docs = load_table(spark, SF_DIR_MID, "documents")
    base = pack_sequences(docs).collect()
    salted = pack_sequences(docs, shards=4).collect()

    def tot(rows):
        out = {}
        for r in rows:
            d = out.setdefault(r["source"], [0, 0])
            d[0] += r["docs"]
            d[1] += r["tokens"]
        return out

    assert tot(base) == tot(salted)
    # sequence ids are namespaced per shard
    assert {r["seq_id"] // 1_000_000_000 for r in salted} == {0, 1, 2, 3}
    # every non-tail sequence starts below budget (a doc is assigned to
    # the sequence where it STARTS, so sums can straddle past budget by
    # less than one doc)
    max_doc = max(r["tokens"] / r["docs"] for r in salted)
    assert all(
        r["tokens"] < PACK_BUDGET + max_doc * r["docs"] for r in salted
    )
    # tail-sequence overhead bounded: shards × sources extra sequences
    n_sources = len({r["source"] for r in base})
    assert len(salted) <= len(base) + 4 * n_sources


def test_kmv_sketch_merges(spark):
    """KMV mergeability: shard the events 8 ways, take each shard's k
    smallest hashes, union the shards and re-take k — the merged sketch
    must be IDENTICAL to the sketch computed globally (the property
    that lets 1000 executors sketch independently and combine)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from sortify_spark.queries_curation2 import KMV_K
    from sortify_spark.tables import load_table
    from tests.conftest import SF_DIR_MID

    events = load_table(spark, SF_DIR_MID, "events")
    h = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
            16,
            10,
        )
        .cast("bigint")
        .alias("h")
    )
    hashes = events.select("event_type", h).distinct()

    def topk(df, extra_part=()):
        rn = F.row_number().over(
            W.partitionBy("event_type", *extra_part).orderBy(F.asc("h"))
        )
        return df.withColumn("rn", rn).filter(F.col("rn") <= KMV_K).drop(
            "rn"
        )

    global_sk = topk(hashes)
    sharded = hashes.withColumn(
        "shard", F.pmod(F.crc32(F.col("h").cast("string")), 8)
    )
    shard_sks = topk(sharded, ("shard",)).drop("shard").distinct()
    merged = topk(shard_sks)
    a = sorted(map(tuple, global_sk.collect()))
    b = sorted(map(tuple, merged.collect()))
    assert a == b and len(a) > 0
