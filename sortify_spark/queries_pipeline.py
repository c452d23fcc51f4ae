"""Write-path + facade + multimodal queries (rows-only: they involve the
hash-embedding / chunker UDFs or binary payloads, which have no SQL twin;
their invariants are covered by tests/test_pipelines.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sortify_spark.pipelines import ingest_vectorize
from sortify_spark.queries import register, _t


@register(
    "ingest_vectorize_stats",
    None,
    note="§3.4 write path: documents → summary+chunk vectors (chunker UDF "
    "→ posexplode → Arrow-batched embed) aggregated to per-type counts.",
)
def q_ingest_vectorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = ingest_vectorize(
        _t(spark, sf_dir, "documents"), chunk_size=128, overlap=32, dim=16
    )
    return (
        vecs.groupBy("vtype")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("document_id").alias("n_docs"),
            F.round(F.avg(F.length("chunk_text")), 2).alias("avg_chunk_len"),
        )
        .orderBy("vtype")
    )


@register(
    "semantic_search_hybrid",
    None,
    note="V3 end-to-end through the engine facade: hash-embed the query "
    "text, stage-1 summary top-k, stage-2 chunk rerank restricted to "
    "candidates, dedup+backfill (facade.semantic_search).",
)
def q_semantic_search_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark.facade import get_engine

    eng = get_engine(spark, sf_dir, dim=16)
    return eng.semantic_search("data query join table", search_type="hybrid")


@register(
    "multimodal_features",
    None,
    note="Multimodal plumbing: binary payload → mapInPandas feature "
    "extraction (deterministic stub decoder; real decoders injectable), "
    "aggregated per media type.",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sortify_spark.multimodal import extract_features, synthetic_media

    feats = extract_features(synthetic_media(spark, 64))
    return (
        feats.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("n_bytes"), 2).alias("avg_bytes"),
        )
        .orderBy("media_type")
    )
