"""The write path (SURVEY.md §3.4): ingest → chunk → embed → vectors.

Reference pipeline (``semantic_summary_service.py:257-431``): delete old
vectors → summary text (F5) → summary vector → chunks (F2) → chunk
embeddings (F7, batch 32) → batch insert (S9) → status update.  Here it
is ONE DataFrame job: the summary branch and the exploded chunk branch
union into the vectors-table schema, embeddings computed by the
Arrow-batched stub encoder (swap for a real model UDF at will).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sortify_spark.functions.text import (
    DEFAULT_CHUNK_SIZE,
    DEFAULT_OVERLAP,
    explode_chunks,
    truncate_col,
)
from sortify_spark.functions.vectors import hash_embed_udf

SUMMARY_MAX_CHARS = 512  # reference embedding input truncation


def _owner_expr(owner_col: str | None):
    return F.col(owner_col).cast("string") if owner_col else F.lit("default")


def _summary_branch(
    documents: DataFrame, id_col: str, text_col: str, owner_col: str | None
) -> DataFrame:
    """The summary half of the write path, shared by both encoders:
    1 row per doc, text hard-truncated to the reference's embedding
    input budget."""
    return documents.select(
        F.col(id_col).cast("string").alias("document_id"),
        _owner_expr(owner_col).alias("owner_id"),
        F.lit("summary").alias("vtype"),
        F.lit(0).alias("chunk_index"),
        F.lit(1).alias("total_chunks"),
        truncate_col(F.col(text_col), SUMMARY_MAX_CHARS).alias("chunk_text"),
    )


def _assemble_vectors(
    summary: DataFrame, chunks: DataFrame, embed_col
) -> DataFrame:
    """Union the two branches onto the vectors-table schema and attach
    embeddings — the shared tail of both write paths (editing the
    vector_id format or output schema in one place keeps the hash-mode
    and expr-mode indexes in lockstep)."""
    unioned = summary.unionByName(chunks)
    return unioned.select(
        F.concat_ws(
            "#", "document_id", "vtype", F.col("chunk_index").cast("string")
        ).alias("vector_id"),
        "document_id",
        "owner_id",
        "vtype",
        "chunk_index",
        "total_chunks",
        "chunk_text",
        embed_col(F.col("chunk_text")).alias("embedding"),
    )


def ingest_vectorize(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    owner_col: str | None = None,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
    dim: int = 64,
) -> DataFrame:
    """documents → vectors-table rows (1 summary + N chunk vectors per
    doc, ``vector_db_service.py:112-126``).

    Plan shape: two branches off one scan — summary (truncate → embed)
    and chunks (UDF explode → embed) — unioned by name.  The encoder runs
    once per output row over Arrow batches; at scale this is the job you
    partition by date/owner and run incrementally.
    """
    embed = hash_embed_udf(dim)
    summary = _summary_branch(documents, id_col, text_col, owner_col)
    chunks = explode_chunks(
        documents,
        id_col,
        text_col,
        chunk_size,
        overlap,
        carry_cols=(owner_col,) if owner_col else (),
    ).select(
        F.col(id_col).cast("string").alias("document_id"),
        _owner_expr(owner_col).alias("owner_id"),
        F.lit("chunk").alias("vtype"),
        F.col("chunk_index"),
        F.col("total_chunks"),
        F.col("chunk_text"),
    )
    return _assemble_vectors(summary, chunks, lambda c: embed(c))


def ingest_vectorize_expr(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    owner_col: str | None = None,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
    dim: int = 16,
) -> DataFrame:
    """:func:`ingest_vectorize`'s fully SQL-replayable twin: fixed-width
    chunking (stride = size − overlap, same shape as the oracle-green
    ``chunk_fixed_width`` query) and the md5 expression embedder
    (``functions/sql_embed.expr_embed``) instead of the sentence-snap
    chunker UDF + sha1-numpy encoder.

    Same output schema and same plan shape (two branches off one scan,
    union), but **zero Python in the plan** — every stage is Catalyst
    expressions, so (a) a DuckDB oracle can replay the entire write path
    bit-exactly, and (b) at 100 TB the ingest runs whole-stage-codegen'd
    with no Python workers.  The UDF variant remains the swap-in point
    for a real model encoder.
    """
    from sortify_spark.functions.sql_embed import expr_embed

    stride = chunk_size - overlap
    summary = _summary_branch(documents, id_col, text_col, owner_col)
    n_chunks = F.ceil(
        F.greatest(F.length(text_col) - overlap, F.lit(1)) / stride
    ).cast("int")
    chunks = (
        documents.filter(F.length(text_col) > 0)
        .select(
            F.col(id_col).cast("string").alias("document_id"),
            _owner_expr(owner_col).alias("owner_id"),
            n_chunks.alias("total_chunks"),
            F.posexplode(
                F.sequence(F.lit(1), n_chunks)
            ).alias("chunk_index", "__x"),
            F.col(text_col),
        )
        .select(
            "document_id",
            "owner_id",
            F.lit("chunk").alias("vtype"),
            F.col("chunk_index"),
            "total_chunks",
            F.col(text_col)
            .substr(F.col("chunk_index") * stride + 1, F.lit(chunk_size))
            .alias("chunk_text"),
        )
    )
    return _assemble_vectors(
        summary, chunks, lambda c: expr_embed(c, dim)
    )


def ingest_vectorize_expr_oracle_sql(
    doc_limit: int | None = None,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
    dim: int = 16,
    owner_expr: str | None = None,
) -> str:
    """DuckDB CTE chain replaying :func:`ingest_vectorize_expr` over the
    ``documents`` view bit-exactly — generated from the same constants so
    engine and oracle cannot drift.  Yields CTEs ending in
    ``vec(document_id, vtype, chunk_index, total_chunks, chunk_text, e,
    vn)`` where ``e`` is the normalized embedding and ``vn`` its fold
    norm (≈1; kept because the engine re-folds norms when scoring).

    ``owner_expr`` (a SQL expression over the documents row, e.g.
    ``"source"``) replays the ``owner_col`` tenant column: ``vec`` then
    also carries ``owner_id`` — the oracle substrate for owner-scoped
    search replays."""
    from sortify_spark.functions import sql_embed as SE

    stride = chunk_size - overlap
    where = f"WHERE doc_id < {doc_limit}" if doc_limit is not None else ""
    own_src = (
        f", CAST({owner_expr} AS VARCHAR) AS owner_id" if owner_expr else ""
    )
    own = ", owner_id" if owner_expr else ""
    return f"""
    src AS (SELECT doc_id, text{own_src} FROM documents {where}),
    vsrc AS (
      SELECT CAST(doc_id AS VARCHAR) AS document_id, 'summary' AS vtype,
             0 AS chunk_index, 1 AS total_chunks,
             CASE WHEN length(text) <= {SUMMARY_MAX_CHARS} THEN text
                  ELSE substr(text, 1, {SUMMARY_MAX_CHARS}) || '...'
             END AS chunk_text{own}
      FROM src
      UNION ALL
      SELECT CAST(doc_id AS VARCHAR), 'chunk',
             CAST(i AS INT),
             CAST(ceil(greatest(length(text) - {overlap}, 1)
                       / {stride}.0) AS INT),
             substr(text, CAST(i * {stride} + 1 AS BIGINT), {chunk_size}){own}
      FROM src, LATERAL unnest(range(0,
           CAST(ceil(greatest(length(text) - {overlap}, 1)
                     / {stride}.0) AS BIGINT))) AS u(i)
      WHERE length(text) > 0
    ),
    tokd AS (SELECT *, {SE.tokens_sql('chunk_text')} AS toks FROM vsrc),
    rawe AS (SELECT *, {SE.raw_embed_sql('toks', dim)} AS re FROM tokd),
    nrm AS (SELECT *, {SE.norm_sql('re')} AS n0 FROM rawe),
    vec AS (
      SELECT document_id, vtype, chunk_index, total_chunks, chunk_text{own},
             {SE.normalize_sql('re', 'n0')} AS e,
             {SE.norm_sql(SE.normalize_sql('re', 'n0'))} AS vn
      FROM nrm
    )
    """


def delete_vectors_for_docs(
    vectors: DataFrame, doc_ids: DataFrame, key: str = "document_id"
) -> DataFrame:
    """S10: vector delete by document id — anti-join rewrite of
    ``collection.delete(where={document_id})``
    (``vector_db_service.py:263-323``); with Delta this is a DELETE."""
    return vectors.join(F.broadcast(doc_ids), on=key, how="left_anti")


def refresh_vectors(
    vectors: DataFrame, documents: DataFrame, id_col: str = "doc_id", **kw
) -> DataFrame:
    """Delete-then-append re-vectorization of changed docs — the
    reference's per-doc update loop as one set-level job."""
    ids = documents.select(F.col(id_col).cast("string").alias("document_id"))
    kept = delete_vectors_for_docs(vectors, ids)
    return kept.unionByName(ingest_vectorize(documents, id_col=id_col, **kw))
