"""Text processing (SURVEY.md §2.8 F2-F5): chunker, truncation, compression.

Reference semantics (NOT a port of the code): overlapping fixed-size
windows with sentence-boundary snapping (reference
``backend/app/utils/text_processing.py:5-66``), sentence/word-boundary
truncation (``:68-109``), budgeted list compression (``:111-176``).

The chunker is the engine's only UDTF-shaped operator: a vectorized
pandas UDF returning ``array<string>`` that callers ``explode`` into
(doc_id, chunk_index, chunk_text) rows — Spark's idiomatic
one-row-to-many pattern.  Python-side cost is amortized over Arrow
batches; the per-row work is pure string slicing.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Reference defaults: chunk 512 chars, overlap 50
#: (``backend/app/core/config.py:34-35``).
DEFAULT_CHUNK_SIZE = 512
DEFAULT_OVERLAP = 50

#: Sentence-ending punctuation, CJK + Latin
#: (reference regex ``[。！？.!?]``, ``text_processing.py:21-23``).
SENTENCE_ENDS = "。！？.!?"


def chunk_text(
    text: str | None,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
) -> list[str]:
    """Split text into overlapping windows, snapping each window end back
    to the last sentence boundary found in the window's second half.

    Invariants (property-tested): every chunk is non-empty and at most
    ``chunk_size`` chars; consecutive chunk starts advance monotonically;
    the full text is covered.
    """
    if not text:
        return []
    n = len(text)
    chunks: list[str] = []
    start = 0
    while start < n:
        end = min(start + chunk_size, n)
        if end < n:
            # Search back over the window's second half for a sentence end.
            half = start + max(chunk_size // 2, 1)
            snap = -1
            for i in range(end - 1, half - 1, -1):
                if text[i] in SENTENCE_ENDS:
                    snap = i + 1
                    break
            if snap > start:
                end = snap
        piece = text[start:end].strip()
        if piece:
            chunks.append(piece)
        if end >= n:
            break
        start = max(end - overlap, start + 1)
    return chunks


def chunk_udf(
    chunk_size: int = DEFAULT_CHUNK_SIZE, overlap: int = DEFAULT_OVERLAP
):
    """Arrow-batched chunker UDF: ``array<string>`` per document."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _chunk(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: chunk_text(t, chunk_size, overlap))

    return _chunk


def explode_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """documents → (id, [carry…], chunk_index, total_chunks, chunk_text)
    rows — the write-path chunking stage (reference
    ``semantic_summary_service.py:257-431`` builds exactly these rows
    before embedding).  ``posexplode`` keeps the chunk index without a
    window."""
    par = df.sparkSession.sparkContext.defaultParallelism
    keep = [F.col(id_col), *[F.col(c) for c in carry_cols]]
    chunks = (
        df.select(*keep, F.col(text_col))
        .repartition(par)
        .select(
            *keep,
            chunk_udf(chunk_size, overlap)(F.col(text_col)).alias("__chunks"),
        )
    )
    return chunks.select(
        id_col,
        *carry_cols,
        F.size("__chunks").alias("total_chunks"),
        F.posexplode("__chunks").alias("chunk_index", "chunk_text"),
    )


def smart_truncate(
    text: str | None, max_length: int, ellipsis: str = "..."
) -> str | None:
    """F3: cut at a sentence boundary if one lies past 70% of the budget,
    else at a word boundary past 80%, else hard-cut; append ellipsis
    (reference ``text_processing.py:68-109``)."""
    if text is None or len(text) <= max_length:
        return text
    window = text[:max_length]
    best_sentence = max(window.rfind(c) for c in SENTENCE_ENDS)
    if best_sentence >= int(max_length * 0.7):
        return window[: best_sentence + 1]
    best_space = window.rfind(" ")
    if best_space >= int(max_length * 0.8):
        return window[:best_space] + ellipsis
    return window + ellipsis


def smart_compress_list(
    items: list[str] | None,
    budget: int,
    per_item_max: int = 50,
    sep: str = ", ",
    more_suffix: str = " +{n} more",
) -> str:
    """F4: join list items under a character budget, truncating long items
    and appending a ``+N more`` marker for the tail that did not fit
    (reference ``text_processing.py:111-176``; used when composing
    embedding input text F5)."""
    if not items:
        return ""
    out: list[str] = []
    used = 0
    for i, item in enumerate(items):
        piece = smart_truncate(item, per_item_max) or ""
        cost = len(piece) + (len(sep) if out else 0)
        if used + cost > budget:
            remaining = len(items) - i
            return sep.join(out) + more_suffix.format(n=remaining)
        out.append(piece)
        used += cost
    return sep.join(out)


def truncate_col(col: Column | str, max_length: int) -> Column:
    """Column-level hard truncation with ellipsis — the JVM-side fast path
    used when sentence-snapping is not required."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(c) <= max_length, c).otherwise(
        F.concat(F.substring(c, 1, max_length), F.lit("..."))
    )


# ---------------------------------------------------------------------------
# PII scrubbing (training-data pipeline hygiene)
# ---------------------------------------------------------------------------

#: Deliberately conservative, precision-first patterns (the C4/RefinedWeb
#: practice): emails, international-ish phone numbers, and 16-digit card
#: numbers.  Recall-first PII detection needs a model pass; these regexes
#: are the cheap JVM-side sweep that runs over every byte of a 100 TB
#: corpus, so they must stay whole-stage-codegen expressions — no UDF.
#: CONSTRAINT: each pattern must stay inside the Java-regex / RE2 common
#: subset (no lookbehind, no backreferences, no possessive quantifiers)
#: because the DuckDB oracle replays them with RE2, and must contain no
#: single quote — the oracle splices them into single-quoted SQL
#: literals verbatim (_pii_audit_sql asserts this at oracle-build time).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("card", r"\b(?:\d[ -]?){15}\d\b", "<CARD>"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


def redact_pii(col: Column | str) -> Column:
    """Replace every PII match with its placeholder token, in pattern
    order — card MUST precede phone (the looser phone pattern would
    otherwise consume 16-digit card groups first).  Chained
    ``regexp_replace`` stays inside codegen — one projection, no
    shuffle, no Python."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, token in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


def pii_counts(col: Column | str) -> Column:
    """``map<string,int>`` of per-category match counts for audit
    dashboards (docs flagged, redactions applied) — counting before
    redacting lets the pipeline emit both in one pass.  Categories are
    counted independently on the raw text, so a card number also counts
    as a phone-shaped match; redaction order (see above) decides the
    emitted token."""
    c = F.col(col) if isinstance(col, str) else col
    return F.map_from_arrays(
        F.array(*[F.lit(name) for name, _, _ in PII_PATTERNS]),
        F.array(*[F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
                  for _, pat, _ in PII_PATTERNS]),
    )


# ---------------------------------------------------------------------------
# Pseudo-paragraphs (Dolma-style paragraph dedup, batch and streaming)
# ---------------------------------------------------------------------------

PARA_W = 8  #: words per pseudo-paragraph (non-overlapping, tail kept short)
#: composite (doc_id, pidx) -> bigint for the map-side-combinable MIN:
#: pidx < 2^20 (a doc would need > 8M words to overflow) and
#: doc_id < 2^43 — both documented bounds, asserted nowhere because a
#: violation overflows into a WRONG winner, not a crash: the unit test
#: pins the contract instead.
PARA_POS_BASE = 1 << 20


def paragraphs_of(docs: DataFrame, para_w: int = PARA_W) -> DataFrame:
    """Pseudo-paragraph rows (doc_id, source, pidx, ptext, pos_key):
    non-overlapping ``para_w``-word windows (trailing partial kept, so
    a doc is exactly the concatenation of its paragraphs in pidx
    order); ``pos_key = doc_id * 2^20 + pidx`` is the composite bigint
    the keep-first winner MIN aggregates over.  Shared by the batch
    paragraph-dedup operator and the streaming variant
    (``streaming.pipeline.paradedup_stream``)."""
    from sortify_spark.operators.partitioning import fan_out

    par = docs.sparkSession.sparkContext.defaultParallelism
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    return (
        fan_out(docs)
        .select("doc_id", "source", words.alias("w"))
        # Exchange = projection-collapse barrier (dedup.py:170-192):
        # without it the split re-evaluates inside every slice()
        .repartition(par, "doc_id")
        .select(
            "doc_id",
            "source",
            F.posexplode(
                F.when(F.size("w") <= 0, F.array().cast("array<string>"))
                .otherwise(
                    F.expr(
                        f"transform(sequence(0, (size(w) + {para_w - 1}) "
                        f"DIV {para_w} - 1), "
                        f"s -> array_join(slice(w, s * {para_w} + 1, "
                        f"{para_w}), ' '))"
                    )
                )
            ).alias("pidx", "ptext"),
        )
        .withColumn(
            "pos_key",
            F.col("doc_id") * F.lit(PARA_POS_BASE) + F.col("pidx"),
        )
    )


def rebuild_expr() -> Column:
    """Aggregate expression reassembling a doc's text from its
    surviving (pidx, ptext) rows — shared by the batch and streaming
    paradedup twins, whose oracle hash-match depends on this staying
    byte-identical on both paths."""
    return F.expr(
        "array_join(transform(array_sort(collect_list("
        "struct(pidx, ptext))), x -> x.ptext), ' ')"
    )


def md5_prefix_bigint(col: Column | str) -> Column:
    """The repo's hash-bucket idiom as a value hash: first 7 md5 hex
    chars of a string column as bigint (DuckDB:
    ``('0x' || substring(md5(c), 1, 7))::BIGINT``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(F.md5(c.cast("binary")), 1, 7), 16, 10
    ).cast("bigint")
