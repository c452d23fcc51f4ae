"""Driver-resident serving of search, single and batched.

The reference answers every search in-process against a resident
Chroma collection (``vector_db_service.py:18-20,73-76``).  A Spark plan
per search spends its time scheduling ~7 jobs over a corpus that fits in
the driver many times over, so below a size gate the facade serves
``semantic_search`` and ``semantic_search_many`` from numpy copies of
the committed artifacts:

* the served vectors table (per vtype: ids, owners, float64 matrix),
  one Arrow ``toPandas``;
* the BM25 postings (``df`` is a term's span of them) and the anchor's
  ``n_docs``/``sum_dl``;
* the IVF assign rows and the centroids at the manifest's
  ``centroid_version``.

The artifact tables are read on the driver from their committed files
(``versioned.read_versioned_pandas``), so a load plans no Spark job.
A commit that only appends segments and tombstones to a held snapshot
refreshes it (:func:`refresh_lexical`, :func:`refresh_ivf`): the new
segment rows are read and the tombstoned rows dropped.  The vectors
snapshot is refreshed by the mutation itself (:func:`refresh_vectors`
with the rows it already collected).

Every kernel here replays its Spark operator's arithmetic and order
step by step, so the served rows, scores and tie order equal the Spark
plans' exactly:

* cosine folds the dot product and both norms left to right over the
  dimensions (``functions/vectors.dot``/``l2_norm``), never BLAS;
* :func:`spark_round` is Spark's ``ROUND(double, n)`` (HALF_UP on the
  double's shortest decimal form);
* each step keeps its own tie-break: exact top-k on (score desc,
  ``document_id`` asc), IVF top-k on (score desc, ``vec_id`` asc), the
  BM25 limit on (bm25 desc, NUMERIC ``doc_id`` asc), fusion ranks on
  (score desc, STRING id asc).

Snapshots whose estimated resident size is above
:data:`SNAPSHOT_MAX_BYTES` are not loaded; those requests and pinned
versions stay on Spark.
"""

from __future__ import annotations

import heapq
import math
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from sortify_spark.search.fusion import ADD_RANK_MAX_ROWS
from sortify_spark.search.index import (
    _escalation_schedule,
    _set_probe_escalation,
)
from sortify_spark.search.lexical import BM25_B, BM25_K1
from sortify_spark.sources.versioned import (
    live_rows,
    read_appended,
    read_manifest,
    read_versioned_pandas,
)

#: Largest estimated resident size (bytes) of one artifact's snapshot
#: on the driver; a larger artifact is served by the Spark plans.  Set
#: where the first search after a commit — snapshot load plus one
#: served search — stops being cheaper than one Spark search of the
#: cheapest strategy (``summary_only``): between 60k and 100k vectors
#: (36-61 MB estimated) at dim 64 on a 4-CPU box
#: (``serving_crossover.py``).  Every later search before the next
#: commit is 8-33x faster served at every size measured (to 400k
#: vectors).  At most four snapshots are held, and a load peaks at
#: about twice the resident size.
SNAPSHOT_MAX_BYTES = 48 * 1024 * 1024

#: Resident bytes per stored vector row besides its float64 embedding:
#: the key string and its slot, the owner code, the norm, the bucket.
VECTOR_ROW_BYTES = 96
#: Resident bytes per BM25 posting (doc id, tf, dl, owner code) and per
#: vocabulary term (the term string, its slice and dict entry).
POSTING_BYTES = 32
TERM_BYTES = 256

#: Output schemas of the Spark paths, by fusion (``None``: one list).
SCORED_SCHEMA = "id string, score double"
SCHEMAS = {
    None: SCORED_SCHEMA,
    "traditional_merge": SCORED_SCHEMA,
    "rrf_fuse": "id string, rank_summary int, rank_chunks int, rrf_score double",
    "two_stage_hybrid": "id string, score double, tier int",
}
#: ``semantic_search_many``'s schema on both backends, by fusion.
BATCH_SCHEMA = "query_id string, id string, score double, rnk int"
BATCH_SCHEMAS = {
    "two_stage_hybrid": "query_id string, id string, score double, "
    "tier int, rnk int",
}

_DECIMAL = Context(prec=400)


def spark_round(x: float, n: int) -> float:
    """Spark's ``ROUND(double, n)``: ``BigDecimal.valueOf(x)`` (the
    double's shortest decimal form) set to scale ``n`` HALF_UP, back to
    double.  Non-finite values pass through; zero comes back positive."""
    if not math.isfinite(x):
        return x
    q = Decimal(repr(x)).quantize(Decimal(1).scaleb(-n), ROUND_HALF_UP, _DECIMAL)
    return float(q) + 0.0


def _round_all(xs: np.ndarray, n: int) -> np.ndarray:
    return np.array([spark_round(x, n) for x in xs.tolist()], dtype=np.float64)


def _top(keys: np.ndarray, raw: np.ndarray, k: int, margin: float, exact):
    """The k best ``(key, score)`` rows by (score desc, key asc), where
    ``exact(idx)`` gives the true (rounded) scores of the rows ``idx``
    and each lies within ``margin / 2`` of its ``raw`` score.  Only the
    rows whose raw score is within ``margin`` of the k-th best raw score
    can reach the top k, so only those are rounded — the Decimal
    rounding is the served path's per-row cost."""
    idx = np.arange(len(raw))
    if len(raw) > k and np.isfinite(raw).all():
        kth = np.partition(raw, len(raw) - k)[len(raw) - k]
        idx = np.flatnonzero(raw >= kth - margin)
    rows = zip(keys[idx].tolist(), exact(idx).tolist())
    return heapq.nsmallest(k, rows, key=lambda r: (-r[1], r[0]))


def _fold_dot(a_t: np.ndarray, b_t: np.ndarray) -> np.ndarray:
    """Per-column dot products of two dimension-major arrays, folded left
    to right over the dimensions — the IEEE operation sequence of
    ``functions/vectors.dot`` (BLAS sums in blocks and rounds
    differently).  ``b_t`` may be one column (the query)."""
    acc = np.zeros(a_t.shape[1])
    for j in range(a_t.shape[0]):
        acc = acc + a_t[j] * b_t[j]
    return acc


def _norms(a_t: np.ndarray) -> np.ndarray:
    """``functions/vectors.l2_norm`` per column."""
    return np.sqrt(_fold_dot(a_t, a_t))


def _cosine(mat_t: np.ndarray, norms: np.ndarray, q: np.ndarray) -> np.ndarray:
    """``cosine_given_norms(v, q, vn, qn)`` for every column, before
    Spark's ``ROUND(_, 6)``."""
    n = norms * _norms(q[:, None])[0]
    dot = _fold_dot(mat_t, q)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(n == 0.0, 0.0, dot / n)


# -- snapshots ------------------------------------------------------------------


@dataclass(frozen=True)
class Vectors:
    """Scored rows of one artifact: the tie-break ``key`` (``document_id``
    for the vectors table, ``vec_id`` for IVF assign rows), the owner
    (a categorical: one small code per row), the float64 embedding
    matrix stored dimension-major, its norms and, for IVF rows, the
    bucket."""

    key: np.ndarray
    owner: pd.Categorical | None
    emb_t: np.ndarray
    norm: np.ndarray
    bucket: np.ndarray | None = None

    @classmethod
    def of(cls, pdf: pd.DataFrame, key_col: str, dim: int) -> "Vectors | None":
        """From a pandas frame with ``embedding`` arrays; None when a row
        cannot be scored like the Spark fold (a null, wrong-width or
        non-finite embedding)."""
        embs = pdf["embedding"].tolist()
        if any(e is None or len(e) != dim for e in embs):
            return None
        emb_t = (
            np.stack(embs).astype(np.float64).T.copy()
            if embs
            else np.zeros((dim, 0))
        )
        if not np.isfinite(emb_t).all():
            return None
        return cls(
            key=pdf[key_col].to_numpy(dtype=object, copy=True),
            owner=(
                pd.Categorical(pdf["owner_id"]) if "owner_id" in pdf else None
            ),
            emb_t=emb_t,
            norm=_norms(emb_t),
            bucket=(
                pdf["bucket"].to_numpy(dtype=np.int64)
                if "bucket" in pdf
                else None
            ),
        )

    def rows(self, owner: str | None) -> np.ndarray:
        """Indices of the rows the owner filter keeps (all when None)."""
        if owner is None:
            return np.arange(len(self.key))
        return np.flatnonzero(_owned(self.owner, owner))

    def take(self, idx: np.ndarray) -> "Vectors":
        """The rows ``idx`` (indices or a mask)."""
        return Vectors(
            key=self.key[idx],
            owner=None if self.owner is None else self.owner[idx],
            emb_t=self.emb_t[:, idx],
            norm=self.norm[idx],
            bucket=None if self.bucket is None else self.bucket[idx],
        )

    def concat(self, other: "Vectors") -> "Vectors":
        """These rows followed by ``other``'s (norms are per row, so
        they concatenate)."""

        def cat(a, b):
            return None if a is None else np.concatenate([a, b])

        return Vectors(
            key=cat(self.key, other.key),
            owner=None
            if self.owner is None
            else pd.Categorical(
                cat(np.asarray(self.owner, object), np.asarray(other.owner, object))
            ),
            emb_t=np.concatenate([self.emb_t, other.emb_t], axis=1),
            norm=cat(self.norm, other.norm),
            bucket=cat(self.bucket, other.bucket),
        )

    def refreshed(self, drop: np.ndarray, new: "Vectors | None") -> "Vectors":
        """Without the rows ``drop`` masks, plus ``new``."""
        kept = self.take(~drop)
        return kept if new is None else kept.concat(new)


@dataclass(frozen=True)
class Ivf:
    """IVF assign rows and their build's centroids (keyed by bucket)."""

    rows: Vectors
    cents: Vectors


@dataclass(frozen=True)
class Lexical:
    """BM25 statistics and the live postings sorted by term: the postings
    of ``term`` are the rows ``span[term][0]:span[term][1]`` of ``doc``,
    ``tf``, ``dl`` and ``owner`` (so its ``df`` is the span's length);
    ``rows`` keeps them as a frame for refreshes."""

    n_docs: int
    sum_dl: int
    span: dict
    doc: np.ndarray
    tf: np.ndarray
    dl: np.ndarray
    owner: pd.Categorical | None
    rows: pd.DataFrame

    def df(self, term: str) -> int:
        start, end = self.span.get(term, (0, 0))
        return end - start

    def nbytes(self) -> int:
        return len(self.rows) * POSTING_BYTES + len(self.span) * TERM_BYTES


def _owned(owners: pd.Categorical | None, owner: str) -> np.ndarray:
    """Mask of the rows ``owner_id == owner``; an artifact built without
    the ``owner_id`` carry cannot be owner-scoped (the Spark probes fail
    on the missing column too)."""
    if owners is None:
        raise ValueError(
            "owner-scoped search needs an artifact that carries owner_id"
        )
    return np.asarray(owners == owner)


# Gate estimates: the resident size a snapshot will take, from the
# manifests' live row counts (read without a Spark job), before anything
# is loaded.


def vectors_bytes(n_rows: int, dim: int) -> int:
    return n_rows * (dim * 8 + VECTOR_ROW_BYTES)


def _postings(path: str, anchor: dict, columns: list[str]) -> pd.DataFrame:
    try:
        return read_versioned_pandas(
            f"{path}/postings", "pt", columns=columns, manifest=anchor
        )
    except FileNotFoundError:  # every document deleted: nothing can match
        return pd.DataFrame(columns=columns)


def lexical_bytes(path: str, anchor: dict) -> int:
    postings = live_rows(f"{path}/postings", anchor) * POSTING_BYTES
    if postings > SNAPSHOT_MAX_BYTES:
        return postings  # over the gate: no need to count the vocabulary
    terms = _postings(path, anchor, ["term"])["term"].nunique()
    return postings + terms * TERM_BYTES


def ivf_bytes(path: str, manifest: dict, dim: int) -> int:
    cents = read_manifest(f"{path}/centroids", manifest.get("centroid_version"))
    return vectors_bytes(
        live_rows(f"{path}/assign", manifest)
        + live_rows(f"{path}/centroids", cents),
        dim,
    )


def vectors_of(pdf: pd.DataFrame, dim: int) -> dict | None:
    """``{vtype: Vectors}`` of served vectors-table rows; None when some
    vector is unservable."""
    out = {
        vtype: Vectors.of(pdf[pdf["vtype"] == vtype], "document_id", dim)
        for vtype in ("summary", "chunk")
    }
    return None if any(v is None for v in out.values()) else out


#: The served vectors table's columns a snapshot reads.
VECTOR_COLS = ["vtype", "document_id", "owner_id", "embedding"]


def load_vectors(vectors: DataFrame, dim: int) -> dict | None:
    """:func:`vectors_of` the served vectors table (one Arrow collect)."""
    return vectors_of(vectors.select(*VECTOR_COLS).toPandas(), dim)


def refresh_vectors(held: dict, drop_docs, new: pd.DataFrame, dim: int) -> dict | None:
    """``held`` without the rows of the documents ``drop_docs``, plus the
    ``new`` vectors-table rows; None when a new vector is unservable."""
    fresh = vectors_of(new, dim)
    if fresh is None:
        return None
    drop = list(drop_docs)
    return {
        vtype: v.refreshed(np.isin(v.key, drop), fresh[vtype])
        for vtype, v in held.items()
    }


def _ivf_cols(manifest: dict) -> list[str]:
    carry = [c for c in ("owner_id",) if c in (manifest.get("carry") or ())]
    return ["vec_id", *carry, "bucket", "embedding"]


def load_ivf(path: str, manifest: dict, dim: int) -> Ivf | None:
    """The IVF assign rows and their paired centroids at ``manifest``."""
    assign = read_versioned_pandas(
        f"{path}/assign", "bucket", columns=_ivf_cols(manifest),
        manifest=manifest,
    )
    rows = Vectors.of(assign, "vec_id", dim)
    cents = read_versioned_pandas(
        f"{path}/centroids", "part", version=manifest.get("centroid_version")
    ).rename(columns={"centroid": "embedding"})
    cent = Vectors.of(cents[["bucket", "embedding"]], "bucket", dim)
    if rows is None or cent is None:
        return None
    return Ivf(rows=rows, cents=cent)


def refresh_ivf(
    ivf: Ivf, held: dict, path: str, manifest: dict, dim: int
) -> Ivf | None:
    """``ivf`` (the snapshot of ``held``) moved to ``manifest`` when that
    commit only appended segments and tombstones; None otherwise."""
    if manifest.get("centroid_version") != held.get("centroid_version"):
        return None
    delta = read_appended(
        f"{path}/assign", "bucket", held, manifest, _ivf_cols(manifest)
    )
    if delta is None:
        return None
    new, hidden = delta
    fresh = None if new is None else Vectors.of(new, "vec_id", dim)
    if new is not None and fresh is None:
        return None
    rows = ivf.rows.refreshed(np.isin(ivf.rows.key, list(hidden)), fresh)
    return Ivf(rows=rows, cents=ivf.cents)


def _lexical_cols(anchor: dict) -> list[str]:
    owner = ["owner_id"] if "owner_id" in (anchor.get("carry") or ()) else []
    return ["term", "doc_id", "tf", "dl", *owner]


def _lexical(rows: pd.DataFrame, anchor: dict) -> Lexical:
    rows = rows.sort_values("term", kind="stable", ignore_index=True)
    terms, start = np.unique(rows["term"].to_numpy(dtype=object), return_index=True)
    ends = [*start[1:].tolist(), len(rows)]
    return Lexical(
        n_docs=int(anchor["n_docs"]),
        sum_dl=int(anchor["sum_dl"]),
        span=dict(zip(terms.tolist(), zip(start.tolist(), ends))),
        doc=rows["doc_id"].to_numpy(dtype=np.int64),
        tf=rows["tf"].to_numpy(dtype=np.int64),
        dl=rows["dl"].to_numpy(dtype=np.int64),
        owner=(
            pd.Categorical(rows["owner_id"]) if "owner_id" in rows else None
        ),
        rows=rows,
    )


def load_lexical(path: str, anchor: dict) -> Lexical:
    """The live BM25 postings and corpus stats at ``anchor``."""
    return _lexical(_postings(path, anchor, _lexical_cols(anchor)), anchor)


def refresh_lexical(
    lex: Lexical, held: dict, path: str, anchor: dict
) -> Lexical | None:
    """``lex`` (the snapshot of ``held``) moved to ``anchor`` when that
    commit only appended segments and tombstones; None otherwise."""
    delta = read_appended(
        f"{path}/postings", "pt", held, anchor, _lexical_cols(anchor)
    )
    if delta is None:
        return None
    new, hidden = delta
    rows = lex.rows[~lex.rows["doc_id"].isin(list(hidden))]
    if new is not None and len(new):
        rows = pd.concat([rows, new], ignore_index=True)
    return _lexical(rows, anchor)


# -- kernels ---------------------------------------------------------------------


def _topk(vecs: Vectors, idx: np.ndarray, q: np.ndarray, k: int) -> list:
    """``brute_force_topk`` over the rows ``idx``: (key, score) by
    (score desc, key asc), k rows, scores ``ROUND(cosine, 6)``."""
    cos = _cosine(vecs.emb_t[:, idx], vecs.norm[idx], q)
    return _top(vecs.key[idx], cos, k, 2e-6, lambda i: _round_all(cos[i], 6))


def _best_per_doc(rows, doc_of=lambda key: key) -> list:
    """The facade's groupBy-max per document, ordered (score desc, id asc)."""
    best: dict = {}
    for key, score in rows:
        d = doc_of(key)
        if d not in best or score > best[d]:
            best[d] = score
    return sorted(best.items(), key=lambda r: (-r[1], r[0]))


def exact_topk(
    vecs: Vectors, q: np.ndarray, k: int, owner: str | None = None
) -> list:
    """Exact dense leg: top-k vector rows, then the best row per document."""
    return _best_per_doc(_topk(vecs, vecs.rows(owner), q, k))


def ivf_topk(
    ivf: Ivf,
    q: np.ndarray,
    k: int,
    nprobe: int,
    owner: str | None = None,
    min_probe_buckets: int = 0,
) -> list:
    """``probe_ivf_index`` as the facade calls it, then the best row per
    document.  Every stored centroid is ranked (buckets a delete emptied
    included); an owner-scoped probe keeps the tenant's occupied buckets,
    floors the width at ``min(min_probe_buckets, |occupied|)`` and
    escalates until ≥ k of its vectors are in the probed buckets,
    recording ``PROBE_ESCALATION`` exactly as the Spark probe does."""
    _set_probe_escalation(None)
    bscore = _round_all(_cosine(ivf.cents.emb_t, ivf.cents.norm, q), 6)
    ranked = [
        int(b) for _, b in sorted(zip((-bscore).tolist(), ivf.cents.key))
    ]
    idx = ivf.rows.rows(owner)
    if owner is None:
        chosen = ranked[:nprobe]
    else:
        buckets, counts = np.unique(ivf.rows.bucket[idx], return_counts=True)
        per_bucket = dict(zip(buckets.tolist(), counts.tolist()))
        ranked = [b for b in ranked if b in per_bucket]
        base = nprobe
        if ranked:
            base = max(nprobe, min(int(min_probe_buckets), len(ranked)))
        width = 0
        if ranked:
            levels: list[tuple[int, int]] = []
            n_cand = prev = 0
            for p in _escalation_schedule(base, len(ranked)):
                width = p
                n_cand += sum(per_bucket[b] for b in ranked[prev:p])
                prev = p
                levels.append((p, n_cand))
                if n_cand >= k:
                    break
            if len(levels) > 1 or levels[-1][1] < k or base > nprobe:
                _set_probe_escalation(
                    {
                        "levels": levels,
                        "nprobe_final": width,
                        "exhaustive": width >= len(ranked),
                    }
                )
        chosen = ranked[:width]
    idx = idx[np.isin(ivf.rows.bucket[idx], chosen)]
    return _best_per_doc(
        _topk(ivf.rows, idx, q, k), lambda vec_id: vec_id.split("#")[0]
    )


def bm25_topk(
    lex: Lexical, terms: tuple, k: int, owner: str | None = None
) -> list:
    """``probe_lexical_index``: per-term BM25 by ``lexical._score_expr``
    (idf rounded to 12, each term's score to 9, summed in term order,
    the sum rounded to 9) over the docs holding a query term, owner
    filter before ranking, global statistics; the top k by (bm25 desc,
    numeric doc_id asc), ids cast to string."""
    hits = []
    for i, t in enumerate(terms):
        if t not in lex.span:
            continue
        rows = np.arange(*lex.span[t])
        if owner is not None:
            rows = rows[_owned(lex.owner[rows], owner)]
        hits.append((i, rows))
    if not any(len(rows) for _, rows in hits):
        return []
    docs, inv = np.unique(
        np.concatenate([lex.doc[rows] for _, rows in hits]), return_inverse=True
    )
    tf = np.zeros((len(docs), len(terms)))
    dl = np.zeros(len(docs))
    at = 0
    for i, rows in hits:
        slot = inv[at : at + len(rows)]
        at += len(rows)
        tf[slot, i] = lex.tf[rows]
        np.maximum.at(dl, slot, lex.dl[rows])
    avgdl = spark_round(float(lex.sum_dl) / lex.n_docs, 12)
    idf = [
        spark_round(
            (float(lex.n_docs - df) + 0.5) / (float(df) + 0.5), 12
        )
        for df in (lex.df(t) for t in terms)
    ]

    def per_term(i: int, rows) -> np.ndarray:
        t, d = tf[rows, i], dl[rows]
        return idf[i] * (
            (t * (BM25_K1 + 1.0))
            / (t + BM25_K1 * ((1.0 - BM25_B) + BM25_B * (d / avgdl)))
        )

    def exact(rows) -> np.ndarray:
        acc = _round_all(per_term(0, rows), 9)
        for i in range(1, len(terms)):
            acc = acc + _round_all(per_term(i, rows), 9)
        return _round_all(acc, 9)

    every = slice(None)
    raw = sum(per_term(i, every) for i in range(len(terms)))
    # each term's rounding and the sum's move a score by ≤ 0.5e-9, plus
    # a few ulps of float error in large (rational-idf) scores
    margin = (len(terms) + 2) * (1e-9 + 1e-12 * float(np.abs(raw).max()))
    top = _top(docs, raw, k, margin, exact)
    return [(str(d), s) for d, s in top]


def _ranks(scored) -> dict:
    """``fusion.add_rank``: 1-based rank by (score desc, string id asc)
    over its bounded input, the best rank kept for a repeated id."""
    ordered = sorted(scored, key=lambda x: (-x[1], x[0]))
    out: dict = {}
    for r, (i, _) in enumerate(ordered[:ADD_RANK_MAX_ROWS], 1):
        out.setdefault(i, r)
    return out


def rrf_fuse(
    summary, chunks, k: int, w_summary: float, w_chunks: float, top_k: int
) -> list:
    """``fusion.rrf_fuse``: (id, rank_summary, rank_chunks, rrf_score)."""
    rs, rc = _ranks(summary), _ranks(chunks)
    fused = []
    for i in {*rs, *rc}:
        a, b = rs.get(i), rc.get(i)
        score = (w_summary / float(k + a) if a is not None else 0.0) + (
            w_chunks / float(k + b) if b is not None else 0.0
        )
        fused.append((i, a, b, spark_round(score, 6)))
    return sorted(fused, key=lambda r: (-r[3], r[0]))[:top_k]


def traditional_merge(summary, chunks, top_k: int) -> list:
    """``fusion.traditional_merge``: max score per id, (score desc, id asc)."""
    return _best_per_doc([*summary, *chunks])[:top_k]


def two_stage_hybrid(
    summary, chunk_scored_fn, stage1_k: int, top_k: int,
    materialize_stage1: bool = True,
) -> list:
    """``fusion.two_stage_hybrid``: stage 1 = the summary list's top
    ``stage1_k`` by rank; ``chunk_scored_fn(candidate_ids)`` returns the
    stage-2 (id, score) chunk rows (not deduped per document); each id
    keeps its best (tier, score) row, stage 2 = tier 0, and the result
    is ordered (tier asc, score desc, id asc).  A list is always
    materialized, so ``materialize_stage1`` changes nothing here."""
    stage1 = sorted(summary, key=lambda x: (-x[1], x[0]))[:stage1_k]
    rows = [(i, s, 0) for i, s in chunk_scored_fn({i for i, _ in stage1})]
    rows += [(i, s, 1) for i, s in stage1]
    best: dict = {}
    for i, s, tier in rows:
        if i not in best or (tier, -s) < (best[i][2], -best[i][1]):
            best[i] = (i, s, tier)
    return sorted(best.values(), key=lambda r: (r[2], -r[1], r[0]))[:top_k]


def chunk_rows(
    vecs: Vectors, q: np.ndarray, candidates: set, k: int, owner: str | None
) -> list:
    """The hybrid's stage 2: the top k chunk rows of the candidate
    documents (owner-filtered), one row per chunk."""
    idx = vecs.rows(owner)
    idx = idx[np.isin(vecs.key[idx], list(candidates))]
    return _topk(vecs, idx, q, k)


_PANDAS_TYPES = {"string": object, "double": "float64", "int": "Int32"}


def to_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """The served rows as one small DataFrame with the Spark path's
    schema, built through Arrow (empty results keep the schema)."""
    fields = [f.split() for f in schema.split(",")]
    pdf = pd.DataFrame(rows, columns=[c for c, _ in fields]).astype(
        {c: _PANDAS_TYPES[t] for c, t in fields}
    )
    return spark.createDataFrame(pdf, schema)
