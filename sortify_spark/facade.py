"""Engine facade (SURVEY.md §7.0-d): the reference's API surface as
Python calls returning DataFrames.

Each method is a thin composition over the operator library — the
facade owns defaults (reference config values) and tenant isolation,
never new plan logic.  LLM-powered stages (intent classification, query
rewrite, spec generation) are injected callables with deterministic
defaults, keeping the data plane hermetic (SURVEY.md §2.12).
"""

from __future__ import annotations

import math
import warnings
from dataclasses import dataclass
from types import SimpleNamespace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sortify_spark.cache import QueryResultCache
from sortify_spark.functions.vectors import hash_embed_text
from sortify_spark.operators.aggregates import dashboard_counts
from sortify_spark.operators.filters import DocumentFilter
from sortify_spark.operators.pagination import page_with_total, validated_order
from sortify_spark.pipelines import ingest_vectorize, ingest_vectorize_expr
from sortify_spark.plans.query_spec import QuerySpec, compile_spec
from sortify_spark.search import fusion, serving
from sortify_spark.search.knn import brute_force_topk
from sortify_spark.tables import load_table

#: Reference search defaults (``backend/app/core/config.py:27-43``).
DEFAULT_TOP_K = 10
STAGE1_K = 10
STAGE2_K = 5

#: ``semantic_search`` strategies: name -> (dense legs by vtype, BM25
#: leg, fusion).  Both backends — the Spark plans and the driver-served
#: snapshots — compose their legs from this one table
#: (:func:`_compose`); any other name is the two-stage hybrid (V3).
STRATEGIES = {
    "keyword": ((), True, None),
    "summary_only": (("summary",), False, None),
    "chunks_only": (("chunk",), False, None),
    "rrf_fusion": (("summary", "chunk"), False, "rrf_fuse"),
    "traditional": (("summary", "chunk"), False, "traditional_merge"),
    "hybrid_lexical": (("summary",), True, "rrf_fuse"),
    "hybrid": (("summary",), False, "two_stage_hybrid"),
}


def _compose(strategy: tuple, cfg, fuse, dense, lexical, chunks):
    """One search from its legs: ``dense(vtype, k)`` and ``lexical(k)``
    return ``(id, score)`` lists (DataFrames or driver lists),
    ``chunks(candidates)`` the two-stage hybrid's stage-2 chunk rows,
    and ``fuse`` is the backend's fusion module (``search.fusion`` or
    ``search.serving``)."""
    vtypes, bm25, how = strategy
    if how is None:
        k = cfg.top_k
    elif how == "two_stage_hybrid":
        k = STAGE1_K
    else:  # O5: bounded candidate over-fetch (k*2) before fusion
        k = cfg.top_k * 2
    legs = [dense(vtype, k) for vtype in vtypes]
    if bm25:
        legs.append(lexical(k))
    if how is None:
        return legs[0]
    if how == "traditional_merge":
        return fuse.traditional_merge(*legs, top_k=cfg.top_k)
    if how == "two_stage_hybrid":
        return fuse.two_stage_hybrid(
            legs[0],
            chunks,
            stage1_k=STAGE1_K,
            top_k=STAGE2_K,
            # the facade's stage-1 scorer is the interpreted cosine fold
            # over the persisted vectors table — expensive enough that
            # evaluating it once (vs once per consumer) wins (measured;
            # see fusion.two_stage_hybrid's docstring)
            materialize_stage1=True,
        )
    # the lexical hybrid fuses dense x BM25 at fixed weights 1/1
    w_summary, w_chunks = (1.0, 1.0) if bm25 else (cfg.w_summary, cfg.w_chunks)
    return fuse.rrf_fuse(
        *legs,
        k=cfg.rrf_k,
        w_summary=w_summary,
        w_chunks=w_chunks,
        top_k=cfg.top_k,
    )


@dataclass
class SearchConfig:
    """Per-request search settings, for one query or a batch.  Unpinned
    requests below the snapshot gate (``search.serving.SNAPSHOT_MAX_BYTES``)
    are scored on the driver from snapshots of the committed artifacts;
    a pinned ``lex_version``/``ivf_version`` always plans the Spark
    probes."""

    top_k: int = DEFAULT_TOP_K
    rrf_k: int = fusion.RRF_K
    w_summary: float = fusion.RRF_WEIGHT_SUMMARY
    w_chunks: float = fusion.RRF_WEIGHT_CHUNKS
    #: ``"exact"`` = brute-force cosine (the reference's behavior at its
    #: scale); ``"ivf"`` = the PERSISTED IVF index artifact
    #: (``search/index``): probes read only nprobe bucket partitions of
    #: a committed, versioned on-disk index — the durable analog of
    #: Chroma's persistent collection (``vector_db_service.py:18-20,73-76``).
    ann: str = "exact"
    #: IVF probe width and optional snapshot pin: ``ivf_version=N``
    #: serves from the pinned index version even while a rebuild
    #: commits (readers never observe a half-built index).
    ivf_nprobe: int = 3
    ivf_version: int | None = None
    #: Recall floor for OWNER-SCOPED IVF probes (VERDICT r12 #1): the
    #: composed default (occupancy-aware bucket choice + nprobe
    #: escalation) guarantees ≥ k CANDIDATES, but a dense tenant can
    #: fill k from its top few buckets while its true top-k lives in
    #: the next dozen — measured at 1000x: composed stopped at 8
    #: buckets / recall 0.7 where occupancy-only@16 reached 0.9
    #: (r12 scale stress).  Owner-scoped probes therefore read at
    #: least ``min(ivf_min_recall_buckets, tenant's occupied bucket
    #: count)`` occupied buckets — a superset of occupancy-only@16's
    #: reads, so recall ≥ that mitigation's by construction, clamped
    #: at the tenant's own occupancy so it never exceeds the exact
    #: filtered scan.  The reference contract is Chroma's
    #: where-filtered HNSW returning the true filtered top-k
    #: (``vector_db_service.py:193-224``); this floor is the bounded
    #: I/O approximation of it.  Unscoped probes are untouched.
    ivf_min_recall_buckets: int = 16
    #: Keyword/hybrid_lexical term budget: BM25 cost is one tf column
    #: per DISTINCT query term, so the query is truncated to its first
    #: ``max_terms`` unique whitespace terms.  Truncation logs a
    #: warning (ranking then covers a prefix of the query); raise the
    #: knob if long queries must rank on every term (ADVICE r7).
    max_terms: int = 8
    #: Keyword/hybrid_lexical legs always probe the PERSISTED BM25
    #: inverted-index artifact (``search/lexical``), reading only the
    #: query terms' posting buckets; ``lex_version`` pins the probe to a
    #: committed anchor version (time travel / serve-during-rebuild),
    #: like ``ivf_version``.
    lex_version: int | None = None

    def __post_init__(self) -> None:
        if self.ann not in ("exact", "ivf"):
            raise ValueError(
                f"SearchConfig.ann must be 'exact' or 'ivf', got {self.ann!r}"
            )


#: Engines keyed by (applicationId, sf_dir, dim, embed, doc_limit) — the
#: vector index is a persistent artifact (the reference keeps ChromaDB
#: resident across requests, ``vector_db_service.py:18-20``), so repeated
#: searches must not pay the ingest/vectorize build again.
_ENGINE_CACHE: dict[tuple, "SortifyEngine"] = {}

#: Hard cap on one delete batch, mirroring the reference's batch
#: document-operation limit (``apis/v1/documents.py:948``).  Keeps the
#: driver-local deletion relation bounded metadata.
_DELETE_BATCH_CAP = 1000


def get_engine(
    spark: SparkSession,
    sf_dir: str,
    dim: int = 64,
    embed: str = "hash",
    doc_limit: int | None = None,
    owner_col: str | None = None,
) -> "SortifyEngine":
    """Shared engine per (session, sf_dir, dim, embed, doc_limit,
    owner_col); builds + persists the vector index on first use."""
    key = (
        spark.sparkContext.applicationId or "local",
        sf_dir,
        dim,
        embed,
        doc_limit,
        owner_col,
    )
    eng = _ENGINE_CACHE.get(key)
    if eng is None:
        eng = _ENGINE_CACHE[key] = SortifyEngine(
            spark,
            sf_dir,
            dim=dim,
            embed=embed,
            doc_limit=doc_limit,
            owner_col=owner_col,
        )
    return eng


class SortifyEngine:
    """Facade over one sf_dir's tables + a derived vectors table.

    ``embed`` selects the encoder stub: ``"hash"`` (default) is the
    sha1-numpy Arrow-batched UDF — the shape a real model swaps into;
    ``"expr"`` is the md5 Catalyst expression encoder
    (``functions/sql_embed``) whose entire pipeline a DuckDB oracle
    replays bit-exactly, making the e2e search paths hash-checkable.
    ``doc_limit`` optionally bounds the indexed corpus (``doc_id <
    doc_limit``) — used by the oracle-backed e2e queries to keep the
    two-engine replay affordable at driver SF.
    """

    #: Occupancy-cache capacity — one tiny tuple per (vtype, tenant,
    #: assign version); LRU (see ``_ivf_occupied``).  Class attr so
    #: lifecycle tests can shrink it and exercise eviction without
    #: hundreds of real commits.
    _OCC_CACHE_MAX = 512

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        dim: int = 64,
        embed: str = "hash",
        doc_limit: int | None = None,
        index_root: str | None = None,
        owner_col: str | None = None,
    ) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.dim = dim
        self.embed = embed
        #: Tenant column of the documents table (P9 / the reference's
        #: ``owner_id`` on every Chroma scan).  When set, every vector
        #: and every persisted-artifact row carries ``owner_id`` and the
        #: search APIs accept an ``owner_id`` to scope EVERY leg.
        self.owner_col = owner_col
        self.documents = load_table(spark, sf_dir, "documents")
        if doc_limit is not None:
            self.documents = self.documents.filter(
                F.col("doc_id") < doc_limit
            )
        self.events = load_table(spark, sf_dir, "events")
        # Vector index: built once per engine, cached — the batch
        # ingest/vectorize pipeline output (chunk 128/32 keeps multi-chunk
        # behavior on the short synthetic docs).
        build = ingest_vectorize_expr if embed == "expr" else ingest_vectorize
        self.vectors = build(
            self.documents,
            owner_col=owner_col,
            chunk_size=128,
            overlap=32,
            dim=dim,
        ).persist()
        #: Result cache for repeated searches (reference caches AI search
        #: responses keyed by question hash, ``ai_cache_manager.py:244-257``).
        self.result_cache = QueryResultCache()
        #: Root dir for PERSISTED index artifacts (the durable IVF
        #: index); defaults to a per-engine temp dir — production
        #: deployments pass a real path so the artifact outlives the
        #: engine (the point of a committed index).
        self._index_root = index_root
        self._ivf_built: set[str] = set()
        #: vtypes mutated while not in ``_ivf_built``: adoption of a
        #: pre-existing on-disk IVF artifact must rebuild even when the
        #: row count happens to tie (ADVICE r9 — the lexical artifact's
        #: ``_lex_dirty`` discipline, mirrored).
        self._ivf_dirty: set[str] = set()
        self._lex_built = False
        #: Corpus mutated while _lex_built was False: a later adoption
        #: of a pre-existing on-disk artifact must rebuild even when
        #: n_docs happens to tie (a balanced add+delete passes the
        #: count check but leaves the deleted doc findable and the
        #: added doc unsearchable — review r9).
        self._lex_dirty = False
        #: Per-tenant IVF occupancy cache (r12): (vtype, owner,
        #: assign_version) → tuple_of_buckets.  The occupancy set is
        #: metadata (≤ nlist ints) computed by ONE column-pruned scan
        #: per (tenant, snapshot) — caching it is what makes the
        #: composed owner-scoped default pay the scan once per commit,
        #: not once per query.  Keyed by the assign VERSION: an upsert
        #: that grows a tenant into a new bucket bumps the version, so
        #: a stale set (which would silently under-recall) can never
        #: be served, and pinned time-travel probes coexist with
        #: current-version serving without thrashing one slot.
        #: Bounded (``_OCC_CACHE_MAX``, LRU eviction: a cache hit
        #: re-inserts the entry, so a hot tenant's current-version set
        #: outlives hundreds of dead old-version entries under
        #: mutation churn — ADVICE r12); plain driver-side data —
        #: nothing to unpersist.
        self._occ_cache: dict[tuple, tuple] = {}
        #: Driver-resident serving snapshots (``search/serving``): one
        #: slot per artifact (``"vectors"``, ``"lexical"``,
        #: ``"ivf_<vtype>"``) holding ``(key, estimated_bytes,
        #: snapshot, manifest)``.  The key is what a request already
        #: resolves — the vectors generation, the lexical anchor
        #: version, the IVF assign version — so a stale snapshot can
        #: never serve: a new key refreshes the slot from the appended
        #: segments and tombstones, or replaces it whole.
        self._snapshots: dict[str, tuple] = {}
        #: Bumped wherever ``self.vectors`` is reassigned; its row
        #: count is kept when a mutation materializes it anyway.
        self._vectors_gen = 0
        self._vectors_n: int | None = None

    # -- documents ---------------------------------------------------------

    def list_documents(
        self,
        flt: DocumentFilter | None = None,
        sort_by: str = "doc_id",
        sort_order: str = "asc",
        skip: int = 0,
        limit: int = 100,
    ) -> tuple[DataFrame, DataFrame]:
        """GET /documents: filter + allowlisted sort + page + total."""
        order = validated_order(
            sort_by,
            sort_order,
            allowlist=("doc_id", "n_chars", "lang", "source"),
            tiebreak_col="doc_id",
        )
        pred = (flt or DocumentFilter()).predicate()
        return page_with_total(self.documents, pred, order, skip, limit)

    def detail_query(
        self, spec: QuerySpec | str, owner_id: str | None = None
    ) -> DataFrame:
        """P8: dynamic detail query from a (possibly LLM-produced) spec."""
        if isinstance(spec, str):
            spec = QuerySpec.from_json(spec)
        return compile_spec(self.documents, spec, owner_id=owner_id)

    # -- search ------------------------------------------------------------

    def _query_df(self, query_text: str) -> DataFrame:
        return self._query_df_many({"q": query_text}).select("embedding")

    def _query_vecs(self, queries: dict[str, str]) -> dict:
        """``{query_id: embedding}`` as the Spark path scores them: the
        hash encoder's doubles stored as ``array<float>``, then widened;
        an ``expr`` engine encodes the whole batch in one collect."""
        if self.embed == "expr":
            return {
                r["query_id"]: np.asarray(r["embedding"], dtype=np.float64)
                for r in self._query_df_many(queries).collect()
            }
        return {
            q: np.asarray(
                hash_embed_text(t[:512], self.dim), dtype=np.float32
            ).astype(np.float64)
            for q, t in queries.items()
        }

    def _owner_pred(self, owner_id: str | None):
        """The tenant predicate every leg pushes down (P9; reference
        ``vector_db_service.py:199-221`` — every Chroma scan is
        owner-filtered).  ``None`` = unscoped; scoping requires the
        engine to have been built with ``owner_col`` (vectors and
        artifacts otherwise carry the constant ``'default'`` owner,
        which would silently match nothing — refuse loudly instead)."""
        if owner_id is None:
            return None
        if self.owner_col is None:
            raise ValueError(
                "owner-scoped search requires an engine built with "
                "owner_col (every vector then carries owner_id)"
            )
        return F.col("owner_id") == F.lit(str(owner_id))

    def _scored(
        self,
        query_text: str,
        vtype: str,
        k: int,
        cfg: SearchConfig | None = None,
        owner_id: str | None = None,
    ) -> DataFrame:
        """Top-k scored list deduped to the BEST chunk per document.

        ``brute_force_topk`` over chunk vectors returns chunk-level rows,
        so one document can appear once per chunk; rank fusion requires
        unique ids per list (``fusion.rrf_fuse`` contract; reference
        dedupes + re-ranks in ``enhanced_search_service.py:404-419``).
        The groupBy-max runs over a k-bounded list — trivial shuffle.

        ``owner_id`` scopes both paths to one tenant BEFORE ranking:
        exact via the scan pre-filter, IVF via the assign table's
        carried ``owner_id`` (``probe pre_filter``).  Owner-scoped IVF
        probes compose BOTH filtered-IVF mitigations by default
        (VERDICT r11 #1): OCCUPANCY-AWARE BUCKET CHOICE
        (``filter_buckets=True`` — rank only the tenant's occupied
        buckets, so nprobe counts the tenant's own sub-corpus and the
        probe is provably exact once it covers them) plus ADAPTIVE
        NPROBE ESCALATION within that universe until ≥ k of the
        tenant's vectors are inside the probed buckets
        (``min_candidates=k`` — degrades to the exact filtered scan
        for tenants smaller than k, so recall never silently collapses
        for a 1% owner) plus a RECALL FLOOR of
        ``min(cfg.ivf_min_recall_buckets, |occupied|)`` buckets
        (VERDICT r12 #1 — candidate-count escalation alone can stop
        before the tenant's true top-k is covered)."""
        pred = self._owner_pred(owner_id)
        q = self._query_df(query_text)
        if cfg is not None and cfg.ann == "ivf":
            from sortify_spark.search.index import probe_ivf_index

            path, args = self._ivf_probe_args(vtype, k, cfg, owner_id)
            topk = probe_ivf_index(self.spark, path, q, **args).select(
                # vec_id is the vector_id "doc#vtype#chunk"; recover the
                # document for the per-doc dedupe below
                F.split(F.col("vec_id"), "#")[0].alias("document_id"),
                "score",
            )
        else:
            base = self.vectors.filter(F.col("vtype") == vtype)
            topk = brute_force_topk(
                base, q, id_col="document_id", k=k, pre_filter=pred
            )
        return (
            topk.select(F.col("document_id").alias("id"), "score")
            .groupBy("id")
            .agg(F.max("score").alias("score"))
        )

    def _ivf_probe_args(
        self, vtype: str, k: int, cfg: SearchConfig, owner_id: str | None
    ) -> tuple[str, dict]:
        """The IVF index path and the probe arguments of one dense leg,
        the same for the single and the batched probe (batched and
        single serving must not differ in tenant recall)."""
        pred = self._owner_pred(owner_id)
        path = self._ivf_index(vtype)
        # resolve the snapshot ONCE for occupancy + probe: a commit
        # landing between the two manifest reads must not pair a newer
        # snapshot with an older occupancy set
        occ_ver, occ = (
            self._ivf_occupied(path, vtype, owner_id, cfg.ivf_version)
            if pred is not None
            else (cfg.ivf_version, None)
        )
        return path, dict(
            k=k,
            nprobe=cfg.ivf_nprobe,
            version=occ_ver,
            pre_filter=pred,
            # owner-scoped probes compose BOTH filtered-IVF mitigations
            # (Chroma's where-filtered search never under-recalls a
            # selective tenant, vector_db_service.py:193-224):
            # occupancy-aware bucket choice ranks only the tenant's
            # occupied buckets — provably exact once nprobe covers them
            # — and nprobe escalation widens within that universe until
            # ≥ k of the tenant's vectors sit inside the probed buckets.
            # The occupancy set is computed once per (tenant, snapshot)
            # and cached (version-keyed).  The unscoped path keeps the
            # caller's fixed nprobe.
            min_candidates=k if pred is not None else None,
            filter_buckets=pred is not None,
            occupied_buckets=occ,
            # recall floor (VERDICT r12 #1): candidates ≥ k alone can
            # stop at a width whose top-k misses better neighbors in the
            # next occupied buckets — read at least min(floor,
            # |occupied|) of them
            min_probe_buckets=(
                cfg.ivf_min_recall_buckets if pred is not None else None
            ),
        )

    def release(self) -> None:
        """Serving shutdown hook: unpersist EVERY cached frame this
        engine holds — the vectors table and the persisted result-cache
        entries.  After release (plus GC of any
        localCheckpoint references) executor storage returns to its
        pre-engine state; the mutation battery asserts this
        (``test_facade_mutation_storage_clean``), so a long-lived
        serving process cycling engines cannot accrete storage blocks."""
        self.vectors.unpersist()
        self.result_cache.clear()
        self._snapshots.clear()
        # Spark's ContextCleaner frees the checkpoint blocks of finished
        # mutations only once a JVM GC finds them unreachable; an engine
        # that serves from driver snapshots runs too few jobs to make
        # that happen before the periodic GC (30 min by default)
        self.spark._jvm.System.gc()

    # -- persisted IVF index -----------------------------------------------

    def ivf_index_path(self, vtype: str) -> str:
        """Path of the persisted IVF index artifact for one vtype."""
        if self._index_root is None:
            import tempfile

            self._index_root = tempfile.mkdtemp(prefix="sortify_index_")
        import os

        return os.path.join(self._index_root, f"ivf_{vtype}")

    # -- persisted lexical (BM25) index --------------------------------

    def lexical_index_path(self) -> str:
        """Path of the persisted BM25 inverted-index artifact."""
        if self._index_root is None:
            import tempfile

            self._index_root = tempfile.mkdtemp(prefix="sortify_index_")
        import os

        return os.path.join(self._index_root, "lex")

    def _lex_docs(self, docs: DataFrame) -> DataFrame:
        """The lexical-index input frame: (doc_id, text) plus the
        normalized ``owner_id`` carry column when the engine is
        tenant-scoped — postings then carry the owner so probes can
        pre-filter without touching the corpus."""
        if self.owner_col is None:
            return docs.select("doc_id", "text")
        return docs.select(
            "doc_id",
            "text",
            F.col(self.owner_col).cast("string").alias("owner_id"),
        )

    def rebuild_lexical_index(self) -> int:
        """(Re)build the persisted lexical index over the served
        corpus — a new atomic anchor version; probes pinned to an older
        version keep serving it (same contract as the IVF artifact).
        Returns the committed anchor version."""
        from sortify_spark.search.lexical import build_lexical_index

        version = build_lexical_index(
            self._lex_docs(self.documents),
            self.lexical_index_path(),
            carry_cols=("owner_id",) if self.owner_col else (),
            # tenant-scoped engines range-split each term bucket's
            # files on owner_id so owner probes prune files, not rows
            # (VERDICT r10 #3) — floored at ~one parquet row group per
            # file, derived from the posting rows' own width, so small
            # buckets stay on the fast side of the file-count
            # crossover (VERDICT r12 #2)
            layout_col="owner_id" if self.owner_col else None,
            layout_min_file_rows="auto",
        )
        self._lex_built = True
        self.result_cache.clear()
        return version

    def _lexical_index(self) -> str:
        """Ensure the artifact exists (first use builds version 1);
        subsequent searches only read committed snapshots.

        Adopting a PRE-EXISTING on-disk artifact reconciles it against
        the served corpus first: docs added via :meth:`add_documents`
        before the first lexical search (while ``_lex_built`` was
        False) were never upserted into it, so a bare adoption would
        leave them permanently unsearchable (ADVICE r8).  The drift
        check is the anchor's exact ``n_docs`` vs one corpus count —
        any mismatch rebuilds (the corpus is the source of truth; a
        count tie with replaced TEXT is out of adoption scope, since
        this engine's corpus mutations all flow through
        ``add_documents``/``delete_vectors`` which maintain the
        artifact in place once built)."""
        if not self._lex_built:
            from sortify_spark.sources.versioned import read_manifest

            path = self.lexical_index_path()
            anchor = read_manifest(f"{path}/postings")
            if (
                self._lex_dirty
                or anchor["version"] == 0
                or int(anchor.get("n_docs", -1)) != self.documents.count()
                # a tenant-scoped engine needs owner_id carried in the
                # postings; an artifact built without it cannot serve
                # owner-filtered probes — rebuild
                or (
                    self.owner_col is not None
                    and "owner_id" not in (anchor.get("carry") or [])
                )
            ):
                self.rebuild_lexical_index()
                self._lex_dirty = False
            else:
                self._lex_built = True
        return self.lexical_index_path()

    def rebuild_ivf_index(self, vtype: str) -> int:
        """(Re)build the persisted IVF index for ``vtype`` — a new
        atomic version through the versioned store; readers pinned to
        an older version keep serving it until vacuumed.  Returns the
        committed assign-table version."""
        from sortify_spark.search.index import build_ivf_index

        base = self.vectors.filter(F.col("vtype") == vtype).select(
            F.col("vector_id").alias("vec_id"),
            "embedding",
            # tenant metadata rides each assign row so owner-scoped
            # probes pre_filter INSIDE the probed buckets (filtered
            # ANN, vector_db_service.py:193-224)
            "owner_id",
            F.pmod(
                F.abs(F.xxhash64("document_id")), F.lit(16)
            ).alias("seed"),
        )
        version = build_ivf_index(
            base,
            self.ivf_index_path(vtype),
            seed_col="seed",
            carry_cols=("owner_id",),
            # owner-range file split inside each bucket partition —
            # tenant probes prune files via parquet stats (r10 #3),
            # floored at ~one parquet row group per file derived from
            # the assign rows' own width (VERDICT r12 #2): below the
            # crossover the footer-read/task overhead of extra files
            # costs 2-3x more wall than their stat pruning saves
            # (r12 scale stress layout A/B), so small buckets write
            # one file and the split resumes as buckets outgrow a row
            # group.  The floor is pinned in the manifest for the
            # artifact's whole lifecycle (merges keep it).
            layout_col="owner_id" if self.owner_col else None,
            layout_min_file_rows="auto",
        )
        self._ivf_built.add(vtype)
        self.result_cache.clear()
        return version

    def add_documents(
        self, docs: DataFrame, rebuild_over: float = 0.5
    ) -> dict:
        """The reference's upload path end-to-end (S1 + S9 +
        ``vector_db_service.py:73-76``): vectorize the documents with the
        engine's pipeline, put them in the served documents and vectors
        tables (a re-sent ``doc_id`` REPLACES its document and vectors),
        and keep every BUILT persisted artifact current.

        A batch whose vectors fit the snapshot gate
        (``serving.vectors_bytes`` ≤ ``serving.SNAPSHOT_MAX_BYTES``) is
        collected once and committed as appends written on the driver,
        so the index maintenance runs no Spark job: the BM25 index by
        :func:`search.lexical.upsert_lexical_index`, each IVF index by
        :func:`search.index.upsert_ivf_index` (FAISS-add against the
        stored quantizer) while it has grown less than ``rebuild_over``
        relative to its quantizer's training size (the assign manifest's
        ``built_rows``), and by a full :meth:`rebuild_ivf_index` re-train
        past that drift budget.  A larger batch rebuilds each artifact
        over the grown corpus instead.  Returns ``{artifact:
        ("upsert"|"rebuild", version)}`` for the indexes maintained."""
        from sortify_spark.sources.versioned import live_rows, read_manifest

        build = (
            ingest_vectorize_expr
            if self.embed == "expr"
            else ingest_vectorize
        )
        new_vecs = build(
            docs,
            owner_col=self.owner_col,
            chunk_size=128,
            overlap=32,
            dim=self.dim,
        ).persist()
        driver = (
            serving.vectors_bytes(new_vecs.count(), self.dim)
            <= serving.SNAPSHOT_MAX_BYTES
        )
        if driver:
            lex_rows = self._lex_docs(docs).toPandas()
            doc_ids = self.spark.createDataFrame(
                pd.DataFrame({"document_id": lex_rows["doc_id"].astype(str)}),
                "document_id string",
            )
        else:
            doc_ids = docs.select(F.col("doc_id").cast("string").alias("document_id"))
        gen = self._vectors_gen
        dropped = self._swap_served(doc_ids, docs, new_vecs)
        vec_rows = (
            new_vecs.select("vector_id", *serving.VECTOR_COLS).toPandas()
            if driver
            else None
        )
        # the batch frame's cache served its consumers (the grown
        # vectors table is independently materialized)
        new_vecs.unpersist()
        if driver:
            self._refresh_vectors_snapshot(
                gen, lex_rows["doc_id"].astype(str), vec_rows
            )
        out: dict = {}
        if not self._lex_built:
            self._lex_dirty = True  # adoption must not trust n_docs alone
        # same discipline for unbuilt IVF artifacts (ADVICE r9): a later
        # adoption must rebuild rather than trust the stale snapshot
        self._ivf_dirty.update({"summary", "chunk"} - self._ivf_built)
        if self._lex_built:
            from sortify_spark.search.lexical import upsert_lexical_index

            # add AND replace are exact appends (search/lexical
            # contract): no drift-budget rebuild
            out["lexical"] = (
                ("upsert", upsert_lexical_index(lex_rows, self.lexical_index_path()))
                if driver
                else ("rebuild", self.rebuild_lexical_index())
            )
        for vtype in sorted(self._ivf_built):
            from sortify_spark.search.index import upsert_ivf_index

            if not driver:
                out[vtype] = ("rebuild", self.rebuild_ivf_index(vtype))
                continue
            adds = vec_rows[vec_rows["vtype"] == vtype].rename(
                columns={"vector_id": "vec_id"}
            )[["vec_id", "embedding", "owner_id"]]
            gone = dropped.get(vtype, [])
            if not len(adds) and not gone:
                continue
            path = self.ivf_index_path(vtype)
            m = read_manifest(f"{path}/assign")
            built = int(m.get("built_rows") or 0)
            # cumulative drift vs the quantizer's training size —
            # repeated small adds eventually trip the re-train
            n_after = live_rows(f"{path}/assign", m) - len(gone) + len(adds)
            grown = (n_after / built - 1.0) if built else float("inf")
            if grown > rebuild_over:
                out[vtype] = ("rebuild", self.rebuild_ivf_index(vtype))
            else:
                out[vtype] = (
                    "upsert", upsert_ivf_index(adds, path, delete_ids=gone)
                )
        # cached results predate the upload
        self.result_cache.clear()
        return out

    def _swap_served(
        self, doc_ids: DataFrame, docs: DataFrame | None = None,
        new_vecs: DataFrame | None = None,
    ) -> dict:
        """Drop the documents ``doc_ids`` (a ``document_id`` string frame)
        from the served documents and vectors tables and append ``docs``
        / ``new_vecs``; returns ``{vtype: [vector_id]}`` of the dropped
        vectors (one collect).  The grown vectors table is materialized
        BEFORE the frame it builds on is unpersisted (swap-then-release,
        ADVICE r9), so repeated mutations don't accumulate cached
        lineages in executor storage."""
        ids = F.broadcast(doc_ids)
        dropped: dict = {}
        for r in (
            self.vectors.join(ids, "document_id", "left_semi")
            .select("vtype", "vector_id")
            .collect()
        ):
            dropped.setdefault(r["vtype"], []).append(r["vector_id"])
        old_vectors = self.vectors
        kept = old_vectors.join(ids, "document_id", "left_anti")
        self.vectors = (
            kept if new_vecs is None else kept.unionByName(new_vecs)
        ).persist()
        self._vectors_n = self.vectors.count()
        self._vectors_gen += 1
        old_vectors.unpersist()
        kept_docs = self.documents.join(
            F.broadcast(doc_ids.select(F.col("document_id").cast("long").alias("doc_id"))),
            "doc_id",
            "left_anti",
        )
        self.documents = kept_docs if docs is None else kept_docs.unionByName(docs)
        return dropped

    def _refresh_vectors_snapshot(self, gen: int, drop_docs, new_rows) -> None:
        """Move a vectors snapshot held at generation ``gen`` to the
        current one: drop the documents ``drop_docs`` and append
        ``new_rows`` (collected ``serving.VECTOR_COLS`` rows, or None)."""
        held = self._snapshots.get("vectors")
        if held is None or held[0] != gen or held[2] is None:
            return
        snap = serving.refresh_vectors(
            held[2], drop_docs,
            new_rows if new_rows is not None
            else pd.DataFrame(columns=serving.VECTOR_COLS),
            self.dim,
        )
        nbytes = serving.vectors_bytes(self._vectors_n, self.dim)
        self._snapshots["vectors"] = (
            self._vectors_gen,
            nbytes if snap is not None else math.inf,
            snap if nbytes <= serving.SNAPSHOT_MAX_BYTES else None,
            None,
        )

    def _ivf_index(self, vtype: str) -> str:
        """Ensure the artifact exists (first use builds version 1);
        subsequent searches only read committed snapshots.

        Adopting a PRE-EXISTING on-disk artifact reconciles it against
        the served vectors first (ADVICE r9, mirroring
        :meth:`_lexical_index`): vectors added or deleted via
        :meth:`add_documents` / :meth:`delete_vectors` before the first
        ``ann='ivf'`` probe (while ``vtype`` was not in ``_ivf_built``)
        were never upserted into it, so a bare adoption would leave
        deleted docs probe-able and added docs unsearchable.  The drift
        check is the assign manifest's exact live row count vs one
        served-vectors count; any mismatch — or a mutation recorded in
        ``_ivf_dirty`` (a balanced add+delete passes the count check)
        — rebuilds."""
        if vtype not in self._ivf_built:
            from sortify_spark.sources.versioned import live_rows, read_manifest

            path = self.ivf_index_path(vtype)
            manifest = read_manifest(f"{path}/assign")
            if manifest["version"] == 0:
                self.rebuild_ivf_index(vtype)
            elif (
                vtype in self._ivf_dirty
                # an artifact without the owner_id carry cannot serve
                # owner-filtered probes — rebuild on adoption
                or "owner_id" not in (manifest.get("carry") or [])
                or live_rows(f"{path}/assign", manifest)
                != self.vectors.filter(F.col("vtype") == vtype).count()
            ):
                self.rebuild_ivf_index(vtype)
                self._ivf_dirty.discard(vtype)
            else:
                self._ivf_built.add(vtype)
        return self.ivf_index_path(vtype)

    def _ivf_occupied(
        self, path: str, vtype: str, owner_id: str,
        version: int | None,
    ) -> tuple[int, tuple]:
        """``(version, occupied_buckets)`` for the assign snapshot a
        probe will read — computed once per (tenant, snapshot) via
        :func:`search.index.ivf_tenant_occupancy` and cached (r12).
        ``version=None`` resolves to the CURRENT manifest version (one
        local JSON read), so every mutation commit invalidates
        naturally; a pinned time-travel probe gets its own entry.
        Returning the resolved version lets the caller pin the PROBE
        to the same snapshot the occupancy came from — without it a
        commit landing between this read and the probe's own manifest
        read would rank a newer snapshot with an older occupancy set
        (the stale-set under-recall the version key exists to
        prevent).  The predicate is :meth:`_owner_pred` itself, so the
        cached set can never drift from the probe's ``pre_filter``."""
        from sortify_spark.search.index import ivf_tenant_occupancy
        from sortify_spark.sources.versioned import read_manifest

        ver = (
            int(version)
            if version is not None
            else int(read_manifest(f"{path}/assign")["version"])
        )
        key = (vtype, str(owner_id), ver)
        hit = self._occ_cache.get(key)
        if hit is not None:
            # LRU refresh (ADVICE r12): dict order is insertion order,
            # so re-inserting on hit keeps a hot tenant's live entry
            # behind the eviction cursor while dead old-version
            # entries age out first.  Correctness never depends on
            # this — the version key makes a stale serve impossible —
            # it only bounds re-paid occupancy scans for hot tenants.
            # pop(default), not del: two concurrent probes of the same
            # hot key may both hit — the second del would KeyError
            # (the pre-LRU hit path was read-only; the refresh must
            # not make it able to fail).
            self._occ_cache.pop(key, None)
            self._occ_cache[key] = hit
            return ver, hit
        occ = tuple(
            ivf_tenant_occupancy(
                self.spark,
                path,
                self._owner_pred(owner_id),
                version=ver,
            )
        )
        if len(self._occ_cache) >= self._OCC_CACHE_MAX:
            # bounded: a long-lived engine accumulates one tiny tuple
            # per (tenant, commit) — evict least-recently-used.
            # pop(default): two concurrent misses can race to evict
            # the same oldest key (same model as the hit path's
            # refresh; eviction must never be able to crash a probe)
            try:
                self._occ_cache.pop(
                    next(iter(self._occ_cache)), None
                )
            except StopIteration:  # emptied by a concurrent evictor
                pass
        self._occ_cache[key] = occ
        return ver, occ

    def warm_ivf_occupancy(self, vtype: str = "summary") -> int:
        """Bulk-warm the occupancy cache for EVERY tenant of one IVF
        artifact in ONE scan (the many-tenant serving shape at 100 TB:
        the lazy per-tenant path pays one column-pruned scan per
        (tenant, snapshot) — correct, but T tenants after a commit
        means T scans; a maintenance job calls this once per commit
        instead, one ``(owner, bucket)`` distinct aggregation for the
        whole map).  Entries land in the same version-keyed cache the
        serving paths read, so the first post-commit probe of every
        tenant is a cache hit.  Returns the number of tenants warmed
        (capped at the cache capacity — with more tenants than
        capacity, warming the tail would only evict the head)."""
        if self.owner_col is None:
            raise ValueError(
                "occupancy warming requires an engine built with "
                "owner_col"
            )
        from sortify_spark.search.index import ivf_occupancy_all
        from sortify_spark.sources.versioned import read_manifest

        path = self._ivf_index(vtype)
        ver = int(read_manifest(f"{path}/assign")["version"])
        occ_map = ivf_occupancy_all(
            self.spark, path, "owner_id", version=ver
        )
        warmed = 0
        for owner, occ in occ_map.items():
            if len(self._occ_cache) >= self._OCC_CACHE_MAX and (
                (vtype, owner, ver) not in self._occ_cache
            ):
                break
            self._occ_cache[(vtype, owner, ver)] = occ
            warmed += 1
        return warmed

    def semantic_search(
        self,
        query_text: str,
        search_type: str = "hybrid",
        cfg: SearchConfig | None = None,
        owner_id: str | None = None,
    ) -> DataFrame:
        """POST /semantic-search: strategy dispatch V7 over V1-V5 plans.

        Beyond the reference's dense-only strategies: ``"keyword"``
        ranks the query's whitespace terms by rational-idf BM25, probed
        from the persisted inverted-index artifact
        (``search.lexical.probe_lexical_index`` — only the query terms'
        posting buckets are read, never the corpus), and
        ``"hybrid_lexical"`` RRF-fuses that lexical list
        with the dense summary list (the published lexical x dense
        hybrid; weights 1/1, ``fusion.rrf_fuse`` so the contribution
        columns read summary=dense / chunks=lexical).

        ``owner_id`` scopes EVERY leg to one tenant (P9, the
        reference's mandatory ``where={owner_id}`` on every index scan,
        ``vector_db_service.py:199-221``): dense legs filter before
        ranking (exact scan / IVF carried metadata) and the lexical leg
        pre-filters the carried ``owner_id`` inside the probed posting
        buckets.  BM25 statistics stay corpus-global —
        filter-then-rank, the reference's semantics — and requires an
        engine built with ``owner_col``.

        Serving: while every artifact a request reads has an estimated
        resident snapshot size below
        ``search.serving.SNAPSHOT_MAX_BYTES``, the request is scored on
        the driver from snapshots of the committed vectors, BM25 and
        IVF artifacts (loaded once per commit, see
        :meth:`_served_snapshots`) and returned as one small DataFrame —
        the same rows, scores, order and schema as the Spark plans,
        which serve pinned versions and larger artifacts.  Both
        backends compose their legs through the one :data:`STRATEGIES`
        table.
        """
        cfg = cfg or SearchConfig()
        self._owner_pred(owner_id)  # validates owner scoping up front
        strategy = STRATEGIES.get(search_type, STRATEGIES["hybrid"])
        terms: tuple = ()
        if strategy[1]:
            # bounded term set: BM25 cost is one tf column per term —
            # cap documented on SearchConfig.max_terms, truncation loud
            terms = self._split_terms(query_text, cfg)
            if not terms:
                raise ValueError(
                    f"{search_type!r} search requires a query with at "
                    "least one term (got whitespace-only text)"
                )
        snaps = self._served_snapshots(strategy, cfg)
        if snaps is not None:
            q = self._query_vecs({"q": query_text})["q"]
            rows = _compose(
                strategy, cfg, serving,
                *self._served_legs(snaps, cfg, owner_id, q, terms),
            )
            return serving.to_frame(
                self.spark, rows, serving.SCHEMAS[strategy[2]]
            )
        return _compose(
            strategy, cfg, fusion,
            *self._spark_legs(query_text, cfg, owner_id, terms),
        )

    def semantic_search_many(
        self,
        queries: dict[str, str],
        search_type: str = "hybrid_lexical",
        cfg: SearchConfig | None = None,
        owner_id: str | None = None,
    ) -> DataFrame:
        """BATCHED serving: the :meth:`semantic_search` loop over
        ``queries`` (``{query_id: text}``) as one ``(query_id, id, score,
        rnk)`` frame, with ``tier`` before ``rnk`` for the two-stage
        ``hybrid``.  Per query it holds that search's rows, scores and
        order; ``score`` is the fused score for ``rrf_fusion`` and
        ``hybrid_lexical``, and ``rnk`` is the 1-based position in the
        query's order.  Unknown strategy names raise.

        Both backends compose each strategy through :func:`_compose`
        over :data:`STRATEGIES`.  Below the snapshot gate the batch is
        served on the driver: its snapshots are resolved once (every
        query reads the same committed versions), its query vectors are
        encoded together, and once the snapshots are warm it plans no
        Spark job before its result frame (an ``expr`` engine collects
        one frame of query embeddings).  Above the gate, or with a
        pinned ``lex_version``/``ivf_version``, every leg is one Spark
        plan for the whole batch (:meth:`_spark_legs_many`) fused by
        ``fusion.*_many`` — at scale that beats a loop of Spark single
        searches (17-18 vs 0.5-0.7 q/s, r8 scale stress).  Its batched
        BM25 probe sums per-term scores in aggregation order, so its
        lexical scores match the single probe at ROUND(score, 6)."""
        cfg = cfg or SearchConfig()
        self._owner_pred(owner_id)
        if not queries:
            raise ValueError("semantic_search_many requires ≥1 query")
        strategy = STRATEGIES.get(search_type)
        if strategy is None:
            raise ValueError(
                f"semantic_search_many does not support {search_type!r}"
            )
        terms: dict = {}
        if strategy[1]:
            terms = {q: self._split_terms(t, cfg) for q, t in queries.items()}
            empty = [q for q, ts in terms.items() if not ts]
            if empty:
                raise ValueError(
                    f"queries {empty!r} have no terms (whitespace-only)"
                )
        how = strategy[2]
        schema = serving.BATCH_SCHEMAS.get(how, serving.BATCH_SCHEMA)
        snaps = self._served_snapshots(strategy, cfg)
        if snaps is not None:
            vecs = self._query_vecs(queries)
            rows = []
            for qid in queries:
                legs = self._served_legs(
                    snaps, cfg, owner_id, vecs[qid], terms.get(qid, ())
                )
                for rnk, r in enumerate(
                    _compose(strategy, cfg, serving, *legs), 1
                ):
                    # an RRF row is (id, rank_summary, rank_chunks, score)
                    rows.append(
                        (qid, r[0], r[3], rnk)
                        if how == "rrf_fuse"
                        else (qid, *r, rnk)
                    )
            return serving.to_frame(self.spark, rows, schema)
        batched = SimpleNamespace(
            rrf_fuse=fusion.rrf_fuse_many,
            traditional_merge=fusion.traditional_merge_many,
            two_stage_hybrid=fusion.two_stage_hybrid_many,
        )
        out = _compose(
            strategy, cfg, batched,
            *self._spark_legs_many(queries, cfg, owner_id, terms),
        )
        if "rnk" not in out.columns:  # one dense leg: rank it per query
            out = fusion.add_rank_grouped(out).withColumnRenamed(
                "rank", "rnk"
            )
        return out.withColumnRenamed("rrf_score", "score").select(
            *[f.split()[0] for f in schema.split(",")]
        )

    def _spark_legs(
        self,
        query_text: str,
        cfg: SearchConfig,
        owner_id: str | None,
        terms: tuple,
    ):
        """The Spark plans of a search's legs for :func:`_compose`:
        ``dense(vtype, k)``, ``lexical(k)`` and the two-stage hybrid's
        ``chunks(candidates)``, each an ``(id, score)`` DataFrame."""
        pred = self._owner_pred(owner_id)

        def dense(vtype: str, k: int) -> DataFrame:
            return self._scored(query_text, vtype, k, cfg, owner_id)

        def lexical(k: int) -> DataFrame:
            from sortify_spark.search.lexical import probe_lexical_index

            # serve from the PERSISTED inverted-index artifact: |terms|
            # posting buckets read, corpus never scanned (the probe
            # equals a fresh bm25_scored ranking; bm25_index_probe)
            return probe_lexical_index(
                self.spark,
                self._lexical_index(),
                terms,
                k=k,
                version=cfg.lex_version,
                pre_filter=pred,
            ).select(
                F.col("doc_id").cast("string").alias("id"),
                F.col("bm25").alias("score"),
            )

        def chunks(candidates: DataFrame) -> DataFrame:
            q = self._query_df(query_text)
            base = self.vectors.filter(F.col("vtype") == "chunk")
            if pred is not None:
                # stage-1 candidates are already owner-scoped and chunks
                # share their document's owner, but the explicit filter
                # keeps the isolation invariant local to this scan
                base = base.filter(pred)
            restricted = base.join(
                F.broadcast(candidates.withColumnRenamed("id", "document_id")),
                "document_id",
                "left_semi",
            )
            return brute_force_topk(
                restricted, q, id_col="document_id", k=2 * STAGE2_K
            ).select(F.col("document_id").alias("id"), "score")

        return dense, lexical, chunks

    def _spark_legs_many(
        self,
        queries: dict[str, str],
        cfg: SearchConfig,
        owner_id: str | None,
        terms: dict,
    ):
        """:meth:`_spark_legs` for a batch: each leg is one plan for
        every query, a ``(query_id, id, score)`` frame (the lexical leg
        keeps the probe's per-query ``rnk``), and ``chunks`` receives
        the batch's (query_id, id) stage-1 candidate pairs."""
        pred = self._owner_pred(owner_id)

        def dense(vtype: str, k: int) -> DataFrame:
            return self._scored_many(queries, vtype, k, cfg, owner_id)

        def lexical(k: int) -> DataFrame:
            from sortify_spark.search.lexical import probe_lexical_index_many

            # one bucket-pruned probe over the union of every query's
            # term buckets
            return probe_lexical_index_many(
                self.spark,
                self._lexical_index(),
                terms,
                k=k,
                version=cfg.lex_version,
                pre_filter=pred,
            ).select(
                "query_id",
                F.col("doc_id").cast("string").alias("id"),
                F.col("bm25").alias("score"),
                "rnk",
            )

        def chunks(cand_pairs: DataFrame) -> DataFrame:
            # stage 2 scores chunks restricted to the (query, candidate)
            # PAIRS — one semi-joined scan for the whole batch, each
            # chunk row scored against ITS query's embedding with the
            # single path's exact folds
            from pyspark.sql.window import Window

            from sortify_spark.functions.vectors import (
                cosine_given_norms,
                l2_norm,
            )

            q = F.broadcast(
                self._query_df_many(queries)
                .select("query_id", F.col("embedding").alias("__qvec"))
                .withColumn("__qn", l2_norm("__qvec"))
            )
            chunk_base = self.vectors.filter(F.col("vtype") == "chunk")
            if pred is not None:
                chunk_base = chunk_base.filter(pred)
            restricted = (
                chunk_base.join(
                    F.broadcast(
                        cand_pairs.withColumnRenamed("id", "document_id")
                    ),
                    "document_id",
                )
                .withColumn("__vn", l2_norm("embedding"))
                .join(q, "query_id")
            )
            scored = restricted.select(
                "query_id",
                F.col("document_id").alias("id"),
                F.round(
                    cosine_given_norms(
                        F.col("embedding"),
                        F.col("__qvec"),
                        F.col("__vn"),
                        F.col("__qn"),
                    ),
                    6,
                ).alias("score"),
            )
            w = Window.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("id")
            )
            return (
                scored.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= 2 * STAGE2_K)
                .drop("__r")
            )

        return dense, lexical, chunks

    def _snapshot(self, name: str, key, meta, nbytes, load, refresh=None):
        """The driver-resident snapshot of one artifact at ``key`` (the
        committed manifest ``meta``).  A snapshot held at another key is
        moved by ``refresh(snap, held_meta)`` when that commit only
        appended segments and tombstones, else replaced whole by
        ``load()`` on first use.  None when its resident size
        (``nbytes(snap)``, an estimate before a load) is over
        ``serving.SNAPSHOT_MAX_BYTES`` or ``load()`` finds rows it
        cannot serve exactly — the request then stays on Spark."""
        held = self._snapshots.get(name)
        if held is None or held[0] != key:
            snap = None
            if held is not None and held[2] is not None and refresh is not None:
                snap = refresh(held[2], held[3])
            size = nbytes(snap)
            held = self._snapshots[name] = (
                key, size, snap if size <= serving.SNAPSHOT_MAX_BYTES else None,
                meta,
            )
        if held[1] > serving.SNAPSHOT_MAX_BYTES:
            return None
        if held[2] is None:
            snap = load()
            held = self._snapshots[name] = (
                key, held[1] if snap is not None else math.inf, snap, meta
            )
        return held[2]

    def _rekey_snapshot(self, name: str, old_key, new_key, meta) -> None:
        """A snapshot held at ``old_key`` serves ``new_key`` unchanged (a
        merge commit: same rows, new files)."""
        held = self._snapshots.get(name)
        if held is not None and held[0] == old_key:
            self._snapshots[name] = (new_key, held[1], held[2], meta)

    def _lexical_snapshot(self):
        from sortify_spark.sources.versioned import read_manifest

        path = self._lexical_index()
        anchor = read_manifest(f"{path}/postings")
        return self._snapshot(
            "lexical",
            anchor["version"],
            anchor,
            lambda snap: (
                snap.nbytes() if snap is not None
                else serving.lexical_bytes(path, anchor)
            ),
            lambda: serving.load_lexical(path, anchor),
            lambda snap, held: serving.refresh_lexical(snap, held, path, anchor),
        )

    def _ivf_snapshot(self, vtype: str):
        from sortify_spark.sources.versioned import read_manifest

        path = self._ivf_index(vtype)
        m = read_manifest(f"{path}/assign")
        return self._snapshot(
            f"ivf_{vtype}",
            (m["version"], m.get("centroid_version")),
            m,
            lambda snap: (
                serving.vectors_bytes(len(snap.rows.key) + len(snap.cents.key), self.dim)
                if snap is not None
                else serving.ivf_bytes(path, m, self.dim)
            ),
            lambda: serving.load_ivf(path, m, self.dim),
            lambda snap, held: serving.refresh_ivf(snap, held, path, m, self.dim),
        )

    def _vectors_snapshot(self):
        def nbytes(_snap):
            if self._vectors_n is None:
                self._vectors_n = self.vectors.count()
            return serving.vectors_bytes(self._vectors_n, self.dim)

        return self._snapshot(
            "vectors",
            self._vectors_gen,
            None,
            nbytes,
            lambda: serving.load_vectors(self.vectors, self.dim),
        )

    def _served_snapshots(self, strategy: tuple, cfg: SearchConfig):
        """The snapshots a strategy's served legs read — ``{vtype:
        Vectors | Ivf}``, ``"lexical"`` and the hybrid's ``"stage2"``
        chunk rows — resolved once per search or batch.  None keeps the
        request on Spark: a pinned ``lex_version``/``ivf_version``, a
        non-positive ``top_k``/``ivf_nprobe``, or an artifact over the
        gate."""
        if (
            cfg.lex_version is not None
            or cfg.ivf_version is not None
            or cfg.top_k < 1
            or cfg.ivf_nprobe < 1
        ):
            return None
        vtypes, bm25, how = strategy
        snaps: dict = {}
        if bm25:
            snaps["lexical"] = self._lexical_snapshot()
        for vtype in vtypes:
            snaps[vtype] = (
                self._ivf_snapshot(vtype)
                if cfg.ann == "ivf"
                else (self._vectors_snapshot() or {}).get(vtype)
            )
        if how == "two_stage_hybrid":
            # stage 2 rescores chunks from the vectors table
            snaps["stage2"] = (self._vectors_snapshot() or {}).get("chunk")
        if any(s is None for s in snaps.values()):
            return None
        return snaps

    def _served_legs(
        self,
        snaps: dict,
        cfg: SearchConfig,
        owner_id: str | None,
        q: np.ndarray,
        terms: tuple,
    ):
        """The driver-side legs of one query for :func:`_compose` —
        ``dense``, ``lexical`` and ``chunks`` as in :meth:`_spark_legs`,
        each an ``(id, score)`` list scored from ``snaps``
        (:meth:`_served_snapshots`) for the query vector ``q`` and the
        BM25 ``terms``."""
        owner = None if owner_id is None else str(owner_id)

        def dense(vtype: str, k: int) -> list:
            if cfg.ann == "ivf":
                return serving.ivf_topk(
                    snaps[vtype], q, k, cfg.ivf_nprobe, owner,
                    cfg.ivf_min_recall_buckets,
                )
            return serving.exact_topk(snaps[vtype], q, k, owner)

        def lexical(k: int) -> list:
            return serving.bm25_topk(snaps["lexical"], terms, k, owner)

        def chunks(candidates: set) -> list:
            return serving.chunk_rows(
                snaps["stage2"], q, candidates, 2 * STAGE2_K, owner
            )

        return dense, lexical, chunks

    def _split_terms(self, query_text: str, cfg: SearchConfig) -> tuple:
        """max_terms-bounded unique whitespace terms (loud truncation)."""
        all_terms = tuple(dict.fromkeys(t for t in query_text.split() if t))
        terms = all_terms[: cfg.max_terms]
        if len(all_terms) > len(terms):
            import warnings

            warnings.warn(
                f"query has {len(all_terms)} unique terms; ranking on "
                f"the first {len(terms)} only (raise "
                "SearchConfig.max_terms to cover more)",
                stacklevel=3,
            )
        return terms

    def _query_df_many(self, queries: dict[str, str]) -> DataFrame:
        """(query_id, embedding) for a serving batch — N driver-side
        encodes (the reference encodes per request too); the frame
        broadcasts into the batched scoring join.  Built from pandas
        through Arrow: a row-list ``createDataFrame`` ships its rows
        through a Python RDD, ~10x slower to create and collect."""
        ids = list(queries)
        if self.embed == "expr":
            from sortify_spark.functions.sql_embed import expr_embed

            texts = pd.DataFrame(
                {"query_id": ids, "t": [queries[q][:512] for q in ids]}
            )
            return self.spark.createDataFrame(
                texts, "query_id string, t string"
            ).select(
                "query_id", expr_embed(F.col("t"), self.dim).alias("embedding")
            )
        vecs = pd.DataFrame(
            {
                "query_id": ids,
                "embedding": [
                    np.asarray(
                        hash_embed_text(queries[q][:512], self.dim),
                        dtype=np.float32,
                    )
                    for q in ids
                ],
            }
        )
        return self.spark.createDataFrame(
            vecs, "query_id string, embedding array<float>"
        )

    def _scored_many(
        self,
        queries: dict[str, str],
        vtype: str,
        k: int,
        cfg: SearchConfig | None = None,
        owner_id: str | None = None,
    ) -> DataFrame:
        """Batched :meth:`_scored`: per-query top-k over chunk-level
        rows, then best-chunk-per-doc dedupe — the same order of
        operations as the single path, so per-query results
        parity-match the loop.  ``cfg.ann == "ivf"`` probes the
        persisted index once for the whole batch
        (``probe_ivf_index_many`` — union-of-buckets scan); otherwise
        the exact path scans the corpus once for ALL queries."""
        pred = self._owner_pred(owner_id)
        if cfg is not None and cfg.ann == "ivf":
            from sortify_spark.search.index import probe_ivf_index_many

            path, args = self._ivf_probe_args(vtype, k, cfg, owner_id)
            topk = probe_ivf_index_many(
                self.spark, path, self._query_df_many(queries), **args
            ).select(
                "query_id",
                F.split(F.col("vec_id"), "#")[0].alias("id"),
                "score",
            )
        else:
            from sortify_spark.search.knn import brute_force_topk_many

            base = self.vectors.filter(F.col("vtype") == vtype)
            topk = brute_force_topk_many(
                base,
                self._query_df_many(queries),
                id_col="document_id",
                k=k,
                pre_filter=pred,
            ).select(
                "query_id", F.col("document_id").alias("id"), "score"
            )
        return topk.groupBy("query_id", "id").agg(
            F.max("score").alias("score")
        )

    def cached_search(
        self,
        query_text: str,
        search_type: str = "hybrid",
        cfg: SearchConfig | None = None,
        owner_id: str | None = None,
    ) -> DataFrame:
        """semantic_search through the TTL result cache: a repeat of the
        same (query, strategy, config, owner) returns the persisted
        result without re-planning (the reference's cached AI-response
        path keys per-user too, ``ai_cache_manager.py:244-257`` — the
        owner MUST be part of the key or a cache hit would serve one
        tenant's results to another)."""
        cfg = cfg or SearchConfig()
        key = QueryResultCache.cache_key(
            f"{search_type}|{self.dim}|{cfg}|{owner_id}|{query_text}",
            prefix="search:",
        )
        return self.result_cache.get_or_compute(
            key,
            lambda: self.semantic_search(
                query_text, search_type, cfg, owner_id
            ),
        )

    def document_chunks(
        self, doc_id: str, owner_id: str | None = None
    ) -> DataFrame:
        """V8: every chunk vector of one document, in chunk order
        (``vector_db_service.py:429-474`` — Chroma ``.get`` with
        ``{$and: [{document_id}, {owner_id}]}``)."""
        pred = (F.col("vtype") == "chunk") & (
            F.col("document_id") == str(doc_id)
        )
        if owner_id is not None:
            pred = pred & (F.col("owner_id") == owner_id)
        return self.vectors.filter(pred).orderBy("chunk_index")

    def delete_vectors(self, doc_ids: DataFrame | list) -> DataFrame:
        """S10: delete-by-document-id (``vector_db_service.py:263-323``)
        rewritten for an immutable columnar store: the deletion list
        becomes a broadcast LEFT ANTI join, the served vectors/documents
        tables swap to the survivors (with Delta this is a real
        ``DELETE``), and — the reference's contract that a deleted
        document is UNFINDABLE, VERDICT r8 next #1 — every BUILT
        persisted artifact gets a tombstone commit written on the
        driver (no Spark job): the BM25 lexical index via
        :func:`search.lexical.delete_from_lexical_index` (n_docs/sum_dl
        decremented by exact deltas) and each IVF index via
        :func:`search.index.delete_from_ivf_index`, so
        ``keyword``/``hybrid_lexical``/``ivf`` searches stop returning
        the doc WITHOUT a rebuild.  Returns the surviving vectors frame
        (also the new ``self.vectors``).

        One call accepts at most ``_DELETE_BATCH_CAP`` ids.  This is
        the ENGINE's bound, not the reference's: the reference's
        batch-delete endpoint (``BatchDeleteRequest``,
        ``apis/v1/documents.py:619``) accepts an unbounded id list and
        loops it row-at-a-time server-side.  Here each deletion batch
        becomes a driver-local relation embedded in the served tables'
        plans and a tombstone list in each artifact's manifest, so it
        must stay metadata-sized — callers with a larger
        deletion set use :meth:`delete_vectors_batched`, which loops
        bounded batches internally and matches the reference's
        unbounded-list contract."""
        # Collect the deletion list ONCE into a driver-local relation.
        # A localCheckpoint here leaked one storage block per delete
        # (r11 finding): the checkpointed RDD enters the lineage of
        # the retained ``self.vectors``/``self.documents`` frames, so
        # the ContextCleaner can never reclaim it for the life of the
        # engine; a LocalRelation has no cached blocks and broadcasts
        # identically into the served tables' anti-joins.
        cap = _DELETE_BATCH_CAP
        if isinstance(doc_ids, DataFrame):
            # limit(cap+1) bounds the driver transfer even when the
            # caller hands over a huge frame; the cap itself is checked
            # below so a too-large batch fails loudly instead of
            # embedding a multi-million-row LocalRelation in the plans.
            vals = sorted(
                r["document_id"]
                for r in doc_ids.select(
                    F.col("document_id").cast("string")
                )
                .distinct()
                .limit(cap + 1)
                .collect()
            )
        else:
            vals = sorted({str(d) for d in doc_ids})
        if len(vals) > cap:
            raise ValueError(
                f"delete_vectors: deletion batch exceeds {cap} ids — "
                "each batch embeds a driver-local relation in the served "
                "tables' plans, so it must stay metadata-sized; use "
                "delete_vectors_batched for larger deletion sets "
                "(the reference's batch-delete accepts unbounded id "
                "lists, apis/v1/documents.py:619 — the batched helper "
                "is the parity surface)"
            )
        ids = self.spark.createDataFrame(
            [(v,) for v in vals], "document_id string"
        )
        if not self._lex_built:
            self._lex_dirty = True  # adoption must not trust n_docs alone
        self._ivf_dirty.update({"summary", "chunk"} - self._ivf_built)
        gen = self._vectors_gen
        dropped = self._swap_served(ids)
        self._refresh_vectors_snapshot(gen, vals, None)
        if self._lex_built:
            from sortify_spark.search.lexical import (
                delete_from_lexical_index,
            )

            doc_ids = []
            for v in vals:
                try:
                    doc_ids.append(int(v))
                except ValueError:
                    pass  # not a lexical doc id: nothing indexed under it
            delete_from_lexical_index(doc_ids, self.lexical_index_path())
        for vtype in sorted(self._ivf_built):
            from sortify_spark.search.index import delete_from_ivf_index

            delete_from_ivf_index(
                dropped.get(vtype, []), self.ivf_index_path(vtype)
            )
        # a cached result may hold a deleted document
        self.result_cache.clear()
        return self.vectors

    def delete_vectors_batched(
        self,
        doc_ids: DataFrame | list,
        batch_size: int | None = None,
    ) -> DataFrame:
        """Unbounded-list delete (the reference's batch-delete
        contract, ``apis/v1/documents.py:619``): loops
        :meth:`delete_vectors` over bounded id batches so no single
        plan embeds more than ``batch_size`` (default
        ``_DELETE_BATCH_CAP``) driver-local rows.  Every per-batch
        invariant is :meth:`delete_vectors`'s own — artifacts
        maintained by tombstone commits (no data file written),
        deleted docs unfindable immediately
        after their batch, swap-then-release on the served frames,
        adoption dirty-flags idempotent across batches (set-union per
        batch ≡ one union at the end) — so the loop needs no epilogue
        reconciliation.  The full id list is one driver-side string
        collect (ids are metadata scale even when the deletion SET
        exceeds a plan's budget); each batch then broadcasts its own
        ≤ ``batch_size`` relation.  Returns the surviving vectors
        frame.

        PARTIAL-FAILURE CONTRACT (ADVICE r12): the list is applied
        per-batch atomically, NOT list-atomically — a failure in a
        middle batch leaves every earlier batch committed (those docs
        are gone from the served frames and artifacts) and every later
        id still live.  The reference's per-doc loop has the same
        semantics but reports per-id success
        (``apis/v1/documents.py:619``); here the raised error names
        the failing range and how many batches committed.  Batching
        order is the SORTED DEDUPLICATED id list (not the caller's
        input order), and the error's ``ids[i:j]`` indices refer to
        that order — since deletes are idempotent, the simplest
        correct resume is re-sending the FULL original list; slicing
        only works on ``sorted(set(ids))``."""
        cap = int(
            batch_size if batch_size is not None else _DELETE_BATCH_CAP
        )
        if cap < 1 or cap > _DELETE_BATCH_CAP:
            raise ValueError(
                f"batch_size must be in [1, {_DELETE_BATCH_CAP}]"
            )
        if isinstance(doc_ids, DataFrame):
            vals = sorted(
                r["document_id"]
                for r in doc_ids.select(
                    F.col("document_id").cast("string")
                )
                .distinct()
                .collect()
            )
        else:
            vals = sorted({str(d) for d in doc_ids})
        for done, i in enumerate(range(0, len(vals), cap)):
            try:
                self.delete_vectors(vals[i : i + cap])
            except Exception as exc:
                if done == 0 and len(vals) <= cap:
                    # single-batch list, nothing committed: no partial
                    # state to report — surface the original error
                    # unwrapped so callers keep catching the types
                    # delete_vectors itself raises (r13 review)
                    raise
                raise RuntimeError(
                    f"delete_vectors_batched: batch {done} "
                    f"(ids[{i}:{min(i + cap, len(vals))}] of "
                    f"{len(vals)}, indices into the SORTED "
                    "DEDUPLICATED id list, starting at id "
                    f"{vals[i]!r}) failed after {done} committed "
                    "batches; earlier batches remain applied "
                    "(per-batch atomic, not list-atomic) — deletes "
                    "are idempotent, so re-send the full list, or "
                    f"sorted(set(ids))[{i}:] to resume exactly"
                ) from exc
        return self.vectors

    def maintain_indexes(self, keep_last: int = 2) -> dict:
        """MERGE + VACUUM for every BUILT persisted search artifact —
        the single maintenance entrypoint a serving deployment schedules
        (the LSM segment merge and the lakehouse VACUUM applied to the
        BM25 and IVF artifacts).

        :func:`sources.versioned.merge_versioned` folds each table's
        appended segments and tombstones into one new base — on the
        driver with pyarrow when the artifact's snapshot estimate is
        under ``serving.SNAPSHOT_MAX_BYTES``, else through Spark as a
        build writes it.  A merge keeps the rows, so the BM25 anchor's
        merge commit also re-pins the merged doclen version, and a
        driver snapshot held at the pre-merge version is re-keyed to
        the merged one instead of reloaded.  Then ``vacuum`` reclaims
        version dirs older than ``keep_last`` committed versions: the
        current snapshots survive, so probe results are hash-stable
        across a maintenance pass even at ``keep_last=1``.  Run only
        when no reader holds a snapshot older than the horizon —
        Delta's VACUUM contract.  Returns per-table ``{merged: bool,
        vacuumed: n_versions}``."""
        from sortify_spark.sources.versioned import (
            amend_manifest,
            merge_versioned,
            read_manifest,
            vacuum,
        )

        def spark_if_large(nbytes: int):
            return None if nbytes <= serving.SNAPSHOT_MAX_BYTES else self.spark

        out: dict = {}

        def finish(path: str, label: str, merged) -> None:
            out[label] = {
                "merged": merged is not None,
                "vacuumed": len(vacuum(path, keep_last=keep_last)),
            }

        if self._lex_built:
            lex = self.lexical_index_path()
            anchor = read_manifest(f"{lex}/postings")
            spark = spark_if_large(serving.lexical_bytes(lex, anchor))
            pin: dict = {}
            dv = None
            if anchor.get("doclen_version") == read_manifest(f"{lex}/doclen")["version"]:
                dv = merge_versioned(f"{lex}/doclen", "pd", spark)
                if dv is not None:
                    pin["doclen_version"] = dv
                finish(f"{lex}/doclen", "lex/doclen", dv)
            else:
                # a doclen commit after the anchor's pin (a crash between
                # the two commits): its rows are not the index's, so the
                # table is neither merged nor vacuumed — the next
                # mutation re-bases it on the pinned version
                warnings.warn(
                    f"maintain_indexes: anchor pin doclen_version="
                    f"{anchor.get('doclen_version')} is not the current "
                    "doclen version; skipping its merge and vacuum",
                    RuntimeWarning,
                    stacklevel=2,
                )
                out["lex/doclen"] = {"merged": False, "vacuumed": 0, "stale_pin": True}
            pv = merge_versioned(f"{lex}/postings", "pt", spark, extra=pin)
            if pv is None and pin:
                pv = amend_manifest(f"{lex}/postings", pin)
            if pv is not None:
                self._rekey_snapshot(
                    "lexical", anchor["version"], pv,
                    read_manifest(f"{lex}/postings"),
                )
            finish(f"{lex}/postings", "lex/postings", pv)
        for vtype in sorted(self._ivf_built):
            ivf = self.ivf_index_path(vtype)
            m = read_manifest(f"{ivf}/assign")
            v = merge_versioned(
                f"{ivf}/assign", "bucket",
                spark_if_large(serving.ivf_bytes(ivf, m, self.dim)),
            )
            if v is not None:
                cv = m.get("centroid_version")
                self._rekey_snapshot(
                    f"ivf_{vtype}", (m["version"], cv), (v, cv),
                    read_manifest(f"{ivf}/assign"),
                )
            finish(f"{ivf}/assign", f"ivf_{vtype}/assign", v)
            finish(f"{ivf}/centroids", f"ivf_{vtype}/centroids", None)
        return out

    # -- analytics ---------------------------------------------------------

    def dashboard(self) -> DataFrame:
        return dashboard_counts(self.events)
