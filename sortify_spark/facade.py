"""Engine facade (SURVEY.md §7.0-d): the reference's API surface as
Python calls returning DataFrames.

Each method is a thin composition over the operator library — the
facade owns defaults (reference config values) and tenant isolation,
never new plan logic.  LLM-powered stages (intent classification, query
rewrite, spec generation) are injected callables with deterministic
defaults, keeping the data plane hermetic (SURVEY.md §2.12).
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sortify_spark.cache import QueryResultCache
from sortify_spark.functions.vectors import hash_embed_text
from sortify_spark.operators.aggregates import dashboard_counts
from sortify_spark.operators.filters import DocumentFilter
from sortify_spark.operators.pagination import page_with_total, validated_order
from sortify_spark.pipelines import ingest_vectorize, ingest_vectorize_expr
from sortify_spark.plans.query_spec import QuerySpec, compile_spec
from sortify_spark.search import fusion
from sortify_spark.search.knn import brute_force_topk
from sortify_spark.tables import load_table

#: Reference search defaults (``backend/app/core/config.py:27-43``).
DEFAULT_TOP_K = 10
DEFAULT_THRESHOLD = 0.5
STAGE1_K = 10
STAGE2_K = 5


@dataclass
class SearchConfig:
    top_k: int = DEFAULT_TOP_K
    threshold: float | None = None
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
        if self.embed == "expr":
            from sortify_spark.functions.sql_embed import expr_embed

            return self.spark.createDataFrame(
                [(query_text[:512],)], "t string"
            ).select(expr_embed(F.col("t"), self.dim).alias("embedding"))
        vec = hash_embed_text(query_text[:512], self.dim)
        return self.spark.createDataFrame(
            [(vec,)], "embedding array<float>"
        )

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

            path = self._ivf_index(vtype)
            # resolve the snapshot ONCE for occupancy + probe: a
            # commit landing between the two manifest reads must not
            # pair a newer snapshot with an older occupancy set
            occ_ver, occ = (
                self._ivf_occupied(path, vtype, owner_id, cfg.ivf_version)
                if pred is not None
                else (cfg.ivf_version, None)
            )
            topk = probe_ivf_index(
                self.spark,
                path,
                q,
                k=k,
                nprobe=cfg.ivf_nprobe,
                version=occ_ver,
                pre_filter=pred,
                # owner-scoped probes compose BOTH filtered-IVF
                # mitigations (Chroma's where-filtered search never
                # under-recalls a selective tenant,
                # vector_db_service.py:193-224): occupancy-aware bucket
                # choice ranks only the tenant's occupied buckets —
                # provably exact once nprobe covers them — and nprobe
                # escalation widens within that universe until ≥ k of
                # the tenant's vectors sit inside the probed buckets.
                # The occupancy set is computed once per (tenant,
                # snapshot) and cached (version-keyed).  The unscoped
                # path keeps the caller's fixed nprobe.
                min_candidates=k if pred is not None else None,
                filter_buckets=pred is not None,
                occupied_buckets=occ,
                # recall floor (VERDICT r12 #1): candidates ≥ k alone
                # can stop at a width whose top-k misses better
                # neighbors in the next occupied buckets — read at
                # least min(floor, |occupied|) of them
                min_probe_buckets=(
                    cfg.ivf_min_recall_buckets
                    if pred is not None
                    else None
                ),
            ).select(
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
            anchor = read_manifest(f"{path}/terms")
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
            # artifact's whole lifecycle (upserts, compact re-pins).
            layout_col="owner_id" if self.owner_col else None,
            layout_min_file_rows="auto",
        )
        self._ivf_built.add(vtype)
        return version

    def add_documents(
        self, docs: DataFrame, rebuild_over: float = 0.5
    ) -> dict:
        """The reference's upload path end-to-end (S1 + S9 +
        ``vector_db_service.py:73-76``): vectorize NEW documents with
        the engine's pipeline, append them to the served vectors table,
        and keep any BUILT persisted IVF artifacts current — via
        incremental :func:`search.index.upsert_ivf_index` (FAISS-add
        against the stored quantizer, only touched bucket partitions
        rewrite) while the index has grown less than ``rebuild_over``
        relative to its quantizer's training size (the assign
        manifest's ``built_rows``), and via a full
        :meth:`rebuild_ivf_index` re-train past that drift budget.
        Returns ``{vtype: ("upsert"|"rebuild", version)}`` for the
        indexes maintained."""
        from sortify_spark.search.index import upsert_ivf_index
        from sortify_spark.sources.versioned import read_manifest

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
        self.documents = self.documents.unionByName(docs)
        # swap-then-release (ADVICE r9): materialize the grown frame
        # BEFORE unpersisting the old one it builds on, so repeated
        # mutations don't accumulate cached lineages in executor storage
        old_vectors = self.vectors
        self.vectors = self.vectors.unionByName(new_vecs).persist()
        self.vectors.count()
        old_vectors.unpersist()
        out: dict = {}
        if not self._lex_built:
            self._lex_dirty = True  # adoption must not trust n_docs alone
        # same discipline for unbuilt IVF artifacts (ADVICE r9): a later
        # adoption must rebuild rather than trust the stale snapshot
        self._ivf_dirty.update({"summary", "chunk"} - self._ivf_built)
        if self._lex_built:
            from sortify_spark.search.lexical import upsert_lexical_index

            # incremental posting/df/stats maintenance — add AND
            # replace are exact (search/lexical contract), so the
            # lexical artifact never needs a drift-budget rebuild
            out["lexical"] = (
                "upsert",
                upsert_lexical_index(
                    self._lex_docs(docs),
                    self.lexical_index_path(),
                ),
            )
        for vtype in sorted(self._ivf_built):
            path = self.ivf_index_path(vtype)
            m = read_manifest(f"{path}/assign")
            adds = new_vecs.filter(F.col("vtype") == vtype).select(
                F.col("vector_id").alias("vec_id"), "embedding", "owner_id"
            )
            n_add = adds.count()
            if n_add == 0:
                continue
            built = int(m.get("built_rows") or 0)
            from sortify_spark.sources.versioned import read_versioned

            n_index = read_versioned(
                self.spark, f"{path}/assign", "bucket"
            ).count()
            # cumulative drift vs the quantizer's training size —
            # repeated small adds eventually trip the re-train
            grown = (
                ((n_index + n_add) / built - 1.0)
                if built
                else float("inf")
            )
            if grown > rebuild_over:
                out[vtype] = ("rebuild", self.rebuild_ivf_index(vtype))
            else:
                out[vtype] = ("upsert", upsert_ivf_index(adds, path))
        # the batch frame's cache served its consumers (the grown
        # vectors table is independently materialized above)
        new_vecs.unpersist()
        return out

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
        check is the assign table's exact row count vs one served-
        vectors count; any mismatch — or a mutation recorded in
        ``_ivf_dirty`` (a balanced add+delete passes the count check)
        — rebuilds."""
        if vtype not in self._ivf_built:
            from sortify_spark.sources.versioned import (
                read_manifest,
                read_versioned,
            )

            path = self.ivf_index_path(vtype)
            manifest = read_manifest(f"{path}/assign")
            if manifest["version"] == 0:
                self.rebuild_ivf_index(vtype)
            elif (
                vtype in self._ivf_dirty
                # an artifact without the owner_id carry cannot serve
                # owner-filtered probes — rebuild on adoption
                or "owner_id" not in (manifest.get("carry") or [])
                or read_versioned(self.spark, f"{path}/assign", "bucket")
                .count()
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
        """
        cfg = cfg or SearchConfig()
        pred = self._owner_pred(owner_id)
        if search_type in ("keyword", "hybrid_lexical"):
            from sortify_spark.search.lexical import probe_lexical_index

            # bounded term set: BM25 cost is one tf column per term —
            # cap documented on SearchConfig.max_terms, truncation loud
            terms = self._split_terms(query_text, cfg)
            if not terms:
                raise ValueError(
                    f"{search_type!r} search requires a query with at "
                    "least one term (got whitespace-only text)"
                )
            lex_k = (
                cfg.top_k if search_type == "keyword" else cfg.top_k * 2
            )
            # serve from the PERSISTED inverted-index artifact: |terms|
            # posting buckets read, corpus never scanned (the probe
            # equals a fresh bm25_scored ranking; bm25_index_probe)
            lex = probe_lexical_index(
                self.spark,
                self._lexical_index(),
                terms,
                k=lex_k,
                version=cfg.lex_version,
                pre_filter=pred,
            ).select(
                F.col("doc_id").cast("string").alias("id"),
                F.col("bm25").alias("score"),
            )
            if search_type == "keyword":
                return lex
            dense = self._scored(
                query_text, "summary", cfg.top_k * 2, cfg, owner_id
            )
            return fusion.rrf_fuse(
                dense,
                lex,
                k=cfg.rrf_k,
                w_summary=1.0,
                w_chunks=1.0,
                top_k=cfg.top_k,
            )
        if search_type == "summary_only":
            return self._scored(query_text, "summary", cfg.top_k, cfg, owner_id)
        if search_type == "chunks_only":
            return self._scored(query_text, "chunk", cfg.top_k, cfg, owner_id)
        if search_type == "rrf_fusion":
            # O5: bounded candidate over-fetch (k*2) before fusion/rerank.
            return fusion.rrf_fuse(
                self._scored(query_text, "summary", cfg.top_k * 2, cfg, owner_id),
                self._scored(query_text, "chunk", cfg.top_k * 2, cfg, owner_id),
                k=cfg.rrf_k,
                w_summary=cfg.w_summary,
                w_chunks=cfg.w_chunks,
                top_k=cfg.top_k,
            )
        if search_type == "traditional":
            return fusion.traditional_merge(
                self._scored(query_text, "summary", cfg.top_k * 2, cfg, owner_id),
                self._scored(query_text, "chunk", cfg.top_k * 2, cfg, owner_id),
                top_k=cfg.top_k,
            )
        # default: two-stage hybrid (V3)
        summary = self._scored(query_text, "summary", STAGE1_K, cfg, owner_id)

        def chunk_scored_fn(candidates: DataFrame) -> DataFrame:
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

        return fusion.two_stage_hybrid(
            summary,
            chunk_scored_fn,
            stage1_k=STAGE1_K,
            top_k=STAGE2_K,
            # the facade's stage-1 scorer is the interpreted cosine fold
            # over the persisted vectors table — expensive enough that
            # evaluating it once (vs once per consumer) wins (measured;
            # see fusion.two_stage_hybrid's docstring)
            materialize_stage1=True,
        )

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
        broadcasts into the batched scoring join."""
        if self.embed == "expr":
            from sortify_spark.functions.sql_embed import expr_embed

            return self.spark.createDataFrame(
                [(q, t[:512]) for q, t in queries.items()],
                "query_id string, t string",
            ).select(
                "query_id", expr_embed(F.col("t"), self.dim).alias("embedding")
            )
        return self.spark.createDataFrame(
            [(q, hash_embed_text(t[:512], self.dim)) for q, t in queries.items()],
            "query_id string, embedding array<float>",
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

            path = self._ivf_index(vtype)
            # same snapshot for occupancy + probe (see _scored)
            occ_ver, occ = (
                self._ivf_occupied(path, vtype, owner_id, cfg.ivf_version)
                if pred is not None
                else (cfg.ivf_version, None)
            )
            topk = probe_ivf_index_many(
                self.spark,
                path,
                self._query_df_many(queries),
                k=k,
                nprobe=cfg.ivf_nprobe,
                version=occ_ver,
                pre_filter=pred,
                # batched owner-scoped probes use the same composed
                # default as the single path (occupancy-aware bucket
                # choice + per-query escalation + recall floor), with
                # the same cached per-(tenant, snapshot) occupancy set
                # — batched and single serving must not differ in
                # tenant recall
                min_candidates=k if pred is not None else None,
                filter_buckets=pred is not None,
                occupied_buckets=occ,
                min_probe_buckets=(
                    cfg.ivf_min_recall_buckets
                    if pred is not None
                    else None
                ),
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

    def semantic_search_many(
        self,
        queries: dict[str, str],
        search_type: str = "hybrid_lexical",
        cfg: SearchConfig | None = None,
        owner_id: str | None = None,
    ) -> DataFrame:
        """BATCHED serving: per-query top-k for N queries in ONE plan
        per leg (VERDICT r8 next #2) — (query_id, id, score, rnk),
        per-query rows identical to the :meth:`semantic_search` loop
        (parity-tested), at batch throughput: the corpus/posting scans
        and the fusion shuffle amortize across the whole batch instead
        of paying 2-3 driver jobs per query (measured 0.5-0.7 q/s
        per-query vs 17-18 q/s batched lexical, r8 scale stress).

        Strategies: ``keyword`` (one bucket-pruned probe over the union
        of every query's term buckets — ``probe_lexical_index_many``),
        ``hybrid_lexical`` (that probe + one batched dense scan, fused
        per query by ``fusion.rrf_fuse_many``), ``summary_only`` /
        ``chunks_only`` (one batched dense scan), ``rrf_fusion`` /
        ``traditional`` (two batched dense scans + grouped fusion),
        and the default two-stage ``hybrid`` (every query's stage-1
        candidates gathered into ONE (query, id) pair frame; stage 2
        is one semi-joined chunk scan scored per pair —
        ``fusion.two_stage_hybrid_many``).  Dense legs serve the EXACT
        path by default and the persisted IVF index under
        ``cfg.ann='ivf'``; keyword legs probe the persisted BM25
        artifact, as in the per-query API."""
        cfg = cfg or SearchConfig()
        pred = self._owner_pred(owner_id)
        if not queries:
            raise ValueError("semantic_search_many requires ≥1 query")
        if search_type in ("keyword", "hybrid_lexical"):
            from sortify_spark.search.lexical import probe_lexical_index_many

            terms = {q: self._split_terms(t, cfg) for q, t in queries.items()}
            empty = [q for q, ts in terms.items() if not ts]
            if empty:
                raise ValueError(
                    f"queries {empty!r} have no terms (whitespace-only)"
                )
            lex_k = (
                cfg.top_k if search_type == "keyword" else cfg.top_k * 2
            )
            lex = probe_lexical_index_many(
                self.spark,
                self._lexical_index(),
                terms,
                k=lex_k,
                version=cfg.lex_version,
                pre_filter=pred,
            ).select(
                "query_id",
                F.col("doc_id").cast("string").alias("id"),
                F.col("bm25").alias("score"),
                "rnk",
            )
            if search_type == "keyword":
                return lex
            dense = self._scored_many(
                queries, "summary", cfg.top_k * 2, cfg, owner_id
            )
            return fusion.rrf_fuse_many(
                dense,
                lex.drop("rnk"),
                k=cfg.rrf_k,
                w_summary=1.0,
                w_chunks=1.0,
                top_k=cfg.top_k,
            ).select(
                "query_id", "id", F.col("rrf_score").alias("score"), "rnk"
            )
        from pyspark.sql.window import Window

        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("id")
        )
        if search_type in ("summary_only", "chunks_only"):
            vtype = "summary" if search_type == "summary_only" else "chunk"
            return (
                self._scored_many(queries, vtype, cfg.top_k, cfg, owner_id)
                .withColumn("rnk", F.row_number().over(w))
            )
        if search_type == "rrf_fusion":
            return fusion.rrf_fuse_many(
                self._scored_many(
                    queries, "summary", cfg.top_k * 2, cfg, owner_id
                ),
                self._scored_many(
                    queries, "chunk", cfg.top_k * 2, cfg, owner_id
                ),
                k=cfg.rrf_k,
                w_summary=cfg.w_summary,
                w_chunks=cfg.w_chunks,
                top_k=cfg.top_k,
            ).select(
                "query_id", "id", F.col("rrf_score").alias("score"), "rnk"
            )
        if search_type == "traditional":
            return fusion.traditional_merge_many(
                self._scored_many(
                    queries, "summary", cfg.top_k * 2, cfg, owner_id
                ),
                self._scored_many(
                    queries, "chunk", cfg.top_k * 2, cfg, owner_id
                ),
                top_k=cfg.top_k,
            )
        if search_type == "hybrid":
            # batched two-stage: every query's stage-1 candidates
            # gather in ONE frame; stage 2 scores chunks restricted to
            # the (query, candidate) PAIRS — one semi-joined scan for
            # the whole batch, each chunk row scored against ITS
            # query's embedding with the single path's exact folds
            from sortify_spark.functions.vectors import (
                cosine_given_norms,
                l2_norm,
            )

            summary = self._scored_many(
                queries, "summary", STAGE1_K, cfg, owner_id
            )

            def chunk_scored_fn(cand_pairs: DataFrame) -> DataFrame:
                q = F.broadcast(
                    self._query_df_many(queries)
                    .select(
                        "query_id", F.col("embedding").alias("__qvec")
                    )
                    .withColumn("__qn", l2_norm("__qvec"))
                )
                chunk_base = self.vectors.filter(F.col("vtype") == "chunk")
                if pred is not None:
                    chunk_base = chunk_base.filter(pred)
                restricted = (
                    chunk_base
                    .join(
                        F.broadcast(
                            cand_pairs.withColumnRenamed(
                                "id", "document_id"
                            )
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

            return fusion.two_stage_hybrid_many(
                summary,
                chunk_scored_fn,
                stage1_k=STAGE1_K,
                top_k=STAGE2_K,
                # same rationale as the single-query path (the stage-1
                # scorer is the interpreted cosine fold over the
                # persisted vectors table, consumed by two legs); the
                # r14 A/B on e2e_search_batched measured it a win here
                materialize_stage1=True,
            ).select("query_id", "id", "score", "tier", "rnk")
        raise ValueError(
            f"semantic_search_many does not support {search_type!r}"
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
        persisted artifact is maintained in place: the BM25 lexical
        index via :func:`search.lexical.delete_from_lexical_index`
        (postings/doclen removed, df/n_docs/sum_dl decremented by exact
        deltas) and each IVF index via
        :func:`search.index.delete_from_ivf_index` (keyed bucket
        delete), so ``keyword``/``hybrid_lexical``/``ivf`` searches
        stop returning the doc WITHOUT a rebuild.  Returns the
        surviving vectors frame (also the new ``self.vectors``).

        One call accepts at most ``_DELETE_BATCH_CAP`` ids.  This is
        the ENGINE's bound, not the reference's: the reference's
        batch-delete endpoint (``BatchDeleteRequest``,
        ``apis/v1/documents.py:619``) accepts an unbounded id list and
        loops it row-at-a-time server-side.  Here each deletion batch
        becomes a driver-local relation embedded in four artifact
        plans, so it must stay metadata-sized — callers with a larger
        deletion set use :meth:`delete_vectors_batched`, which loops
        bounded batches internally and matches the reference's
        unbounded-list contract."""
        # Collect the deletion list ONCE into a driver-local relation.
        # A localCheckpoint here leaked one storage block per delete
        # (r11 finding): the checkpointed RDD enters the lineage of
        # the retained ``self.vectors``/``self.documents`` frames, so
        # the ContextCleaner can never reclaim it for the life of the
        # engine; a LocalRelation has no cached blocks and broadcasts
        # identically into the per-artifact anti-joins.
        cap = _DELETE_BATCH_CAP
        if isinstance(doc_ids, DataFrame):
            # limit(cap+1) bounds the driver transfer even when the
            # caller hands over a huge frame; the cap itself is checked
            # below so a too-large batch fails loudly instead of
            # embedding a multi-million-row LocalRelation in four plans.
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
                "each batch embeds a driver-local relation in four "
                "artifact plans, so it must stay metadata-sized; use "
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
        if self._lex_built:
            from sortify_spark.search.lexical import (
                delete_from_lexical_index,
            )

            delete_from_lexical_index(
                ids.select(F.col("document_id").cast("long").alias("doc_id")),
                self.lexical_index_path(),
            )
        for vtype in sorted(self._ivf_built):
            from sortify_spark.search.index import delete_from_ivf_index

            gone = (
                self.vectors.filter(F.col("vtype") == vtype)
                .join(F.broadcast(ids), "document_id", "left_semi")
                .select(F.col("vector_id").alias("vec_id"))
            )
            delete_from_ivf_index(gone, self.ivf_index_path(vtype))
        # swap-then-release (ADVICE r9): materialize survivors before
        # unpersisting the frame they filter from
        old_vectors = self.vectors
        self.vectors = self.vectors.join(
            F.broadcast(ids), "document_id", "left_anti"
        ).persist()
        self.vectors.count()
        old_vectors.unpersist()
        self.documents = self.documents.join(
            F.broadcast(
                ids.select(F.col("document_id").cast("long").alias("doc_id"))
            ),
            "doc_id",
            "left_anti",
        )
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
        maintained in place (probe file counts stay flat under the
        keyed-delete discipline), deleted docs unfindable immediately
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
        """OPTIMIZE + VACUUM for every BUILT persisted search artifact
        — the single maintenance entrypoint a serving deployment
        schedules (the lakehouse OPTIMIZE/VACUUM pair applied to the
        BM25 and IVF artifacts).

        ``compact`` consolidates any partition fragmented past one file
        — a structural no-op under the keyed-upsert discipline (every
        upsert merge-rewrites touched partitions into one file;
        measured across 20-trigger streams, r10 scale stress) but kept
        here so artifacts written by OTHER writers heal too.
        Compaction is layout-only (manifest extras carry forward), but
        it BUMPS the compacted table's version — so before vacuuming,
        any anchor that pins a paired table by version is re-pinned
        onto the compacted (row-identical) version via a metadata-only
        ``amend_manifest`` commit.  Only then does ``vacuum`` reclaim
        version dirs older than ``keep_last`` committed versions:
        current snapshots and the (re-pinned) anchor-paired manifests
        survive, so probe results are hash-stable across a maintenance
        pass even at ``keep_last=1``.  Run only when no reader holds a
        snapshot older than the horizon — Delta's VACUUM contract.
        Returns per-table ``{compacted: bool, vacuumed: n_versions}``."""
        from sortify_spark.sources.versioned import (
            amend_manifest,
            compact,
            read_manifest,
            vacuum,
        )

        out: dict = {}
        groups: list[list[tuple[str, str, str]]] = []
        if self._lex_built:
            lex = self.lexical_index_path()
            groups.append(
                [
                    (f"{lex}/postings", "pt", "lex/postings"),
                    (f"{lex}/doclen", "pd", "lex/doclen"),
                    (f"{lex}/terms", "part", "lex/terms"),
                ]
            )
        for vtype in sorted(self._ivf_built):
            ivf = self.ivf_index_path(vtype)
            groups.append(
                [
                    (f"{ivf}/assign", "bucket", f"ivf_{vtype}/assign"),
                    (f"{ivf}/centroids", "part", f"ivf_{vtype}/centroids"),
                ]
            )
        _PIN_KEYS = {
            "postings": "postings_version",
            "doclen": "doclen_version",
            "centroids": "centroid_version",
        }
        for tables in groups:
            # Pre-compaction snapshot: the paired tables' CURRENT
            # versions and the anchor's pins, read before any rewrite.
            # The re-pin below is only valid when the anchor's pin
            # equals the paired table's pre-compaction version — i.e.
            # the pin points at exactly the rows compaction preserved.
            pre_manifests = {
                label: read_manifest(path) for path, _, label in tables
            }
            pre_versions = {
                label: m["version"] for label, m in pre_manifests.items()
            }
            anchor_path = None
            for path, _, label in tables:
                if label.split("/", 1)[1] in ("terms", "assign"):
                    anchor_path = path
            anchor_manifest = (
                read_manifest(anchor_path) if anchor_path else {}
            )
            compacted = {
                label: compact(self.spark, path, pcol)
                for path, pcol, label in tables
            }
            # re-pin anchors BEFORE any vacuum in this group: a real
            # compaction of a paired table moved its current version
            # past the anchor's pin, and vacuum would reclaim the
            # pinned retained manifest at small keep_last.  If the pin
            # is STALE (a crash landed between the paired commit and
            # the anchor commit, so pin != pre-compaction current),
            # re-pinning would silently move probes onto rows the
            # anchor's n_docs/sum_dl no longer describe — skip both
            # the re-pin and that table's vacuum and surface a
            # warning; the loud FileNotFoundError on a reclaimed pin
            # is strictly better than a silent stat mismatch.
            repin: dict = {}
            skip_vacuum: set = set()
            for path, _, label in tables:
                sub = label.split("/", 1)[1]
                pin_key = _PIN_KEYS.get(sub)
                if pin_key is None:
                    continue
                pinned = anchor_manifest.get(pin_key)
                if pinned is None:
                    # No pin recorded: nothing references an old
                    # version, so vacuum cannot strand a reader.
                    continue
                if pinned == pre_versions[label]:
                    if compacted[label] is not None:
                        repin[pin_key] = compacted[label]
                else:
                    # Stale pin (crash between the paired commit and
                    # the anchor commit).  Checked even when nothing
                    # compacted: vacuum reclaims ANY manifest at or
                    # below the horizon, pinned or not, so a stale pin
                    # must suppress vacuum of its table regardless of
                    # whether this pass rewrote files.
                    warnings.warn(
                        f"maintain_indexes: anchor pin {pin_key}="
                        f"{pinned} != pre-compaction version "
                        f"{pre_versions[label]} of {label}; skipping "
                        "re-pin and vacuum of that table (stale pin — "
                        "rebuild the index to reconcile)",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                    skip_vacuum.add(label)
            if repin and anchor_path is not None:
                amend_manifest(anchor_path, repin)
            def _compact_kind(path, label):
                # compact() returns a version for BOTH a file rewrite
                # and a metadata-only roll re-pin (r13) — distinguish
                # them for the report: an amend leaves the partition
                # map byte-identical, a rewrite repoints it (r13
                # review: "compacted": True for a pin would read as a
                # phantom file rewrite to maintenance monitoring)
                if compacted[label] is None:
                    return {"compacted": False, "repinned": False}
                rewrote = (
                    read_manifest(path)["partitions"]
                    != pre_manifests[label]["partitions"]
                )
                return {"compacted": rewrote, "repinned": not rewrote}

            for path, _, label in tables:
                if label in skip_vacuum:
                    out[label] = {
                        **_compact_kind(path, label),
                        "vacuumed": 0,
                        "stale_pin": True,
                    }
                    continue
                removed = vacuum(path, keep_last=keep_last)
                out[label] = {
                    **_compact_kind(path, label),
                    "vacuumed": len(removed),
                }
        return out

    # -- analytics ---------------------------------------------------------

    def dashboard(self) -> DataFrame:
        return dashboard_counts(self.events)
