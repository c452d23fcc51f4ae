"""Persisted IVF index artifact — the ANN index as a BATCH PRODUCT.

The facade builds its vector index per engine instance and the
scale-stress harness builds IVF state inline; this module makes the
index a durable artifact with the lifecycle a serving system needs
(reference analog: Chroma's persistent collection,
``vector_db_service.py:18-20`` — rebuilt-in-Spark as versioned parquet):

* :func:`build_ivf_index` — seeded centroids + one Lloyd assignment
  pass (the Arrow/BLAS kernel), committed ATOMICALLY through
  :mod:`sources.versioned`: the assignment table partitioned BY BUCKET
  (so a probe is partition pruning) and the centroid table beside it.
  Rebuilds commit new versions; readers switch atomically; old
  snapshots remain time-travelable until vacuumed.
* :func:`upsert_ivf_index` / :func:`delete_from_ivf_index` — FAISS
  ``add`` / ``remove_ids`` as appends on the driver (no Spark job): an
  add is one segment of assign rows, a replace or delete a tombstone.
* :func:`probe_ivf_index` — rank the stored centroids against the
  query, read ONLY the probed buckets' partitions (and the small
  segment files), exact cosine rerank inside.  No rebuild, no full
  scan.

Scale shape: the build pays n × nlist BLAS scoring once; each probe
reads nprobe/nlist of the data.  At 100 TB the assignment table is the
bucketed vectors store itself (embedding co-located with its bucket),
which is exactly how it is written here.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sortify_spark.search import knn


def build_ivf_index(
    vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_col: str | None = None,
    nlist_per_seed: int = 1,
    exact_assign: bool = False,
    carry_cols: tuple[str, ...] = (),
    layout_col: str | None = None,
    layout_files: int = 4,
    layout_min_file_rows=None,
) -> int:
    """Build/refresh the IVF index at ``path``; returns the committed
    version of the assignment table.

    ``seed_col`` provides the seed grouping for the initial centroids
    (defaults to ``id % 16`` when absent — callers with labels should
    pass them); one Lloyd step then reassigns every vector via the
    BLAS kernel.  Layout: ``<path>/assign`` partitioned by ``bucket``,
    ``<path>/centroids`` partitioned by a constant (tiny table, atomic
    swap is what matters).

    Each build is a FULL-SNAPSHOT replace (``overwrite_versioned``),
    not a keyed upsert: a rebuild must drop a vector's row from its OLD
    bucket when its assignment moves (a keyed (bucket, vec_id) upsert
    would keep both, returning duplicate ids from multi-bucket probes)
    and must remove vectors no longer in the input.  The assign
    manifest records the PAIRED centroid-table version, so a crash
    between the two commits can never skew a probe: the centroid
    snapshot is resolved from the assign commit being probed, not from
    a parallel version counter.

    ``carry_cols``: metadata columns stored alongside each vector in
    the assign table — the substrate for FILTERED ANN (the reference
    combines Chroma ``where`` metadata filters with vector search,
    ``vector_db_service.py:193-224``): a probe's ``pre_filter``
    evaluates on these inside the probed buckets, so the filter rides
    the partition-pruned scan instead of a corpus join.

    ``layout_min_file_rows``: the bucket-size crossover guard
    (VERDICT r11 #3, ``versioned._apply_layout``) — don't intend
    layout files smaller than this many rows; buckets too small to
    fill ``layout_files`` useful files write proportionally fewer.
    Below ~a parquet row group per file, file-level stat pruning adds
    nothing over the row-group pruning the layout sort already gives
    inside one file, while every extra file costs a footer read per
    probe (measured crossover: SCALE.md round 12).  ``"auto"``
    (VERDICT r12 #2 — the facade's default) derives the floor from
    the assign rows' OWN width at build time
    (``versioned.derive_layout_floor``: parquet block bytes //
    sampled row bytes ≈ one row group's rows), so small builds land
    on the fast side of the crossover and the multi-file split
    resumes once buckets outgrow a row group.  The floor is recorded
    in the manifest (``layout_floor``) so later legacy re-derivations
    and compact's growth re-pin stay floored too.

    ``layout_col`` (one of ``carry_cols``, typically ``owner_id``):
    secondary sub-partition layout inside each bucket — every bucket
    dir writes ~``layout_files`` files each covering a tight contiguous
    range of the layout column, so a tenant-scoped probe's
    ``pre_filter`` prunes FILES via parquet footer stats instead of
    row-filtering whole buckets (the 100 TB multi-tenant cost story;
    VERDICT r10 #3).  The layout is recorded in the manifest and
    re-applied by every merge, so it survives the artifact's
    lifecycle.
    """
    from sortify_spark.sources.versioned import overwrite_versioned

    # Validate BEFORE any write or materialization: a bad layout_col
    # must not leave an advanced, unreferenced centroids version
    # behind (build_lexical_index has the same ordering).
    if layout_col is not None and (
        layout_col not in carry_cols and layout_col != "vec_id"
    ):
        raise ValueError(
            f"layout_col {layout_col!r} must be carried in the "
            "assign rows (add it to carry_cols)"
        )
    base = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
        *[F.col(c) for c in carry_cols],
        (
            F.col(seed_col)
            if seed_col is not None
            # deterministic hash seeding works for string ids too (the
            # facade indexes chunk-id keyed vectors)
            else F.pmod(F.abs(F.xxhash64(F.col(id_col))), F.lit(16))
        ).alias("seed"),
    )
    seeds = knn.build_centroids(base, "seed")
    # exact_assign = the rounded expression twin (SQL-oracle-replayable
    # argmax); default = the BLAS kernel (throughput path; unrounded
    # float argmax, equality with the twin asserted in tests)
    assign = (
        knn.assign_nearest_centroid
        if exact_assign
        else knn.assign_nearest_centroid_np
    )
    assigned = assign(base, seeds).withColumnRenamed("label", "bucket")
    data = base.select("vec_id", "embedding", *carry_cols).join(
        assigned, "vec_id"
    )
    cents = knn.build_centroids(data, "bucket").select(
        "bucket", "centroid", F.lit(0).alias("part")
    )
    # centroids first; the assign commit then POINTS at that centroid
    # version — a crash between the commits leaves an unreferenced
    # centroid snapshot (harmless; next build supersedes it), and the
    # current assign manifest keeps pairing with ITS build's centroids
    cent_version = overwrite_versioned(
        cents, f"{path}/centroids", partition_col="part"
    )
    data = data.localCheckpoint(eager=True)
    if layout_min_file_rows == "auto":
        from sortify_spark.sources.versioned import derive_layout_floor

        # derive from the checkpointed assign rows themselves (one
        # cheap first() — no extra scan of the upstream plan); only
        # meaningful when a layout will actually split files
        layout_min_file_rows = (
            derive_layout_floor(data.sparkSession, data.first())
            if layout_col is not None
            else None
        )
    return overwrite_versioned(
        data,
        f"{path}/assign",
        partition_col="bucket",
        extra={
            "centroid_version": cent_version,
            # growth budget for rebuild decisions: callers compare
            # current row count to the quantizer's training size
            "built_rows": data.count(),
            # metadata schema of the assign rows — incremental upserts
            # must keep carrying these or a probe's pre_filter would
            # see nulls on newly added vectors
            "carry": list(carry_cols),
        },
        layout_col=layout_col,
        layout_files=layout_files if layout_col is not None else None,
        layout_min_file_rows=layout_min_file_rows,
    )


def upsert_ivf_index(
    vectors,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_assign: bool = False,
    delete_ids=(),
) -> int:
    """Incremental ADD / REPLACE against the STORED coarse quantizer —
    FAISS IVF ``add`` semantics: incoming vectors are assigned to their
    nearest EXISTING centroid (the quantizer does not move; re-train by
    :func:`build_ivf_index`) and committed as ONE appended segment of
    assign rows.  Returns the committed assign version.

    ``vectors`` is a Spark or pandas frame of (id, embedding, carry
    columns).  The assignment runs on the driver with the build's
    kernel (``knn.nearest_centroid_fn`` over the stored centroids, read
    with pyarrow), so the add plans no Spark job; ``exact_assign``
    assigns with the rounded expression twin on Spark instead.

    A REPLACED ``vec_id`` is a tombstone plus its new row in the same
    commit, whichever bucket it lands in, so no snapshot ever misses or
    duplicates it; ``delete_ids`` tombstones further ids in that commit
    (a replaced document's chunks the new text no longer has).  The
    paired ``centroid_version``, ``built_rows`` (the drift-budget
    denominator) and ``carry`` carry through every commit."""
    import numpy as np

    from sortify_spark.sources.versioned import (
        append_versioned,
        read_manifest,
        read_versioned,
        read_versioned_pandas,
    )

    manifest = read_manifest(f"{path}/assign")
    if manifest["version"] == 0:
        raise FileNotFoundError(
            f"no IVF index at {path} — upsert_ivf_index maintains an "
            "EXISTING index (FAISS `add`); run build_ivf_index first"
        )
    carry = tuple(manifest.get("carry") or ())
    missing = [c for c in carry if c not in vectors.columns]
    if missing:
        raise ValueError(
            f"index at {path} carries assign metadata {list(carry)}; "
            f"the upsert batch is missing columns {missing}"
        )
    cols = [id_col, vec_col, *carry]
    if exact_assign:
        if not isinstance(vectors, DataFrame):
            raise ValueError("exact_assign assigns on Spark: pass a Spark frame")
        base = vectors.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
            *[F.col(c) for c in carry],
        )
        cents = read_versioned(
            vectors.sparkSession, f"{path}/centroids", "part",
            version=manifest.get("centroid_version"),
        )
        rows = (
            knn.assign_nearest_centroid(base.select("vec_id", "embedding"), cents)
            .withColumnRenamed("label", "bucket")
            .join(base, "vec_id")
            .toPandas()
        )
    else:
        rows = (
            vectors.select(*cols).toPandas()
            if isinstance(vectors, DataFrame)
            else vectors[cols]
        ).rename(columns={id_col: "vec_id", vec_col: "embedding"})
        cents = read_versioned_pandas(
            f"{path}/centroids", "part", version=manifest.get("centroid_version")
        )
        nearest = knn.nearest_centroid_fn(cents["bucket"], cents["centroid"])
        rows = rows.assign(
            bucket=nearest(rows["embedding"]) if len(rows) else [],
            embedding=[np.asarray(e, dtype=np.float64) for e in rows["embedding"]],
        )
    return append_versioned(
        rows, f"{path}/assign", "bucket", key="vec_id",
        delete=[*rows["vec_id"], *delete_ids],
    )


def delete_from_ivf_index(
    ids,
    path: str,
    id_col: str = "vec_id",
) -> int:
    """Keyed DELETE against the stored index — FAISS ``remove_ids`` /
    the reference's delete-by-id (``vector_db_service.py:263-323``)
    applied to the persisted artifact: one commit of tombstones, no data
    written, no Spark job.

    ``ids`` is a Spark or pandas frame with an ``id_col`` column, or a
    list of vector ids; ids not in the index are ignored (idempotent).
    The paired ``centroid_version`` and ``built_rows`` carry through so
    probes keep resolving the assigning quantizer and drift-budget
    rebuild decisions keep their denominator.  Returns the committed
    assign version (current version when nothing matched)."""
    from sortify_spark.sources.versioned import append_versioned, read_manifest

    if read_manifest(f"{path}/assign")["version"] == 0:
        raise FileNotFoundError(
            f"no IVF index at {path} — delete_from_ivf_index maintains "
            "an EXISTING index; run build_ivf_index first"
        )
    if isinstance(ids, DataFrame):
        ids = [r[0] for r in ids.select(id_col).collect()]
    elif not isinstance(ids, list):
        ids = ids[id_col].tolist()
    return append_versioned(
        None, f"{path}/assign", "bucket", key="vec_id", delete=ids
    )


# Last probe's escalation trace (diagnostics / tests, the
# ``queries_dedup.PPJOIN_AUTO_CHOICE`` pattern), read as the module
# attribute ``PROBE_ESCALATION``: ``None`` when this thread's last
# probe did not escalate, else ``{"levels": [(nprobe, n_cand), ...],
# "nprobe_final": p, "exhaustive": bool}``.  Stored per-thread (PEP
# 562 ``__getattr__`` below) so concurrent probes in a long-lived
# serving engine cannot clobber each other's trace between the probe
# and the caller's readback.
_probe_trace = threading.local()


def _set_probe_escalation(value: dict | None) -> None:
    _probe_trace.value = value


def __getattr__(name: str):
    if name == "PROBE_ESCALATION":
        return getattr(_probe_trace, "value", None)
    raise AttributeError(
        f"module {__name__!r} has no attribute {name!r}"
    )


def _escalation_schedule(nprobe: int, total: int) -> list[int]:
    """Doubling schedule ``nprobe, 2·nprobe, …`` capped at ``total``
    ranked buckets — log-length, deterministic, SQL-replayable."""
    out: list[int] = []
    p = max(1, nprobe)
    while True:
        p = min(p, total)
        out.append(p)
        if p >= total:
            return out
        p *= 2


def ivf_tenant_occupancy(
    spark: SparkSession,
    path: str,
    pre_filter,
    version: int | None = None,
) -> list[int]:
    """The sorted bucket ids CONTAINING filter-matching rows in the
    given assign snapshot — ONE column-pruned, filter-pushed scan
    (bucket + the filter's carry columns only, never embeddings),
    output ≤ nlist ints.  This is the tenant→buckets map the
    occupancy-aware probes consume via ``occupied_buckets``; a serving
    layer computes it once per (tenant, snapshot) and caches the
    broadcast-size result instead of paying the scan per query (the
    facade does exactly this, keyed by the assign version so an
    upsert that grows a tenant into a new bucket can never be missed
    through a stale cache)."""
    from sortify_spark.sources.versioned import read_manifest, scan_versioned

    rows = scan_versioned(
        spark, f"{path}/assign", "bucket",
        read_manifest(f"{path}/assign", version), pre_filter=pre_filter,
    )
    if rows is None:
        return []
    return sorted(
        int(r["bucket"]) for r in rows.select("bucket").distinct().collect()
    )


def ivf_occupancy_all(
    spark: SparkSession,
    path: str,
    owner_col: str,
    version: int | None = None,
) -> dict[str, tuple]:
    """EVERY tenant's occupancy in ONE scan: ``{owner → sorted tuple
    of occupied bucket ids}`` for the given assign snapshot.  The
    per-tenant :func:`ivf_tenant_occupancy` is the lazy serving shape
    (first probe per (tenant, snapshot) pays one column-pruned scan);
    at many-tenant scale a maintenance job warms the WHOLE map after
    each commit instead — T tenants cost one ``(owner, bucket)``
    distinct aggregation over the column-pruned scan, not T scans.
    Output is metadata-scale (≤ tenants × nlist ints — the same rows
    a per-tenant loop would collect in total); the facade's
    ``warm_ivf_occupancy`` feeds it straight into the version-keyed
    cache."""
    from sortify_spark.sources.versioned import read_manifest, scan_versioned

    rows = scan_versioned(
        spark, f"{path}/assign", "bucket",
        read_manifest(f"{path}/assign", version),
    )
    if rows is None:
        return {}
    rows = (
        rows.select(F.col(owner_col).cast("string").alias("__o"), "bucket")
        .distinct()
        .collect()
    )
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["__o"], []).append(int(r["bucket"]))
    return {o: tuple(sorted(bs)) for o, bs in out.items()}


def probe_ivf_index(
    spark: SparkSession,
    path: str,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    version: int | None = None,
    pre_filter=None,
    min_candidates: int | None = None,
    filter_buckets: bool = False,
    occupied_buckets=None,
    min_probe_buckets: int | None = None,
) -> DataFrame:
    """Top-k through the stored index: rank the stored centroids,
    read ONLY the probed buckets (partition-pruned via the manifest),
    exact cosine rerank inside.  ``version`` pins a historical ASSIGN
    snapshot (time travel); its paired centroid snapshot comes from
    the assign manifest's recorded ``centroid_version``, so the pair
    is always the one a single build committed — the two tables'
    version counters need not stay in lockstep.

    ``pre_filter``: a Column over the assign table's columns (vec_id
    plus the build's ``carry_cols`` metadata) — FILTERED ANN, the
    Chroma where-filter analog: evaluated inside the probed buckets
    before scoring, so the filter never touches the corpus.  Standard
    IVF filtered-search caveat: bucket choice ignores the filter, so
    matching vectors whose buckets were not probed are missed.  Two
    mitigations close the gap to the reference's contract (Chroma
    applies ``where`` natively per HNSW search,
    ``vector_db_service.py:193-224`` — it never under-recalls a
    selective tenant):

    * ``min_candidates`` — ADAPTIVE NPROBE ESCALATION: after reading
      the top-``nprobe`` buckets, count the filter-matching candidates
      inside them; while the count is below ``min_candidates`` (pass
      ``k``), double the probe width — deterministic doubling
      schedule, capped at every ranked bucket.  Each escalation level
      re-counts only the filter columns (parquet column pruning: the
      embedding column is not read until the final scoring pass).  If
      the schedule exhausts every bucket the probe IS the exact
      filtered scan — escalation can therefore never return worse
      recall than the unescalated probe and degrades to exact search
      for tenants too small to fill ``k``.  The trace of the last
      escalated probe is recorded in :data:`PROBE_ESCALATION`.
    * ``filter_buckets`` — OCCUPANCY-AWARE BUCKET CHOICE: restrict the
      centroid ranking to buckets that actually CONTAIN
      filter-matching rows (one column-pruned ``bucket``-distinct
      aggregation over the assign table — metadata-scale output,
      ≤ nlist rows; at 100 TB precompute it per tenant at build time
      or after :func:`upsert_ivf_index`, it is a broadcast-size
      lookup).  ``nprobe`` then counts OCCUPIED buckets, so a 1%
      tenant's probe behaves like an unfiltered probe over that
      tenant's own sub-corpus; with ``nprobe`` ≥ the tenant's occupied
      bucket count the probe is provably exact.

    Both composable: occupancy-aware ranking narrows the schedule's
    universe, escalation widens within it until ``min_candidates`` is
    met.

    ``occupied_buckets`` (with ``filter_buckets``): a precomputed
    occupancy set (from :func:`ivf_tenant_occupancy`) — skips the
    per-probe occupancy scan, the serving shape at 100 TB where the
    tenant→buckets map is computed once per snapshot and cached
    (broadcast-size, ≤ nlist ints).  MUST come from the same assign
    snapshot this probe reads: a stale set from an older version can
    MISS buckets the tenant has since grown into (the facade keys its
    cache by (vtype, owner, version) for exactly this reason).

    ``min_probe_buckets`` — the RECALL FLOOR (VERDICT r12 #1): read
    at least ``min(min_probe_buckets, ranked-universe size)`` buckets
    regardless of how early the candidate-count escalation would
    stop.  ``min_candidates`` guarantees CANDIDATES (never silence),
    not top-k QUALITY: a dense tenant can fill k from its single top
    bucket while its true top-k lives in the next fifteen
    (r12 scale stress: composed-at-nprobe0=1 stopped at 8 buckets /
    recall 0.7 where occupancy-only@16 reached 0.9).  With
    ``filter_buckets`` the floor counts OCCUPIED buckets, so a probe
    floored at F reads a superset of occupancy-only@F's buckets —
    recall ≥ that mitigation's by construction — and is clamped at
    the tenant's own occupied count, so it can never read more than
    the exact filtered scan.  The escalation schedule starts at the
    floored width and still widens past it while candidates < k."""
    from sortify_spark.sources.versioned import read_manifest, scan_versioned

    _set_probe_escalation(None)
    manifest = read_manifest(f"{path}/assign", version)

    def _read_rels(bucket_list, filtered=False):
        # pre_filter goes INTO the scans (pushed to parquet footer
        # stats — a layout_col table then prunes whole files), never
        # onto the returned frame: the partition-restore projection is
        # nondeterministic and blocks predicate pushdown above it
        rows = scan_versioned(
            spark, f"{path}/assign", "bucket", manifest, values=bucket_list,
            pre_filter=pre_filter if filtered else None,
        )
        if rows is None:
            # Every requested bucket is absent from the snapshot — a
            # delete can empty a bucket the centroids table still
            # ranks, and the delta-sliced escalation reads can then
            # land entirely on such buckets.  A zero-path parquet read
            # raises; return a zero-row frame with the index's own
            # schema instead.
            rows = scan_versioned(spark, f"{path}/assign", "bucket", manifest)
            if rows is None:
                raise FileNotFoundError(
                    f"IVF index at {path} has no assign rows "
                    "(every row deleted) — rebuild before probing"
                )
            rows = rows.filter(F.lit(False))
        return rows

    escalate = pre_filter is not None and min_candidates is not None
    occupied = None
    if filter_buckets and pre_filter is not None:
        if occupied_buckets is not None:
            # precomputed per-tenant occupancy (snapshot-keyed by the
            # caller) — no scan
            occupied = {int(b) for b in occupied_buckets}
        else:
            # column-pruned occupancy scan: reads bucket + the
            # filter's carry columns only, never embeddings; output
            # ≤ nlist rows
            occupied = {
                r["bucket"]
                for r in _read_rels(None, filtered=True)
                .select("bucket")
                .distinct()
                .collect()
            }
    need_full_ranking = (
        escalate or occupied is not None or min_probe_buckets is not None
    )
    ranked = [
        r["bucket"]
        for r in rank_index_buckets(
            spark,
            path,
            query,
            # escalation / occupancy / a recall floor need the FULL
            # ranking (≤ nlist rows — metadata scale); plain probes
            # keep the limit
            nprobe=None if need_full_ranking else nprobe,
            version=version,
        ).collect()
    ]
    if occupied is not None:
        ranked = [b for b in ranked if b in occupied]
    # recall floor (see docstring): widen the base width to
    # min(min_probe_buckets, universe) — the escalation schedule then
    # STARTS there and can only widen further
    base = nprobe
    if min_probe_buckets is not None and ranked:
        base = max(nprobe, min(int(min_probe_buckets), len(ranked)))
    chosen = min(base, len(ranked)) if ranked else 0
    if base > nprobe and not escalate:
        # the floored width must be observable on EVERY path that
        # widens the probe, not only under escalation — callers read
        # buckets_read from this trace (r13 review)
        _set_probe_escalation(
            {
                "levels": [],
                "nprobe_final": chosen,
                "exhaustive": chosen >= len(ranked),
            }
        )
    if escalate and ranked:
        levels: list[tuple[int, int]] = []
        n_cand = 0
        prev = 0
        for p in _escalation_schedule(base, len(ranked)):
            chosen = p
            # count over the filter columns only — the parquet scan
            # prunes the embedding column at every escalation level.
            # Buckets are disjoint partitions, so each level counts
            # only the DELTA buckets ranked[prev:p] and accumulates:
            # escalation I/O is O(P) bucket reads, not O(P log P).
            n_cand += _read_rels(
                ranked[prev:p], filtered=True
            ).count()
            prev = p
            levels.append((p, n_cand))
            if n_cand >= min_candidates:
                break
        if (
            len(levels) > 1
            or levels[-1][1] < min_candidates
            # a floor that raised the base is observable too: callers
            # reading buckets_read must see the floored width
            or base > nprobe
        ):
            _set_probe_escalation(
                {
                    "levels": levels,
                    "nprobe_final": chosen,
                    "exhaustive": chosen >= len(ranked),
                }
            )
    if ranked:
        probed = _read_rels(ranked[:chosen], filtered=True)
    else:
        # occupancy-aware ranking with a tenant owning zero vectors:
        # zero rows, but with the index's own schema
        probed = _read_rels([]).filter(F.lit(False))
    return knn.brute_force_topk(probed, query, k=k)


def probe_ivf_index_many(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    version: int | None = None,
    pre_filter=None,
    min_candidates: int | None = None,
    filter_buckets: bool = False,
    occupied_buckets=None,
    min_probe_buckets: int | None = None,
) -> DataFrame:
    """BATCHED probe: top-k for N queries through the stored index in
    ONE plan — (query_id, vec_id, score, rnk) — the IVF twin of
    ``lexical.probe_lexical_index_many`` (VERDICT r8 #2, the
    scale-stress 64-query stage promoted to the library).

    Per-query centroid ranking runs against the broadcast queries ×
    the stored centroid table (same rounded score + bucket tie-break
    as :func:`rank_index_buckets`, so each query probes EXACTLY the
    buckets its single-query probe would); the UNION of every query's
    buckets reads once (partition-pruned via the manifest); candidates
    join to their probing queries on bucket; exact cosine rerank uses
    the single-probe's fold/rounding (scores bit-identical), bounded
    by a per-query rank window — a distributed sort across queries,
    never a global one.

    ``queries``: (query_id, embedding).  Cost: one |union-of-buckets|
    scan for the WHOLE batch vs nprobe buckets × N single probes.

    ``min_candidates`` (with ``pre_filter``): per-query ADAPTIVE NPROBE
    ESCALATION, same contract and doubling schedule as
    :func:`probe_ivf_index` — valid when the filter is shared across
    the batch (the owner-scoped serving case): one column-pruned
    filter-pushed occupancy scan feeds every query's cumulative
    candidate count, and each query escalates independently inside the
    same plan (no driver loops).

    ``filter_buckets`` (with ``pre_filter``): OCCUPANCY-AWARE BUCKET
    CHOICE, same contract as :func:`probe_ivf_index` — every query's
    centroid ranking is restricted to buckets that actually CONTAIN
    filter-matching rows (one bounded ≤ nlist driver-side occupancy
    set from the same column-pruned scan the escalation uses), so
    ``nprobe`` counts the tenant's OWN buckets batch-wide.  Composes
    with ``min_candidates``: the doubling schedule then widens within
    the occupied universe only — the facade's owner-scoped default on
    BOTH serving paths (single and batched must not differ in tenant
    recall).

    ``min_probe_buckets``: the RECALL FLOOR, same contract as
    :func:`probe_ivf_index` — every query's probe width starts at
    ``min(min_probe_buckets, ranked-universe size)`` and escalation
    widens from there; with ``filter_buckets`` the floor counts
    occupied buckets and is clamped at the tenant's occupied count
    (never wider than the exact filtered scan)."""
    from pyspark.sql.window import Window

    from sortify_spark.functions.vectors import cosine, l2_norm
    from sortify_spark.sources.versioned import read_manifest, scan_versioned

    manifest = read_manifest(f"{path}/assign", version)
    cents = __read(
        spark, f"{path}/centroids", "part",
        manifest.get("centroid_version"),
    ).select("bucket", "centroid")

    def _occupancy_scan(bucket_subset=None):
        # column-pruned, filter-pushed: reads bucket + the filter's
        # carry columns only, never embeddings; output ≤ nlist rows.
        # ``bucket_subset`` restricts the scan to those buckets (the
        # occupied set, when known) — counts for buckets the ranking
        # already excluded are never needed.
        rows = scan_versioned(
            spark, f"{path}/assign", "bucket", manifest,
            values=bucket_subset, pre_filter=pre_filter,
        )
        if rows is None:
            return spark.createDataFrame([], "bucket long, __c long")
        return rows.groupBy("bucket").agg(F.count(F.lit(1)).alias("__c"))

    occupied = None
    if filter_buckets and pre_filter is not None:
        # occupancy-aware bucket choice: rank ONLY the tenant's
        # occupied buckets (bounded driver-side set, ≤ nlist —
        # metadata scale, same bound as the single probe's).
        # ``occupied_buckets`` (precomputed, snapshot-keyed by the
        # caller — see probe_ivf_index) skips the scan.
        occupied = (
            [int(b) for b in occupied_buckets]
            if occupied_buckets is not None
            else [
                int(r["bucket"])
                for r in _occupancy_scan().select("bucket").collect()
            ]
        )
        cents = (
            cents.filter(F.col("bucket").isin(occupied))
            if occupied
            else cents.filter(F.lit(False))
        )
    q = F.broadcast(
        queries.select(
            F.col("query_id"), F.col("embedding").alias("__qvec")
        ).withColumn("__qn", l2_norm("__qvec"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("bscore"), F.asc("bucket")
    )
    qb_all = (
        cents.crossJoin(q)
        .select(
            "query_id",
            "bucket",
            "__qvec",
            "__qn",
            F.round(
                cosine(F.col("centroid"), F.col("__qvec")), 6
            ).alias("bscore"),
        )
        .withColumn("__r", F.row_number().over(wq))
    )
    def _floored_base(universe: int) -> int:
        # recall floor (probe_ivf_index contract): base width =
        # max(nprobe, min(min_probe_buckets, universe))
        if min_probe_buckets is None:
            return nprobe
        return max(nprobe, min(int(min_probe_buckets), int(universe)))

    if pre_filter is not None and min_candidates is not None:
        # BATCHED adaptive escalation (the probe_ivf_index contract at
        # batch throughput).  The filter is shared across the batch
        # (the facade's owner-scoped case), so ONE column-pruned,
        # filter-pushed scan yields per-bucket candidate counts; each
        # query's cumulative count over its own bucket ranking then
        # picks its escalation level from the same doubling schedule
        # as the single probe — per-query nprobe, zero driver loops.
        # Under filter_buckets the ranked universe (and therefore the
        # schedule cap) is the OCCUPIED bucket count, so exhausting
        # the schedule IS the exact filtered scan of the tenant — and
        # the count scan below reads ONLY those buckets' partitions
        # (counts for buckets the ranking excluded are never joined).
        nb = cents.count()  # ≤ nlist rows — metadata scale
        sched = _escalation_schedule(_floored_base(nb), int(nb))
        occ = _occupancy_scan(bucket_subset=occupied)
        wcum = (
            Window.partitionBy("query_id")
            .orderBy("__r")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = (
            qb_all.join(F.broadcast(occ), "bucket", "left")
            .withColumn(
                "__cum",
                F.sum(F.coalesce(F.col("__c"), F.lit(0))).over(wcum),
            )
        )
        p_df = (
            cum.filter(
                F.col("__r").isin(sched)
                & (F.col("__cum") >= min_candidates)
            )
            .groupBy("query_id")
            .agg(F.min("__r").alias("__p"))
        )
        qb = (
            qb_all.join(F.broadcast(p_df), "query_id", "left")
            .filter(
                F.col("__r") <= F.coalesce(F.col("__p"), F.lit(int(nb)))
            )
            .select("query_id", "bucket", "__qvec", "__qn")
        )
    else:
        # the count() job is only worth paying when the floor can
        # actually widen the probe (floor > nprobe); otherwise
        # _floored_base is nprobe for every possible universe size
        eff = (
            _floored_base(cents.count())
            if min_probe_buckets is not None
            and int(min_probe_buckets) > nprobe
            else nprobe
        )
        qb = qb_all.filter(F.col("__r") <= eff).select(
            "query_id", "bucket", "__qvec", "__qn"
        )
    qb = qb.localCheckpoint(eager=True)  # read twice: bucket set + join
    buckets = sorted(
        {int(r["bucket"]) for r in qb.select("bucket").distinct().collect()}
    )
    # filtered ANN (see probe_ivf_index): the filter rides the SCAN
    # nodes (pushed to parquet stats; the partition-restore projection
    # is nondeterministic and would block pushdown above it), so a
    # layout_col index prunes files before the norm fold
    probed = scan_versioned(
        spark, f"{path}/assign", "bucket", manifest, values=buckets,
        pre_filter=pre_filter,
    )
    if probed is None:
        return spark.createDataFrame(
            [], "query_id string, vec_id string, score double, rnk int"
        )
    probed = probed.withColumn("__vn", l2_norm("embedding"))
    from sortify_spark.functions.vectors import cosine_given_norms

    scored = probed.join(F.broadcast(qb), "bucket").select(
        "query_id",
        "vec_id",
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
        F.desc("score"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .orderBy("query_id", "rnk")
    )


def rank_index_buckets(
    spark: SparkSession,
    path: str,
    query: DataFrame,
    nprobe: int | None = 3,
    version: int | None = None,
) -> DataFrame:
    """The coarse step against the STORED centroids: the ``nprobe``
    (bucket, bscore) rows a probe would read, rounded score + bucket-id
    tie-break (the oracle-replayable probe-choice contract).
    ``nprobe=None`` returns the FULL ranking (≤ nlist rows — metadata
    scale; the substrate for adaptive escalation).  The centroid
    snapshot resolves from the assign manifest's recorded
    ``centroid_version`` — always the probing build's own pair."""
    from sortify_spark.functions.vectors import cosine
    from sortify_spark.sources.versioned import read_manifest

    manifest = read_manifest(f"{path}/assign", version)
    cents = __read(
        spark, f"{path}/centroids", "part",
        manifest.get("centroid_version"),
    )
    q = F.broadcast(query.select(F.col("embedding").alias("__qvec")))
    ranked = (
        cents.crossJoin(q)
        .select(
            "bucket",
            F.round(
                cosine(F.col("centroid"), F.col("__qvec")), 6
            ).alias("bscore"),
        )
        .orderBy(F.col("bscore").desc(), F.col("bucket").asc())
    )
    return ranked if nprobe is None else ranked.limit(nprobe)


def __read(spark, path, pcol, version):
    from sortify_spark.sources.versioned import read_versioned

    return read_versioned(spark, path, pcol, version=version)
