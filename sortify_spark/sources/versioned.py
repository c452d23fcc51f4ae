"""Versioned parquet tables: atomic multi-partition upserts without a
lakehouse dependency (the documented upgrade for ``upsert_partitioned``'s
non-atomicity — SCALE.md "known trade-offs").

Delta/Iceberg solve this with a transaction log; the same core idea fits
in one small protocol over plain parquet:

* data lives in immutable version directories ``v=N/<part>=<val>/``;
  an upsert writes ONLY its affected partitions into a NEW version dir
  (cost scales with the update's partition footprint, like
  ``upsert_partitioned``);
* a JSON **manifest** maps each partition value to the version dir that
  last rewrote it; the manifest is swapped atomically
  (``os.replace``), so readers see the old snapshot or the new one,
  never a half-written mix — this is the commit point;
* every committed manifest is retained as ``_MANIFEST.v<N>`` (with its
  commit timestamp) → snapshot reads by version or AS-OF timestamp
  (time travel) and O(1) RESTORE-style rollback for free;
* **schema evolution, add/remove columns**: upserts align both sides
  to the union of their columns (typed nulls fill the gaps) and
  snapshot reads merge parquet schemas across version dirs, so older
  untouched partitions keep their written files and surface nulls for
  columns that postdate them — Delta's default evolution contract
  (type changes of an existing column are not supported).

A writer crash before the manifest swap leaves an orphan ``v=N`` dir
that no reader can observe; re-running the upsert is safe (next version
number).  The protocol is **single-writer** (like a Delta table without
a locking service) and REFUSES a second concurrent writer loudly —
**before any data is written**: a writer first RESERVES its target
version by ``O_EXCL``-creating ``_MANIFEST.v(N+1)`` as a pending
placeholder, so two writers that both read version N race on the
reservation and the loser raises :class:`ConcurrentWriteError` before
it has touched a single data file.  (Checking only at commit time
would let the loser's ``mode("overwrite")`` data write clobber the
winner's already-committed ``v=N+1`` dirs — a silent lost update worse
than no check.)  After the data write the placeholder is atomically
filled with the real manifest, then ``_MANIFEST`` swaps — the swap is
the commit point.  This is exactly Delta's put-if-absent commit on the
log object, at manifest granularity.  Concurrent readers are always
consistent because they resolve one manifest; a pending placeholder is
never readable as a snapshot.

At 100 TB the manifest would list files instead of partition dirs and
live on the object store with put-if-absent commits — the protocol is
the same; this module keeps it at partition granularity, which is
already exactly the granularity ``upsert_partitioned`` rewrites.

Reference anchor: the reference's in-place ``update_many`` mutations
(``clustering_service.py:888-958``) assume Mongo's document atomicity;
this gives the columnar store the equivalent all-or-nothing visibility.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST = "_MANIFEST"

#: compact re-pins a layout table's roll when the largest partition's
#: intended file count (ceil(rows / pinned_roll)) exceeds layout_files
#: by more than this factor — the heal for rolls pinned on a corpus
#: that has since grown (r11 advice: a tiny build pins a tiny roll,
#: and every later rewrite of a grown partition would otherwise write
#: up to one file per row forever).
LAYOUT_GROWTH_CAP = 8


class ConcurrentWriteError(RuntimeError):
    """A second writer tried to reserve a version that already exists.

    Raised by the ``O_EXCL`` create of ``_MANIFEST.vN`` at RESERVATION
    time, before any data write: both writers read version N, the first
    to create ``_MANIFEST.v(N+1)`` wins, the loser gets this instead of
    writing data into (and thereby clobbering) the winner's version
    dir.  Recovery: re-read the table and re-apply the upsert (it will
    target the next version).  If no other writer is running, a
    leftover ``_MANIFEST.vN`` from a crashed writer is the other
    possible cause — a placeholder still marked ``"pending"`` (or a
    filled manifest whose version is above the current ``_MANIFEST``'s)
    is safe to delete because the swap (the commit point) never
    happened.
    """


def _manifest_path(path: str, version: int | None = None) -> str:
    return os.path.join(
        path, _MANIFEST if version is None else f"{_MANIFEST}.v{version}"
    )


def read_manifest(path: str, version: int | None = None) -> dict:
    """Current (or pinned-version) manifest; empty table → version 0.
    A pinned read of a version that was only RESERVED (a crashed
    writer's pending placeholder) fails loudly — it was never a
    committed snapshot."""
    mp = _manifest_path(path, version)
    if not os.path.exists(mp):
        if version is not None:
            raise FileNotFoundError(f"no manifest for version {version}")
        return {"version": 0, "partitions": {}}
    with open(mp) as fh:
        manifest = json.load(fh)
    if version is not None and manifest.get("pending"):
        raise FileNotFoundError(
            f"version {version} of {path} was reserved by a writer "
            "that never committed (crashed mid-write); no such snapshot"
        )
    return manifest


def _reserve_version(path: str, version: int) -> None:
    """Claim ``version`` with an ``O_EXCL`` create of ``_MANIFEST.vN``
    (a ``pending`` placeholder) BEFORE any data is written, so a losing
    concurrent writer fails here — with zero data files on disk —
    rather than overwriting the winner's version dir."""
    os.makedirs(path, exist_ok=True)
    try:
        with open(_manifest_path(path, version), "x") as fh:
            json.dump({"version": version, "pending": True}, fh)
    except FileExistsError:
        raise ConcurrentWriteError(
            f"version {version} already reserved/committed at {path} "
            "— another writer won the race (single-writer protocol), or "
            "a crashed writer left an orphan manifest; see "
            "ConcurrentWriteError docs"
        ) from None


@contextmanager
def _reserved(path: str, version: int):
    """Reserve ``version`` for the duration of a write; on an
    exception-unwound failure (a failed Spark job, a raised error)
    release the reservation so the table is immediately writable again.
    A hard process crash still leaves the placeholder — by design, a
    successor writer cannot distinguish a crashed owner from a live one
    (see :class:`ConcurrentWriteError` recovery notes)."""
    _reserve_version(path, version)
    try:
        yield
    except BaseException:
        # Release ONLY if the placeholder is still pending: an
        # interrupt (KeyboardInterrupt) landing after _commit_manifest
        # filled it but before the `with` exits must not delete the
        # retained manifest of an already-committed version — that
        # would break pinned reads / resolve_version_at for the
        # current version (ADVICE r6).
        try:
            with open(_manifest_path(path, version)) as fh:
                still_pending = json.load(fh).get("pending", False)
            if still_pending:
                os.remove(_manifest_path(path, version))
        except (OSError, ValueError):
            pass
        raise


def _commit_manifest(path: str, manifest: dict) -> None:
    """Fill the reserved ``_MANIFEST.vN`` placeholder with the real
    manifest (atomic replace — we own the reservation), then atomically
    swap ``_MANIFEST`` — the swap is the single commit point of the
    protocol.  Callers MUST have called :func:`_reserve_version` first;
    if the reservation is missing (never reserved, or vacuumed out from
    under a pathological writer) this fails via the same ``O_EXCL``
    guard."""
    os.makedirs(path, exist_ok=True)
    manifest.setdefault("committed_at", time.time())
    versioned = _manifest_path(path, manifest["version"])
    if not os.path.exists(versioned):
        _reserve_version(path, manifest["version"])
    fd, tmp = tempfile.mkstemp(dir=path, prefix="._manifest_")
    with os.fdopen(fd, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, versioned)
    fd, tmp = tempfile.mkstemp(dir=path, prefix="._manifest_")
    with os.fdopen(fd, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, _manifest_path(path))


def _read_partition_dirs(
    spark: SparkSession,
    path: str,
    partition_col: str,
    rels: Sequence[str],
    dtype: str | None = None,
    pre_filter=None,
) -> DataFrame:
    """ONE multi-path parquet scan over partition dirs, with the
    partition value restored from the directory name
    (``.../{col}=value/file.parquet``).  A per-partition union would
    build an O(partitions) plan — at thousands of partitions that is a
    driver-side analysis bottleneck; a single scan keeps the plan O(1)
    and lets the scheduler parallelize file listing.

    ``dtype`` (the manifest-recorded ``partition_dtype``) casts the
    restored value back to its written type — without it an integer
    partition column (e.g. the streaming band index) silently comes
    back as STRING and every downstream join/union leans on implicit
    coercion.

    ``mergeSchema`` is on: a snapshot may span version dirs written
    with EVOLVED schemas (columns added by later upserts), and the
    merged read surfaces the union schema with nulls for files that
    predate a column — the schema-on-read half of schema evolution
    (write-side alignment happens in ``upsert_versioned``).  Cost is
    one footer read per file at planning, standard for evolving
    parquet tables.

    ``pre_filter`` (a Column over DATA columns, not the partition
    column): applied directly on the raw scan, BEFORE the
    partition-restore projection.  This matters: the restore uses
    ``input_file_name()``, a nondeterministic expression, and Catalyst
    refuses to push ANY predicate through a nondeterministic project —
    a filter applied by the caller on the returned frame therefore
    never reaches the parquet scan (no PushedFilters, no row-group or
    file pruning via footer stats).  Passing it here puts it on the
    scan node, so a ``layout_col`` table prunes whole files for
    tenant-scoped probes."""
    df = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(path, rel) for rel in rels]
    )
    if pre_filter is not None:
        df = df.filter(pre_filter)
    value = F.url_decode(
        F.regexp_extract(
            F.input_file_name(), f"/{partition_col}=([^/]+)/", 1
        )
    )
    if dtype and dtype != "string":
        value = value.cast(dtype)
    return df.withColumn(partition_col, value)


def resolve_version_at(path: str, ts: float) -> int:
    """AS-OF-timestamp resolution: the highest retained version whose
    commit time is ≤ ``ts`` (manifests record ``committed_at`` at the
    commit point).  Raises if no retained manifest is that old — the
    same loud failure as a vacuumed pinned snapshot."""
    candidates = []
    for entry in os.listdir(path):
        if entry.startswith(f"{_MANIFEST}.v"):
            v = int(entry.rsplit(".v", 1)[1])
            mp = _manifest_path(path, v)
            with open(mp) as fh:
                manifest = json.load(fh)
            if manifest.get("pending"):
                continue  # reserved by a crashed writer, never a snapshot
            # Manifests that predate committed_at (or were hand-written)
            # backfill from the manifest file's mtime — defaulting to 0
            # would make a timestamp EARLIER than every real commit
            # silently resolve to the oldest snapshot instead of raising.
            committed = manifest.get("committed_at")
            if committed is None:
                committed = os.path.getmtime(mp)
            if committed <= ts:
                candidates.append(v)
    if not candidates:
        raise FileNotFoundError(
            f"no retained snapshot of {path} at or before timestamp "
            f"{ts} (older manifests may have been vacuumed)"
        )
    return max(candidates)


def read_versioned(
    spark: SparkSession,
    path: str,
    partition_col: str,
    version: int | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """Snapshot read: resolve ONE manifest, scan every partition's
    current directory in a single multi-path read with the partition
    value restored.  ``version`` pins a historical snapshot (time
    travel); ``as_of`` pins by commit timestamp instead (Delta's
    ``timestampAsOf`` — resolved to the highest retained version
    committed at or before it)."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version OR as_of, not both")
        version = resolve_version_at(path, as_of)
    manifest = read_manifest(path, version)
    parts = manifest["partitions"]
    if not parts:
        raise FileNotFoundError(f"versioned table at {path} is empty")
    rels = [rel for _, rel in sorted(parts.items())]
    if version is not None:
        # A pinned (time-travel) read may resolve a retained manifest
        # whose data dirs vacuum has already reclaimed — fail loudly
        # with the cause instead of surfacing an opaque path error (or,
        # worse, a silently partial scan).  Current-manifest reads skip
        # this: vacuum never removes dirs the current manifest lives on.
        gone = sorted(
            {
                rel.split("/", 1)[0]
                for rel in rels
                if not os.path.isdir(os.path.join(path, rel))
            }
        )
        if gone:
            raise FileNotFoundError(
                f"snapshot v{version} of {path} references vacuumed "
                f"version dirs {gone}; the snapshot is no longer "
                "readable (vacuum horizon passed it)"
            )
    return _read_partition_dirs(
        spark, path, partition_col, rels,
        dtype=manifest.get("partition_dtype"),
    )


def upsert_versioned(
    updates: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_col: str,
    write_files_per_partition: int = 1,
    extra: dict | None = None,
) -> int:
    """Keyed upsert as an atomic new version; returns the committed
    version number.  ``extra`` merges additional metadata keys into the
    committed manifest (same contract as ``overwrite_versioned``).

    Affected partitions = the update's distinct partition values; their
    current rows load from the manifest's dirs, matched keys are
    replaced (broadcast anti-join — the existing data never shuffles),
    and the merged partitions write into ``v=N``.  Untouched partitions
    are neither read nor written — the new manifest simply keeps
    pointing at their old dirs.  Readers switch snapshots at the
    manifest swap, atomically across ALL partitions."""
    spark = updates.sparkSession
    manifest = read_manifest(path)
    new_version = manifest["version"] + 1
    # Reserve BEFORE the data write: a losing concurrent writer must
    # fail while it still owns zero files, or its overwrite of the
    # shared v=N dir would corrupt the winner's committed data.
    with _reserved(path, new_version):
        dtype = updates.schema[partition_col].dataType.simpleString()
        affected = [
            str(r[0])
            for r in updates.select(
                F.col(partition_col).cast("string")
            ).distinct().collect()
        ]
        existing_rels = [
            manifest["partitions"][v]
            for v in affected
            if v in manifest["partitions"]
        ]
        merged = updates
        if existing_rels:
            # ONE scan over all affected partitions' current dirs;
            # matched keys drop via a broadcast anti-join on
            # (partition, keys) — the existing data never shuffles,
            # whatever the partition count.
            existing = _read_partition_dirs(
                spark, path, partition_col, existing_rels, dtype=dtype
            )
            anti_keys = list(dict.fromkeys([partition_col, *keys]))
            keep = existing.join(
                F.broadcast(updates.select(*anti_keys).distinct()),
                anti_keys,
                "left_anti",
            )
            # Schema evolution: align both sides to the UNION of their
            # columns — an update may add columns (existing rows get
            # nulls) or omit columns (its rows get nulls); reads merge
            # schemas across version dirs, so older untouched
            # partitions keep their written files untouched and
            # surface nulls for new columns.
            merged = keep.unionByName(updates, allowMissingColumns=True)
        vdir = os.path.join(path, f"v={new_version}")
        # Repartition BY THE PARTITION VALUE before the partitionBy
        # write: without it every upstream task fans out one file into
        # every affected partition dir (32 shuffle partitions × 64 dirs
        # = 2048 tiny files per commit) and each commit + every
        # subsequent snapshot read pays per-file overhead — measured as
        # the dominant cost of streaming admission commits.  With it,
        # exactly ``write_files_per_partition`` files per affected
        # partition per version: the default 1 serializes a giant
        # partition into one task, so raise it to restore write
        # parallelism (a deterministic key-hash salt — the
        # export_training_shards decoupling — splits each partition
        # across that many tasks/files).
        lay_col = manifest.get("layout_col")
        roll = None
        intent_roll = None
        if lay_col is not None:
            # a build-time secondary layout (overwrite_versioned
            # ``layout_col``) survives every keyed upsert: the touched
            # partitions rewrite sorted + count-rolled at the
            # manifest-PINNED roll (no recount — stable shape, single
            # execution of the merged plan)
            merged, roll, intent_roll = _apply_layout(
                merged, partition_col, lay_col,
                manifest.get("layout_files"),
                roll=manifest.get("layout_roll"),
                # legacy tables (no pinned roll) re-derive here — the
                # recorded crossover floor keeps that derivation from
                # pinning sub-row-group files (ADVICE r12)
                min_file_rows=manifest.get("layout_floor"),
            )
        elif write_files_per_partition > 1:
            salt = F.pmod(
                F.abs(F.hash(*[F.col(k) for k in keys])),
                F.lit(write_files_per_partition),
            )
            # explicit numPartitions: AQE would otherwise coalesce the
            # salted shuffle back into few tasks, collapsing the salt
            n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
            merged = merged.repartition(
                max(n_part, write_files_per_partition),
                F.col(partition_col),
                salt,
            )
        else:
            merged = merged.repartition(F.col(partition_col))
        _write_partition_dirs(merged, roll, vdir, partition_col)
        new_parts = dict(manifest["partitions"])
        for value in affected:
            new_parts[value] = f"v={new_version}/{partition_col}={value}"
        new_manifest = {
            "version": new_version,
            "partitions": new_parts,
            "partition_dtype": dtype,
        }
        for lk in ("layout_col", "layout_files", "layout_roll",
                   "layout_floor"):
            if lk in manifest:
                new_manifest[lk] = manifest[lk]
        if lay_col is not None and "layout_roll" not in manifest:
            # legacy layout table (written before the roll was
            # recorded): persist THIS rewrite's computed roll so every
            # later upsert/delete/compact shares one pinned intent —
            # without it, upsert (affected-partitions max) and compact
            # (all-partitions footer max) derive different rolls and a
            # maintain cycle can oscillate forever (r11 advice)
            new_manifest["layout_roll"] = int(intent_roll)
        if extra:
            new_manifest.update(extra)
        _commit_manifest(path, new_manifest)
    return new_version


def _apply_layout(
    df: DataFrame,
    partition_col: str,
    layout_col: str | None,
    layout_files: int | None,
    roll: int | None = None,
    min_file_rows: int | None = None,
) -> tuple[DataFrame, int | None, int | None]:
    """Pre-write shuffle shape; returns ``(shaped_df, write_roll,
    intent_roll)``: ``write_roll`` is the per-file record cap the
    writer must set (``maxRecordsPerFile``) — the intent roll capped
    by the session ``spark.sql.files.maxRecordsPerFile`` — and
    ``intent_roll`` is the UNCAPPED layout intent the caller records
    in the manifest so every later rewrite (upsert/delete/compact)
    reuses the SAME roll instead of recomputing it from whatever the
    data looks like then; both None for the plain one-file-per-
    partition path.  Pinning the roll at build time is what keeps the
    lifecycle stable: a recomputed roll drifts as the corpus grows,
    so compact would re-flag old files as "fragmentation" on every
    maintenance pass and rewrite the table forever (r11 review).
    Without ``layout_col``:
    ``repartition(partition_col)``.  With it: each partition's rows
    are SORTED by the layout column inside one write task and the
    file writer rolls to a new file every ``roll`` records — at most
    ``layout_files`` files per partition, each covering a tight
    NON-OVERLAPPING contiguous range of the layout column, so parquet
    footer min/max stats prune whole files for equality/range probes
    (Delta's ``OPTIMIZE ZORDER BY`` layout for the 2-column case).

    Why count-based rolling, not value partitioning: an earlier
    revision computed ``ntile(layout_files)`` tiles and routed them
    with ``repartition(n, partition_col, tile)`` — but that routing is
    a HASH: distinct (partition, tile) groups collide into one write
    task, and the per-directory writer then merges non-adjacent tiles
    into ONE file whose stats span the gap between them (measured at
    10×: overlapping owner ranges per bucket, bytes-read ratio 1.006 —
    i.e. the layout pruned nothing).  Rolling the sorted stream by
    record count inside the task needs no exact task routing at all:
    collisions are harmless (the writer splits per directory), every
    file is a contiguous run of the sorted layout column, and a value
    spanning a roll boundary lands in two files (both with tight
    stats) — harmless for pruning.

    ``roll`` = ceil(max partition rows / layout_files), so the largest
    partition splits into exactly ``layout_files`` files and smaller
    ones into proportionally fewer.  Deterministic: the same rows
    reproduce the same max, the same roll, and the same per-partition
    file counts, so ``compact``'s threshold is exact and OPTIMIZE
    converges in one pass.  The extra ``groupBy(partition).count()``
    pass is column-pruned metadata work, paid only on layout writes.

    ``min_file_rows`` — the BUCKET-SIZE CROSSOVER GUARD (VERDICT r11
    #3): below a parquet row group (``parquet.block.size`` worth of
    rows) file-level stat pruning adds ~nothing over the row-group /
    page pruning the sort already enables INSIDE one file (measured:
    the decoded-records win narrows from 4.5x to 1.12x as per-file
    rows shrink toward row-group size, r11 scale stress), while every
    extra file still costs a footer read + task on EVERY probe.  The
    computed roll is floored at ``min_file_rows``, so partitions too
    small to fill ``layout_files`` useful files write proportionally
    fewer (down to one) — the SORT is always kept (it is what makes
    row-group pruning work).  Applies to the roll-computing path only;
    a pinned roll already encodes the build's decision.  Default None
    preserves the exact historical shape; the measured crossover for
    the IVF artifact's row width is recorded in SCALE.md round 12.

    A grown partition under a PINNED roll can fragment (a tiny build
    pins a tiny roll; every later rewrite then writes ceil(rows/roll)
    files) — that is deliberate here and HEALED at maintenance time:
    :func:`compact` re-pins the roll when the intended file count
    exceeds ``layout_files`` by more than ``LAYOUT_GROWTH_CAP``.

    Scale note: the sort serializes each partition through one task —
    the same per-partition write shape as the default
    ``repartition(partition_col)`` path (and the reason
    ``write_files_per_partition`` exists for giant unlayouted
    partitions); layout tables are probe artifacts whose partitions
    are bucket-sized by construction."""
    if layout_col is None:
        return df.repartition(F.col(partition_col)), None, None
    if roll is None:
        n_files = max(1, int(layout_files or 4))
        # Materialize ONCE before the roll-sizing count: df may be an
        # expensive upstream plan — without this the count action and
        # the subsequent write each execute it from source (r11
        # review finding).  Only the roll-COMPUTING path (full
        # rebuilds / legacy tables without a recorded roll) pays
        # this; upsert/delete/compact pass the manifest-pinned roll.
        df = df.localCheckpoint(eager=True)
        mx = (
            df.groupBy(partition_col)
            .count()
            .agg(F.max("count").alias("mx"))
            .first()["mx"]
        )
        roll = -(-int(mx or 1) // n_files)
        if min_file_rows is not None:
            # crossover guard: never intend files smaller than a
            # useful pruning unit (see docstring)
            roll = max(roll, int(min_file_rows))
    shaped = df.repartition(F.col(partition_col)).sortWithinPartitions(
        partition_col, layout_col
    )
    return shaped, _cap_roll(df.sparkSession, roll), roll


def _cap_roll(spark: SparkSession, roll: int) -> int:
    """The writer-level maxRecordsPerFile option overrides the session
    conf — but ``spark.sql.files.maxRecordsPerFile`` is the documented
    way to re-split giant partitions (compact's 100 TB note), so a
    session cap must stay the LOWER bound: never write files bigger
    than the operator asked for, only smaller ones than the layout
    would."""
    sess = int(
        spark.conf.get("spark.sql.files.maxRecordsPerFile", "0") or 0
    )
    return min(roll, sess) if sess > 0 else roll


def _est_value_bytes(v) -> int:
    """Rough ENCODED size of one value — sized against parquet's
    in-memory row-group buffer (plain-encoded width + per-value
    overhead), which is what ``parquet.block.size`` compares against.
    Order-of-magnitude is all the crossover floor needs."""
    if v is None or isinstance(v, bool):
        return 1
    if isinstance(v, (int, float)):
        return 8
    if isinstance(v, str):
        return len(v.encode("utf-8", "ignore")) + 4
    if isinstance(v, (bytes, bytearray)):
        return len(v) + 4
    if hasattr(v, "asDict"):
        # nested Row BEFORE the tuple branch — pyspark Row subclasses
        # tuple, so the tuple check would otherwise shadow this and
        # drop the per-field-name bytes (r13 review)
        return _est_value_bytes(v.asDict())
    if isinstance(v, (list, tuple)):
        return 8 + sum(_est_value_bytes(x) for x in v)
    if isinstance(v, dict):
        return 8 + sum(
            _est_value_bytes(a) + _est_value_bytes(b)
            for a, b in v.items()
        )
    return 16  # timestamp/date/decimal/uuid-ish scalars


def derive_layout_floor(spark: SparkSession, sample_row) -> int | None:
    """The bucket-size CROSSOVER FLOOR for a layout table, derived
    from the artifact's own row width (VERDICT r12 #2): ≈ one parquet
    row group's worth of rows = ``parquet.block.size`` //
    estimated-row-bytes of ``sample_row``.  Below one row group per
    file, file-level stat pruning adds ~nothing over the row-group /
    page pruning the layout sort already enables INSIDE a file, while
    every extra file costs a footer read + task on every probe
    (measured: r12 scale stress ``ivf_layout_crossover_ab`` — the
    8-file shape decodes 4.5x fewer rows yet walls 2.74 s vs 0.82 s
    single-file at 10x; the multi-file win only materializes once
    per-file rows reach row-group scale).  Pass the result as
    ``layout_min_file_rows``: tiny builds then write one file per
    partition (the fast side of the crossover) and the multi-file
    split resumes automatically once partitions outgrow a row group.
    Returns None for a None sample (empty frame — nothing to size)."""
    if sample_row is None:
        return None
    row_bytes = max(1, _est_value_bytes(getattr(
        sample_row, "asDict", lambda: sample_row
    )()))
    block = 128 * 1024 * 1024  # parquet.block.size default
    try:
        configured = (
            spark.sparkContext._jsc.hadoopConfiguration().get(
                "parquet.block.size"
            )
        )
        if configured:
            block = int(configured)
    except Exception:
        pass  # py4j surface unavailable (mocked session) — keep default
    return max(1, block // row_bytes)


def _write_partition_dirs(
    shaped: DataFrame,
    roll: int | None,
    vdir: str,
    partition_col: str,
) -> None:
    """The one writer every versioned commit uses: partitionBy dirs,
    with the layout's per-file record cap when present.  The writer's
    required ordering for a partitionBy write is the partition column
    alone, which the layout's (partition, layout_col) sort already
    satisfies as a prefix — no extra sort is inserted, so the rolled
    files keep the layout order (plan-asserted in
    ``test_versioned_layout_files_sorted_non_overlapping``)."""
    w = shaped.write.mode("overwrite")
    if roll is not None:
        w = w.option("maxRecordsPerFile", str(int(roll)))
    w.partitionBy(partition_col).parquet(vdir)


def overwrite_versioned(
    df: DataFrame,
    path: str,
    partition_col: str,
    extra: dict | None = None,
    layout_col: str | None = None,
    layout_files: int | None = None,
    layout_min_file_rows: int | None = None,
) -> int:
    """Full-snapshot REPLACE as an atomic new version (Delta's
    ``overwrite`` save mode on a versioned table): the new manifest
    maps EXACTLY the partitions ``df`` writes — partitions and keys
    absent from ``df`` drop out of the snapshot entirely.  This is the
    correct commit shape for a REBUILD (e.g. the IVF index): a keyed
    upsert would keep a stale row in a vector's OLD bucket when its
    assignment moves, and never remove vectors dropped from the input.
    Old snapshots stay time-travelable until vacuumed.

    ``extra`` merges additional metadata keys into the manifest (e.g.
    the paired centroid-table version a probe must read — snapshot
    cross-references belong in the commit they describe).

    ``layout_col`` (with ``layout_files``) applies the secondary
    sub-partition layout of :func:`_apply_layout` and records both in
    the manifest, so keyed upserts and ``compact`` re-apply the SAME
    layout on every subsequent rewrite — tenant-probe file pruning
    survives the artifact's whole lifecycle.  ``layout_min_file_rows``
    floors the pinned roll (the bucket-size crossover guard — see
    :func:`_apply_layout`)."""
    spark = df.sparkSession
    manifest = read_manifest(path)
    new_version = manifest["version"] + 1
    dtype = df.schema[partition_col].dataType.simpleString()
    with _reserved(path, new_version):  # before any data write
        vdir = os.path.join(path, f"v={new_version}")
        shaped, write_roll, intent_roll = _apply_layout(
            df, partition_col, layout_col, layout_files,
            min_file_rows=layout_min_file_rows,
        )
        _write_partition_dirs(shaped, write_roll, vdir, partition_col)
        from urllib.parse import unquote

        written = {
            unquote(entry.split("=", 1)[1])
            for entry in os.listdir(vdir)
            if entry.startswith(f"{partition_col}=")
        }
        new_manifest = {
            "version": new_version,
            "partitions": {
                value: f"v={new_version}/{partition_col}={value}"
                for value in sorted(written)
            },
            "partition_dtype": dtype,
        }
        if layout_col is not None:
            new_manifest["layout_col"] = layout_col
            if layout_files is not None:
                new_manifest["layout_files"] = int(layout_files)
            # the build-time intent roll: every later rewrite reuses
            # it so the intended file shape stays stable as data grows
            new_manifest["layout_roll"] = int(intent_roll)
            if layout_min_file_rows is not None:
                # the crossover floor is a BUILD decision too: record
                # it so legacy re-derivations and compact's growth
                # re-pin can never pin a sub-row-group roll later in
                # the artifact's life (ADVICE r12)
                new_manifest["layout_floor"] = int(layout_min_file_rows)
        if extra:
            new_manifest.update(extra)
        _commit_manifest(path, new_manifest)
    return new_version


def delete_versioned(
    deletes: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_col: str,
    extra: dict | None = None,
) -> int:
    """Keyed delete as an atomic new version (the S10 vector-delete
    semantics on the versioned store): affected partitions rewrite
    WITHOUT the matched keys via the same broadcast anti-join as
    ``upsert_versioned``; a partition emptied by the delete drops out
    of the manifest.  Untouched partitions are never read."""
    spark = deletes.sparkSession
    manifest = read_manifest(path)
    new_version = manifest["version"] + 1
    with _reserved(path, new_version):  # before any data write
        affected = [
            str(r[0])
            for r in deletes.select(
                F.col(partition_col).cast("string")
            ).distinct().collect()
            if str(r[0]) in manifest["partitions"]
        ]
        new_parts = dict(manifest["partitions"])
        if affected:
            # ONE scan of the affected dirs; survivors write in one
            # job.  A partition the delete fully empties produces no
            # output dir — detected from the written version dir and
            # dropped from the manifest.
            existing = _read_partition_dirs(
                spark,
                path,
                partition_col,
                [manifest["partitions"][v] for v in affected],
                dtype=deletes.schema[partition_col].dataType.simpleString(),
            )
            anti_keys = list(dict.fromkeys([partition_col, *keys]))
            keep = existing.join(
                F.broadcast(deletes.select(*anti_keys).distinct()),
                anti_keys,
                "left_anti",
            )
            vdir = os.path.join(path, f"v={new_version}")
            shaped, roll, intent_roll = _apply_layout(
                keep,
                partition_col,
                manifest.get("layout_col"),
                manifest.get("layout_files"),
                roll=manifest.get("layout_roll"),
                # legacy tables re-derive here (no pinned roll): keep
                # the derivation floored, same as upsert_versioned
                min_file_rows=manifest.get("layout_floor"),
            )
            _write_partition_dirs(shaped, roll, vdir, partition_col)
            from urllib.parse import unquote

            written = {
                unquote(entry.split("=", 1)[1])
                for entry in os.listdir(vdir)
                if entry.startswith(f"{partition_col}=")
            }
            for value in affected:
                if value in written:
                    new_parts[value] = (
                        f"v={new_version}/{partition_col}={value}"
                    )
                else:
                    del new_parts[value]
        new_manifest = {
            "version": new_version,
            "partitions": new_parts,
            "partition_dtype": manifest.get(
                "partition_dtype",
                deletes.schema[partition_col].dataType.simpleString(),
            ),
        }
        for lk in ("layout_col", "layout_files", "layout_roll",
                   "layout_floor"):
            if lk in manifest:
                new_manifest[lk] = manifest[lk]
        if (
            affected
            and manifest.get("layout_col") is not None
            and "layout_roll" not in manifest
        ):
            # legacy layout table: pin this rewrite's computed roll
            # (same reasoning as upsert_versioned)
            new_manifest["layout_roll"] = int(intent_roll)
        if extra:
            new_manifest.update(extra)
        _commit_manifest(path, new_manifest)
    return new_version


def _partition_row_counts(
    spark: SparkSession,
    path: str,
    partition_col: str,
    manifest: dict,
) -> dict[str, int]:
    """Per-partition row counts for the current snapshot — from the
    parquet footers when pyarrow is importable (local metadata reads,
    no Spark job: the maintenance-path default), else ONE column-pruned
    Spark count over the snapshot (a pyspark-only deployment must not
    fail at maintenance time just because pyarrow is absent — r11
    advice; pyarrow ships with every supported pyspark distribution,
    so the fallback exists for stripped-down runtimes)."""
    try:
        import pyarrow.parquet as _pq
    except ImportError:
        _pq = None
    if _pq is not None:
        out: dict[str, int] = {}
        for value, rel in manifest["partitions"].items():
            pdir = os.path.join(path, rel)
            out[value] = sum(
                _pq.read_metadata(os.path.join(pdir, f)).num_rows
                for f in os.listdir(pdir)
                if f.endswith(".parquet")
            )
        return out
    counted = {
        str(r[0]): int(r[1])
        for r in _read_partition_dirs(
            spark,
            path,
            partition_col,
            list(manifest["partitions"].values()),
            dtype=manifest.get("partition_dtype"),
        )
        .groupBy(partition_col)
        .agg(F.count(F.lit(1)))
        .collect()
    }
    return {
        value: counted.get(value, 0) for value in manifest["partitions"]
    }


def compact(
    spark: SparkSession,
    path: str,
    partition_col: str,
    max_files_per_partition: int = 1,
) -> int | None:
    """OPTIMIZE: rewrite partitions whose current dir holds more than
    ``max_files_per_partition`` parquet files into one new version with
    consolidated files; commit atomically via the manifest swap.

    Streaming upserts (``upsert_stream(versioned=True)``) commit one
    version per micro-batch, so a hot partition accumulates one small
    file per batch — the classic small-file problem.  Compaction is
    pure layout: the committed snapshot's ROWS are untouched (asserted
    by the round-trip test), historical manifests keep pointing at the
    old immutable dirs, so time travel and rollback still work, and
    ``vacuum`` reclaims the pre-compaction dirs once past the horizon.

    One Spark job rewrites all selected partitions:
    ``repartition(partition_col)`` lands each partition's rows in one
    task → one file (Delta's OPTIMIZE default; at 100 TB set
    ``spark.sql.files.maxRecordsPerFile`` to re-split giant partitions
    — same decoupling as ``export_training_shards``).  Returns the new
    version when anything committed — a data rewrite, OR a
    metadata-only roll re-pin (growth heal / legacy table's first
    maintenance, which commits a new manifest version with the
    partition map untouched; ADVICE r12: callers tracking versions
    must see that bump) — and None only when NOTHING was committed.
    """
    manifest = read_manifest(path)
    # A table carrying a secondary layout (``layout_col``) INTENDS a
    # multi-file shape — compaction must neither flag that as
    # fragmentation nor collapse it (which would destroy the
    # tenant-probe file pruning).  The flagging must mirror EXACTLY
    # what this pass's own rewrite would produce, or OPTIMIZE rewrites
    # forever: per-partition intended files = ceil(rows / roll) with
    # the roll computed the same way the writer computes it (layout
    # target capped by the session maxRecordsPerFile — an operator
    # re-splitting giant partitions raises the intended count, it does
    # not create perpetual "fragmentation"; r11 review finding).  Row
    # counts come from the parquet footers — local metadata reads, no
    # Spark job — and the rewrite below is pinned to the SAME roll, so
    # one pass converges and the next returns None.
    lay_col = manifest.get("layout_col")
    roll_all = None
    intent = None
    rows_per: dict[str, int] = {}
    if lay_col is not None:
        n_lay = max(1, int(manifest.get("layout_files") or 4))
        rows_per = _partition_row_counts(
            spark, path, partition_col, manifest
        )
        mx_real = max(rows_per.values(), default=0)
        mx = mx_real or 1
        # Derived rolls are floored at the recorded crossover floor
        # (``layout_floor``, written by builds that passed
        # layout_min_file_rows): a compact running while the table is
        # TINY must not pin a sub-row-group roll that fragments every
        # later rewrite of grown data (ADVICE r12 — between the pin
        # and the next growth re-pin, probes would pay the
        # footer-read explosion the crossover guard exists to
        # prevent).  Tables without a recorded floor keep the exact
        # historical behavior (floor 1).
        floor = max(1, int(manifest.get("layout_floor") or 1))
        # the manifest-PINNED intent roll keeps flagging stable as the
        # corpus grows; footer-derived fallback only for legacy tables
        # written before the roll was recorded
        intent = manifest.get("layout_roll")
        if intent is None:
            if mx_real == 0:
                # DEGENERATE-PIN GUARD (ADVICE r12): a legacy table
                # whose current snapshot holds zero rows gives the
                # derivation nothing to size from — deriving here
                # would pin roll=1 and explode the file count of the
                # next real upsert.  Leave the roll unpinned; the
                # first maintenance pass over real data pins it.
                intent = None
            else:
                intent = max(-(-int(mx) // n_lay), floor)
        elif -(-int(mx) // int(intent)) > LAYOUT_GROWTH_CAP * n_lay:
            # GROWTH RE-PIN (r11 advice): a roll pinned on a small
            # build makes a grown partition's intended shape
            # ceil(rows/roll) files — worst case one file per row —
            # and a flagging that honors the stale pin would treat the
            # explosion as intentional forever.  When the largest
            # partition's intended count exceeds layout_files by more
            # than LAYOUT_GROWTH_CAP x, re-derive the roll from
            # today's data (exactly the build-time formula) and
            # persist it below, so one OPTIMIZE pass heals the shape
            # and later rewrites stay at the healed pin.
            import warnings

            new_intent = max(-(-int(mx) // n_lay), floor)
            warnings.warn(
                f"layout roll at {path} re-pinned {intent} -> "
                f"{new_intent}: largest partition ({mx} rows) "
                f"outgrew the pinned layout "
                f"(> {LAYOUT_GROWTH_CAP}x{n_lay} intended files)",
                stacklevel=2,
            )
            intent = new_intent
        roll_all = _cap_roll(spark, int(intent)) if intent else None
    todo = []
    for value, rel in sorted(manifest["partitions"].items()):
        pdir = os.path.join(path, rel)
        n_files = sum(
            1 for f in os.listdir(pdir) if f.endswith(".parquet")
        )
        intended = (
            -(-(rows_per[value] or 1) // roll_all)
            if lay_col is not None and roll_all
            else 1
        )
        if n_files > max(max_files_per_partition, intended):
            todo.append((value, rel))
    if not todo:
        # A re-derived roll (growth re-pin, or a legacy table's first
        # maintenance) must persist even when no partition needs a
        # rewrite: leaving the stale/absent pin would re-derive — and
        # re-warn — every pass, and the next upsert would still write
        # at the degenerate roll (the r12 review's non-converging
        # case: a legacy upsert pins an affected-partitions-only roll
        # that the growth guard then flags forever without healing).
        # Metadata-only commit (the partition map is untouched) — but
        # a commit nonetheless: return its version so callers tracking
        # version bumps (retention accounting, paired-anchor amends,
        # version-keyed caches) see it (ADVICE r12).
        if (
            lay_col is not None
            and intent is not None
            and manifest.get("layout_roll") != int(intent)
        ):
            return amend_manifest(path, {"layout_roll": int(intent)})
        return None
    new_version = manifest["version"] + 1
    with _reserved(path, new_version):  # before any data write
        merged = _read_partition_dirs(
            spark, path, partition_col, [rel for _, rel in todo],
            dtype=manifest.get("partition_dtype"),
        )
        vdir = os.path.join(path, f"v={new_version}")
        roll = None
        if lay_col is not None:
            # pinned to the SAME roll the flagging used — the rewrite
            # reproduces exactly the intended per-partition counts
            shaped, roll, _ = _apply_layout(
                merged, partition_col, lay_col,
                manifest.get("layout_files"), roll=roll_all,
            )
        else:
            shaped = merged.repartition(
                max(1, len(todo)), F.col(partition_col)
            )
        _write_partition_dirs(shaped, roll, vdir, partition_col)
        new_parts = dict(manifest["partitions"])
        for value, _ in todo:
            new_parts[value] = f"v={new_version}/{partition_col}={value}"
        # layout-only commit: every manifest key beyond the partition
        # map (anchor extras like n_docs / carry / paired versions)
        # carries forward verbatim — compaction must never change what
        # a reader of the manifest sees.  committed_at is structural,
        # not carried: each commit stamps a fresh timestamp so
        # resolve_version_at stays monotonic and an as-of read taken
        # before the compaction never resolves to the post-compaction
        # snapshot.
        new_manifest = {
            k: v
            for k, v in manifest.items()
            if k not in ("version", "partitions", "committed_at")
        }
        new_manifest["version"] = new_version
        new_manifest["partitions"] = new_parts
        if lay_col is not None and intent is not None:
            # persist the roll this pass flagged AND rewrote with:
            # pins legacy tables on their first compaction and records
            # a growth re-pin, so upsert/delete/compact share one
            # intent from here on (r11 advice).  intent None = the
            # degenerate-pin guard fired (empty snapshot): the rewrite
            # consolidates files but pins nothing.
            new_manifest["layout_roll"] = int(intent)
        _commit_manifest(path, new_manifest)
    return new_version


def fold_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    base_value,
    keep=None,
) -> int | None:
    """LSM-style level fold: merge many small partitions into ONE base
    partition (re-keying ``partition_col`` to ``base_value``) as an
    atomic new version.  This is the compaction shape :func:`compact`
    cannot express — ``compact`` consolidates FILES within a partition,
    but an append-shaped table partitioned by commit batch (the
    admission stream's band/embedding side tables: one ``pb`` partition
    per micro-batch, one file each) accumulates PARTITIONS, and every
    reader scan pays one file + one listing per batch ever committed.
    Folding is pure layout: the snapshot's rows are untouched except
    for the partition key itself, old snapshots stay time-travelable
    until vacuumed, and the fold rewrites only the selected partitions
    plus the base (classic tiered-compaction write amplification —
    at 100 TB, fold only levels past an age/size threshold via
    ``keep`` instead of full folds).

    ``keep``: optional predicate over the (string) partition value;
    partitions where it returns True are left in place (e.g. the hot
    tail of recent batches a replay could still target).  The base
    partition, if present, is always folded (it is the fold target).
    Returns the committed version, or None when fewer than two
    partitions would fold.

    Contract: fold is PURE LAYOUT — it never dedupes.  The caller must
    guarantee its logical keys are unique ACROSS the folded partitions
    (true for LSM batch-partitioned tables, where a key commits in
    exactly one batch partition and is never rewritten); folding a
    table that deliberately carries the same key in several partitions
    would surface both rows under the base value.

    Replay safety for the admission side tables: a replayed micro-batch
    only re-commits side rows when its docs re-admit, and re-admission
    is suppressed by the exact-twin screen once the corpus commit
    landed — so rows can never be live in both the base and a replayed
    ``pb`` partition (tests/test_pipelines.py exercises a fold
    mid-stream)."""
    manifest = read_manifest(path)
    parts = manifest["partitions"]
    base_str = str(base_value)
    fold_vals = [
        v
        for v in sorted(parts)
        if v == base_str or keep is None or not keep(v)
    ]
    if len(fold_vals) < 2:
        return None
    dtype = manifest.get("partition_dtype")
    new_version = manifest["version"] + 1
    with _reserved(path, new_version):  # before any data write
        merged = _read_partition_dirs(
            spark, path, partition_col, [parts[v] for v in fold_vals],
            dtype=dtype,
        )
        merged = merged.withColumn(
            partition_col,
            F.lit(base_value).cast(dtype) if dtype else F.lit(base_value),
        )
        vdir = os.path.join(path, f"v={new_version}")
        (
            merged.repartition(F.col(partition_col))
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(vdir)
        )
        new_parts = {
            v: rel for v, rel in parts.items() if v not in fold_vals
        }
        new_parts[base_str] = f"v={new_version}/{partition_col}={base_str}"
        # layout-only commit — carry every non-structural manifest key
        # forward, same contract as compact() (committed_at excluded:
        # the fold re-keys the partition column, so an as-of read taken
        # before the fold MUST NOT resolve to the folded snapshot)
        new_manifest = {
            k: v
            for k, v in manifest.items()
            if k not in ("version", "partitions", "committed_at")
        }
        new_manifest["version"] = new_version
        new_manifest["partitions"] = new_parts
        _commit_manifest(path, new_manifest)
    return new_version


def snapshot_files(path: str) -> list[str]:
    """The parquet files the CURRENT snapshot's readers touch — one
    entry per data file across the manifest's partition dirs.  A cheap
    read-cost proxy for compaction decisions and tests (files touched
    before vs after a fold)."""
    manifest = read_manifest(path)
    out: list[str] = []
    for rel in manifest["partitions"].values():
        pdir = os.path.join(path, rel)
        out.extend(
            os.path.join(pdir, f)
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        )
    return out


def diff(
    spark: SparkSession,
    path: str,
    partition_col: str,
    keys: Sequence[str],
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Change-data-feed between two committed snapshots: every row with
    a ``_change_type`` of ``insert`` / ``delete`` /
    ``update_preimage`` / ``update_postimage`` (Delta CDF's contract,
    computed after the fact from snapshots instead of logged at write
    time).

    Manifest-level pruning makes this scale: a partition whose manifest
    entry is IDENTICAL in both versions points at the same immutable
    dir, so it cannot contain changes and is never read — diff cost is
    proportional to the *changed* partition footprint, not table size.
    The changed partitions then full-outer-join on (partition, keys) —
    one co-partitioned shuffle — and rows classify by null-side and a
    null-safe struct comparison of the non-key columns.
    """
    m_to = read_manifest(path, v_to) if v_to is not None else read_manifest(path)
    m_from = read_manifest(path, v_from)
    changed = sorted(
        set(m_from["partitions"].items()) ^ set(m_to["partitions"].items())
    )
    changed_values = sorted({v for v, _ in changed})

    def _side(manifest: dict) -> DataFrame | None:
        rels = [
            manifest["partitions"][v]
            for v in changed_values
            if v in manifest["partitions"]
        ]
        if not rels:
            return None
        return _read_partition_dirs(
            spark, path, partition_col, rels,
            dtype=manifest.get("partition_dtype"),
        )

    old, new = _side(m_from), _side(m_to)
    if old is None and new is None:  # no changed partitions at all
        tmpl = read_versioned(spark, path, partition_col, version=v_from)
        return tmpl.withColumn(
            "_change_type", F.lit("insert")
        ).limit(0)
    join_keys = [partition_col, *[k for k in keys if k != partition_col]]
    return classify_changes(old, new, join_keys)


def classify_changes(
    old: DataFrame | None,
    new: DataFrame | None,
    join_keys: Sequence[str],
) -> DataFrame:
    """CDC classification kernel (the joint of :func:`diff`, also usable
    on any two same-schema snapshots): full-outer join on ``join_keys``,
    classify each key by null-side and a null-safe comparison of the
    non-key columns, emit Delta-CDF-style rows (``insert`` / ``delete``
    / ``update_preimage`` + ``update_postimage``; unchanged keys emit
    nothing).  One co-partitioned shuffle + an explode of ≤2 elements —
    no driver materialization.  Oracle-checked by ``cdc_classify``
    (queries_sources) over derived snapshots.

    Schema evolution: the two sides may differ by ADDED/REMOVED columns
    (a diff across an ADD COLUMN boundary) — rows classify over the
    union schema, with typed nulls for the side that predates a column,
    so a row whose only change is gaining a value in a new column emits
    a proper update pre/post pair.  Type CHANGES of an existing column
    are not supported (same contract as Delta's default evolution)."""
    template = old if old is not None else new
    fields: dict = {}
    for side in (old, new):
        if side is not None:
            for f in side.schema.fields:
                fields.setdefault(f.name, f.dataType)
    cols = list(fields)
    payload = [c for c in cols if c not in join_keys]

    def _pack(df: DataFrame | None, name: str) -> DataFrame:
        if df is None:
            df = template.limit(0)
        have = set(df.columns)

        def _c(c: str):
            return (
                F.col(c) if c in have else F.lit(None).cast(fields[c])
            ).alias(c)

        return df.select(
            *[_c(k) for k in join_keys],
            F.struct(*[_c(c) for c in payload]).alias(name),
            F.lit(True).alias(f"_in_{name}"),
        )

    joined = _pack(old, "o").join(_pack(new, "n"), list(join_keys), "full_outer")
    in_old, in_new = F.col("_in_o").isNotNull(), F.col("_in_n").isNotNull()
    same = F.col("o").eqNullSafe(F.col("n"))
    events = F.when(
        in_old & ~in_new,
        F.array(F.struct(F.lit("delete").alias("ct"), F.col("o").alias("row"))),
    ).when(
        ~in_old & in_new,
        F.array(F.struct(F.lit("insert").alias("ct"), F.col("n").alias("row"))),
    ).when(
        ~same,
        F.array(
            F.struct(
                F.lit("update_preimage").alias("ct"), F.col("o").alias("row")
            ),
            F.struct(
                F.lit("update_postimage").alias("ct"), F.col("n").alias("row")
            ),
        ),
    ).otherwise(F.array())  # unchanged row in a rewritten partition
    exploded = joined.select(
        *join_keys, F.explode(events).alias("e")
    )
    return exploded.select(
        *[
            F.col(f"e.row.{c}").alias(c) if c in payload else F.col(c)
            for c in cols
        ],
        F.col("e.ct").alias("_change_type"),
    )


def rollback(path: str, version: int) -> int:
    """O(1) rollback, Delta-RESTORE style: commit a NEW version whose
    partition map is the historical snapshot's (data dirs are
    immutable, nothing is rewritten).  Returns the new version number.

    Restoring as a new commit — rather than re-swapping the old
    manifest in place — keeps the version sequence strictly increasing:
    an in-place re-commit of vN would make the next upsert target a
    version number that already has a retained manifest, tripping the
    ``O_EXCL`` concurrent-writer guard and rewriting history.  This is
    the same reason Delta's RESTORE is itself a commit."""
    manifest = read_manifest(path, version)
    current = read_manifest(path)
    new_manifest = {
        "version": current["version"] + 1,
        "partitions": dict(manifest["partitions"]),
    }
    if "partition_dtype" in manifest:
        new_manifest["partition_dtype"] = manifest["partition_dtype"]
    _commit_manifest(path, new_manifest)
    return new_manifest["version"]


def amend_manifest(path: str, updates: dict) -> int:
    """Metadata-only commit: a new version whose partition map is
    IDENTICAL to the current snapshot (pointing at the same immutable
    dirs — zero data written) with ``updates`` merged into the extra
    keys.  This is how an anchor re-pins a paired table after a
    layout-only operation bumped the paired version (e.g.
    ``maintain_indexes`` compacts the postings table, then amends the
    terms anchor's ``postings_version`` — the rows behind both versions
    are identical, so probe results are unchanged).  Goes through the
    same reserve → commit protocol as data writes, so it is atomic and
    safe against concurrent writers."""
    manifest = read_manifest(path)
    new_version = manifest["version"] + 1
    with _reserved(path, new_version):
        new_manifest = dict(manifest)
        new_manifest.update(updates)
        new_manifest["version"] = new_version
        # fresh timestamp per commit — never inherit the amended
        # version's committed_at (time-travel monotonicity)
        new_manifest.pop("committed_at", None)
        _commit_manifest(path, new_manifest)
    return new_version


def vacuum(path: str, keep_last: int = 2) -> list[int]:
    """Delete version dirs (and retained manifests) not referenced by
    the current manifest and older than the last ``keep_last``
    committed versions.  Returns removed version numbers.  Run only
    when no reader can hold a snapshot older than the horizon — same
    contract as Delta's VACUUM."""
    import shutil

    manifest = read_manifest(path)
    live = {
        rel.split("/", 1)[0] for rel in manifest["partitions"].values()
    }
    horizon = manifest["version"] - keep_last
    removed = []
    for entry in os.listdir(path):
        if entry.startswith("v="):
            v = int(entry.split("=", 1)[1])
            if v <= horizon and entry not in live:
                shutil.rmtree(os.path.join(path, entry))
                removed.append(v)
        elif entry.startswith(f"{_MANIFEST}.v"):
            v = int(entry.rsplit(".v", 1)[1])
            # never reclaim the CURRENT version's retained manifest —
            # readers pin to it for snapshot consistency (the lexical
            # anchor reads its own paired tables by version), and at
            # keep_last=0 the horizon includes the live version itself
            if v <= horizon and v != manifest["version"]:
                os.remove(os.path.join(path, entry))
    return sorted(removed)
