"""Versioned parquet tables: atomic commits of base partitions, appended
segments and tombstones, without a lakehouse dependency (plain parquet
overwrites are not atomic across partitions).

Delta/Iceberg solve this with a transaction log; the same core idea fits
in one small protocol over plain parquet:

* data lives in immutable version directories ``v=N/``.  A table's
  snapshot is its **base** (partition dirs ``v=N/<part>=<val>/``, written
  by a build, a merge or a keyed partition rewrite) plus an ordered list
  of **segment** files (``v=N/segment.parquet``, one per append, the
  partition value a data column) and **tombstones**;
* a tombstone is a ``(key, seq)`` pair: it hides the rows with that key
  in the base and in segments committed before ``seq``, never rows of
  the same commit or later ones — so a keyed replace is ONE commit (a
  tombstone plus the new rows, :func:`append_versioned`) and a delete
  writes no data at all.  Appends cost the batch, not the table;
  :func:`merge_versioned` folds segments and tombstones into a new base;
* a JSON **manifest** lists the base partition dirs, the segment files,
  the tombstones and the live row count; it is swapped atomically
  (``os.replace``), so readers see the old snapshot or the new one,
  never a half-written mix — this is the commit point;
* every committed manifest is retained as ``_MANIFEST.v<N>`` (with its
  commit timestamp) → snapshot reads by version or AS-OF timestamp
  (time travel) and O(1) RESTORE-style rollback for free;
* **schema evolution, add/remove columns**: partition rewrites align
  both sides to the union of their columns (typed nulls fill the gaps)
  and snapshot reads merge parquet schemas across version dirs, so
  older untouched partitions keep their written files and surface nulls
  for columns that postdate them — Delta's default evolution contract
  (type changes of an existing column are not supported).

A writer crash before the manifest swap leaves an orphan ``v=N`` dir
that no reader can observe; re-running the write is safe (next version
number).  The protocol is **single-writer** (like a Delta table without
a locking service) and REFUSES a second concurrent writer loudly —
**before any data is written**: a writer first RESERVES its target
version by ``O_EXCL``-creating ``_MANIFEST.v(N+1)`` as a pending
placeholder, so two writers that both read version N race on the
reservation and the loser raises :class:`ConcurrentWriteError` before
it has touched a single data file.  (Checking only at commit time
would let the loser's data write clobber the winner's already-committed
``v=N+1`` dir — a silent lost update worse than no check.)  After the
data write the placeholder is atomically filled with the real manifest,
then ``_MANIFEST`` swaps — the swap is the commit point.  This is
exactly Delta's put-if-absent commit on the log object, at manifest
granularity.  Concurrent readers are always consistent because they
resolve one manifest; a pending placeholder is never readable as a
snapshot.

The manifest lists files (segments) as well as partition dirs, so at
100 TB it would live on the object store with put-if-absent commits —
the protocol is the same.

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
from pyspark.sql import types as T

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
    schema: str | None = None,
) -> DataFrame:
    """ONE multi-path parquet scan over partition dirs, with the
    partition value restored from the directory name
    (``.../{col}=value/file.parquet``).  A per-partition union would
    build an O(partitions) plan — at thousands of partitions that is a
    driver-side analysis bottleneck; a single scan keeps the plan O(1)
    and lets the scheduler parallelize file listing.

    ``dtype`` (the manifest-recorded ``partition_dtype``) casts the
    restored value back to its written type — without it an integer
    partition column (e.g. an IVF bucket id) silently comes
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
    tenant-scoped probes.

    ``schema`` (the manifest-recorded schema JSON of the data files)
    skips inference: Spark infers a parquet schema with a job, so a
    read with the recorded schema plans no job at all."""
    df = _reader(spark, schema).parquet(
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


def _reader(spark: SparkSession, schema: str | None, *extra):
    """A parquet reader: the recorded ``schema`` JSON plus ``extra``
    fields when there is one, else schema-merging inference."""
    if schema is None:
        return spark.read.option("mergeSchema", "true")
    st = T.StructType.fromJson(json.loads(schema))
    for field in extra:
        st = st.add(field)
    return spark.read.schema(st)


#: A recorded ``partition_dtype`` → its Spark type and arrow alias
#: (segment files store the partition value as a data column).
_PARTITION_TYPES = {
    "tinyint": (T.ByteType, "int8"),
    "smallint": (T.ShortType, "int16"),
    "int": (T.IntegerType, "int32"),
    "bigint": (T.LongType, "int64"),
    "string": (T.StringType, "string"),
}

#: Segment files carry their commit's version in this column, so one
#: scan over every segment can apply each tombstone to the older rows
#: only.  Base rows read as sequence 0.
_SEQ = "_seq"


def _segments(manifest: dict) -> list[dict]:
    return manifest.get("segments") or []


def _tombstones(manifest: dict) -> dict:
    """``{key: seq}`` of a manifest's tombstones (the latest per key)."""
    out: dict = {}
    for key, seq in manifest.get("tombstones") or ():
        out[key] = max(seq, out.get(key, 0))
    return out


def scan_versioned(
    spark: SparkSession,
    path: str,
    partition_col: str,
    manifest: dict,
    values=None,
    pre_filter=None,
) -> DataFrame | None:
    """The live rows of one committed snapshot as ONE Spark plan: the
    base partition dirs (only those of ``values`` when given — partition
    pruning) and every segment file (filtered to ``values``), minus the
    rows their tombstones hide.  ``pre_filter`` rides both scans (see
    :func:`_read_partition_dirs`).  None when the snapshot has no file
    to read for ``values``.  Plans no job: the tombstones become one
    filter expression over the key and the segment sequence."""
    parts = manifest["partitions"]
    keep = None if values is None else {str(v) for v in values}
    rels = [
        rel for v, rel in sorted(parts.items()) if keep is None or v in keep
    ]
    frames = []
    if rels:
        frames.append(
            _read_partition_dirs(
                spark, path, partition_col, rels,
                dtype=manifest.get("partition_dtype"),
                pre_filter=pre_filter,
                schema=manifest.get("schema"),
            )
        )
    segs = _segments(manifest)
    if segs:
        ptype = _PARTITION_TYPES.get(
            manifest.get("partition_dtype"), (T.LongType,)
        )[0]
        df = _reader(
            spark,
            manifest.get("schema"),
            T.StructField(partition_col, ptype()),
            T.StructField(_SEQ, T.LongType()),
        ).parquet(*[os.path.join(path, s["file"]) for s in segs])
        if keep is not None:
            df = df.filter(F.col(partition_col).cast("string").isin(sorted(keep)))
        if pre_filter is not None:
            df = df.filter(pre_filter)
        frames.append(df)
    if not frames:
        return None
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    tomb = _tombstones(manifest)
    if tomb:
        by_seq: dict = {}
        for key, seq in tomb.items():
            by_seq.setdefault(seq, []).append(key)
        seq_col = (
            F.coalesce(F.col(_SEQ), F.lit(0)) if segs else F.lit(0)
        )
        hidden = F.lit(False)
        for seq, keys in sorted(by_seq.items()):
            hidden = hidden | (
                F.col(manifest["key"]).isin(sorted(keys)) & (seq_col < seq)
            )
        out = out.filter(~hidden)
    return out.drop(_SEQ) if segs else out


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
    """Snapshot read: resolve ONE manifest and scan its live rows — every
    base partition dir in a single multi-path read with the partition
    value restored, plus the segment files, minus tombstoned rows
    (:func:`scan_versioned`).  ``version`` pins a historical snapshot
    (time travel); ``as_of`` pins by commit timestamp instead (Delta's
    ``timestampAsOf`` — resolved to the highest retained version
    committed at or before it)."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version OR as_of, not both")
        version = resolve_version_at(path, as_of)
    manifest = read_manifest(path, version)
    if version is not None:
        # A pinned (time-travel) read may resolve a retained manifest
        # whose data dirs vacuum has already reclaimed — fail loudly
        # with the cause instead of surfacing an opaque path error (or,
        # worse, a silently partial scan).  Current-manifest reads skip
        # this: vacuum never removes dirs the current manifest lives on.
        gone = sorted(
            {
                rel.split("/", 1)[0]
                for rel in _data_rels(manifest)
                if not os.path.exists(os.path.join(path, rel))
            }
        )
        if gone:
            raise FileNotFoundError(
                f"snapshot v{version} of {path} references vacuumed "
                f"version dirs {gone}; the snapshot is no longer "
                "readable (vacuum horizon passed it)"
            )
    df = scan_versioned(spark, path, partition_col, manifest)
    if df is None:
        raise FileNotFoundError(f"versioned table at {path} is empty")
    return df


def _data_rels(manifest: dict) -> list[str]:
    """Every base partition dir and segment file a manifest references."""
    return [
        *manifest["partitions"].values(),
        *(s["file"] for s in _segments(manifest)),
    ]


def _require_unsegmented(manifest: dict, path: str) -> None:
    """Partition rewrites merge against base dirs only: segments and
    tombstones must be merged into the base first."""
    if _segments(manifest) or manifest.get("tombstones"):
        raise ValueError(
            f"{path} holds appended segments or tombstones; "
            "merge_versioned it before a partition rewrite"
        )


def upsert_versioned(
    updates: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_col: str,
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
    _require_unsegmented(manifest, path)
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
        # subsequent snapshot read pays per-file overhead.  With it,
        # exactly one file per affected partition per version.
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
    the same per-partition write shape as the unlayouted
    ``repartition(partition_col)`` path; layout tables are probe
    artifacts whose partitions are bucket-sized by construction."""
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
    cross-references belong in the commit they describe); a callable
    is called after the data write, so a build can commit metadata it
    computes concurrently with the write.  The manifest records the
    written row count (``rows``, from the parquet footers).

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
        new_manifest["rows"] = _file_rows(
            path, _partition_files(path, new_manifest)
        )
        new_manifest["schema"] = T.StructType(
            [f for f in df.schema.fields if f.name != partition_col]
        ).json()
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
        if callable(extra):
            extra = extra()
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
    _require_unsegmented(manifest, path)
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
) -> int | None:
    """OPTIMIZE: rewrite partitions whose current dir holds more
    parquet files than intended into one new version with consolidated
    files; commit atomically via the manifest swap.

    A partition's current dir can hold more files than the table
    intends (a rewrite under a stale layout roll, a session
    ``maxRecordsPerFile`` split) — the classic small-file problem.
    Compaction is
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
        if n_files > intended:
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


def _partition_files(path: str, manifest: dict):
    """``(partition value, data file)`` for every file a reader of
    ``manifest``'s snapshot touches, in a stable order.  Spark's
    hidden-file rule picks the files: names starting with ``_`` or
    ``.`` (``_SUCCESS``, checksum files) are not data."""
    for value, rel in sorted(manifest["partitions"].items()):
        pdir = os.path.join(path, rel)
        for f in sorted(os.listdir(pdir)):
            if not f.startswith(("_", ".")):
                yield value, os.path.join(pdir, f)


def _file_rows(path: str, files) -> int:
    """Rows in ``(value, file)`` pairs, from the parquet footers."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for _, f in files)


def live_rows(path: str, manifest: dict) -> int:
    """The live row count of a snapshot without a Spark job: the
    manifest's ``rows``, kept exact by every commit; footers for a
    manifest written before the count was recorded."""
    if "rows" in manifest:
        return int(manifest["rows"])
    return _file_rows(path, _partition_files(path, manifest)) + sum(
        int(s["rows"]) for s in _segments(manifest)
    )


def _partition_type(manifest: dict):
    """The arrow type of a manifest's recorded ``partition_dtype``."""
    import pyarrow as pa

    types = _PARTITION_TYPES.get(manifest.get("partition_dtype"))
    return None if types is None else pa.type_for_alias(types[1])


def _live_table(
    path: str,
    partition_col: str,
    manifest: dict,
    columns: Sequence[str] | None = None,
    base: bool = True,
    segments: list[dict] | None = None,
    where: tuple | None = None,
):
    """The live rows of ``manifest`` read with pyarrow on the driver (no
    Spark job): base files (when ``base``) with the partition value
    restored from the manifest, plus ``segments`` (default: all of the
    manifest's), minus tombstoned rows.  ``columns`` prunes the read;
    ``where=(col, values)`` keeps the rows whose ``col`` is in
    ``values``.  None when there is no file to read."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    key = manifest.get("key")
    need = None
    if columns is not None:
        need = {
            *columns, _SEQ, *([key] if key else []), *([where[0]] if where else [])
        }
    ptype = _partition_type(manifest)

    def read(f):
        pf = pq.ParquetFile(f)
        names = pf.schema_arrow.names
        return pf.read(
            columns=None if need is None else [c for c in names if c in need]
        )

    tables = []
    if base:
        for value, f in _partition_files(path, manifest):
            t = read(f)
            if ptype is not None and pa.types.is_integer(ptype):
                value = int(value)
            t = t.append_column(
                partition_col, pa.array([value] * t.num_rows, ptype)
            )
            tables.append(
                t.append_column(_SEQ, pa.array([0] * t.num_rows, pa.int64()))
            )
    for seg in _segments(manifest) if segments is None else segments:
        tables.append(read(os.path.join(path, seg["file"])))
    if not tables:
        return None
    t = pa.concat_tables(
        [x.replace_schema_metadata(None) for x in tables],
        promote_options="default",
    )
    if where is not None:
        col, values = where
        t = t.filter(pc.is_in(t[col], value_set=pa.array(list(values), t[col].type)))
    tomb = _tombstones(manifest)
    if tomb and t.num_rows:
        tkeys = pa.array(list(tomb), t[key].type)
        seqs = pc.take(
            pa.array(list(tomb.values()), pa.int64()),
            pc.index_in(t[key], value_set=tkeys),
        )
        t = t.filter(pc.invert(pc.fill_null(pc.less(t[_SEQ], seqs), False)))
    t = t.drop_columns([_SEQ])
    if columns is not None:
        t = t.select(list(columns))
    return t


def read_versioned_pandas(
    path: str,
    partition_col: str,
    version: int | None = None,
    columns: Sequence[str] | None = None,
    where: tuple | None = None,
    manifest: dict | None = None,
) -> "pandas.DataFrame":
    """Driver-side snapshot read of a SMALL table: the live rows of one
    manifest (base files, segments, tombstones applied) read with
    pyarrow into a pandas frame — no Spark job.  Same rows and columns
    as :func:`read_versioned`: schemas merge across files (a column a
    file predates reads null), and the partition value comes back from
    the manifest with its recorded integral type.  ``columns`` and
    ``where=(col, values)`` prune the read (see :func:`_live_table`)."""
    if manifest is None:
        manifest = read_manifest(path, version)
    t = _live_table(path, partition_col, manifest, columns, where=where)
    if t is None:
        raise FileNotFoundError(f"versioned table at {path} is empty")
    return t.to_pandas()


def appended(old: dict, new: dict) -> tuple[list[dict], dict] | None:
    """``(segments, tombstones)`` that ``new`` adds to ``old`` when ``new``
    only appends segments and tombstones to ``old``'s snapshot (same
    base, ``old``'s segments a prefix, ``old``'s tombstones kept); None
    otherwise.  Every added tombstone is newer than every row of
    ``old``, so ``new``'s snapshot is ``old``'s minus the added
    tombstones' keys plus the added segments' live rows."""
    if new["partitions"] != old["partitions"]:
        return None
    held = _segments(old)
    if _segments(new)[: len(held)] != held:
        return None
    t_old, t_new = _tombstones(old), _tombstones(new)
    if any(t_new.get(k, -1) < s for k, s in t_old.items()):
        return None
    added = {k: s for k, s in t_new.items() if t_old.get(k) != s}
    return _segments(new)[len(held):], added


def read_appended(
    path: str,
    partition_col: str,
    old: dict,
    new: dict,
    columns: Sequence[str] | None = None,
):
    """``(rows, hidden_keys)`` for refreshing a driver copy of ``old``'s
    snapshot to ``new``'s (see :func:`appended`): the live rows of the
    appended segments as pandas, and the keys whose held rows the new
    tombstones hide.  None when ``new`` is not an append to ``old``."""
    delta = appended(old, new)
    if delta is None:
        return None
    segs, added = delta
    t = _live_table(path, partition_col, new, columns, base=False, segments=segs)
    return (None if t is None else t.to_pandas()), set(added)


def append_versioned(
    rows,
    path: str,
    partition_col: str,
    key: str,
    delete: Sequence = (),
    extra: dict | None = None,
    base_version: int | None = None,
) -> int:
    """One commit that appends ``rows`` (a pandas frame, or None) as one
    segment file written with pyarrow on the driver, and tombstones the
    live rows whose ``key`` is in ``delete`` — rows of this commit are
    never hidden, so a keyed replace is one commit.  Returns the
    committed version; no commit (the current version) when there is
    nothing to write and no ``extra``.  Cost: the batch plus one
    column-pruned read of the key column (keys that match no live row
    get no tombstone, so the manifest's ``rows`` stays exact).

    ``base_version`` appends to that committed snapshot instead of the
    current one (a paired table re-based on the snapshot its anchor
    pins, so an orphaned commit after it is dropped).  Segments are
    cast to the table's stored schema, so Spark reads base and
    segments as one table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    current = read_manifest(path)
    if current["version"] == 0:
        raise FileNotFoundError(f"no versioned table at {path} to append to")
    base = (
        current
        if base_version in (None, current["version"])
        else read_manifest(path, base_version)
    )
    hidden = 0
    hide: list = []
    if len(delete):
        live = _live_table(
            path, partition_col, base, [key], where=(key, set(delete))
        )
        if live is not None:
            hidden = live.num_rows
            hide = sorted(set(live[key].to_pylist()))
    n_new = 0 if rows is None else len(rows)
    if not n_new and not hide and not extra and base is current:
        return int(current["version"])
    new_version = current["version"] + 1
    with _reserved(path, new_version):
        m = {
            k: v for k, v in base.items() if k not in ("version", "committed_at")
        }
        m.update(version=new_version, key=key)
        segs = list(_segments(base))
        if n_new:
            ref = next(
                (
                    pq.read_schema(os.path.join(path, r))
                    for r in (
                        *(s["file"] for s in reversed(segs)),
                        *(f for _, f in _partition_files(path, base)),
                    )
                ),
                None,
            )
            schema = None
            if ref is not None:
                ptype = _partition_type(base)
                if ptype is None and partition_col in ref.names:
                    ptype = ref.field(partition_col).type
                schema = pa.schema(
                    [
                        *(f for f in ref.remove_metadata()
                          if f.name not in (partition_col, _SEQ)),
                        pa.field(partition_col, ptype or pa.int64()),
                    ]
                )
            table = pa.Table.from_pandas(
                rows if schema is None else rows[schema.names],
                schema=schema,
                preserve_index=False,
            ).append_column(_SEQ, pa.array([new_version] * n_new, pa.int64()))
            rel = f"v={new_version}/segment.parquet"
            os.makedirs(os.path.join(path, f"v={new_version}"), exist_ok=True)
            pq.write_table(table, os.path.join(path, rel))
            segs.append({"file": rel, "seq": new_version, "rows": n_new})
        m["segments"] = segs
        tomb = _tombstones(base)
        tomb.update({k: new_version for k in hide})
        m["tombstones"] = [[k, s] for k, s in tomb.items()]
        m["rows"] = live_rows(path, base) + n_new - hidden
        if extra:
            m.update(extra)
        _commit_manifest(path, m)
    return new_version


def merge_versioned(
    path: str,
    partition_col: str,
    spark: SparkSession | None = None,
    extra: dict | None = None,
) -> int | None:
    """Fold a table's segments and tombstones into ONE new base (the
    LSM/Lucene segment merge); returns the committed version, or None
    when there is nothing to merge.  The rows are unchanged, so a
    reader of the new version sees what a reader of the old one saw.

    Without ``spark`` the live rows are read and written with pyarrow
    on the driver — one file per partition (split every
    ``layout_roll`` rows, sorted by ``layout_col``, when the table has
    a layout).  With ``spark`` the live snapshot is rewritten through
    :func:`overwrite_versioned` with the table's recorded layout, as a
    build writes it.  Either way the manifest's other keys carry
    forward, updated by ``extra``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    m = read_manifest(path)
    if not _segments(m) and not m.get("tombstones"):
        return None
    structural = (
        "version", "partitions", "segments", "tombstones", "rows",
        "committed_at",
    )
    carry = {k: v for k, v in m.items() if k not in structural}
    carry.update(extra or {})
    if spark is not None:
        for k in ("partition_dtype", "layout_col", "layout_files",
                  "layout_roll", "layout_floor"):
            carry.pop(k, None)
        return overwrite_versioned(
            read_versioned(spark, path, partition_col),
            path,
            partition_col,
            extra=carry,
            layout_col=m.get("layout_col"),
            layout_files=m.get("layout_files"),
            layout_min_file_rows=m.get("layout_floor"),
        )
    t = _live_table(path, partition_col, m)
    new_version = m["version"] + 1
    with _reserved(path, new_version):
        parts = {}
        lay, roll = m.get("layout_col"), m.get("layout_roll")
        values = [] if t is None else sorted(pc.unique(t[partition_col]).to_pylist())
        for value in values:
            rows = t.filter(pc.equal(t[partition_col], value)).drop_columns(
                [partition_col]
            )
            if lay is not None:
                rows = rows.sort_by(lay)
            rel = f"v={new_version}/{partition_col}={value}"
            os.makedirs(os.path.join(path, rel))
            step = int(roll) if roll else max(1, rows.num_rows)
            for i, at in enumerate(range(0, rows.num_rows, step)):
                pq.write_table(
                    rows.slice(at, step),
                    os.path.join(path, rel, f"part-{i:05d}.parquet"),
                )
            parts[str(value)] = rel
        _commit_manifest(
            path,
            {
                **carry,
                "version": new_version,
                "partitions": parts,
                "rows": 0 if t is None else t.num_rows,
            },
        )
    return new_version


def snapshot_files(path: str, version: int | None = None) -> list[str]:
    """The data files a snapshot's readers touch (the CURRENT one by
    default) — one entry per file across the manifest's partition dirs
    and segments.  A cheap read-cost proxy for compaction decisions and
    tests (files touched before vs after a compaction)."""
    manifest = read_manifest(path, version)
    return [f for _, f in _partition_files(path, manifest)] + [
        os.path.join(path, s["file"]) for s in _segments(manifest)
    ]


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
    null-safe struct comparison of the non-key columns.  A snapshot
    with segments or tombstones has no per-partition dir to compare,
    so its whole live snapshot is classified against the other's.
    """
    m_to = read_manifest(path, v_to) if v_to is not None else read_manifest(path)
    m_from = read_manifest(path, v_from)
    join_keys = [partition_col, *[k for k in keys if k != partition_col]]
    if any(_segments(m) or m.get("tombstones") for m in (m_from, m_to)):
        return classify_changes(
            read_versioned(spark, path, partition_col, version=v_from),
            read_versioned(spark, path, partition_col, version=m_to["version"]),
            join_keys,
        )
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
    for k in ("partition_dtype", "schema", "key", "segments", "tombstones", "rows"):
        if k in manifest:
            new_manifest[k] = manifest[k]
    _commit_manifest(path, new_manifest)
    return new_manifest["version"]


def amend_manifest(path: str, updates: dict) -> int:
    """Metadata-only commit: a new version whose partition map is
    IDENTICAL to the current snapshot (pointing at the same immutable
    dirs — zero data written) with ``updates`` merged into the extra
    keys.  This is how an anchor re-pins a paired table after a
    layout-only operation bumped the paired version (e.g.
    ``maintain_indexes`` merges the doclen table and, when the postings
    anchor has nothing to merge, amends its ``doclen_version`` — the
    rows behind both versions are identical, so probe results are
    unchanged).  Goes through the
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
    live = {rel.split("/", 1)[0] for rel in _data_rels(manifest)}
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
