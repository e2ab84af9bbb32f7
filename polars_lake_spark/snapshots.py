"""Snapshot layer: Iceberg/Delta-style versioned tables over plain Parquet.

The unversioned Engine layout mutates partition directories in place
(dynamic partition overwrite), which — as engine.py documents — has no
snapshot isolation for read-during-rewrite.  This module removes that
divergence without any lake-format dependency (none ships in this
container): a versioned table is a set of IMMUTABLE write directories plus
a chain of JSON snapshot manifests mapping each hive partition path to the
write dir(s) that own its current data.

Layout for table ``t``::

    root/t/_manifest.json              # TableSpec (versioned=true)
    root/t/_snapshots/v000001.json     # one manifest per committed version
    root/t/data/w000001/...            # immutable write dirs (hive layout)

Snapshot manifest::

    {"version": 3, "op": "upsert", "ts_ns": ..., "schema_json": "...",
     "mapping": {"o_orderstatus=F/bucket_id=0": ["w000001", "w000003"]}}

Semantics:

* every write lands in a FRESH ``wNNNNNN`` dir — old dirs are never
  touched, so a reader holding version N sees a consistent table while any
  number of later writes commit (snapshot isolation, read-your-version);
* append  = add the new dir to each touched partition's list;
* upsert / delete / compact = replace touched partitions' lists with the
  single new dir;
* time travel = read any retained version; restore = commit a new version
  whose mapping is a past one; vacuum = delete write dirs unreferenced by
  retained versions.

100 TB design: all snapshot operations are DRIVER-SIDE METADATA — O(touched
partitions) JSON, no data movement.  Reads are explicit file-list scans
(one union branch per write dir, each with its own basePath so partition
values parse), which at scale is *cheaper* than directory discovery: no
recursive listing storms on object stores, and partition pruning works on
the explicit paths.  Planning a read launches no Spark job: each write dir
records its Spark schema (``_schema.json``, copied from its footers before
the commit publishes the dir) and every deletion-vector sidecar has one
fixed schema, so no branch infers a schema from footers — only dirs
without a recorded schema (written before it was recorded, or files
adopted by ``convert_to_versioned``) still do, one job each.  Partition
columns still come from the paths.  Commits are atomic: the manifest is
written to a temp file and published with ``os.link`` to its version
name, which fails if that version exists (a concurrent writer's commit
is never replaced).

The reference has no versioning at all (its manifest is a single mutable
spec, ``/root/reference/src/dataset.rs:337-358``); this is the
``SURVEY.md §7`` "later Delta" tier built directly.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SNAP_DIR = "_snapshots"
DATA_DIR = "data"
# Row-identity columns a with_row_refs read exposes (and DV sidecars
# store as file_path/row_index): the physical (file, position) pair —
# the row identity that needs no table keys, exactly Delta's DV model.
DV_FILE_COL = "__dv_file"
DV_POS_COL = "__dv_pos"
# Above this many accumulated DV refs the read-side anti-join stops
# forcing a broadcast (an explicit hint bypasses Spark's size limit —
# ~120 B/ref means 5M refs is already ~600 MB on the driver) and lets
# AQE pick the join strategy instead. The commit side counts refs into
# meta["dv_rows"] so this decision is metadata-only at read time.
DV_BROADCAST_MAX_ROWS = 5_000_000
# A write dir's recorded data schema (record_dir_schema), and the footer
# key Spark stores its row schema under.
DIR_SCHEMA = "_schema.json"
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# The fixed shape of a deletion-vector sidecar.
DV_SCHEMA = "file_path string, row_index long"

# Immutable write-dir name (clone mappings prefix a relative path; the
# basename still carries the counter that orders the dir against schema
# events).
_WDIR_RE = re.compile(r"w(\d+)")
# Era-translated conjunct name for a column that did not exist (under
# any name) when a write dir landed: guaranteed absent from every stats
# sidecar, so pruning conservatively keeps the file and COUNT mode
# treats it as a boundary scan (never a proven full match).
_NO_ERA_COLUMN = "__pl_no_era_column__"


def _wdir_counter(wdir: str) -> int:
    """The ``wNNNNNN`` counter of a (possibly relative-path) write dir
    reference; 0 — "older than every schema event" — when the name does
    not parse (conservative: events apply, and they no-op on columns the
    dir doesn't carry)."""
    m = _WDIR_RE.fullmatch(os.path.basename(wdir))
    return int(m.group(1)) if m else 0


def era_events(events: list[dict], wnum: int) -> list[dict]:
    """The schema events that happened AFTER write dir ``wnum`` landed —
    the ones a read of that dir must replay (chronological order)."""
    return [e for e in events if int(e.get("w", 0)) >= wnum]


def apply_schema_events(scan: DataFrame, events: list[dict], wnum: int):
    """Replay the schema events newer than a write dir onto its scan, so
    every union branch speaks the CURRENT logical schema: renames map the
    dir's era name forward (no-op when the dir predates the column),
    drops remove the era column (a later re-ADD under the same name reads
    NULL from this dir — the old values must never resurface), adds are
    read-side no-ops (the union NULL-fills)."""
    for e in era_events(events, wnum):
        if e["op"] == "rename":
            scan = scan.withColumnRenamed(e["from"], e["to"])
        elif e["op"] == "drop":
            scan = scan.drop(e["name"])
    return scan


def era_column_name(current: str, events: list[dict], wnum: int) -> str:
    """Reverse-translate a CURRENT column name to what that column was
    called when write dir ``wnum`` landed, for stats lookups against the
    dir's zone-map sidecar.  Walking the dir's events newest-first: a
    rename whose target matches maps back to the source name; hitting a
    drop or an add of the (partially-translated) name means the current
    column was born AFTER this dir — any same-named era column is a
    different (since-dropped) column whose stats must not answer for it,
    so the sentinel ``_NO_ERA_COLUMN`` (absent from every sidecar) makes
    pruning keep the file and COUNT mode scan it."""
    name = current
    for e in reversed(era_events(events, wnum)):
        if e["op"] == "rename" and name.lower() == e["to"].lower():
            name = e["from"]
        elif e["op"] in ("drop", "add") and name.lower() == e["name"].lower():
            return _NO_ERA_COLUMN
    return name


def event_suffix(
    ev_from: list[dict], ev_to: list[dict]
) -> list[dict] | None:
    """The schema events that happened between two versions' event logs,
    when the newer log EXTENDS the older (the invariant every commit
    preserves — the log only appends, and rewrites carry it).  None
    when the logs diverge: only a RESTORE past a metadata-only column
    DDL rewinds the log, and a diff across that boundary is a schema
    change the caller must handle explicitly (split the range at the
    restore), never paper over."""
    if ev_to[: len(ev_from)] == ev_from:
        return ev_to[len(ev_from):]
    return None


def apply_event_suffix(df: DataFrame, suffix: list[dict]) -> DataFrame:
    """Replay a schema-event suffix onto a frame that speaks the OLDER
    version's logical names (renames map forward, drops remove, adds
    are read-side no-ops)."""
    for e in suffix:
        if e["op"] == "rename":
            df = df.withColumnRenamed(e["from"], e["to"])
        elif e["op"] == "drop":
            df = df.drop(e["name"])
    return df


def reverse_names(names: list[str], suffix: list[dict]) -> list[str]:
    """Column names translated BACKWARD through an event suffix (the
    names a restore target version used): renames map target→source;
    drops/adds don't rename anything."""
    out = []
    for n in names:
        for e in reversed(suffix):
            if e["op"] == "rename" and n.lower() == e["to"].lower():
                n = e["from"]
        out.append(n)
    return out


def era_conjuncts(
    conjuncts: list[tuple], events: list[dict], wnum: int
) -> list[tuple]:
    """Zone-map conjuncts with their column names translated to a write
    dir's era (see ``era_column_name``). Names are lowercased to match
    ``file_survives``'s stats lookup."""
    if not era_events(events, wnum):
        return conjuncts
    return [
        (era_column_name(c[0], events, wnum).lower(),) + tuple(c[1:])
        for c in conjuncts
    ]


class ConcurrentCommitError(RuntimeError):
    """Another writer committed a snapshot since this transaction read its
    base version. The losing transaction must re-read and re-apply (its
    merge may have been computed against stale data) — classic optimistic
    concurrency, same contract as Delta/Iceberg commit conflicts."""


@dataclass
class Snapshot:
    version: int
    op: str
    ts_ns: int
    schema_json: str | None
    # hive partition rel-path ("" for unpartitioned) -> ordered write dirs
    mapping: dict[str, list[str]]
    # Optional commit metadata (Delta operationParameters analog): small
    # JSON recorded ATOMICALLY with the commit — e.g. refresh_aggregate
    # stores the source version it applied, so progress markers can never
    # drift from the data they describe.  Absent in pre-existing manifests.
    meta: dict | None = None


def _partition_relpaths(write_dir: str) -> list[str]:
    """Hive partition rel-paths containing parquet files under a write dir
    ('' for unpartitioned). Driver-side walk of ONE new dir — O(its parts)."""
    found = set()
    for cur, _dirs, files in os.walk(write_dir):
        if any(f.endswith(".parquet") for f in files):
            found.add(os.path.relpath(cur, write_dir).replace(os.sep, "/"))
    return sorted("" if p == "." else p for p in found)


def record_dir_schema(write_dir: str) -> None:
    """Record a fresh write dir's Spark schema (its non-partition data
    columns, exactly as the parquet footers carry it) in
    ``DIR_SCHEMA``, so reads pin it instead of launching a footer-
    inference job.  Call before the commit publishes the dir.  A dir
    without parquet files or a Spark schema in its footer records
    nothing and keeps inference."""
    import pyarrow.parquet as pq

    for cur, _dirs, files in os.walk(write_dir):
        for f in sorted(files):
            if f.endswith(".parquet"):
                kv = pq.read_metadata(os.path.join(cur, f)).metadata or {}
                schema = kv.get(SPARK_SCHEMA_KEY)
                if schema is not None:
                    tmp = os.path.join(write_dir, f".{DIR_SCHEMA}.tmp")
                    with open(tmp, "wb") as fh:
                        fh.write(schema)
                    os.replace(tmp, os.path.join(write_dir, DIR_SCHEMA))
                return


def _dir_schema(write_dir: str):
    """The schema ``record_dir_schema`` left in a write dir, or None."""
    path = os.path.join(write_dir, DIR_SCHEMA)
    if not os.path.isfile(path):
        return None
    from pyspark.sql.types import StructType

    with open(path) as f:
        return StructType.fromJson(json.load(f))


def carried_meta(base_meta: dict | None, meta: dict | None = None) -> dict | None:
    """Commit meta with the ALWAYS-CARRIED keys filled from the base:
    per-app txn watermarks, the COPY INTO loaded-file log, the
    deletion-vector dir list (and its ref count), the schema-event log,
    and identity high-water marks all describe table state that must
    survive unrelated commits — a commit that dropped any of them would
    replay ingest batches, reload files, resurrect deleted rows,
    misread era names, or re-issue identity ranges.  Keys the caller
    already set in ``meta`` win (the caller merged/extended)."""
    for key in (
        "txn", "copy_files", "dv", "dv_rows", "schema_events", "identity",
    ):
        carried = (base_meta or {}).get(key)
        if carried and key not in (meta or {}):
            if isinstance(carried, dict):
                carried = dict(carried)
            elif isinstance(carried, list):
                carried = list(carried)
            meta = {**(meta or {}), key: carried}
    return meta


def pin_partition_types(
    df: DataFrame, partition_cols: list[str], schema_json: str | None
) -> DataFrame:
    """Cast hive-INFERRED partition columns back to the table's recorded
    types where they drifted.  The killer case: a partition whose only
    value is NULL reads back as ``__HIVE_DEFAULT_PARTITION__`` and Spark
    infers the column as VOID — any later rewrite of the table then
    fails with INVALID_PARTITION_COLUMN_DATA_TYPE (found by the
    replace_where hypothesis suite).  Matching types cast nothing, so
    partition pruning on the normal path is untouched."""
    if not partition_cols or not schema_json:
        return df
    from pyspark.sql.types import StructType

    want = {
        f.name.lower(): f.dataType
        for f in StructType.fromJson(json.loads(schema_json)).fields
    }
    pset = {p.lower() for p in partition_cols}
    have = dict(df.dtypes)
    fixes = {}
    for c in df.columns:
        cl = c.lower()
        if (
            cl in pset
            and cl in want
            and have[c] != want[cl].simpleString()
        ):
            fixes[c] = F.col(c).cast(want[cl])
    return df.withColumns(fixes) if fixes else df


def _empty_read_schema(schema_json: str, partition_cols: list[str]):
    """Schema for a schema-pinned EMPTY read, reordered the way a real
    partitioned scan comes back: data columns in write order, then the
    hive partition columns (basePath reads append them at the end)."""
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(schema_json))
    pset = {c.lower() for c in partition_cols}
    data = [f for f in schema.fields if f.name.lower() not in pset]
    by_name = {f.name.lower(): f for f in schema.fields}
    tail = [by_name[c.lower()] for c in partition_cols if c.lower() in by_name]
    return StructType(data + tail)


class SnapshotStore:
    """Snapshot bookkeeping for one versioned table directory."""

    def __init__(self, table_path: str, partition_cols: list[str] | None = None):
        self.table_path = table_path
        self.snap_path = os.path.join(table_path, SNAP_DIR)
        self.data_path = os.path.join(table_path, DATA_DIR)
        # Only used by the empty-mapping read fallback, to put partition
        # columns last — matching the column order of a non-empty scan
        # (basePath reads append hive partition columns at the end).
        self.partition_cols = partition_cols or []

    # ------------------------------------------------------------- inventory
    def versions(self) -> list[int]:
        if not os.path.isdir(self.snap_path):
            return []
        return sorted(
            int(f[1:-5])
            for f in os.listdir(self.snap_path)
            if f.startswith("v") and f.endswith(".json")
        )

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise ValueError(f"no snapshots under {self.snap_path}")
        return vs[-1]

    def load(self, version: int | None = None) -> Snapshot:
        v = self.latest_version() if version is None else version
        path = os.path.join(self.snap_path, f"v{v:06d}.json")
        if not os.path.isfile(path):
            raise ValueError(f"version {v} not found (have {self.versions()})")
        with open(path) as f:
            return Snapshot(**json.load(f))

    def history(self) -> list[dict]:
        out = []
        for v in self.versions():
            s = self.load(v)
            out.append(
                {
                    "version": s.version,
                    "op": s.op,
                    "ts_ns": s.ts_ns,
                    "n_partitions": len(s.mapping),
                    "write_dirs": sorted({w for ws in s.mapping.values() for w in ws}),
                }
            )
        return out

    # --------------------------------------------------------------- writing
    def max_write_counter(self, base: "Snapshot | None" = None) -> int:
        """The highest write-dir counter this table has ever observed:
        local ``wNNNNNN`` dirs, dirs REFERENCED by the latest snapshot
        (a clone's mapping points at the source's dirs by relative path
        — their counters must participate or a post-clone schema event
        would misclassify them as newer than itself), and the watermarks
        of recorded schema events (so a vacuumed top dir can never hand
        its counter — and with it the events' era boundary — to a NEW
        write).  Drives both dir allocation and event stamping: a write
        dir's counter orders it against every schema event.

        Pass the already-loaded latest snapshot as ``base`` to skip the
        manifest re-read (the hot write path holds one anyway)."""
        counters = [0]
        if os.path.isdir(self.data_path):
            counters += [
                int(d[1:])
                for d in os.listdir(self.data_path)
                if _WDIR_RE.fullmatch(d)
            ]
        snap = base if base is not None else (
            self.load() if self.versions() else None
        )
        if snap is not None:
            for ws in snap.mapping.values():
                for w in ws:
                    m = _WDIR_RE.fullmatch(os.path.basename(w))
                    if m:
                        counters.append(int(m.group(1)))
            for e in (snap.meta or {}).get("schema_events") or []:
                counters.append(int(e.get("w", 0)))
        return max(counters)

    def new_write_dir(
        self, base: "Snapshot | None" = None
    ) -> tuple[str, str]:
        """(dir name, absolute path) for the next immutable write dir.
        ``base``: pass the caller's already-loaded latest snapshot to
        avoid a second manifest read on the hot write path."""
        os.makedirs(self.data_path, exist_ok=True)
        name = f"w{self.max_write_counter(base) + 1:06d}"
        return name, os.path.join(self.data_path, name)

    def commit(
        self,
        mapping: dict[str, list[str]],
        op: str,
        schema_json: str | None,
        *,
        expected_base: int | None = None,
        meta: dict | None = None,
    ) -> Snapshot:
        """Atomically publish the next snapshot manifest with optimistic
        concurrency: the manifest file is created via hard-link (fails if
        the version already exists — no silent lost update between
        processes), and ``expected_base`` rejects commits whose
        transaction read a version that is no longer latest."""
        os.makedirs(self.snap_path, exist_ok=True)
        vs = self.versions()
        latest = vs[-1] if vs else None
        if expected_base is not None and latest != expected_base:
            raise ConcurrentCommitError(
                f"commit based on v{expected_base} but latest is v{latest}: "
                "another writer committed first; re-read and re-apply"
            )
        v = (latest + 1) if latest else 1
        snap = Snapshot(
            version=v,
            op=op,
            ts_ns=time.time_ns(),
            schema_json=schema_json,
            mapping=mapping,
            meta=meta,
        )
        tmp = os.path.join(self.snap_path, f".v{v:06d}.json.tmp{os.getpid()}")
        with open(tmp, "w") as f:
            json.dump(snap.__dict__, f, indent=1)
        final = os.path.join(self.snap_path, f"v{v:06d}.json")
        try:
            os.link(tmp, final)  # atomic create-if-absent (rename replaces)
        except FileExistsError as e:
            raise ConcurrentCommitError(
                f"version v{v} was concurrently committed by another writer"
            ) from e
        finally:
            os.remove(tmp)
        return snap

    def commit_write(
        self,
        write_name: str,
        op: str,
        schema_json: str | None,
        *,
        base: Snapshot | None = None,
        meta: dict | None = None,
        drop_parts: list[str] | None = None,
    ) -> Snapshot:
        """Fold a completed write dir into the next snapshot.

        op='create'/'rewrite': mapping = exactly the new dir's partitions.
        op='append': new dir's partitions appended to the base mapping.
        op='replace' (upsert): new dir's partitions REPLACE their base
        entries; untouched partitions carry over.  ``drop_parts`` removes
        partition rel-paths from the mapping entirely (partition
        tombstones) — a METADATA-only delete, the dual of carrying
        untouched partitions by reference: no data file moves, the
        dropped dirs age out via vacuum like any unreferenced write dir.

        Schema events (metadata-only column rename/drop/add — see
        ``commit_schema_change``) carry through append/replace commits
        (old write dirs stay referenced, so their read-time translation
        must survive unrelated writes) AND through rewrites: a rewrite's
        fresh dir postdates every event (counters are monotone), so the
        carried log is a read-side no-op — but it preserves the rename
        LINEAGE that ``Engine.changes`` needs to align column names
        across versions (an upsert of an unpartitioned table commits as
        a rewrite; dropping the log there would make the very next
        change feed diff old-name against new-name and report every row
        as an update).  Only 'create' starts with an empty log.
        """
        new_parts = _partition_relpaths(os.path.join(self.data_path, write_name))
        if op in ("create", "rewrite"):
            mapping = {p: [write_name] for p in new_parts}
            if op == "rewrite" and base is not None:
                for key in ("schema_events", "identity"):
                    # lineage state survives rewrites: the event log for
                    # change-feed name alignment (read-side no-op), the
                    # identity high-water marks because the rewritten
                    # rows KEEP their ids — dropping the marks would
                    # re-issue them on the next insert (dupe ids)
                    carried = (base.meta or {}).get(key)
                    if carried and key not in (meta or {}):
                        meta = {**(meta or {}), key: carried}
        else:
            assert base is not None, f"op={op} needs a base snapshot"
            mapping = {p: list(ws) for p, ws in base.mapping.items()}
            if op == "append":
                for p in new_parts:
                    mapping.setdefault(p, []).append(write_name)
            elif op == "replace":
                for p in new_parts:
                    mapping[p] = [write_name]
            else:
                raise ValueError(f"unknown snapshot op: {op}")
            meta = carried_meta(base.meta, meta)
        if drop_parts:
            conflict = set(drop_parts) & set(new_parts)
            if conflict:
                raise ValueError(
                    f"partitions both written and dropped: {sorted(conflict)}"
                )
            for p in drop_parts:
                mapping.pop(p, None)
        return self.commit(
            mapping,
            op,
            schema_json,
            expected_base=base.version if base is not None else None,
            meta=meta,
        )

    def commit_drop(
        self,
        drop_parts: list[str],
        schema_json: str | None,
        *,
        base: Snapshot,
        meta: dict | None = None,
    ) -> Snapshot:
        """Metadata-only partition removal: the next snapshot's mapping is
        the base minus ``drop_parts`` — no write dir at all (the
        replace-with-nothing degenerate of commit_write's drop_parts).

        The base's transaction-watermark map (``meta["txn"]``) and COPY
        INTO loaded-file log (``meta["copy_files"]``) are carried forward
        like every other commit does via _write_versioned: the
        exactly-once guards read ONLY the latest snapshot, so a drop-only
        commit that dropped either map would let a replayed ingest batch
        or a replayed COPY INTO re-apply (r7 review finding)."""
        drops = set(drop_parts)
        mapping = {
            p: list(ws) for p, ws in base.mapping.items() if p not in drops
        }
        meta = carried_meta(base.meta, meta)  # txn/copy_files/dv[_rows]
        return self.commit(
            mapping,
            "replace",
            schema_json,
            expected_base=base.version,
            meta=meta,
        )

    def commit_schema_change(
        self,
        schema_json: str | None,
        *,
        base: Snapshot,
        events: list[dict] | None = None,
        meta: dict | None = None,
    ) -> Snapshot:
        """Metadata-only column DDL (Delta column-mapping analog): commit
        the new logical schema WITHOUT touching a single data file — the
        mapping carries over unchanged, and each ``event`` (``{"op":
        "rename", "from": a, "to": b}`` / ``{"op": "drop", "name": c}`` /
        ``{"op": "add", "name": c}``) is stamped with the current write
        counter and appended to the snapshot's cumulative event log.
        ``read`` replays the events newer than each write dir onto its
        scan (and reverse-translates zone-map probes), so old dirs keep
        their era-named files forever — at 100 TB a RENAME/DROP COLUMN is
        one JSON write, not a table rewrite.  Time travel needs no extra
        bookkeeping: every snapshot carries the event log as of its own
        commit, so a past version reads (and restores) under its own
        names.  Optimistic concurrency via ``expected_base`` like every
        commit — a writer racing this DDL loses and must re-apply against
        the post-event schema."""
        log = list((base.meta or {}).get("schema_events") or [])
        if events:
            w = self.max_write_counter()
            log = log + [{**e, "w": w} for e in events]
        if log:
            meta = {**(meta or {}), "schema_events": log}
        meta = carried_meta(base.meta, meta)  # txn/copy_files/dv[_rows]
        return self.commit(
            base.mapping,
            "alter",
            schema_json,
            expected_base=base.version,
            meta=meta,
        )

    # --------------------------------------------------------------- reading
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        *,
        with_row_refs: bool = False,
        prune: list | None = None,
        report: dict | None = None,
        count_full: dict | None = None,
        snap: "Snapshot | None" = None,
    ) -> DataFrame:
        """The table at a version, as one DataFrame.

        One scan per write dir (each needs its own basePath so hive
        partition values parse), unioned by name with missing columns
        allowed — write dirs from before a schema evolution contribute
        NULLs for later columns, exactly like the unversioned read path.
        A dir's recorded schema (``record_dir_schema``) is pinned on its
        scan, so planning needs no footer-inference job.

        ``prune`` (parsed zone-map conjuncts, see zonemaps.py) enables
        FILE-level data skipping: write dirs carrying a ``_zonemap.json``
        sidecar contribute only the files whose recorded min/max ranges
        can satisfy every conjunct — a driver-side metadata decision
        before Spark plans a single task.  Pruning is conservative (a
        dir without a sidecar, a column without stats, an unknown type
        all keep their files) and the caller re-applies the full
        predicate, so correctness never depends on it.  ``report``
        (mutated in place) receives files_total/files_kept counts.

        Deletion vectors (merge-on-read DELETE): when the snapshot's
        ``meta["dv"]`` names sidecar dirs of (file_path, row_index)
        refs, the read ANTI-JOINS them out — the DV side is broadcast
        (O(deleted rows)), the anti-join is map-side, and partition
        pruning still reaches the base scans below it (plan-gated in
        tests/test_plans.py).  Tables without DVs pay nothing: the
        ``_metadata`` columns are only materialized when needed.

        ``with_row_refs=True`` keeps each LIVE row's physical identity
        as two extra columns (DV_FILE_COL, DV_POS_COL) — the DELETE path
        uses this to record exactly the matched rows' refs.

        ``count_full`` (mutated in place) switches the prune pass into
        COUNT mode: files whose stats prove EVERY row matches the
        conjuncts (zonemaps.file_all_match) are EXCLUDED from the scan
        and their footer row counts accumulate into
        ``count_full["rows"]``/``["files"]`` — the returned frame scans
        only the BOUNDARY files.  Callers own the exactness argument
        (whole predicate captured, no live DVs — Engine.count_where).
        """
        # ``snap`` override (table_changes): read a SYNTHETIC snapshot —
        # e.g. one version's mapping restricted to its changed partitions
        # — with that snapshot's own events/DV/schema semantics
        if snap is None:
            snap = self.load(version)
        dv_dirs = list((snap.meta or {}).get("dv", []))
        # Metadata-only column DDL: replay the events newer than each
        # write dir onto its scan (see commit_schema_change) — zero cost
        # for tables that never altered a column.
        events = list((snap.meta or {}).get("schema_events") or [])
        want_refs = with_row_refs or bool(dv_dirs)
        by_wdir: dict[str, list[str]] = {}
        for ppath, wdirs in snap.mapping.items():
            for w in wdirs:
                by_wdir.setdefault(w, []).append(ppath)

        def _empty_frame():
            # A legal EMPTY table state: TRUNCATE commits mapping={}, a
            # DELETE that empties every partition tombstones them all,
            # and a pruned scan may skip every file.  The schema rides
            # in every snapshot commit, so the empty table reads back
            # schema-pinned (raising here bricked the table until the
            # next append — every table()/_register failed).
            if not snap.schema_json:
                raise ValueError(f"version {snap.version} maps no data")
            schema = _empty_read_schema(snap.schema_json, self.partition_cols)
            if with_row_refs:
                from pyspark.sql.types import (
                    LongType,
                    StringType,
                    StructField,
                    StructType,
                )

                schema = StructType(
                    list(schema.fields)
                    + [
                        StructField(DV_FILE_COL, StringType()),
                        StructField(DV_POS_COL, LongType()),
                    ]
                )
            return spark.createDataFrame([], schema)

        if not by_wdir:
            return _empty_frame()
        scans = []
        for wdir in sorted(by_wdir):
            base = os.path.join(self.data_path, wdir)
            ppaths = by_wdir[wdir]
            wnum = _wdir_counter(wdir)
            kept_files: list[str] | None = None
            if prune:
                from polars_lake_spark.zonemaps import (
                    file_all_match,
                    file_survives,
                    load_zonemap,
                )

                # This dir's sidecar records stats under the dir's ERA
                # column names — reverse-translate the probe so renamed
                # columns keep pruning old files (and a since-(re)added
                # column's probe can never consult a dropped column's
                # stats).
                dir_prune = era_conjuncts(prune, events, wnum)
                zm = load_zonemap(base)
                if zm is not None:
                    pset = set(ppaths)
                    cand = [
                        rel
                        for rel in zm["files"]
                        if os.path.dirname(rel) in pset
                    ]
                    kept_files = [
                        rel
                        for rel in cand
                        if file_survives(zm["files"][rel], dir_prune)
                    ]
                    if report is not None:
                        report["files_total"] = (
                            report.get("files_total", 0) + len(cand)
                        )
                        report["files_kept"] = (
                            report.get("files_kept", 0) + len(kept_files)
                        )
                    if count_full is not None:
                        # COUNT mode: full-match files never scan — their
                        # footer row counts are the answer
                        boundary = []
                        nanproof = bool(zm.get("fnanproof"))
                        for rel in kept_files:
                            n = file_all_match(
                                zm["files"][rel], dir_prune, fnanproof=nanproof
                            )
                            if n is None:
                                boundary.append(rel)
                            else:
                                count_full["rows"] = (
                                    count_full.get("rows", 0) + n
                                )
                                count_full["files"] = (
                                    count_full.get("files", 0) + 1
                                )
                        kept_files = boundary
                    if not kept_files:
                        continue  # whole write dir skipped
                    if count_full is None and len(kept_files) == len(cand):
                        kept_files = None  # nothing pruned: dir scan
            reader = spark.read
            schema = _dir_schema(base)
            if schema is not None:
                # recorded at write: no footer-inference job (partition
                # columns still come from the paths; the union's
                # pin_partition_types below fixes any type drift)
                reader = reader.schema(schema)
            if kept_files is not None:
                scan = reader.option("basePath", base).parquet(
                    *[os.path.join(base, rel) for rel in kept_files]
                )
            elif ppaths == [""]:
                scan = reader.parquet(base)
            else:
                scan = reader.option("basePath", base).parquet(
                    *[os.path.join(base, p) for p in ppaths]
                )
            if events:
                scan = apply_schema_events(scan, events, wnum)
            if want_refs:
                scan = scan.withColumns(
                    {
                        DV_FILE_COL: F.col("_metadata.file_path"),
                        DV_POS_COL: F.col("_metadata.row_index"),
                    }
                )
            scans.append(scan)
        if not scans:
            return _empty_frame()
        out = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), scans
        )
        out = pin_partition_types(out, self.partition_cols, snap.schema_json)
        if events and snap.schema_json:
            # Metadata-only DDL conform: a column ADDED with no write
            # since exists in no scan branch — fill it as a typed NULL;
            # a column WIDENED with no write since still reads its
            # era type from every branch — cast it up.  Either way the
            # read always speaks the committed schema.
            from pyspark.sql.types import StructType

            declared = StructType.fromJson(json.loads(snap.schema_json))
            have = {c.lower(): f for c, f in
                    ((c, out.schema[c]) for c in out.columns)}
            fix = {}
            for f in declared.fields:
                got = have.get(f.name.lower())
                if got is None:
                    fix[f.name] = F.lit(None).cast(f.dataType)
                elif got.dataType != f.dataType:
                    fix[f.name] = F.col(f.name).cast(f.dataType)
            if fix:
                out = out.withColumns(fix)
        if dv_dirs:
            dv = self.dv_scan(spark, dv_dirs).alias("__dv")
            # broadcast while the ref set is driver-safe (the common
            # case — DVs are folded by compaction long before this);
            # past the cap let AQE pick the strategy rather than force
            # an oversized broadcast through the hint
            n_dv = (snap.meta or {}).get("dv_rows")
            if n_dv is None or n_dv <= DV_BROADCAST_MAX_ROWS:
                dv = F.broadcast(dv)
            out = out.alias("__t").join(
                dv,
                (F.col(f"__t.{DV_FILE_COL}") == F.col("__dv.file_path"))
                & (F.col(f"__t.{DV_POS_COL}") == F.col("__dv.row_index")),
                "left_anti",
            )
        if want_refs and not with_row_refs:
            out = out.drop(DV_FILE_COL, DV_POS_COL)
        return out

    def dv_scan(self, spark: SparkSession, dv_dirs: list[str]) -> DataFrame:
        """The deletion-vector sidecar dirs as one schema-pinned scan: one
        row per deleted physical row, columns (file_path, row_index)."""
        return spark.read.schema(DV_SCHEMA).parquet(
            *[os.path.join(self.data_path, d) for d in dv_dirs]
        )

    # ----------------------------------------------------------- maintenance
    def restore(self, version: int) -> Snapshot:
        """Roll the table back: commit a NEW version with an old mapping
        (history is preserved — restore is itself an audited operation).
        The restored version's commit ``meta`` is carried along, so
        consumers that read progress markers from the latest commit (e.g.
        incremental aggregates) see the state the data actually reflects."""
        past = self.load(version)
        return self.commit(
            past.mapping,
            f"restore_v{version}",
            past.schema_json,
            expected_base=self.latest_version(),
            meta=past.meta,
        )

    def vacuum(self, keep_last: int = 1, dry_run: bool = False) -> dict:
        """Drop snapshots older than the newest ``keep_last`` and delete
        write dirs no retained snapshot references.  Readers of retained
        versions are unaffected (their dirs survive by definition).
        ``dry_run`` reports what WOULD be removed without touching disk
        (Delta's VACUUM DRY RUN) — the safety check before destroying
        time-travel history."""
        vs = self.versions()
        keep = set(vs[-keep_last:]) if keep_last > 0 else set(vs)
        referenced: set[str] = set()
        for v in keep:
            snap = self.load(v)
            for ws in snap.mapping.values():
                referenced.update(ws)
            # deletion-vector sidecar dirs are live data too: they are
            # referenced from the commit meta, not the mapping
            referenced.update((snap.meta or {}).get("dv", []))
        removed_dirs = []
        if os.path.isdir(self.data_path):
            for d in sorted(os.listdir(self.data_path)):
                if d.startswith("w") and d not in referenced:
                    if not dry_run:
                        shutil.rmtree(os.path.join(self.data_path, d))
                    removed_dirs.append(d)
        removed_versions = []
        for v in vs:
            if v not in keep:
                if not dry_run:
                    os.remove(os.path.join(self.snap_path, f"v{v:06d}.json"))
                removed_versions.append(v)
        return {"removed_dirs": removed_dirs, "removed_versions": removed_versions}
