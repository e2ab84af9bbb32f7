"""Engine: the multi-table database over partitioned+bucketed Parquet.

Spark rebuild of the reference's ``Database``/``Dataset`` pair
(``/root/reference/src/database.rs:27-35``,
``/root/reference/src/dataset.rs:182-189``):

* one long-lived SparkSession = the server process;
* a table = a hive-partitioned Parquet directory tree with a derived
  ``bucket_id`` partition column (layout.py) plus a ``manifest.json``
  carrying the partition/bucket/key spec — the analog of the reference's
  manifest (``/root/reference/src/dataset.rs:337-358``), except parts are
  never enumerated: Spark's Parquet source discovers and prunes them;
* all reads/queries are plain DataFrames / ``spark.sql`` over registered
  views, so Catalyst does pushdown, pruning, join selection and AQE
  (SURVEY.md §4 — zero custom optimizer rules needed);
* mutation operators (insert/upsert/delete/…) are the pure transforms of
  ``operators/merge.py`` wired to the storage layout: upserts rewrite only
  the partitions the incoming batch touches (dynamic partition overwrite)
  instead of the reference's full-root wipe
  (``/root/reference/src/dataset.rs:330-353``).

Materialization: the reference force-collects each part's lazy plan and
resets a change counter (``/root/reference/src/dataset.rs:47-52,260-269``).
Our ``materialize`` = cache + count; chained lazy merges are bounded by
``max_lazy_merges`` after which the table auto-flushes to storage — the
checkpoint policy SURVEY.md §7 calls out (plan-lineage blowup is the Spark
failure mode mirroring ``/root/reference/src/dataset.rs:141-145``).
"""

from __future__ import annotations

import itertools
import json
import os
import re
import shutil
import threading
import warnings
from dataclasses import asdict, dataclass, field
from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_lake_spark import sqltree
from polars_lake_spark.layout import (
    BUCKET_COL,
    DEFAULT_BUCKETS,
    hive_relpath,
    layout_columns,
    with_bucket_column,
)
from polars_lake_spark.operators import merge as M
from polars_lake_spark.session import configure_session
from polars_lake_spark.snapshots import record_dir_schema

# Leading underscore: Spark's file index treats "_"-prefixed files as
# metadata (like _SUCCESS) and skips them when scanning the table dir.
MANIFEST = "_manifest.json"
# companion-table suffixes the engine creates implicitly (quarantine
# logs, CDC tombstones/meta); create_table refuses user tables under
# these names when the base table exists — see TableSpec.side_table_of
RESERVED_SIDE_SUFFIXES = ("_quarantine", "_cdc_tombstones", "_cdc_meta")


def _validate_expectations(expectations: dict | None) -> dict:
    """Normalize/validate {name: {"expr": sql, "action":
    "drop"|"track"|"quarantine"}} (a plain {name: sql} shorthand means
    action="track").  'quarantine' = drop from the write AND append the
    violating rows — tagged with the violated rule names — to the
    ``{table}_quarantine`` side table (the DLT quarantine pattern)."""
    out: dict[str, dict] = {}
    for name, e in (expectations or {}).items():
        if isinstance(e, str):
            e = {"expr": e, "action": "track"}
        action = e.get("action", "track")
        if action not in ("drop", "track", "quarantine") or not e.get("expr"):
            raise ValueError(
                f"expectation {name!r}: need an 'expr' and action "
                f"'drop'|'track'|'quarantine', got {e!r}"
            )
        out[name] = {"expr": e["expr"], "action": action}
    return out
# Breadcrumb left in the engine root when a table is offloaded to another
# storage root (S3 cold tier): {"root_override": "<root>"}.
POINTER = "_pointer.json"

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _json_scalar(v):
    """min/max values as JSON-storable scalars (dates → ISO strings;
    numerics/strings/bools/None pass through)."""
    import datetime as _dt

    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return v


def view_key(name: str) -> str:
    """SQL-addressable view name for a table — implements the reference's
    two-level ``TableName(schema, name)`` namespace
    (``/root/reference/src/database.rs:10-25``): the engine API accepts
    ``"schema.table"`` everywhere a table name goes; since Spark temp
    views are single-level, the registered view is ``schema__table``.
    The mapping is BIJECTIVE — each dot-separated part must be a plain
    identifier with no ``"__"`` inside, so ``a_b.c`` / ``a.b_c`` /
    ``a.b.c`` can never collide or parse ambiguously."""
    parts = name.split(".")
    if len(parts) > 2:
        raise ValueError(f"table name has more than schema.table levels: {name}")
    for p in parts:
        if not _IDENT.match(p) or "__" in p:
            raise ValueError(
                f"invalid table identifier part {p!r} in {name!r} "
                "(need [A-Za-z_][A-Za-z0-9_]*, no '__')"
            )
    return "__".join(parts)


class _Select(NamedTuple):
    """A single-table SELECT the fast paths may answer: the resolved
    engine table (``version`` set for a time-travel view), the select
    and GROUP BY items, the WHERE condition and the relation node."""

    name: str
    version: int | None
    items: list
    groups: list | None
    cond: object
    rel: object


def _call(item) -> tuple[str, list, str | None] | None:
    """``(function, args, alias)`` of a select item that is one plain,
    non-DISTINCT function call, aliased or not; None otherwise."""
    alias = item.name() if sqltree.kind(item) == "Alias" else None
    if sqltree.kind(item) in ("Alias", "UnresolvedAlias"):
        item = item.child()
    if sqltree.kind(item) != "UnresolvedFunction" or item.isDistinct():
        return None
    return sqltree.name(item).lower(), sqltree.children(item), alias


def _count_star(item) -> str | None:
    """Output name of a ``COUNT(*)``/``COUNT(1)`` select item (the AS
    alias, else Spark's own ``count(1)``); None for any other item."""
    call = _call(item)
    if call and call[0] == "count" and len(call[1]) == 1:
        if sqltree.literal(call[1][0]) == (True, 1):
            return call[2] or "count(1)"
    return None


def _qualifiers(exprs) -> list[list[str]]:
    """Lower-cased name parts of every column reference and ``t.*``
    target in ``exprs``."""
    out = []
    for e in exprs:
        for n in sqltree.walk(e):
            k = sqltree.kind(n)
            if k == "UnresolvedAttribute":
                out.append(sqltree.seq(n.nameParts()))
            elif k == "UnresolvedStar":
                out.extend(
                    sqltree.seq(q) + ["*"]
                    for q in sqltree.seq(n.target().toList())
                )
    return [[p.lower() for p in q] for q in out]


class ConstraintViolationError(ValueError):
    """A write (or add_constraint over existing data) found rows failing a
    table CHECK constraint; nothing was written."""


@dataclass
class TableSpec:
    """Table metadata — the reference Dataset's (partition cols, bucket
    cols, storage opts) plus the upsert keys its clients pass per call
    (``/root/reference/src/dataset.rs:182-189``, ``proto/db.proto:57-64``)."""

    name: str
    partition_by: list[str] = field(default_factory=list)
    bucket_by: list[str] = field(default_factory=list)
    n_buckets: int = DEFAULT_BUCKETS
    keys: list[str] = field(default_factory=list)
    # The reference declares parquet|ipc|csv but only ever writes parquet
    # (/root/reference/src/storage.rs:6-10, src/dataset.rs:177); we
    # implement parquet/csv/json for real. Schema is pinned in the
    # manifest so text formats round-trip types exactly.
    format: str = "parquet"
    compression: str = "snappy"
    schema_json: str | None = None
    # Native Spark bucketing (bucketBy + saveAsTable): both sides of an
    # equi-join on the bucket columns scan co-located buckets — no
    # exchange. The derived-bucket_id layout (default) instead gives
    # partition-PRUNING; pick per table: pruning for point-lookup/merge
    # tables, native bucketing for join-heavy fact tables.
    native_bucketing: bool = False
    # Versioned (snapshot) tables: immutable write dirs + JSON snapshot
    # manifests (snapshots.py) → snapshot isolation, time travel, restore,
    # vacuum. The SURVEY §7 "later Delta" tier, no lake-format dependency.
    versioned: bool = False
    # CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT analog):
    # name -> SQL boolean expression, enforced on every write's touched
    # slice before it lands (engine._enforce).
    constraints: dict[str, str] = field(default_factory=dict)
    # Quality EXPECTATIONS (Delta Live Tables expect_or_drop/expect
    # analog): name -> {"expr": sql_bool, "action": "drop"|"track"}.
    # Unlike constraints (all-or-nothing fail), 'drop' quietly filters
    # violating rows out of every write and 'track' only counts them —
    # the quarantine-on-ingest semantics a 100 TB crawl pipeline needs
    # (one malformed document must not fail a 10⁹-row batch). Violation
    # counts surface per write in engine.last_expectation_report.
    expectations: dict[str, dict] = field(default_factory=dict)
    # Storage-root override (reference S3-offload TODO, main.rs:35 /
    # proto/db.proto:29): when set, this table's directory lives under
    # this root instead of the engine root — e.g. an s3a://bucket/prefix
    # cold tier. A _pointer.json breadcrumb in the engine root keeps the
    # table discoverable by load_all. Spark reads/writes the path the
    # same way either way (path-based IO).
    root_override: str | None = None
    # Table/column statistics from analyze_table() (ANALYZE TABLE
    # COMPUTE STATISTICS analog): {"rows": n, "analyzed_version": v|None,
    # "columns": {col: {non_null, approx_ndv, min, max}}}. Persisted in
    # the manifest so a fresh engine can make broadcast/skew decisions
    # without rescanning 100 TB; None until analyzed, and consumers must
    # treat it as advisory (it goes stale as writes land).
    stats: dict | None = None
    # Parquet bloom filters: column -> expected ndv (filter sizing),
    # written on every parquet write of this table. At 100 TB a point
    # predicate on a NON-layout column skips row groups whose bloom
    # filter excludes the value — the complement to partition/bucket
    # pruning, which only covers the layout keys. create_table() measures
    # ndv from the initial data when given a plain column list.
    bloom_filter_cols: dict[str, int] = field(default_factory=dict)
    # User-DECLARED column order, recorded once at create_table. A hive
    # read-back reorders partition columns LAST, so "the table's schema
    # order" is not the order the user declared in CREATE TABLE
    # (col defs, PARTITIONED BY p) — and a positional INSERT INTO ...
    # VALUES mapped against read-back order silently swaps columns
    # whenever a partition column is not declared last (ADVICE r8,
    # high). Positional statement mapping goes through declared_order()
    # instead; empty for pre-existing manifests (falls back to schema
    # order, the old behavior). Columns added later by evolution /
    # ALTER ADD COLUMN append at the end (Delta's rule).
    declared_columns: list[str] = field(default_factory=list)
    # File-level data skipping (Delta data-skipping analog, on by
    # default for versioned parquet tables): every versioned write folds
    # the new files' parquet FOOTER min/max/null stats into a
    # _zonemap.json sidecar inside the immutable write dir, and
    # Engine.scan_where prunes files whose ranges cannot satisfy the
    # predicate — driver-side metadata, before Spark plans a task.
    # Complement to partition pruning (layout keys) and bloom filters
    # (point predicates): zone maps cover RANGE predicates on non-layout
    # columns, and OPTIMIZE ZORDER BY makes their ranges tight.
    zone_maps: bool = True
    # Clustered writes (Delta liquid-clustering-lite / OPTIMIZED WRITE
    # analog): every versioned write range-partitions and sorts on these
    # columns before landing, so each file carries a NARROW min/max
    # range on them and zone-map skipping is tight from ingest — no
    # OPTIMIZE ZORDER needed for the single-column case. The trade is
    # one range exchange per write (documented; appends that are already
    # clustered pay ~nothing, AQE coalesces the output). Complement to
    # partition_by (coarse layout keys) — cluster_by suits high-NDV
    # range-queried columns (timestamps, ids) that would explode a
    # partition layout.
    cluster_by: list[str] = field(default_factory=list)
    # Merge-on-read DELETE (Delta deletion-vector analog): predicate
    # deletes commit an O(deleted-rows) sidecar of (file, row_index)
    # refs that reads anti-join out, instead of rewriting every touched
    # partition. Opt-in because every read of a DV-carrying snapshot
    # pays the (broadcast, map-side) anti-join; compaction folds DVs in.
    # Versioned parquet tables only.
    deletion_vectors: bool = False
    # GENERATED columns (Delta GENERATED ALWAYS AS analog): column ->
    # SQL expression over the table's OTHER (non-generated) columns.
    # Every write computes a missing generated column from its
    # expression (one map-side withColumn inside _with_layout — the
    # universal write chokepoint), and a write that PROVIDES the column
    # is validated by an auto-registered CHECK constraint
    # (`col <=> (expr)`), so a wrong provided value fails loudly instead
    # of silently diverging from the formula.  The canonical use is a
    # derived partition column (month from a timestamp) kept consistent
    # without trusting every writer.
    generated: dict[str, str] = field(default_factory=dict)
    # IDENTITY columns (Delta GENERATED ALWAYS AS IDENTITY analog):
    # column -> {"start": int, "step": int}.  The engine assigns values
    # on insert/create — writers must NOT provide the column (ALWAYS
    # semantics); upsert/merge sources must provide it (the engine
    # trusts caller ids there — BY DEFAULT semantics — because a merge
    # source legitimately carries existing ids as match keys).  The
    # high-water mark ("next") is NOT here: it rides in every snapshot
    # commit's meta["identity"] — atomic with the rows that consumed
    # the range, rolled back by RESTORE with the data, carried like txn
    # watermarks.  Versioned tables only.  Allocation is contiguous:
    # one O(partitions) count job computes per-partition offsets, then
    # ids are start + step * (offset + row_number_in_partition) — no
    # global shuffle, no driver-side row data.
    identity: dict[str, dict] = field(default_factory=dict)
    # Set when the ENGINE created this table as a companion side table
    # (quarantine log, CDC tombstones/meta) of another table.  The
    # implicit side-table writers check it before appending, and public
    # create_table refuses reserved-suffix names whose base table
    # exists — a pre-existing USER table must never silently become a
    # quarantine/tombstone log (VERDICT r12 hygiene).
    side_table_of: str | None = None
    # Opt-in auto-compaction policy (Delta auto-optimize analog; closes
    # the loop the reference's deferred `changes` counter gestures at,
    # /root/reference/src/dataset.rs:95,136): {"dv_sidecars": N,
    # "write_dirs": N}. After a mutating commit, when the LIVE
    # snapshot's DV-sidecar count or write-dir fan-out reaches a
    # threshold, the engine folds them (compact_dvs / compact) before
    # returning. The trigger check is O(1) over the already-committed
    # snapshot dict — never a file walk or scan on the write path; the
    # compaction itself is the same maintenance op you'd run by hand,
    # just amortized into the write that crossed the line.
    auto_optimize: dict | None = None
    # COPY INTO loaded-file log for PLAIN (unversioned) tables:
    # digest(path|size|mtime) -> source path. Replayed loads skip files
    # already in the log (exactly-once ingest for retried loader
    # scripts). Versioned tables keep this log in the snapshot commit
    # meta instead, atomic with the data; here it is best-effort
    # (manifest written after the data lands — a crash between the two
    # re-loads on replay, duplicating rather than losing).
    copy_files: dict[str, str] = field(default_factory=dict)

    @property
    def physical_partitioning(self) -> list[str]:
        return layout_columns(self.partition_by, self.bucket_by)

    def declared_order(self, tschema) -> list:
        """``tschema``'s fields re-ordered to the user-declared column
        order. Columns the declaration doesn't know (added later by
        schema evolution) keep their relative schema order at the END;
        declared names no longer present (dropped) are skipped; an empty
        declaration (pre-existing manifest) returns schema order
        unchanged. This is the one order positional statements may map
        against — read-back schema order moves partition columns last."""
        if not self.declared_columns:
            return list(tschema.fields)
        by_lower = {f.name.lower(): f for f in tschema.fields}
        out = []
        for c in self.declared_columns:
            f = by_lower.pop(c.lower(), None)
            if f is not None:
                out.append(f)
        out.extend(f for f in tschema.fields if f.name.lower() in by_lower)
        return out


class Engine:
    """A named collection of tables + a SQL surface over them."""

    def __init__(self, spark: SparkSession, root: str | None = None):
        self.spark = configure_session(spark)
        self.root = root
        self.specs: dict[str, TableSpec] = {}
        self._mem: dict[str, DataFrame] = {}  # in-memory tier (unsaved tables)
        self._pending_merges: dict[str, int] = {}
        self.max_lazy_merges = 8
        # Bounds for the stats-driven auto-broadcast view hint
        # (_register).  A row cap alone is not enough: an explicit
        # broadcast() hint bypasses spark.sql.autoBroadcastJoinThreshold,
        # so 1M rows of array<double> embeddings (~6 KB/row) would force
        # a multi-GB broadcast — driver OOM or Spark's hard 8 GB limit.
        # analyze_table therefore estimates bytes-per-row in the same
        # stats pass, and the hint arms only when BOTH rows and estimated
        # total bytes are small; tables whose schema defeats the byte
        # estimate (nested maps/structs) never auto-broadcast.
        self.auto_broadcast_max_rows = 1_000_000
        self.auto_broadcast_max_bytes = 128 << 20
        # COPY INTO loaded-file log ceiling: every snapshot manifest (and
        # the plain-table manifest) carries the log, so it must not grow
        # with table lifetime. Oldest entries evict past the cap; a
        # replayed file older than the horizon re-loads (at-least-once
        # beyond the cap — Delta's log-retention trade-off).
        self.COPY_LOG_MAX = 100_000
        # The reference serializes writes with a per-part Mutex
        # (/root/reference/src/dataset.rs:84-86); we serialize per table.
        # RLock, not Lock: SQL DML (dml.py) holds the table lock across
        # its read-count-mutate sequence and the mutation re-acquires.
        self._locks: dict[str, threading.RLock] = {}
        # scan_where observability: per-THREAD report (concurrent scans
        # must not race each other's counters — ADVICE r9) plus a
        # per-table count of zone-map sidecar collection failures
        # (best-effort stats must degrade LOUDLY, VERDICT r9).
        self._scan_tls = threading.local()
        self._exp_tls = threading.local()
        self.zonemap_errors: dict[str, int] = {}
        # auto-optimize re-entrancy guard (a triggered compaction's own
        # commit must not re-trigger) + last-action observability
        self._auto_opt_active: set[str] = set()
        self.last_auto_optimize: dict | None = None

    @property
    def last_scan_report(self) -> dict:
        """files_total/files_kept/conjuncts of this THREAD's most recent
        :meth:`scan_where` (observability only)."""
        return getattr(self._scan_tls, "report", {})

    @last_scan_report.setter
    def last_scan_report(self, value: dict) -> None:
        self._scan_tls.report = value

    # ------------------------------------------------------------------ paths
    def _path(self, name: str) -> str:
        spec = self.specs.get(name)
        if spec is not None and spec.root_override:
            return os.path.join(spec.root_override, name)
        if self.root is None:
            raise ValueError("Engine has no storage root (in-memory only)")
        return os.path.join(self.root, name)

    def _lock(self, name: str) -> threading.RLock:
        return self._locks.setdefault(name, threading.RLock())

    # ----------------------------------------------------------------- create
    def create_table(
        self,
        name: str,
        df: DataFrame,
        *,
        partition_by: list[str] | None = None,
        bucket_by: list[str] | None = None,
        n_buckets: int = DEFAULT_BUCKETS,
        keys: list[str] | None = None,
        save: bool = True,
        format: str = "parquet",
        compression: str = "snappy",
        native_bucketing: bool = False,
        versioned: bool = False,
        constraints: dict[str, str] | None = None,
        expectations: dict[str, dict] | None = None,
        bloom_filter_cols: list[str] | dict[str, int] | None = None,
        deletion_vectors: bool = False,
        zone_maps: bool = True,
        cluster_by: list[str] | None = None,
        side_table_of: str | None = None,
        generated: dict[str, str] | None = None,
        identity: dict[str, dict] | None = None,
    ) -> TableSpec:
        """CreateTable (``/root/reference/src/server.rs:92-135`` analog).

        save=False keeps the table in the in-memory tier — the gRPC server
        never persists either (``/root/reference/src/server.rs:68,73,87``).

        compression picks the parquet codec per table — the reference
        exposes Snappy|Lz4Raw (``/root/reference/src/storage.rs:12-21``);
        Spark additionally offers zstd/gzip ('snappy' default, 'zstd' for
        cold data, 'lz4' for hot scans).

        versioned=True stores the table through the snapshot layer
        (snapshots.py): immutable write dirs + manifest chain → snapshot
        isolation, time travel (``table(name, version=...)``), ``restore``
        and ``vacuum``.

        constraints seeds CHECK constraints (name -> SQL boolean) enforced
        on every subsequent write; equivalent to add_constraint per entry.

        bloom_filter_cols writes parquet bloom filters for those columns
        on every write — row-group skipping for point predicates on
        NON-layout columns (the complement to partition/bucket pruning).
        Pass a list to have the expected-ndv sizing MEASURED from the
        initial data (one approx_count_distinct pass, ×4 headroom), or a
        {column: ndv} dict to size explicitly; parquet format only.

        Names may be two-level ``"schema.table"`` (reference
        ``TableName(schema, name)``, ``database.rs:10-25``): the engine
        API and storage dir use the dotted name; SQL addresses the view
        as ``schema__table`` (see ``view_key``).
        """
        view_key(name)  # validate (raises on bad identifiers / >2 levels)
        if generated:
            # generated expressions may reference only NON-generated
            # columns (no chains/cycles — Delta's rule) and must resolve
            # against the initial frame; compute any missing generated
            # column now so declared_columns and the initial write carry
            # it (appends get the same treatment in _with_layout)
            for col, expr in generated.items():
                # quote-aware: a generated column's NAME inside another
                # formula's string literal is not a reference
                if sqltree.referenced_columns(
                    self.spark, expr, candidates=list(generated)
                ):
                    raise ValueError(
                        f"create_table {name}: generated column {col!r} "
                        "expression may not reference generated columns"
                    )
            for col, expr in generated.items():
                if col not in df.columns:
                    df = df.withColumn(col, F.expr(expr))
        if side_table_of is None:
            # reserved companion-table namespace: `{base}_quarantine` /
            # `{base}_cdc_tombstones` / `{base}_cdc_meta` belong to the
            # expectation-quarantine and CDC machinery whenever `base`
            # is an engine table — a user table under that name would
            # later be silently appended into (VERDICT r12 hygiene)
            for suf in RESERVED_SIDE_SUFFIXES:
                if name.endswith(suf):
                    base = name[: -len(suf)]
                    if base and (base in self.specs or base in self._mem):
                        raise ValueError(
                            f"create_table: {name!r} is the reserved "
                            f"{suf.lstrip('_')} companion name of "
                            f"existing table {base!r}; pick another name"
                        )
        spec = TableSpec(
            name=name,
            partition_by=list(partition_by or []),
            bucket_by=list(bucket_by or []),
            n_buckets=n_buckets,
            keys=list(keys or []),
            format=format,
            compression=compression,
            native_bucketing=native_bucketing,
            versioned=versioned,
            constraints=dict(constraints or {}),
            expectations=_validate_expectations(expectations),
            bloom_filter_cols=self._resolve_bloom_cols(
                df, bloom_filter_cols, format
            ),
            deletion_vectors=deletion_vectors,
            zone_maps=zone_maps,
            cluster_by=list(cluster_by or []),
            side_table_of=side_table_of,
            generated=dict(generated or {}),
            identity={
                c: {"start": int(d.get("start", 1)), "step": int(d.get("step", 1))}
                for c, d in (identity or {}).items()
            },
            # Captured BEFORE _with_layout (the derived bucket_id is not
            # a user column): the order positional INSERTs map against.
            # Identity columns append (engine-assigned, like evolution).
            declared_columns=list(df.columns) + [
                c for c in (identity or {}) if c not in df.columns
            ],
        )
        for col, expr in spec.generated.items():
            # a write that PROVIDES a generated column must match the
            # formula — ride the existing constraint enforcement (the
            # `_gen_` prefix marks these as derived so SHOW CREATE emits
            # the generated.* property instead of a constraint.* one)
            spec.constraints.setdefault(f"_gen_{col}", f"{col} <=> ({expr})")
        # Cheap parameter validation FIRST — _enforce below runs a full
        # aggregation job over df, which must not precede (or mask) an
        # immediate configuration error.
        if versioned and (native_bucketing or not save or format != "parquet"):
            raise ValueError(
                "versioned tables require save=True, format='parquet', "
                "and no native_bucketing"
            )
        if spec.identity:
            if not versioned:
                raise ValueError(
                    "identity columns require a versioned table (the "
                    "high-water mark rides atomically in each snapshot "
                    "commit)"
                )
            for c, d in spec.identity.items():
                if d["step"] == 0:
                    raise ValueError(f"identity column {c!r}: step must be nonzero")
                if c.lower() in {x.lower() for x in df.columns}:
                    raise ValueError(
                        f"identity column {c!r} is GENERATED ALWAYS — "
                        "the engine assigns it; remove it from the data"
                    )
                if c in spec.generated or c in set(spec.partition_by) | set(
                    spec.bucket_by
                ):
                    raise ValueError(
                        f"identity column {c!r} cannot also be generated "
                        "or a layout column"
                    )
        if deletion_vectors and not versioned:
            raise ValueError(
                "deletion_vectors requires a versioned table (the DV "
                "sidecar rides in the snapshot commit)"
            )
        if spec.cluster_by:
            if not versioned:
                raise ValueError(
                    "cluster_by requires a versioned table (clustered "
                    "writes exist to keep the zone-map sidecars tight)"
                )
            missing = [
                c for c in spec.cluster_by
                if c not in df.columns and c not in spec.identity
            ]  # identity columns are engine-assigned below
            if missing:
                raise ValueError(f"cluster_by columns {missing} not in data")
            overlap = set(spec.cluster_by) & set(spec.physical_partitioning)
            if overlap:
                raise ValueError(
                    f"cluster_by columns {sorted(overlap)} are already "
                    "layout (partition/bucket) columns"
                )
        if native_bucketing and (
            not spec.bucket_by or spec.partition_by or not save
        ):
            raise ValueError(
                "native_bucketing requires bucket_by, save=True, and no "
                "partition_by (use the derived bucket_id layout instead)"
            )
        # identity assignment BEFORE constraint enforcement: a declared
        # CHECK (or cluster_by) may legitimately reference the identity
        # column, exactly as it can on every later insert
        id_meta = None
        if spec.identity:
            df, nexts = self._assign_identity(
                df,
                {c: (d["start"], d["step"]) for c, d in spec.identity.items()},
            )
            id_meta = {"identity": nexts}
        if spec.constraints or spec.expectations:
            df = self._enforce(spec, df)
        if versioned:
            self.specs[name] = spec
            self._write_versioned(
                self._with_layout(df, spec), spec, op="create", meta=id_meta
            )
            self._register(name)
            return spec
        if native_bucketing:
            self.specs[name] = spec
            self._write_native_bucketed(df, spec)
            return spec
        self.specs[name] = spec
        df = self._with_layout(df, spec)
        if save:
            self._write(df, spec, mode="overwrite")
            self._mem.pop(name, None)
        else:
            self._mem[name] = df
        self._register(name)
        return spec

    def _write_native_bucketed(self, df: DataFrame, spec: TableSpec) -> None:
        """bucketBy + sortBy + saveAsTable: files are hash-bucketed and
        sorted per bucket, so equi-joins between tables bucketed the same
        way run exchange-free (co-located).  A ``schema.table`` name maps
        to a real Spark database here (catalog tables ARE two-level)."""
        path = self._path(spec.name)
        spec.schema_json = df.schema.json()
        if "." in spec.name:
            self.spark.sql(
                f"CREATE DATABASE IF NOT EXISTS {spec.name.split('.')[0]}"
            )
        self.spark.sql(f"DROP TABLE IF EXISTS {spec.name}")
        (
            self._parquet_options(df.write.mode("overwrite").option("path", path), spec)
            .bucketBy(spec.n_buckets, *spec.bucket_by)
            .sortBy(*spec.bucket_by)
            .format(spec.format)
            .saveAsTable(spec.name)
        )
        self._write_manifest(spec)

    def _recreate_native_entry(self, spec: TableSpec) -> None:
        """Re-register a native-bucketed table in a fresh session's catalog
        from the manifest (the in-memory catalog does not persist)."""
        from pyspark.sql.types import StructType

        if "." in spec.name:
            self.spark.sql(
                f"CREATE DATABASE IF NOT EXISTS {spec.name.split('.')[0]}"
            )
        if self.spark.catalog.tableExists(spec.name):
            return
        schema = StructType.fromJson(json.loads(spec.schema_json))
        cols = ", ".join(spec.bucket_by)
        self.spark.sql(
            f"CREATE TABLE {spec.name} ({schema.toDDL()}) USING {spec.format} "
            f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
            f"INTO {spec.n_buckets} BUCKETS "
            f"LOCATION '{self._path(spec.name)}'"
        )

    def _snapstore(self, name: str):
        from polars_lake_spark.snapshots import SnapshotStore

        spec = self.specs.get(name)
        return SnapshotStore(
            self._path(name),
            partition_cols=spec.physical_partitioning if spec else None,
        )

    def _write_versioned(
        self,
        df: DataFrame,
        spec: TableSpec,
        op: str,
        meta: dict | None = None,
        drop_relpaths: list[str] | None = None,
        txn: tuple[str, int] | None = None,
    ):
        """One immutable write dir + one snapshot commit (snapshots.py).
        Writes never overwrite dirs a reader (or this plan's own input
        scan) may hold — no localCheckpoint staging needed.  ``meta`` is
        recorded inside the commit manifest (atomic with the data);
        ``drop_relpaths`` tombstones partitions out of the new mapping.

        ``txn=(app, version)`` records an idempotent-writer watermark
        (Delta's txnAppId/txnVersion analog) ATOMICALLY with the data:
        every versioned commit carries the per-app watermark map forward
        in ``meta["txn"]``, so a replayed batch is detectable from the
        LATEST snapshot alone — no history walk. ``restore`` rolls
        watermarks back with the data they describe (a restored state
        legitimately needs its later batches re-applied)."""
        store = self._snapstore(spec.name)
        base = store.load() if store.versions() else None
        wm = dict((base.meta or {}).get("txn", {})) if base else {}
        if txn is not None:
            app, ver = txn
            wm[str(app)] = max(int(ver), wm.get(str(app), int(ver)))
        if wm:
            meta = {**(meta or {}), "txn": wm}
        # COPY INTO loaded-file log rides in every commit the same way:
        # base entries carry forward, this commit's new loads merge over.
        # Bounded: past COPY_LOG_MAX the OLDEST entries evict (dict
        # insertion order survives the JSON round-trip), so the log — and
        # with it every snapshot manifest — has a hard size ceiling;
        # replaying a file older than the horizon re-loads it
        # (at-least-once beyond the cap, Delta's log-retention trade).
        cf = dict((base.meta or {}).get("copy_files", {})) if base else {}
        if meta and meta.get("copy_files"):
            # Eviction order is dict insertion order, but update() on an
            # existing digest (FORCE re-load) keeps its ORIGINAL slot —
            # evicting by FIRST-load time, so a frequently re-verified
            # file could fall off the horizon before a stale one. Pop
            # before re-insert: re-loaded entries move to the end
            # (LRU-by-load, ADVICE r8).
            for k in meta["copy_files"]:
                cf.pop(k, None)
            cf.update(meta["copy_files"])
        if len(cf) > self.COPY_LOG_MAX:
            cf = dict(list(cf.items())[-self.COPY_LOG_MAX:])
        if cf:
            meta = {**(meta or {}), "copy_files": cf}
        # Deletion vectors: live through appends and partition replaces
        # (write dirs are immutable and never reused, so a stale ref can
        # never match a new file), but a FULL rewrite rebuilds the table
        # from a DV-applied read — its commit must clear them or the
        # folded-in deletes would be "deleted" twice forever.  A caller
        # that already merged/extended the list (DV-backed UPDATE commits
        # its sidecar and the appended rows atomically) wins.
        if base and op not in ("create", "rewrite") and not (meta or {}).get("dv"):
            dv = (base.meta or {}).get("dv")
            if dv:
                meta = {**(meta or {}), "dv": list(dv)}
                n_dv = (base.meta or {}).get("dv_rows")
                if n_dv:
                    meta["dv_rows"] = n_dv
        wname, wpath = store.new_write_dir(base)
        if spec.cluster_by and all(c in df.columns for c in spec.cluster_by):
            # Clustered write: one range exchange + in-partition sort so
            # every landed file carries a narrow min/max on the cluster
            # key — zone maps are tight from INGEST, not only after an
            # OPTIMIZE ZORDER. (Column check: schema evolution may write
            # a frame from before a cluster column existed.)
            df = df.repartitionByRange(
                *[F.col(c) for c in spec.cluster_by]
            ).sortWithinPartitions(*spec.cluster_by)
        spec.schema_json = df.schema.json()
        writer = df.write.mode("overwrite")
        parts = spec.physical_partitioning
        if parts:
            writer = writer.partitionBy(*parts)
        self._parquet_options(writer, spec).parquet(wpath)
        record_dir_schema(wpath)
        if spec.zone_maps:
            # Fold the new files' footer stats into the dir's zone-map
            # sidecar BEFORE the commit publishes it (the dir is
            # immutable afterwards). Footer-metadata only — never a data
            # scan; distributed past 64 files. Best-effort: a stats
            # failure must never fail the write (reads just fall back to
            # unpruned dir scans for this dir).
            try:
                from polars_lake_spark.zonemaps import (
                    collect_zonemap,
                    write_zonemap,
                )

                write_zonemap(wpath, collect_zonemap(wpath, spark=self.spark))
            except Exception as e:
                # Degrade LOUDLY (VERDICT r9): a persistent footer/env
                # failure would otherwise silently turn every future
                # scan into full-file planning. Warn once per table;
                # the running count is surfaced by table_info().
                n_err = self.zonemap_errors.get(spec.name, 0) + 1
                self.zonemap_errors[spec.name] = n_err
                if n_err == 1:
                    warnings.warn(
                        f"zone-map collection failed for table "
                        f"{spec.name!r}; scans of this write dir fall "
                        f"back to unpruned planning: {e!r}",
                        RuntimeWarning,
                        stacklevel=2,
                    )
        snap = store.commit_write(
            wname,
            op,
            spec.schema_json,
            base=base,
            meta=meta,
            drop_parts=drop_relpaths,
        )
        self._write_manifest(spec)
        self._maybe_auto_optimize(spec.name, snap)
        return snap

    def _resolve_bloom_cols(
        self, df: DataFrame, requested, format: str
    ) -> dict[str, int]:
        """Validate + size bloom-filter columns at create time: columns
        must exist (typos would silently flip the table-wide toggle and
        never filter the intended column), format must be parquet (other
        formats would persist an inert setting), and a plain list gets
        its expected-ndv MEASURED from the initial data — one
        approx_count_distinct pass, ×4 headroom, floor 100k — because an
        undersized filter saturates and skips nothing exactly on the
        high-cardinality columns the feature targets."""
        if not requested:
            return {}
        if format != "parquet":
            raise ValueError(
                f"bloom_filter_cols requires format='parquet', got {format!r}"
            )
        cols = list(requested)
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"bloom_filter_cols not in schema: {missing}")
        if isinstance(requested, dict):
            return {c: int(n) for c, n in requested.items()}
        measured = df.agg(
            *[F.approx_count_distinct(c).alias(c) for c in cols]
        ).first()
        return {c: max(100_000, 4 * int(measured[c])) for c in cols}

    def _parquet_options(self, writer, spec: TableSpec):
        """Per-table parquet writer options: codec + bloom filters.
        Bloom filters are row-group-level data skipping for point
        predicates on non-layout columns (partition/bucket pruning covers
        the layout keys) — Spark's reader consults them transparently.

        Granularity note: this build's parquet writer ignores the
        per-column ``parquet.bloom.filter.enabled#col`` keys (verified
        empirically: file bytes identical with/without), so a non-empty
        ``bloom_filter_cols`` enables the table-wide toggle — every
        written column gets a filter. The ndv hints size the listed
        columns' filters properly either way."""
        writer = writer.option("compression", spec.compression)
        if spec.bloom_filter_cols:
            writer = writer.option("parquet.bloom.filter.enabled", "true")
            for c, ndv in spec.bloom_filter_cols.items():
                writer = writer.option(
                    f"parquet.bloom.filter.expected.ndv#{c}", str(ndv)
                )
        return writer

    def _with_layout(self, df: DataFrame, spec: TableSpec) -> DataFrame:
        return self._layout_lax(df, spec, strict=True)[0]

    def _layout_lax(
        self, df: DataFrame, spec: TableSpec, *, strict: bool
    ) -> tuple[DataFrame, bool]:
        """Attach the table's derived layout columns to a frame:
        generated columns first — the bucket/partition layout may be
        DEFINED on a generated column (the canonical month-from-
        timestamp case), so it must exist before the bucket derives —
        then the derived bucket. A frame that already carries a
        generated column keeps its values (the auto CHECK validates
        them on write).

        strict=True (every write path): a formula whose source columns
        are missing from the frame raises a targeted ValueError naming
        them, not an opaque AnalysisException (ADVICE r13 #3).
        strict=False (MERGE sources, which are legitimately partial):
        uncomputable generated columns and an underivable bucket are
        SKIPPED and flagged — returns (frame, layout_complete); the
        caller must disable touched-partition pruning when the layout
        is incomplete (the source's landing partitions are unknown).
        Post-merge recompute over the merged values fills the skipped
        columns either way."""
        complete = True
        for col, expr in spec.generated.items():
            if col in df.columns:
                continue
            try:
                df = df.withColumn(col, F.expr(expr))
            except Exception as e:
                have = {c.lower() for c in df.columns}
                missing = sorted(
                    r
                    for r in sqltree.referenced_columns(self.spark, expr)
                    if r.lower() not in have
                )
                if strict:
                    raise ValueError(
                        f"{spec.name}: cannot compute generated column "
                        f"{col!r} = {expr!r} — the frame is missing its "
                        f"source column(s) {missing or '(see cause)'} "
                        f"(frame columns: {df.columns})"
                    ) from e
                complete = False
        if spec.bucket_by:
            if all(c in df.columns for c in spec.bucket_by):
                df = with_bucket_column(df, spec.bucket_by, spec.n_buckets)
            elif strict:
                raise ValueError(
                    f"{spec.name}: cannot derive the bucket column — "
                    f"bucket_by columns "
                    f"{[c for c in spec.bucket_by if c not in df.columns]} "
                    f"are missing from the frame"
                )
            else:
                complete = False
        return df, complete

    def _write(
        self, df: DataFrame, spec: TableSpec, mode: str, *, static_overwrite: bool = False
    ) -> None:
        path = self._path(spec.name)
        spec.schema_json = df.schema.json()
        writer = df.write.mode(mode)
        if static_overwrite:
            # Full-table rewrite (delete/dedup must remove emptied
            # partitions, which dynamic overwrite would leave behind).
            writer = writer.option("partitionOverwriteMode", "static")
        elif mode == "overwrite":
            # Explicit, not inherited: replace_partitions' surgical-write
            # contract (touch only partitions present in df) must never
            # depend on the session conf — configure_session swallows
            # conf.set failures, and Spark's DEFAULT is static, which
            # would silently wipe every untouched partition (ADVICE r6).
            writer = writer.option("partitionOverwriteMode", "dynamic")
        parts = spec.physical_partitioning
        if parts:
            writer = writer.partitionBy(*parts)
        if spec.format == "parquet":
            self._parquet_options(writer, spec).parquet(path)
        elif spec.format == "csv":
            writer.option("header", "true").csv(path)
        elif spec.format == "json":
            writer.json(path)
        elif spec.format == "ipc":
            # Arrow IPC dir (storage.rs:6-10 TODO completed): distributed
            # mapInArrow sink, unpartitioned only (hive routing for IPC
            # would need a custom committer — parquet is the layout tier).
            if parts:
                raise ValueError("ipc format does not support partition_by/bucket_by")
            from polars_lake_spark.sources.ipc import write_ipc_dir

            if mode == "overwrite":
                import glob as _glob

                for f in _glob.glob(os.path.join(path, "*.arrow")):
                    os.remove(f)
            write_ipc_dir(df, path, compression="zstd")
        else:
            raise ValueError(f"unsupported format: {spec.format}")
        # Invalidate any cached file listings for readers of this path.
        # (Plain Parquet has no snapshot isolation for read-during-rewrite;
        # that is Delta/Iceberg territory — documented divergence.)
        self.spark.catalog.refreshByPath(path)
        self._write_manifest(spec)

    def _write_manifest(self, spec: TableSpec) -> None:
        os.makedirs(self._path(spec.name), exist_ok=True)
        with open(os.path.join(self._path(spec.name), MANIFEST), "w") as f:
            json.dump(asdict(spec), f, indent=2)

    # ------------------------------------------------------------------- read
    def table(self, name: str, version: int | None = None) -> DataFrame:
        """The table as a DataFrame (lazy scan or in-memory tier).

        ``version`` time-travels a versioned table to a past snapshot;
        passing it for an unversioned table is an error."""
        if name in self._mem:
            if version is not None:
                raise ValueError(f"table {name} is in-memory; no versions")
            return self._mem[name]
        if name not in self.specs:
            self.load_table(name)
        spec = self.specs[name]
        if spec.versioned:
            return self._snapstore(name).read(self.spark, version)
        if version is not None:
            raise ValueError(f"table {name} is not versioned")
        if spec.native_bucketing:
            self._recreate_native_entry(spec)
            return self.spark.table(name)
        path = self._path(name)
        if spec.format == "parquet":
            try:
                from polars_lake_spark.snapshots import pin_partition_types

                return pin_partition_types(
                    self.spark.read.parquet(path),
                    spec.physical_partitioning,
                    spec.schema_json,
                )
            except Exception as e:
                # A plain partitioned table can legally hold ZERO data
                # files (TRUNCATE overwrites with no rows — partitionBy
                # writes no dirs; a DELETE emptying every partition
                # rmtree's them all).  Schema inference then fails and,
                # without this fallback, the table is unreadable until
                # the next append.  Only an empty directory falls back —
                # a genuine read error over existing files re-raises.
                if spec.schema_json and not any(
                    f.endswith(".parquet")
                    for _d, _s, fs in os.walk(path)
                    for f in fs
                ):
                    from polars_lake_spark.snapshots import _empty_read_schema

                    return self.spark.createDataFrame(
                        [],
                        _empty_read_schema(
                            spec.schema_json, spec.physical_partitioning
                        ),
                    )
                raise e
        # Text formats: pin the manifest schema (covers partition columns
        # too) so dtypes round-trip exactly.
        reader = self.spark.read
        if spec.schema_json:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(spec.schema_json)))
        if spec.format == "csv":
            return reader.option("header", "true").csv(path)
        if spec.format == "json":
            return reader.json(path)
        if spec.format == "ipc":
            from polars_lake_spark.sources.ipc import read_ipc_dir

            return read_ipc_dir(self.spark, path)
        raise ValueError(f"unsupported format: {spec.format}")

    def scan_where(
        self, name: str, predicate: str, version: int | None = None
    ) -> DataFrame:
        """Predicate scan with FILE-level data skipping (Delta
        data-skipping analog): on a versioned table, the predicate's
        simple conjuncts are checked against each file's zone-map
        min/max (zonemaps.py) and files whose ranges cannot match are
        never handed to Spark at all — at 100 TB a selective range
        predicate on a NON-layout column (where partition pruning is
        blind) plans orders of magnitude fewer input splits.  The FULL
        predicate is always re-applied as a residual filter, so the
        result is exactly ``table(name, version).filter(predicate)``
        regardless of what pruned; correctness never depends on stats.
        ``self.last_scan_report`` records files_total/files_kept for
        observability (per thread).  Unversioned/in-memory tables just
        filter."""
        return self._scan_conjuncts(
            name, self._conjuncts(predicate), version
        ).filter(predicate)

    def _conjuncts(self, predicate: str, cond=None) -> list:
        """Zone-map conjuncts (``zonemaps.parse_conjuncts``) of a
        predicate: of ``cond``, its parse tree, when a SQL route already
        holds one, else of Spark's parse of the string."""
        from polars_lake_spark.zonemaps import parse_conjuncts

        if cond is None:
            cond = sqltree.parse_expression(self.spark, predicate)
        return parse_conjuncts(cond)

    def _scan_conjuncts(
        self,
        name: str,
        conj: list,
        version: int | None = None,
        *,
        with_row_refs: bool = False,
        snap=None,
    ) -> DataFrame:
        """Zone-map-pruned UNfiltered read from PRE-PARSED conjuncts
        (zonemaps.parse_conjuncts tuples) — the layer below
        ``scan_where`` for callers that already hold exact literal
        values a SQL round-trip could distort (the CDC watermark probes
        and keyed DV deletes bound the scan by their key set, where e.g.
        a Decimal key printed as a float literal could prune a file that
        still holds the key).  Same contract: the caller re-applies its
        own exact filter/join; pruning only drops files whose recorded
        ranges PROVE no row can match every conjunct.
        ``with_row_refs``/``snap`` pass through to ``SnapshotStore.read``
        (a DV writer reads the snapshot it commits against, with refs)."""
        if name not in self.specs and name not in self._mem:
            self.load_table(name)
        spec = self.specs.get(name)
        report = {"files_total": 0, "files_kept": 0}
        self.last_scan_report = report
        if name in self._mem or spec is None or not spec.versioned:
            return self.table(name, version)
        report["conjuncts"] = len(conj)
        return self._snapstore(name).read(
            self.spark,
            version,
            prune=conj or None,
            report=report,
            with_row_refs=with_row_refs,
            snap=snap,
        )

    def count_where(
        self, name: str, predicate: str, version: int | None = None, cond=None
    ) -> int:
        """Selective COUNT answered mostly from zone-map METADATA: files
        whose recorded ranges prove EVERY row matches contribute their
        footer row counts without being read; only BOUNDARY files —
        ranges straddling the predicate — scan with the residual filter.
        On a clustered table at 100 TB, ``COUNT(*) WHERE key BETWEEN …``
        reads a handful of edge files instead of the whole key slice.

        Exactness guards (each falls back to a zone-map-PRUNED
        scan-and-count, still exact, never wrong):

        * the whole predicate must parse into conjuncts
          (``parse_conjuncts_exact`` — a dropped conjunct could
          over-count a "full" file);
        * live deletion vectors disable the metadata path (footer counts
          include DV-deleted rows; the scan path anti-joins them);
        * unversioned / in-memory / zone-map-less tables just count.

        ``last_scan_report`` additionally records
        ``full_match_files``/``full_match_rows``.  ``cond`` is the
        predicate's parse tree when the caller holds it (the SQL
        route)."""
        if name not in self.specs and name not in self._mem:
            self.load_table(name)
        spec = self.specs.get(name)
        if name in self._mem or spec is None or not spec.versioned:
            return self.table(name, version).filter(predicate).count()
        from polars_lake_spark.zonemaps import parse_conjuncts_exact

        if cond is None:
            cond = sqltree.parse_expression(self.spark, predicate)
        conj = parse_conjuncts_exact(cond)
        store = self._snapstore(name)
        snap = store.load(version)
        if conj is None or (snap.meta or {}).get("dv"):
            df = self._scan_conjuncts(
                name, self._conjuncts(predicate, cond), version
            )
            return df.filter(predicate).count()
        report = {"files_total": 0, "files_kept": 0}
        full = {"rows": 0, "files": 0}
        df = store.read(
            self.spark,
            version,
            prune=conj,
            report=report,
            count_full=full,
        )
        n = full["rows"] + df.filter(predicate).count()
        report["conjuncts"] = len(conj)
        report["full_match_files"] = full["files"]
        report["full_match_rows"] = full["rows"]
        self.last_scan_report = report
        return n

    def minmax_meta(
        self,
        name: str,
        col: str,
        version: int | None = None,
        relpath_prefixes: set[str] | None = None,
    ) -> tuple | None:
        """Exact global ``(min, max)`` of a column from zone-map
        METADATA alone — None whenever metadata cannot PROVE the
        extremes, in which case the caller scans:

        * every live file must carry a stats entry for the column (a
          statless file — no sidecar, NaN-poisoned float stats, an
          all-NULL file — could hold the extreme);
        * no live deletion vectors (a DV-deleted row could BE the
          recorded extreme);
        * never strings (parquet may truncate long string min/max into
          OUTER bounds — sound for pruning, wrong as an exact extreme);
        * floats only from sidecars stamped ``fnanproof`` (collected
          r11+): a spec-compliant foreign writer records ignore-NaN
          stats, so MAX(fcol) over a [3.0, NaN] file would answer 3.0
          where Spark's MAX — NaN orders largest — returns NaN.  The
          stamp certifies every float entry came from a provably
          NaN-free file (zonemaps._file_stats).

        MIN/MAX ignore NULLs, so recorded endpoints are exactly the
        non-null extremes.  ``relpath_prefixes`` restricts the walk to
        files under those partition_by-prefix relpaths (the
        partition-predicate fast path); files outside never contribute,
        and an empty surviving file set returns None (the caller's scan
        answers NULL exactly like the vanilla plan).  At 100 TB this
        answers the second-most common dashboard query as a driver-side
        sidecar walk."""
        spec = self.specs.get(name)
        if (
            spec is None
            or name in self._mem
            or not (spec.versioned and spec.zone_maps)
        ):
            return None
        from polars_lake_spark.snapshots import (
            _NO_ERA_COLUMN,
            _wdir_counter,
            era_column_name,
        )
        from polars_lake_spark.zonemaps import _decode, load_zonemap

        store = self._snapstore(name)
        snap = store.load(version)
        if (snap.meta or {}).get("dv"):
            return None
        events = list((snap.meta or {}).get("schema_events") or [])
        cl = col.lower()
        by_wdir: dict[str, set] = {}
        for p, ws in snap.mapping.items():
            for w in ws:
                by_wdir.setdefault(w, set()).add(p)
        lo = hi = None
        seen = False
        for w, pset in by_wdir.items():
            # metadata-only column DDL: this dir's sidecar records stats
            # under its ERA name — translate, and when the column was
            # born after the dir (add, or drop+re-add of the name) the
            # dir contributes only NULLs, which MIN/MAX ignore: skip it
            # rather than let the DROPPED column's stale stats answer
            ecol = era_column_name(cl, events, _wdir_counter(w)).lower()
            if ecol == _NO_ERA_COLUMN:
                continue
            zm = load_zonemap(os.path.join(store.data_path, w))
            if zm is None:
                return None
            nanproof = bool(zm.get("fnanproof"))
            n_parts = len(spec.partition_by)
            for rel, fs in zm["files"].items():
                d = os.path.dirname(rel)
                if d not in pset:
                    continue
                if relpath_prefixes is not None:
                    segs = [x for x in d.split("/") if x]
                    if "/".join(segs[:n_parts]) not in relpath_prefixes:
                        continue
                if fs.get("rows") == 0:
                    continue
                ent = {
                    k.lower(): v for k, v in (fs.get("cols") or {}).items()
                }.get(ecol)
                if ent is None:
                    return None
                (tlo, flo), (thi, fhi) = _decode(ent[0]), _decode(ent[1])
                if tlo != thi or tlo == "s":
                    return None
                if tlo == "f" and not nanproof:
                    return None
                if not seen or flo < lo:
                    lo = flo
                if not seen or fhi > hi:
                    hi = fhi
                seen = True
        return (lo, hi) if seen else None

    def _partition_prefixes(self, name: str, pred: str) -> set[str] | None:
        """Partition_by-prefix relpaths whose TYPED values satisfy a
        partition-only predicate — from the snapshot MAPPING keys alone,
        no file IO.  None when the predicate cannot be evaluated on
        partition columns (data columns, non-determinism) or the layout
        cannot be parsed; empty set when no partition survives."""
        spec = self.specs.get(name)
        parts = list(spec.partition_by) if spec else []
        if not parts or not spec.versioned:
            return None
        dtypes = self._partition_dtypes(name, parts)
        if dtypes is None:
            return None
        from polars_lake_spark.layout import parse_hive_relpath

        store = self._snapstore(name)
        if not store.versions():
            return None
        prefixes = set()
        for rel in store.load().mapping:
            segs = [x for x in rel.split("/") if x]
            if len(segs) < len(parts):
                return None
            prefixes.add("/".join(segs[: len(parts)]))
        rows = []
        for pre in sorted(prefixes):
            vals = parse_hive_relpath(pre)
            if any(c not in vals for c in parts):
                return None
            rows.append(tuple(vals[c] for c in parts) + (pre,))
        if not rows:
            return set()
        schema = ", ".join(f"`{c}` string" for c in parts)
        typed = self.spark.createDataFrame(
            rows, f"{schema}, __rel string"
        ).select(
            *[F.col(c).cast(t).alias(c) for c, t in zip(parts, dtypes)],
            "__rel",
        )
        flt = self._filter_partition_frame(typed, parts, pred)
        if flt is None:
            return None
        return {r["__rel"] for r in flt.select("__rel").collect()}

    def _try_meta_minmax(self, query: str, sel: _Select) -> DataFrame | None:
        """``SELECT MIN(c)|MAX(c) [AS a], ... FROM t [WHERE <partition-only
        pred>]`` from sidecar metadata (see :meth:`minmax_meta`); falls
        through whenever exactness isn't provable.  A partition-column
        WHERE restricts the sidecar walk to the satisfying partitions'
        files (the predicate is constant per partition, so file-set
        restriction is exact); any other WHERE falls through.  Output
        columns named like Spark's own plan (``min(c)``/``max(c)``) or
        the AS aliases, cast to the table's column types."""
        if sel.groups is not None:
            return None
        aggs = []
        for item in sel.items:
            call = _call(item)
            if not call or call[0] not in ("min", "max") or len(call[1]) != 1:
                return None
            col = sqltree.column(call[1][0])
            if col is None:
                return None
            aggs.append((call[0], col, call[2]))
        spec = self.specs[sel.name]
        if not (spec.versioned and spec.zone_maps):
            return None
        prefixes = None
        if sel.cond is not None:
            prefixes = self._partition_prefixes(
                sel.name, sqltree.text(query, sel.cond)
            )
            if prefixes is None:
                return None
        dtypes = dict(self.table(sel.name).dtypes)
        cache: dict[str, tuple | None] = {}
        cols = []
        try:
            for fn, col, alias in aggs:
                key = next((c for c in dtypes if c.lower() == col), None)
                if key is None:
                    return None
                if key not in cache:
                    cache[key] = self.minmax_meta(
                        sel.name, key, relpath_prefixes=prefixes
                    )
                mm = cache[key]
                if mm is None:
                    return None
                val = mm[0] if fn == "min" else mm[1]
                cname = alias or f"{fn}({key})"
                cols.append(F.lit(val).cast(dtypes[key]).alias(cname))
            return self.spark.range(1).select(*cols)
        except Exception:
            return None  # conservative: the vanilla plan is always right

    def zonemap_stats(self, name: str, version: int | None = None) -> dict:
        """Clustering-quality report from zone-map METADATA alone — the
        100 TB ops question "would a point/range predicate on column c
        actually skip files, or do I need to cluster?" answered without
        scanning a byte.  For every numeric/date/timestamp column with
        stats, reports the file count and ``expected_keep_fraction``:
        the mean fraction of files a uniformly-random point predicate
        over the column's global span would keep (≈1/files on a
        perfectly clustered column, ≈1.0 on a hash-scattered one).
        Columns above ~3× the perfect fraction are candidates for
        ``cluster_by`` / ``OPTIMIZE ZORDER BY``."""
        spec = self.specs[name]
        if not spec.versioned:
            raise ValueError(f"table {name} is not versioned")
        from polars_lake_spark.zonemaps import _decode, load_zonemap

        store = self._snapstore(name)
        snap = store.load(version)
        by_wdir: dict[str, set] = {}
        for p, ws in snap.mapping.items():
            for w in ws:
                by_wdir.setdefault(w, set()).add(p)
        ranges: dict[str, list[tuple[float, float]]] = {}
        n_files = 0
        for w, pset in by_wdir.items():
            zm = load_zonemap(os.path.join(store.data_path, w))
            if zm is None:
                continue
            for rel, fs in zm["files"].items():
                if os.path.dirname(rel) not in pset:
                    continue
                n_files += 1
                for col, ent in (fs.get("cols") or {}).items():
                    (tlo, lo), (_thi, hi) = _decode(ent[0]), _decode(ent[1])
                    if tlo in ("i", "f", "dec"):
                        lo, hi = float(lo), float(hi)
                    elif tlo == "d":
                        lo, hi = float(lo.toordinal()), float(hi.toordinal())
                    elif tlo == "t":
                        lo, hi = lo.timestamp(), hi.timestamp()
                    else:
                        continue
                    ranges.setdefault(col, []).append((lo, hi))
        out: dict[str, dict] = {}
        for col, rs in ranges.items():
            span = max(h for _l, h in rs) - min(lo for lo, _h in rs)
            n = len(rs)
            if span <= 0:
                frac = 1.0  # every file holds the same single value
            else:
                frac = sum(h - lo for lo, h in rs) / (span * n)
            out[col] = {
                "files": n,
                "expected_keep_fraction": round(max(frac, 1.0 / n), 4),
                "perfect": round(1.0 / n, 4),
            }
        return {"files": n_files, "columns": out}

    def _register(self, name: str) -> None:
        spec = self.specs.get(name)
        if spec and spec.native_bucketing and name not in self._mem:
            self._recreate_native_entry(spec)  # catalog table, not a view
            return
        df = self.table(name)
        # Stats-driven auto-broadcast for the SQL path: a table whose
        # FRESH ANALYZE row count is small registers its view
        # broadcast-hinted, so every engine.sql star join picks the
        # BroadcastHashJoin without a manual /*+ BROADCAST */ (the hint
        # survives view inlining). Freshness is cleared by any mutation
        # (_guard_mutable), so a stale ANALYZE can never force a huge
        # broadcast; re-ANALYZE re-arms it.  The hint requires a byte
        # estimate: rows × est_row_bytes must fit auto_broadcast_max_bytes
        # (a 1M-row table of 6 KB embedding arrays must NOT broadcast),
        # and stats from before the estimate existed never arm the hint.
        if (
            spec is not None
            and spec.stats is not None
            and spec.stats.get("fresh")
            and spec.stats.get("rows", 2**63) <= self.auto_broadcast_max_rows
            and spec.stats.get("est_row_bytes") is not None
            and spec.stats["rows"] * spec.stats["est_row_bytes"]
            <= self.auto_broadcast_max_bytes
        ):
            df = F.broadcast(df)
        df.createOrReplaceTempView(view_key(name))

    def load_table(self, name: str) -> TableSpec:
        """from_storage analog (``/root/reference/src/dataset.rs:355-409``):
        read the manifest; partition values and bucket ids come back as
        ordinary hive partition columns — no path re-parsing.  Offloaded
        tables are followed through their ``_pointer.json`` breadcrumb."""
        mpath = os.path.join(self._path(name), MANIFEST)
        if not os.path.isfile(mpath):
            ppath = os.path.join(self._path(name), POINTER)
            if os.path.isfile(ppath):
                with open(ppath) as f:
                    dest = json.load(f)["root_override"]
                mpath = os.path.join(dest, name, MANIFEST)
        with open(mpath) as f:
            spec = TableSpec(**json.load(f))
        self.specs[name] = spec
        self._register(name)
        return spec

    def load_all(self) -> list[str]:
        names = [
            d
            for d in sorted(os.listdir(self.root))
            if os.path.isfile(os.path.join(self.root, d, MANIFEST))
            or os.path.isfile(os.path.join(self.root, d, POINTER))
        ]
        for n in names:
            self.load_table(n)
        return names

    def offload_table(self, name: str, dest_root: str | None) -> TableSpec:
        """Move a table's storage to another root — the reference's
        S3-offload TODO (``/root/reference/src/main.rs:35``,
        ``proto/db.proto:29``) done for real: the table directory
        (data + manifest, snapshots included for versioned tables)
        relocates under ``dest_root`` and a ``_pointer.json`` breadcrumb
        in the engine root keeps it discoverable by ``load_all``.  All
        reads/writes already go through ``_path`` so every operator works
        unchanged on the offloaded location.  ``dest_root=None`` recalls
        the table to the engine root and removes the breadcrumb.

        This implementation relocates across LOCAL/posix roots (one
        directory move). Object-store roots (``s3a://...``) are refused
        explicitly: the move there is a distcp-style copy a deployment
        must provide — the manifest/pointer mechanics would be identical,
        and the 100 TB cost is the transfer itself, never a rewrite
        (files move byte-identical, no re-encode)."""
        import shutil

        if dest_root is not None and "://" in dest_root:
            raise NotImplementedError(
                "offload_table moves across local roots; an object-store "
                f"destination ({dest_root}) needs a distcp-style copy step "
                "this environment cannot run — the pointer/manifest "
                "mechanics are root-agnostic"
            )
        # The DV sidecar prefix rewrite (_rewrite_dv_prefixes) swaps
        # "file:<root>/..." prefixes as RAW strings, but stored refs are
        # URI-encoded — a root carrying a char Spark percent-encodes
        # (space, '%', '#', '?') would never match, leave refs pointing
        # at the OLD location, and silently resurrect deleted rows after
        # the move. Refuse loudly instead (same class as the
        # compact_dvs fix, r11); partition VALUES with such chars are
        # fine — they sit after the prefix.
        for label, root in (
            ("dest_root", dest_root),
            ("engine root", self.root),
        ):
            if root is not None and any(c in root for c in " %#?"):
                raise ValueError(
                    f"offload_table: {label} {root!r} contains a "
                    "character the URI form percent-encodes; the DV "
                    "prefix rewrite cannot match encoded refs against "
                    "raw paths — use a root without ' ', '%', '#', '?'"
                )
        if name not in self.specs:
            self.load_table(name)
        if name in self._mem:
            raise ValueError(f"table {name} is in-memory; nothing to offload")
        spec = self.specs[name]
        if spec.versioned:
            # A shallow clone references the SOURCE's write dirs by
            # relative path — moving EITHER side breaks the references.
            # Check every retained snapshot of this table (a later
            # all-partition rewrite can make only the LATEST mapping
            # local while time travel still needs the foreign refs), and
            # refuse if any sibling table's retained snapshots reach into
            # this one.
            store = self._snapstore(name)
            for v in store.versions():
                if any(
                    ".." in w
                    for ws in store.load(v).mapping.values()
                    for w in ws
                ):
                    raise ValueError(
                        f"table {name} is a shallow clone referencing foreign "
                        f"write dirs (snapshot v{v}); deep-clone it before "
                        "offloading"
                    )
            dependent = self._shallow_clone_dependents(name)
            if dependent:
                raise ValueError(
                    f"table {name} is the shallow-clone source of "
                    f"{dependent}; deep-clone or drop the dependents "
                    "before offloading"
                )
        with self._lock(name):
            src = self._path(name)
            home = os.path.join(self.root, name)
            old_path = src
            if dest_root is None:
                if not spec.root_override:
                    return spec  # already home
                shutil.rmtree(home, ignore_errors=True)  # breadcrumb dir
                shutil.move(src, home)
                spec.root_override = None
            else:
                os.makedirs(dest_root, exist_ok=True)
                dst = os.path.join(dest_root, name)
                if os.path.exists(dst):
                    raise ValueError(f"offload destination exists: {dst}")
                shutil.move(src, dst)
                if spec.root_override:
                    # tier-to-tier move: breadcrumb needs rewriting only
                    shutil.rmtree(home, ignore_errors=True)
                spec.root_override = dest_root
                os.makedirs(home, exist_ok=True)
                with open(os.path.join(home, POINTER), "w") as f:
                    json.dump({"root_override": dest_root}, f)
            self._write_manifest(spec)
            if spec.versioned:
                # deletion-vector refs record ABSOLUTE file paths; the
                # move invalidated them (a read would silently resurrect
                # the deleted rows). Rewrite the sidecars' path prefix —
                # O(deleted rows), driver-side pyarrow, no Spark job.
                self._rewrite_dv_prefix(name, old_path, self._path(name))
            if spec.native_bucketing:
                # the catalog entry pins the OLD path in its LOCATION —
                # drop it so _register recreates it at the new root
                self.spark.sql(f"DROP TABLE IF EXISTS {spec.name}")
            self.spark.catalog.refreshByPath(self._path(name))
            self._register(name)
        return spec

    def _rewrite_dv_prefix(self, name: str, old_path: str, new_path: str) -> None:
        """Point deletion-vector refs at a table's NEW location after an
        offload/recall move: every retained snapshot's DV sidecar files
        get their ``file:<old>/...`` prefixes swapped for the new root.
        Sidecars are O(deleted rows) — small by design — so this is a
        driver-side pyarrow rewrite, atomic per file via tmp+rename."""
        if old_path == new_path:
            return
        store = self._snapstore(name)
        dv_dirs: set[str] = set()
        for v in store.versions():
            dv_dirs.update((store.load(v).meta or {}).get("dv", []))
        if not dv_dirs:
            return
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        old_pre = "file:" + os.path.abspath(old_path)
        new_pre = "file:" + os.path.abspath(new_path)
        for d in dv_dirs:
            ddir = os.path.join(store.data_path, d)
            if not os.path.isdir(ddir):
                continue
            for f in os.listdir(ddir):
                if not f.endswith(".parquet"):
                    continue
                fp = os.path.join(ddir, f)
                tbl = pq.read_table(fp)
                col = tbl.column("file_path")
                fixed = pc.replace_substring_regex(
                    col, "^" + re.escape(old_pre), new_pre
                )
                tbl = tbl.set_column(
                    tbl.schema.get_field_index("file_path"),
                    pa.field("file_path", col.type),
                    fixed,
                )
                tmp = fp + ".tmp"
                pq.write_table(tbl, tmp)
                os.replace(tmp, fp)
                # Spark's local FS keeps checksum sidecars; a stale one
                # fails the next read of the rewritten file
                crc = os.path.join(ddir, "." + f + ".crc")
                if os.path.isfile(crc):
                    os.remove(crc)

    def _shallow_clone_dependents(self, name: str) -> list[str]:
        """Sibling tables in this engine root whose RETAINED snapshots
        reference ``name``'s write dirs through relative paths — i.e.
        shallow clones of it (driver-side JSON walk, O(tables ×
        versions), no data access)."""
        from polars_lake_spark.snapshots import DATA_DIR, SnapshotStore

        if self.root is None or not os.path.isdir(self.root):
            return []
        target = os.path.realpath(os.path.join(self._path(name), DATA_DIR))

        def refs_target(store: SnapshotStore) -> bool:
            for v in store.versions():
                for ws in store.load(v).mapping.values():
                    for w in ws:
                        if ".." not in w:
                            continue
                        ref = os.path.realpath(os.path.join(store.data_path, w))
                        if ref == target or ref.startswith(target + os.sep):
                            return True
            return False

        out = []
        for d in sorted(os.listdir(self.root)):
            if d == name:
                continue
            tdir = os.path.join(self.root, d)
            ppath = os.path.join(tdir, POINTER)
            if os.path.isfile(ppath):  # offloaded sibling: follow breadcrumb
                with open(ppath) as f:
                    tdir = os.path.join(json.load(f)["root_override"], d)
            store = SnapshotStore(tdir)
            if os.path.isdir(store.snap_path) and refs_target(store):
                out.append(d)
        return out

    # -------------------------------------------------------------------- sql
    def sql(self, query: str) -> DataFrame:
        """Execute SQL over the registered tables
        (``/root/reference/src/database.rs:50-56`` analog; the persistent
        catalog replaces its per-query SQLContext rebuild).

        Spark's own parser reads each statement ONCE
        (:func:`polars_lake_spark.dml.parse_statement`; a time-travel
        splice parses once more) and it routes by its tree: DELETE,
        UPDATE, INSERT INTO / OVERWRITE, MERGE, CREATE TABLE / CTAS
        (``VERSIONED`` blanked before the parse) and the DROP,
        TRUNCATE, ANALYZE, SHOW, DESCRIBE and ALTER TABLE forms run the
        engine's paths, and a single-table SELECT may answer from
        metadata (COUNT(*), partition-grouped or partition-predicate
        COUNT, MIN/MAX) or through zone-map file skipping.  Only the
        engine-only statements Spark has no grammar for (APPLY
        CHANGES, VACUUM, OPTIMIZE, COPY INTO, REORG, CONVERT, RESTORE,
        DESCRIBE HISTORY|DETAIL) route by prefix regex in
        :mod:`polars_lake_spark.dml`.  DML, DDL and engine statements
        return a one-row (operation, table, n_affected) status frame
        (SHOW and DESCRIBE their listing); everything else, and any
        clause the engine does not read, is vanilla Spark SQL."""
        from polars_lake_spark import dml

        query, plan, asof = dml.parse_statement(self, query)
        res = dml.try_execute_dml(self, query, plan)
        if res is not None:
            return res
        sel = plan is not None and self._single_table_select(plan, asof)
        if sel:
            paths = [self._try_zonemap_select]
            if sel.version is None:
                paths = [
                    self._try_meta_count,
                    self._try_meta_partition_count,
                    self._try_meta_minmax,
                ] + paths
            for path in paths:
                fast = path(query, sel)
                if fast is not None:
                    return fast
        return self.spark.sql(query)

    def _single_table_select(self, plan, asof: dict) -> _Select | None:
        """The SELECT fast paths' common shape: ``SELECT items FROM t
        [WHERE cond] [GROUP BY groups]`` over one engine table (``asof``
        maps a spliced time-travel view to its pinned version).  None for
        anything else — a join, an alias or subquery in FROM, a hint, a
        CTE, DISTINCT, HAVING, ORDER BY, LIMIT, a set operation, or an
        expression :func:`sqltree.opaque` flags — which runs vanilla."""
        k = sqltree.kind(plan)
        if k == "Project":
            items, groups = sqltree.seq(plan.projectList()), None
        elif k == "Aggregate":
            items = sqltree.seq(plan.aggregateExpressions())
            groups = sqltree.seq(plan.groupingExpressions())
        else:
            return None
        child, cond = plan.child(), None
        if sqltree.kind(child) == "Filter":
            child, cond = child.child(), child.condition()
        if sqltree.kind(child) != "UnresolvedRelation":
            return None
        if any(
            sqltree.opaque(e)
            for e in items + (groups or []) + ([cond] if cond else [])
        ):
            return None
        from polars_lake_spark import dml

        raw = sqltree.name(child)
        name, version = asof.get(raw) or (dml._resolve(self, raw), None)
        if name is None or name in self._mem:
            return None
        return _Select(name, version, items, groups, cond, child)

    def _count_frame(self, n: int, alias: str) -> DataFrame:
        """One-row local answer of a metadata COUNT."""
        return self.spark.createDataFrame([(int(n),)], "cnt bigint").select(
            F.col("cnt").alias(alias)
        )

    def _try_meta_count(self, query: str, sel: _Select) -> DataFrame | None:
        """Metadata-only ``SELECT COUNT(*) FROM t``: the count comes
        from parquet footers (minus live DV refs — :meth:`meta_row_count`
        is DV-aware), so the most common dashboard query never scans a
        byte of data — at 100 TB a full-table count is a cluster-wide
        job; this is a driver-side footer walk.  Strictly conservative:
        any WHERE/GROUP BY or second item, an in-memory table, or a table
        without countable footers falls through to the vanilla plan.  The
        output column is named ``count(1)`` exactly like Spark's own plan
        (or the AS alias)."""
        if sel.groups is not None or sel.cond is not None:
            return None
        alias = len(sel.items) == 1 and _count_star(sel.items[0])
        if not alias:
            return None
        n = self.meta_row_count(sel.name)
        return None if n is None else self._count_frame(n, alias)

    # thread-safe staging-view namer (next() on itertools.count is
    # atomic) — concurrent fast-path SELECTs must never share a view
    _zm_view_seq = itertools.count(1)

    def _try_zonemap_select(
        self, query: str, sel: _Select
    ) -> DataFrame | None:
        """SQL fast-path for zone-map file skipping: a plain
        single-table ``SELECT <list> FROM t WHERE <pred>`` over a
        versioned engine table (or a time-travel view pinned to one of
        its versions) reads a scan pruned by the predicate's conjuncts,
        so files drop before Spark plans the scan.  Semantics are
        identical by construction: the PRUNED-but-unfiltered scan is
        staged as a temp view ALIASED to the table name and spliced in
        place of the table reference, so the select list and WHERE run
        over it unchanged via Spark SQL — table-qualified column
        references (``t.x``, any case) resolve exactly as on the vanilla
        path (ADVICE r9), and the full predicate is always re-applied
        (pruning can only drop IO).  The staging view is dropped as soon
        as the plan is built (spark.sql analyzes eagerly), so long
        sessions don't leak catalog entries."""
        if sel.groups is not None or sel.cond is None:
            return None
        spec = self.specs[sel.name]
        if not (spec.versioned and spec.zone_maps):
            return None
        raw = sqltree.name(sel.rel)
        alias = raw.split(".")[-1]
        table = raw.lower().split(".")
        count_alias = len(sel.items) == 1 and _count_star(sel.items[0])
        quals = (
            _qualifiers(sel.items + [sel.cond])
            if count_alias or len(table) > 1
            else []
        )
        # the staging view is aliased to the LAST name segment, which
        # resolves `tbl.x` qualifiers (case-insensitively, like Spark's
        # own resolver); a fully-qualified `db.tbl.x` reference cannot
        # resolve against an alias — vanilla path
        if len(table) > 1 and any(
            q[: len(table)] == table and len(q) > len(table) for q in quals
        ):
            return None
        # SELECT COUNT(*) ... WHERE: answer full-match files from footer
        # metadata and scan only the boundary (count_where) — unless a
        # reference carries the table qualifier (count_where's residual
        # filter has no alias in scope; the staging-view path below
        # handles those, still pruned)
        if count_alias and not any(
            len(q) > 1 and q[0] == alias.lower() for q in quals
        ):
            pred = sqltree.text(query, sel.cond)
            n = self.count_where(
                sel.name, pred, version=sel.version, cond=sel.cond
            )
            return self._count_frame(n, count_alias)
        from polars_lake_spark.zonemaps import parse_conjuncts

        conj = parse_conjuncts(sel.cond)
        if not conj:
            return None  # nothing prunable; vanilla path is identical
        df = self._scan_conjuncts(sel.name, conj, version=sel.version)
        tmp = f"__zm_scan_{next(Engine._zm_view_seq)}"
        df.createOrReplaceTempView(tmp)
        a, b = sqltree.span(sel.rel)
        try:
            return self.spark.sql(
                f"{query[:a]}{tmp} AS {alias}{query[b + 1:]}"
            )
        finally:
            self.spark.catalog.dropTempView(tmp)

    def sqls(self, queries: list[str]) -> list[DataFrame]:
        """Batched execution (``/root/reference/src/database.rs:58-63``):
        one session shares Catalyst caches/exchange reuse across plans.
        Routes through ``sql()`` so DML statements work in batches too."""
        return [self.sql(q) for q in queries]

    # --------------------------------------------------------------- mutation
    def _guard_mutable(self, name: str):
        """Mutations on native-bucketed (bucketBy/saveAsTable) tables would
        append hive-partitioned files into the bucketed layout — silently
        breaking the bucket invariant (and losing rows on read). Refuse;
        recreate the table instead."""
        spec = self.specs[name]
        if spec.native_bucketing:
            raise ValueError(
                f"table {name} uses native_bucketing; in-place mutation would "
                "break the bucketBy file invariant. Recreate via create_table()."
            )
        # Any mutation invalidates stats FRESHNESS (not the stats — they
        # stay advisory): the auto-broadcast hint in _register only fires
        # on fresh stats, so a table can never grow past a stale ANALYZE
        # into a forced broadcast.
        if spec.stats is not None:
            spec.stats["fresh"] = False
        return spec

    def add_constraint(self, name: str, cname: str, expr_sql: str) -> None:
        """ALTER TABLE ADD CONSTRAINT analog: a SQL boolean expression
        every row must satisfy. Existing data is validated first (one
        count over the table — same contract as Delta, which scans before
        accepting a constraint); subsequent writes validate only their
        touched slice."""
        spec = self.specs[name]
        bad = self.table(name).filter(~F.expr(expr_sql)).limit(1).count()
        if bad:
            raise ConstraintViolationError(
                f"existing rows in {name} violate {cname}: {expr_sql}"
            )
        spec.constraints[cname] = expr_sql
        if self.root is not None and name not in self._mem:
            self._write_manifest(spec)

    def add_expectation(
        self, name: str, ename: str, expr_sql: str, action: str = "track"
    ) -> None:
        """Delta Live Tables expect/expect_or_drop analog: a SQL boolean
        quality rule applied to every subsequent write's touched slice.
        ``action='track'`` only counts violations (surfaced per write in
        ``last_expectation_report``); ``action='drop'`` also filters the
        violating rows OUT of the write — quarantine-on-ingest, where a
        malformed row must not fail (or land in) a 10⁹-row batch.
        Unlike add_constraint, existing data is NOT validated — an
        expectation governs what may LAND from now on."""
        spec = self.specs[name]
        spec.expectations = {
            **spec.expectations,
            **_validate_expectations({ename: {"expr": expr_sql, "action": action}}),
        }
        if self.root is not None and name not in self._mem:
            self._write_manifest(spec)

    def drop_expectation(self, name: str, ename: str) -> None:
        spec = self.specs[name]
        spec.expectations.pop(ename, None)
        if self.root is not None and name not in self._mem:
            self._write_manifest(spec)

    def drop_constraint(self, name: str, cname: str) -> None:
        spec = self.specs[name]
        spec.constraints.pop(cname, None)
        if self.root is not None and name not in self._mem:
            self._write_manifest(spec)

    @staticmethod
    def _pin_if_nondeterministic(df: DataFrame) -> DataFrame:
        """localCheckpoint a frame whose analyzed plan is
        NON-deterministic (rand() filters, uuid(), nondeterministic
        UDFs) so that every later consumer — a violation-count
        aggregation, a drop filter, the write itself — sees the SAME
        rows.  Without the pin a CHECK constraint can pass while
        violating rows land, and 'drop' expectations can drop different
        rows than were counted (the two jobs re-evaluate the plan).
        Same probe the DV merge path uses; deterministic frames pay
        nothing."""
        try:
            det = bool(df._jdf.queryExecution().analyzed().deterministic())
        except Exception:
            det = False
        return df if det else df.localCheckpoint(eager=True)

    def _check_constraints(self, spec: TableSpec, df: DataFrame) -> DataFrame:
        """CHECK constraints only, over the slice that will LAND (for
        merge-style writes that's the merged slice — a coalesce merge
        can produce a violating row from two individually-passing
        halves).  Raises before anything lands; returns the (possibly
        determinism-pinned) frame the caller must write."""
        if not spec.constraints:
            return df
        df = self._pin_if_nondeterministic(df)
        names = list(spec.constraints)
        counts = df.agg(
            *[
                F.count_if(
                    ~F.coalesce(F.expr(spec.constraints[c]), F.lit(True))
                ).alias(f"c{i}")
                for i, c in enumerate(names)
            ]
        ).first()
        for i, cname in enumerate(names):
            if counts[f"c{i}"]:
                raise ConstraintViolationError(
                    f"write to {spec.name} violates constraint {cname} "
                    f"({spec.constraints[cname]}): {counts[f'c{i}']} row(s)"
                )
        return df

    def _quarantine_rows(self, spec, df, enames, counts, cols=None) -> DataFrame:
        """The 'quarantine' expectation action (DLT quarantine pattern):
        rows violating a quarantine rule leave the write — exactly like
        'drop' — and ADDITIONALLY append to the ``{table}_quarantine``
        side table tagged with ``__rules`` (array of violated rule
        names), so bad records stay inspectable/replayable instead of
        vanishing.  The side table is a plain append log created on
        first use from the first batch's shape; later batches align to
        it by name (new columns are not evolved in — quarantine is
        observability, not a second system of record).  Called with the
        frame already pinned (``_pin_if_nondeterministic``), so the kept
        split and the quarantined copy describe the same rows.  Returns
        the frame minus the quarantined rows."""
        q_rules = [
            (e, spec.expectations[e]["expr"])
            for i, e in enumerate(enames)
            if spec.expectations[e].get("action") == "quarantine"
            and counts[f"e{i}"]
        ]
        if not q_rules:
            return df
        flags = [
            (e, ~F.coalesce(F.expr(x), F.lit(True))) for e, x in q_rules
        ]
        any_viol = reduce(lambda a, b: a | b, [f for _, f in flags])
        bad = df.filter(any_viol).withColumn(
            "__rules",
            F.array_compact(
                F.array(*[F.when(f, F.lit(e)) for e, f in flags])
            ),
        )
        if cols is not None:
            # merge-style callers augment the batch with NULL-filled
            # target columns so expressions evaluate; the quarantined
            # copy keeps only the batch's OWN columns
            bad = bad.select(*cols, "__rules")
        # arrival stamp: the retention handle vacuum_quarantine ages on
        bad = bad.withColumn("__quarantined_at", F.current_timestamp())
        qt = f"{spec.name}_quarantine"
        if qt not in self.specs and qt not in self._mem:
            self.create_table(
                qt, bad, save=self.root is not None, side_table_of=spec.name
            )
        else:
            qspec = self.specs.get(qt)
            if qspec is not None and qspec.side_table_of != spec.name:
                # pre-marker engine-created logs (side_table_of=None)
                # carry the machinery's own __rules column — adopt them;
                # anything else under the reserved name must never
                # silently become the quarantine log (r13 review)
                if (
                    qspec.side_table_of is None
                    and "__rules" in self.table(qt).columns
                ):
                    qspec.side_table_of = spec.name
                    if self.root is not None and qt not in self._mem:
                        self._write_manifest(qspec)
                else:
                    raise ValueError(
                        f"table {qt!r} exists but was not created as "
                        f"{spec.name!r}'s quarantine log; rename or drop "
                        "it before using quarantine expectations on "
                        f"{spec.name!r}"
                    )
            tgt = self.table(qt)
            bcols = set(bad.columns)
            self.insert(
                qt,
                bad.select(
                    *[
                        (
                            F.col(f.name)
                            if f.name in bcols
                            else F.lit(None).cast(f.dataType)
                        ).alias(f.name)
                        for f in tgt.schema.fields
                    ]
                ),
            )
        return df.filter(~any_viol)

    def vacuum_quarantine(self, name: str, older_than) -> int:
        """Retention for the ``{name}_quarantine`` side table (mirrors
        vacuum_cdc_tombstones — the log otherwise grows forever, one row
        per violating record; VERDICT r12 hygiene): drop quarantined
        rows stamped strictly before ``older_than`` (datetime or ISO
        string).  Rows from before the stamp existed have no
        ``__quarantined_at`` — they predate every horizon and are
        dropped too.  One overwrite of the (violations-sized) side
        table; returns the number of rows removed."""
        import datetime as _dt

        qt = f"{name}_quarantine"
        if qt not in self.specs and qt not in self._mem:
            return 0
        if isinstance(older_than, str):
            older_than = _dt.datetime.fromisoformat(older_than)
        with self._lock(qt):
            q = self.table(qt)
            if "__quarantined_at" not in q.columns:
                n = q.count()
                if n:
                    self.overwrite(qt, q.limit(0))
                return n
            doomed = F.col("__quarantined_at").isNull() | (
                F.col("__quarantined_at") < F.lit(older_than)
            )
            n = q.filter(doomed).count()
            if n:
                self.overwrite(qt, q.filter(~doomed))
        return n

    def _apply_expectations(
        self,
        spec: TableSpec,
        df: DataFrame,
        *,
        full_schema=None,
    ) -> DataFrame:
        """Quality expectations over the INCOMING batch of a merge-style
        write, BEFORE it merges with pre-existing rows: add_expectation's
        contract is "governs what may LAND from now on", so a drop rule
        added after data landed must quarantine only incoming rows — the
        r10 code applied drops to the whole merged/rewritten slice, so a
        later upsert touching a partition silently deleted OLD violating
        rows in it (ADVICE r10).  A quarantined change row is dropped
        WHOLE: it neither inserts, updates, nor (on DV merges) deletes
        its match.

        ``full_schema``: the target table's schema; columns the batch
        lacks (schema-subset upserts) evaluate as NULL — NULL-evaluating
        expressions PASS, matching SQL CHECK semantics and the fact that
        the landed value for such a column comes from the already-
        validated old row."""
        if not spec.expectations:
            return df
        df = self._pin_if_nondeterministic(df)
        out_cols = list(df.columns)
        have = {c.lower() for c in out_cols}
        if full_schema is not None:
            for f in full_schema.fields:
                if f.name.lower() not in have:
                    df = df.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
        enames = list(spec.expectations)
        counts = df.agg(
            *[
                F.count_if(
                    ~F.coalesce(
                        F.expr(spec.expectations[e]["expr"]), F.lit(True)
                    )
                ).alias(f"e{i}")
                for i, e in enumerate(enames)
            ]
        ).first()
        report = {
            "table": spec.name,
            "violations": {
                e: int(counts[f"e{i}"]) for i, e in enumerate(enames)
            },
            "dropped": 0,
        }
        drop_exprs = [
            spec.expectations[e]["expr"]
            for i, e in enumerate(enames)
            if spec.expectations[e].get("action") == "drop"
            and counts[f"e{i}"]
        ]
        if drop_exprs:
            keep = reduce(
                lambda a, b: a & b,
                [F.coalesce(F.expr(x), F.lit(True)) for x in drop_exprs],
            )
            df = df.filter(keep)
            report["dropped"] = sum(
                int(counts[f"e{i}"])
                for i, e in enumerate(enames)
                if spec.expectations[e].get("action") == "drop"
            )
        q_total = sum(
            int(counts[f"e{i}"])
            for i, e in enumerate(enames)
            if spec.expectations[e].get("action") == "quarantine"
        )
        if q_total:
            df = self._quarantine_rows(spec, df, enames, counts, cols=out_cols)
            report["quarantined"] = q_total
        self._exp_tls.report = report
        return df.select(*out_cols)

    def _enforce(
        self, spec: TableSpec, df: DataFrame, *, allow_drop: bool = True
    ) -> DataFrame:
        """Validate a to-be-written frame against the table's CHECK
        constraints and apply its quality EXPECTATIONS — for write paths
        where the WHOLE frame is incoming (append, overwrite, create,
        replace_partitions).  Merge-style paths instead split the work:
        _apply_expectations on the incoming batch before the merge,
        _check_constraints on the merged slice after.

        SQL CHECK semantics throughout: a NULL-evaluating expression
        PASSES (same rule add_constraint applies to existing data).
        Constraint AND expectation violations are counted in ONE
        aggregation job; non-deterministic frames are pinned first so
        counted rows ≡ written rows. Constraints raise before anything
        lands (all-or-nothing); 'drop' expectations filter their
        violating rows OUT of the returned frame; 'track' expectations
        only count.  ``allow_drop=False`` (predicate-UPDATE rewrites:
        there IS no incoming batch, and dropping a rewritten row whose
        old copy already left by ref would silently lose it) counts
        drop-rule violations without filtering.  Per-write counts land
        in ``self.last_expectation_report``."""
        if not spec.constraints and not spec.expectations:
            return df
        df = self._pin_if_nondeterministic(df)
        names = list(spec.constraints)
        enames = list(spec.expectations)
        viol = lambda expr: F.count_if(  # noqa: E731
            ~F.coalesce(F.expr(expr), F.lit(True))
        )
        counts = df.agg(
            *[
                viol(spec.constraints[c]).alias(f"c{i}")
                for i, c in enumerate(names)
            ],
            *[
                viol(spec.expectations[e]["expr"]).alias(f"e{i}")
                for i, e in enumerate(enames)
            ],
        ).first()
        for i, cname in enumerate(names):
            if counts[f"c{i}"]:
                raise ConstraintViolationError(
                    f"write to {spec.name} violates constraint {cname} "
                    f"({spec.constraints[cname]}): {counts[f'c{i}']} row(s)"
                )
        if enames:
            report = {
                "table": spec.name,
                "violations": {
                    e: int(counts[f"e{i}"]) for i, e in enumerate(enames)
                },
                "dropped": 0,
            }
            drop_exprs = [
                spec.expectations[e]["expr"]
                for i, e in enumerate(enames)
                if spec.expectations[e].get("action") == "drop"
                and counts[f"e{i}"]
            ] if allow_drop else []
            if drop_exprs:
                keep = reduce(
                    lambda a, b: a & b,
                    [
                        F.coalesce(F.expr(x), F.lit(True))
                        for x in drop_exprs
                    ],
                )
                df = df.filter(keep)
                report["dropped"] = sum(
                    int(counts[f"e{i}"])
                    for i, e in enumerate(enames)
                    if spec.expectations[e].get("action") == "drop"
                )
            q_total = (
                sum(
                    int(counts[f"e{i}"])
                    for i, e in enumerate(enames)
                    if spec.expectations[e].get("action") == "quarantine"
                )
                if allow_drop
                else 0
            )
            if q_total:
                df = self._quarantine_rows(spec, df, enames, counts)
                report["quarantined"] = q_total
            self._exp_tls.report = report
        return df

    @property
    def last_expectation_report(self) -> dict:
        """Per-write expectation violation counts of this THREAD's most
        recent write to an expectations-bearing table: ``{"table", ...
        "violations": {name: n}, "dropped": n}`` (observability only;
        'dropped' sums DISTINCT drop-rule counts — a row violating two
        drop rules is counted under each)."""
        return getattr(self._exp_tls, "report", {})

    def txn_version(self, name: str, app: str) -> int | None:
        """Highest transaction version recorded for idempotent writer
        ``app`` on versioned table ``name`` (Delta's txnVersion analog),
        read from the LATEST snapshot's watermark map — every versioned
        commit carries the map forward, so no history walk. None before
        the app's first tracked write."""
        store = self._snapstore(name)
        if not store.versions():
            return None
        v = ((store.load().meta or {}).get("txn", {})).get(str(app))
        return int(v) if v is not None else None

    def _txn_skip(self, name: str, spec: TableSpec, txn) -> bool:
        """True when ``txn=(app, version)`` was already applied — the
        exactly-once guard for replayed micro-batches. Must be called
        INSIDE the table lock so check-then-write is atomic."""
        if txn is None:
            return False
        if not spec.versioned:
            raise ValueError(
                f"txn requires a versioned table; {name} is not versioned"
            )
        app, ver = txn
        seen = self.txn_version(name, app)
        return seen is not None and int(ver) <= seen

    def _assign_identity(
        self, df: DataFrame, cols: dict[str, tuple[int, int]]
    ) -> tuple[DataFrame, dict[str, int]]:
        """Assign contiguous identity values distributedly: ONE
        O(partitions) count job computes per-partition offsets (a
        bounded driver collect — partition counts, never rows), then
        each row's id is ``next + step * (offset[pid] + rank_in_pid)``
        via a per-partition window — no global shuffle at any size.
        ``cols`` maps column -> (next, step); returns (df with the
        columns, {col: new_next}).  The source is pinned when
        nondeterministic so the count job and the write job see the
        same partitioning."""
        df = self._pin_if_nondeterministic(df)
        pid = "__pl_idpid"
        df = df.withColumn(pid, F.spark_partition_id())
        counts = (
            df.groupBy(pid).agg(F.count(F.lit(1)).alias("n")).collect()
        )
        offsets: dict[int, int] = {}
        total = 0
        for r in sorted(counts, key=lambda r: r[pid]):
            offsets[r[pid]] = total
            total += r["n"]
        from pyspark.sql import Window

        if offsets:
            off = F.element_at(
                F.create_map(
                    *[
                        F.lit(x)
                        for p, o in offsets.items()
                        for x in (p, o)
                    ]
                ),
                F.col(pid),
            )
        else:
            off = F.lit(0)
        rank = (
            F.row_number().over(
                Window.partitionBy(pid).orderBy(F.monotonically_increasing_id())
            )
            - 1
        )
        nexts = {}
        for c, (nxt, step) in cols.items():
            df = df.withColumn(
                c,
                (F.lit(nxt) + (off + rank) * F.lit(step)).cast("bigint"),
            )
            nexts[c] = nxt + step * total
        return df.drop(pid), nexts

    def _identity_nexts(self, spec: TableSpec) -> dict[str, tuple[int, int]]:
        """{col: (next, step)} from the LATEST snapshot's identity
        high-water marks (falling back to each column's declared
        start)."""
        store = self._snapstore(spec.name)
        hwm = {}
        if store.versions():
            hwm = (store.load().meta or {}).get("identity") or {}
        return {
            c: (int(hwm.get(c, d["start"])), d["step"])
            for c, d in spec.identity.items()
        }

    def _guard_identity_absent(self, spec: TableSpec, df: DataFrame, op: str):
        have = {c.lower() for c in df.columns}
        clash = sorted(c for c in spec.identity if c.lower() in have)
        if clash:
            raise ValueError(
                f"{op} into {spec.name}: identity columns {clash} are "
                "GENERATED ALWAYS — the engine assigns them; remove "
                "them from the batch (upsert/merge accept provided ids)"
            )

    def _identity_bump_meta(self, spec: TableSpec, src: DataFrame):
        """Snapshot identity meta advancing each high-water mark past any
        EXPLICIT id the keyed-merge source carried (Delta's rule: a
        trusted provided value must never be re-issued by a later
        insert).  One small aggregate over the batch — O(batch), no
        table scan."""
        if not spec.identity:
            return None
        nexts = self._identity_nexts(spec)
        aggs = [
            (F.max(c) if step > 0 else F.min(c)).alias(c)
            for c, (_n, step) in nexts.items()
            if c in src.columns
        ]
        row = src.agg(*aggs).head() if aggs else None
        out = {}
        for c, (nxt, step) in nexts.items():
            v = row[c] if row is not None and c in row.__fields__ else None
            if v is not None and (
                (step > 0 and v >= nxt) or (step < 0 and v <= nxt)
            ):
                nxt = int(v) + step
            out[c] = nxt
        return {"identity": out}

    def _guard_identity_present(self, spec: TableSpec, df: DataFrame, op: str):
        """Keyed merges must CARRY identity columns: a source row
        matching an existing row legitimately names its id, and a
        coalesce merge of a source lacking the column would NULL the
        inserted rows' ids (silently breaking uniqueness).  The engine
        trusts provided ids on these paths (BY DEFAULT semantics) —
        route genuinely-new rows through insert() for assignment."""
        have = {c.lower() for c in df.columns}
        missing = sorted(c for c in spec.identity if c.lower() not in have)
        if missing:
            raise ValueError(
                f"{op} into {spec.name}: identity columns {missing} "
                "must be present in the source (provided ids are "
                "trusted on keyed merges); use insert() to have the "
                "engine assign new ids"
            )

    def insert(
        self,
        name: str,
        df: DataFrame,
        *,
        save: bool = True,
        txn: tuple[str, int] | None = None,
        meta: dict | None = None,
    ) -> None:
        """Append (``/root/reference/src/dataset.rs:271-295``): the shuffle
        on partition columns replaces the reference's HashMap routing of
        rows to parts.

        ``txn=(app, version)`` makes the append IDEMPOTENT on a
        versioned table: a replayed batch whose version is at or below
        the app's recorded watermark is skipped — exactly-once appends
        under foreachBatch replay, which a plain append cannot give
        (replays duplicate rows; upsert only masks that for keyed data).

        ``meta`` rides in the snapshot commit (versioned tables) — the
        COPY INTO handler records its loaded-file log here so the log is
        atomic with the data it describes. Ignored for plain tables
        (their log lives in the manifest; the caller updates it).
        """
        spec = self._guard_mutable(name)
        with self._lock(name):
            if self._txn_skip(name, spec, txn):
                return
            if spec.identity:
                self._guard_identity_absent(spec, df, "insert")
                df, nexts = self._assign_identity(
                    df, self._identity_nexts(spec)
                )
                meta = {**(meta or {}), "identity": nexts}
            df = self._with_layout(df.select(*[c for c in df.columns]), spec)
            df = self._enforce(spec, df)
            if spec.versioned:
                self._write_versioned(df, spec, op="append", txn=txn, meta=meta)
            elif save and name not in self._mem:
                self._write(df, spec, mode="append")
            else:
                base = self._mem.get(name)
                if base is None:
                    base = self.spark.read.parquet(self._path(name))
                self._mem[name] = base.unionByName(df, allowMissingColumns=True)
                self._bump_pending(name)
            self._register(name)

    def overwrite(
        self,
        name: str,
        df: DataFrame,
        *,
        txn: tuple[str, int] | None = None,
        allow_drop: bool = True,
    ) -> None:
        """INSERT OVERWRITE TABLE analog: atomically replace the table's
        FULL contents (unlike ``upsert``, which merges by key and cannot
        drop rows absent from the source).  ``txn`` as in ``insert``.

        Versioned tables publish one 'rewrite' snapshot — new state and
        old state never mix, readers pinned to a prior version are
        undisturbed, and the replacement is all-or-nothing even when
        ``df`` is derived from the table's own current contents (the
        write lands in a fresh immutable dir). Non-versioned persisted
        tables stage via localCheckpoint then static-overwrite (emptied
        partitions are removed, same as ``delete``). The primary consumer
        is small derived state replaced wholesale per batch — e.g. the
        incremental heavy-hitters sketch (operators/heavy.py).

        ``allow_drop=False`` (DELETE/UPDATE/DDL rewrite paths, where
        ``df`` is the table's own surviving rows, not an incoming batch):
        'drop' expectations count violations but never filter — a drop
        rule added after data landed must not silently delete old rows
        during a rewrite."""
        spec = self._guard_mutable(name)
        with self._lock(name):
            if self._txn_skip(name, spec, txn):
                return
            id_meta = None
            if spec.identity:
                if allow_drop:
                    # user-facing full replacement (INSERT OVERWRITE):
                    # GENERATED ALWAYS — the engine assigns fresh ids,
                    # continuing the range (never resetting — uniqueness
                    # holds across the table's whole history)
                    self._guard_identity_absent(spec, df, "overwrite")
                    df, nexts = self._assign_identity(
                        df, self._identity_nexts(spec)
                    )
                    id_meta = {"identity": nexts}
                else:
                    # internal rewrite of the table's own surviving rows
                    # (DELETE/UPDATE/DDL paths): ids ride along unchanged
                    self._guard_identity_present(spec, df, "overwrite")
            new = self._with_layout(df, spec)
            new = self._enforce(spec, new, allow_drop=allow_drop)
            if spec.versioned:
                self._write_versioned(
                    new, spec, op="rewrite", txn=txn, meta=id_meta
                )
            elif name in self._mem or self.root is None:
                self._mem[name] = new.localCheckpoint(eager=True)
            else:
                self._write(
                    new.localCheckpoint(eager=True),
                    spec,
                    "overwrite",
                    static_overwrite=True,
                )
            self._register(name)

    def replace_partitions(
        self,
        name: str,
        df: DataFrame,
        drop: list[dict] | None = None,
        *,
        allow_drop: bool = True,
    ) -> None:
        """Replace EXACTLY the partitions present in ``df`` with its rows
        (dynamic partition overwrite), leaving every other partition
        untouched — the surgical write primitive for partial maintenance
        of a partitioned derived table (e.g. CDC-driven ANN index sync,
        operators/ivf.py:ivf_sync_cdc, where only the cells a change
        batch touches are rewritten).

        Unlike ``upsert`` this can DROP rows within a touched partition
        (tombstones), and unlike ``overwrite`` it never reads or rewrites
        untouched partitions — at 100 TB the write cost is bounded by the
        batch's partition fan-out, not the table size. The caller owns
        the invariant that ``df`` holds the complete intended contents of
        every partition it mentions.

        ``drop`` removes whole partitions: a list of
        ``{partition_col: value}`` dicts naming partitions whose ENTIRE
        contents leave the table — the case dynamic overwrite cannot
        express (it can't delete a partition it writes no rows into).
        Versioned tables tombstone them as a metadata-only mapping edit
        in the same snapshot commit; plain on-disk tables delete the
        partition directory under the table lock. Dropping a partition
        that doesn't exist is a no-op (idempotent replay); naming one
        that ``df`` also writes is an error.

        ``allow_drop=False`` as in ``overwrite``: rewrite paths
        (replace_where, scoped compaction) pass carried-over rows, which
        'drop' expectations must never re-quarantine."""
        spec = self._guard_mutable(name)
        # slice replacement carries the rows' EXISTING ids — the
        # identity column must be present (see upsert)
        self._guard_identity_present(spec, df, "replace_partitions")
        parts = spec.physical_partitioning
        if not parts:
            raise ValueError(
                f"table {name} is not partitioned; use overwrite()"
            )
        drop = drop or []
        for d in drop:
            if set(d) != set(parts):
                raise ValueError(
                    f"drop entry {d} must name exactly the partition "
                    f"columns {parts}"
                )
        part_dtypes = self._partition_dtypes(name, parts)
        drop_relpaths = [
            hive_relpath(parts, [d[c] for c in parts], part_dtypes)
            for d in drop
        ]
        with self._lock(name):
            new = self._with_layout(df, spec)
            new = self._enforce(spec, new, allow_drop=allow_drop)
            # One bounded job (partition fan-out, never rows): the write
            # is skipped when df carries no rows, and written partitions
            # must be disjoint from dropped ones.
            touched = [tuple(r) for r in new.select(*parts).distinct().collect()]
            if drop:
                overlap = {
                    hive_relpath(parts, t, part_dtypes) for t in touched
                } & set(drop_relpaths)
                if overlap:
                    raise ValueError(
                        f"partitions both written and dropped: {sorted(overlap)}"
                    )
            if spec.versioned:
                # 'replace' commits touched partitions into the snapshot,
                # carrying the untouched ones forward by reference; drops
                # are a mapping edit in the SAME atomic commit.
                if touched:
                    self._write_versioned(
                        new, spec, op="replace", drop_relpaths=drop_relpaths,
                        meta=self._identity_bump_meta(spec, df),
                    )
                elif drop_relpaths:
                    store = self._snapstore(name)
                    store.commit_drop(
                        drop_relpaths, spec.schema_json, base=store.load()
                    )
            elif name in self._mem or self.root is None:
                from functools import reduce as _reduce

                old = self.table(name)
                # reuse the already-collected touched tuples — no second
                # distinct job over new (r7 review finding)
                gone = self.spark.createDataFrame(
                    touched + [tuple(d[c] for c in parts) for d in drop],
                    old.select(*parts).schema,
                )
                # eqNullSafe, not an equi-join on names: a NULL partition
                # value must still match its own partition (plain `=`
                # never matches NULL, which would duplicate NULL-partition
                # rows on replace). Aliased — new may derive from old's
                # own plan (self-join ambiguity).
                o, g = old.alias("__rp_o"), F.broadcast(gone.alias("__rp_g"))
                cond = _reduce(
                    lambda a, b: a & b,
                    [
                        F.col(f"__rp_o.{c}").eqNullSafe(F.col(f"__rp_g.{c}"))
                        for c in parts
                    ],
                )
                kept = o.join(g, cond, "left_anti")
                self._mem[name] = kept.unionByName(new).localCheckpoint(
                    eager=True
                )
            else:
                if touched:
                    # Stage first: df may be derived from this table's own
                    # current files (read-modify-write cycle).
                    self._write(
                        new.localCheckpoint(eager=True), spec, mode="overwrite"
                    )
                for rel in drop_relpaths:
                    pdir = os.path.join(self._path(name), rel)
                    if os.path.isdir(pdir):
                        shutil.rmtree(pdir)
                    else:
                        # Legal on idempotent replay (already dropped), but
                        # also the symptom of a naming divergence between
                        # hive_relpath and what Spark actually wrote — in
                        # which case the "dropped" rows would silently
                        # survive (ADVICE r7). Surface it.
                        import warnings

                        warnings.warn(
                            f"replace_partitions({name}): drop relpath "
                            f"{rel!r} names no existing directory — no-op "
                            "(replay, or partition-value naming mismatch)"
                        )
                if drop_relpaths:
                    self.spark.catalog.refreshByPath(self._path(name))
            self._register(name)

    def replace_where(
        self,
        name: str,
        new_rows: DataFrame,
        changed: DataFrame | None = None,
        *,
        touched: list[dict] | None = None,
    ) -> None:
        """Partition-scoped rewrite — the DELETE/UPDATE write path that
        does NOT rewrite the whole table: ``changed`` (or a pre-collected
        ``touched`` partition-tuple list) locates the partitions the
        mutation touches; ``new_rows`` is the table's complete intended
        contents, of which only the touched slice is read (LITERAL
        partition predicate via _prune_to_touched, so the scan prunes)
        and rewritten; partitions the change empties are tombstoned.

        At 100 TB: DELETE FROM t WHERE day = X reads and writes one
        partition, not the table — previously every predicate delete was
        a full static-overwrite rewrite. Falls back to ``overwrite`` for
        unpartitioned tables. The caller must pin nondeterministic
        frames first (dml.py does) and must not change partition/bucket
        columns in ``new_rows`` (rows would migrate partitions — that
        case needs the full overwrite)."""
        spec = self._guard_mutable(name)
        # slice replacement carries the rows' EXISTING ids — the
        # identity column must be present (see upsert)
        self._guard_identity_present(spec, new_rows, "replace_where")
        parts = spec.physical_partitioning
        if not parts:
            self.overwrite(name, new_rows, allow_drop=False)
            return
        with self._lock(name):
            if touched is None:
                if changed is None:
                    raise ValueError("replace_where needs changed or touched")
                touched = [
                    {c: r[c] for c in parts}
                    for r in changed.select(*parts).distinct().collect()
                ]
            if not touched:
                return
            for d in touched:
                if set(d) != set(parts):
                    raise ValueError(
                        f"touched entry {d} must name exactly the "
                        f"partition columns {parts}"
                    )
            tdf = self.spark.createDataFrame(
                [tuple(d[c] for c in parts) for d in touched],
                new_rows.select(*parts).schema,
            )
            # No checkpoint here: replace_partitions stages the plain
            # on-disk path itself and the versioned path writes into a
            # fresh immutable dir — a checkpoint here would materialize
            # the touched slice into executor storage TWICE per statement
            # (r7 review finding). The pruned scan recomputes instead,
            # bounded by the touched partitions.
            merged = self._prune_to_touched(new_rows, tdf, parts)
            present = {
                tuple(r[c] for c in parts)
                for r in merged.select(*parts).distinct().collect()
            }
            emptied = [
                d for d in touched
                if tuple(d[c] for c in parts) not in present
            ]
            self.replace_partitions(
                name, merged, drop=emptied, allow_drop=False
            )

    def upsert(
        self,
        name: str,
        df: DataFrame,
        keys: list[str] | None = None,
        *,
        save: bool = True,
        evolve: bool = False,
        audit: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """Keyed merge with reference coalesce semantics (operators/merge.py).

        Persisted path: merge against only the partitions the incoming
        batch touches, then dynamic-partition-overwrite exactly those — at
        100 TB this reads/writes the touched slice, never the table.

        Requirement (shared with the reference's partition-local routing,
        /root/reference/src/dataset.rs:306-317): partition/bucket columns
        must be stable under updates (i.e. functions of the key), else a
        row could migrate partitions and leave its old copy behind.
        That includes TRANSITIVE stability: a generated layout column's
        FORMULA SOURCE columns must not change value under upserts
        (month(d) is stable because d is; a quality-tier column derived
        from a mutable score is not — use merge(), whose pruning
        detects layout-moving SETs and falls back to a full rewrite).

        ``txn=(app, version)`` (versioned tables): skip the merge when
        the app's watermark already covers ``version`` — see ``insert``.
        """
        spec = self._guard_mutable(name)
        keys = list(keys or spec.keys)
        if not keys:
            raise ValueError(f"no upsert keys for table {name}")
        self._guard_identity_present(spec, df, "upsert")
        with self._lock(name):
            if self._txn_skip(name, spec, txn):
                return
            new = self._with_layout(df, spec)
            old = self.table(name)
            # expectations quarantine INCOMING rows only, before the
            # merge — carried-over old rows are never re-judged;
            # constraints run on the merged slice below (a coalesce
            # merge can violate where both halves individually pass)
            new = self._apply_expectations(spec, new, full_schema=old.schema)

            def _upserted(old_side):
                m = M.upsert(old_side, new, keys, evolve=evolve)
                # generated columns recompute from the MERGED values: a
                # partial batch (NULL = keep old) would otherwise carry a
                # formula evaluated over MIXED batch values and fail the
                # auto CHECK on a legitimate upsert (r13 review; same
                # rule as merge)
                for gcol, gexpr in spec.generated.items():
                    if gcol in m.columns:
                        m = m.withColumn(gcol, F.expr(gexpr))
                return m

            if spec.versioned:
                parts = spec.physical_partitioning
                if parts:
                    old_slice = self._prune_to_touched(old, new, parts)
                    merged = _upserted(old_slice)
                    op = "replace"  # touched partitions move to the new dir
                else:
                    merged = _upserted(old)
                    op = "rewrite"
                if audit:
                    merged = M.with_audit_columns(merged, created=False)
                merged = self._check_constraints(spec, merged)
                # No localCheckpoint staging: the write lands in a FRESH
                # immutable dir, so the plan's input scans are never
                # overwritten mid-query (the snapshot-isolation win).
                self._write_versioned(
                    merged, spec, op=op, txn=txn,
                    meta=self._identity_bump_meta(spec, df),
                )
            elif save and name not in self._mem:
                parts = spec.physical_partitioning
                if parts:
                    old_slice = self._prune_to_touched(old, new, parts)
                    merged = _upserted(old_slice)
                    if audit:
                        merged = M.with_audit_columns(merged, created=False)
                    merged = self._check_constraints(spec, merged)
                    # Cut the read→overwrite cycle on the same path. (On a
                    # real cluster this would be a staging-dir write + swap;
                    # localCheckpoint keeps the touched slice only.)
                    merged = merged.localCheckpoint(eager=True)
                    # Dynamic partition overwrite rewrites only touched dirs.
                    self._write(merged, spec, mode="overwrite")
                else:
                    merged = _upserted(old)
                    if audit:
                        merged = M.with_audit_columns(merged, created=False)
                    merged = self._check_constraints(spec, merged)
                    # Unpartitioned: stage then swap (can't overwrite input in place).
                    self._write(merged.localCheckpoint(eager=True), spec, "overwrite")
            else:
                merged = _upserted(old)
                if audit:
                    merged = M.with_audit_columns(merged, created=False)
                merged = self._check_constraints(spec, merged)
                self._mem[name] = merged
                self._bump_pending(name)
            self._register(name)

    def merge(
        self,
        name: str,
        source: DataFrame,
        keys: list[str] | None = None,
        *,
        when_matched_delete=None,
        when_matched_update: bool = True,
        when_not_matched_insert: bool = True,
        null_clobbers: bool = False,
        set_exprs: dict | None = None,
        when_not_matched_by_source_delete=None,
        when_matched_update_condition=None,
        matched_clauses: list | None = None,
        not_matched_clauses: list | None = None,
        by_source_clauses: list | None = None,
        evolve_schema: bool = False,
    ) -> None:
        """MERGE INTO <table> USING <source> with conditional actions
        (operators/merge.py:merge_into) through the same write paths as
        upsert/delete — including versioned tables, where each merge lands
        as one new snapshot (the Delta MERGE + time-travel combination).

        Three ORDERED clause families (each first-match-wins, the full
        Delta surface — see merge_into's docstring for exact column
        semantics): ``matched_clauses`` (UPDATE SET */cols | DELETE,
        optionally condition-gated), ``not_matched_clauses`` (INSERT * |
        explicit INSERT VALUES), ``by_source_clauses`` (DELETE | UPDATE
        SET over target-only rows).  The legacy single-clause kwargs
        (``when_matched_delete`` / ``when_matched_update`` [+
        ``when_matched_update_condition``] / ``set_exprs`` /
        ``when_not_matched_insert`` /
        ``when_not_matched_by_source_delete``) normalize into the same
        shape — never mix the two forms for one family.

        SET / INSERT-VALUES columns: merge keys and the derived bucket
        column are refused in SETs (they are the merge/layout identity);
        the bucket column is refused in INSERT VALUES (recomputed on
        write); a partition-column assignment is allowed but forces the
        full-rewrite path (the row may migrate partitions, which the
        touched-partition pruning below cannot see) — as do BY SOURCE
        clauses (they read every partition by definition) and explicit
        INSERT VALUES (the inserted partition value need not be the
        source row's).

        ``evolve_schema=True`` (Delta's MERGE WITH SCHEMA EVOLUTION /
        autoMerge): source-only columns widen the target as NULLs and
        numeric types up-cast before the merge (operators/merge.
        evolve_schema), so INSERT * / UPDATE SET * carry the new
        columns.  Forces the full-rewrite path (untouched partitions
        must backfill the new columns) and is refused on
        deletion-vector tables (appended rows would carry a wider
        schema than the files still referenced by mapping).

        Scan/write bounds: a delete-capable merge can empty a partition,
        which dynamic partition overwrite would silently leave behind, so
        it takes the full-rewrite path; a delete-free merge reads and
        rewrites only the partitions the source batch touches, exactly
        like upsert — and shares upsert's requirement that partition/
        bucket columns are stable under updates (an update that moves a
        row across partitions would strand the old copy)."""
        from polars_lake_spark.layout import BUCKET_COL

        spec = self._guard_mutable(name)
        keys = list(keys or spec.keys)
        if not keys:
            raise ValueError(f"no merge keys for table {name}")
        self._guard_identity_present(spec, source, "merge")
        # normalize up front: legacy single-clause kwargs and the ordered
        # multi-clause lists share one executor shape from here on
        clauses = M.normalize_matched_clauses(
            matched_clauses,
            when_matched_delete=when_matched_delete,
            when_matched_update=when_matched_update,
            when_matched_update_condition=when_matched_update_condition,
            set_exprs=set_exprs,
        )
        nm_clauses = M.normalize_not_matched_clauses(
            not_matched_clauses, when_not_matched_insert
        )
        bs_clauses = M.normalize_by_source_clauses(
            by_source_clauses, when_not_matched_by_source_delete
        )
        all_sets = set()
        for cl in [*clauses, *bs_clauses]:
            if cl.get("set"):
                all_sets |= set(cl["set"])
        if all_sets:
            bad = sorted(all_sets & (set(keys) | {BUCKET_COL}))
            if bad:
                raise ValueError(
                    f"MERGE INTO {name}: cannot SET {bad} — merge keys "
                    "and the derived bucket column are the row's "
                    "merge/layout identity"
                )
        for cl in nm_clauses:
            if cl.get("values") and BUCKET_COL in cl["values"]:
                raise ValueError(
                    f"MERGE INTO {name}: cannot assign {BUCKET_COL} — "
                    "the derived bucket column is recomputed on write"
                )
        if spec.generated:
            # generated columns are DERIVED: merge recomputes them from
            # their formulas over the merged values (Delta's rule), so
            # explicit assignments are refused — they would be silently
            # overridden
            genl = {g.lower() for g in spec.generated}
            assigned = {c for c in all_sets if c.lower() in genl}
            for cl in nm_clauses:
                if cl.get("values"):
                    assigned |= {
                        c for c in cl["values"] if c.lower() in genl
                    }
            if assigned:
                raise ValueError(
                    f"MERGE INTO {name}: cannot assign generated columns "
                    f"{sorted(assigned)} — they recompute from their "
                    "formulas; assign their source columns instead"
                )
        any_delete = any(cl["action"] == "delete" for cl in clauses)
        # pin a nondeterministic source ONCE: the pre-expectation key
        # set, the expectation split, and the merge join must all see
        # the SAME rows (the SQL path checkpoints already; this covers
        # direct API callers)
        source = self._pin_if_nondeterministic(source)
        if evolve_schema and spec.deletion_vectors:
            raise ValueError(
                f"MERGE INTO {name}: evolve_schema is not supported on "
                "deletion-vector tables (appended rows would carry a "
                "wider schema than the files still referenced by "
                "mapping); run schema evolution as its own rewrite first"
            )
        if spec.deletion_vectors:
            # merge-on-read MERGE: matched delete/update rows become DV
            # refs, updated+inserted rows append — ONE atomic commit,
            # cost O(source + matched), target-only rows never read or
            # rewritten. Partition-MOVING updates are safe here (the old
            # physical row leaves by ref wherever it lives), which the
            # rewrite path cannot offer.
            self._merge_dv(
                name,
                spec,
                source,
                keys,
                clauses=clauses,
                nm_clauses=nm_clauses,
                bs_clauses=bs_clauses,
                null_clobbers=null_clobbers,
            )
            return
        with self._lock(name):
            # lax layout: a MERGE source is legitimately partial (an
            # explicit-SET merge may carry only the keys), so a formula
            # whose source columns the batch lacks is skipped here —
            # the post-merge recompute fills it — and pruning below is
            # disabled (the batch's landing partitions are unknown)
            new, layout_complete = self._layout_lax(
                source, spec, strict=False
            )
            old = self.table(name)
            evolved = False
            if evolve_schema:
                widened = M.evolve_schema(old, source)
                evolved = widened.schema != old.schema
                old = widened
            # expectations quarantine INCOMING change rows only — a
            # violating source row neither updates, inserts, nor DELETES
            # its match: pin the PRE-expectation key set so a target row
            # whose only source match was quarantined still counts as
            # 'matched by source' for WHEN NOT MATCHED BY SOURCE
            # (ADVICE r12)
            pre_keys = None
            if bs_clauses and spec.expectations:
                pre_keys = new.select(*keys)
            new = self._apply_expectations(spec, new, full_schema=old.schema)
            by_source_protect = None
            if pre_keys is not None:
                # only keys whose EVERY source row was quarantined need
                # protection (a surviving row already matches by
                # source), so the set is bounded by the violation count
                # — the downstream broadcast stays safe at any source
                # size (r13 review: broadcasting the full source key set
                # would OOM a large MERGE source)
                by_source_protect = pre_keys.alias("pk").join(
                    new.select(*keys).alias("sv"),
                    [
                        F.col(f"pk.{k}").eqNullSafe(F.col(f"sv.{k}"))
                        for k in keys
                    ],
                    "left_anti",
                )
            parts = spec.physical_partitioning
            # Pruning is only sound when the write path replaces JUST the
            # touched partitions (versioned replace / dynamic partition
            # overwrite). The in-memory branch below assigns the merge
            # result as the ENTIRE table, so merging a pruned slice there
            # would silently drop every untouched partition.  Explicit
            # INSERT VALUES may land rows in ANY partition, so it too
            # disables pruning (the inserted partition value need not be
            # the source row's).
            lands_in_mem = not spec.versioned and (
                name in self._mem or self.root is None
            )
            explicit_inserts = any(
                cl.get("values") is not None for cl in nm_clauses
            )
            # Any SET that can MOVE a row across physical write dirs
            # makes pruning unsound — the 'replace' commit would remap
            # the migrated-into partition to the new write dir and
            # silently drop its pre-existing rows (ADVICE r14 high).
            # That covers direct partition-column SETs, bucket-source
            # SETs, and — transitively — SETs on the SOURCE columns of
            # a generated column the layout derives from (the post-merge
            # recompute migrates the row).
            migration_inputs = set(parts) | set(spec.bucket_by)
            for gcol, gexpr in spec.generated.items():
                if gcol in parts or gcol in spec.bucket_by:
                    migration_inputs |= sqltree.referenced_columns(
                        self.spark, gexpr, candidates=old.columns
                    )
            prune = (
                not any_delete
                and not bs_clauses
                and not explicit_inserts
                and not evolved
                and layout_complete
                and all(c in new.columns for c in parts)
                and not (all_sets & migration_inputs)
                and bool(parts)
                and not lands_in_mem
            )
            target = self._prune_to_touched(old, new, parts) if prune else old
            merged = M.merge_into(
                target,
                new,
                keys,
                matched_clauses=clauses,
                not_matched_clauses=nm_clauses,
                by_source_clauses=bs_clauses,
                null_clobbers=null_clobbers,
                by_source_protected_keys=by_source_protect,
            )
            for gcol, gexpr in spec.generated.items():
                # generated columns recompute from the MERGED values
                # (Delta's MERGE rule) — a SET on a formula source column
                # would otherwise leave a stale value the auto CHECK
                # rejects (r13 review)
                if gcol in merged.columns:
                    merged = merged.withColumn(gcol, F.expr(gexpr))
            if spec.bucket_by:
                # recompute the derived bucket from the MERGED values —
                # a SET on a bucket-source column or an explicit INSERT
                # VALUES key would otherwise leave a stale/NULL
                # bucket_id (same rule as the DV path; ordered AFTER the
                # generated recompute — the bucket may derive from a
                # generated column)
                cols = merged.columns
                merged = self._with_layout(
                    merged.drop(BUCKET_COL), spec
                ).select(*cols)
            merged = self._check_constraints(spec, merged)
            if spec.versioned:
                self._write_versioned(
                    merged, spec, op="replace" if prune else "rewrite",
                    meta=self._identity_bump_meta(spec, source),
                )
            elif name in self._mem or self.root is None:
                self._mem[name] = merged
                self._bump_pending(name)
            else:
                merged = merged.localCheckpoint(eager=True)
                if prune:
                    self._write(merged, spec, "overwrite")
                else:
                    self._write(merged, spec, "overwrite", static_overwrite=True)
            self._register(name)

    def clone(self, src: str, dst: str, *, shallow: bool = True) -> None:
        """CLONE analog (Delta SHALLOW/DEEP CLONE) for versioned tables.

        Shallow: commits a v1 snapshot on ``dst`` whose mapping references
        the SOURCE's write dirs by relative path — zero data movement,
        O(partitions) driver-side metadata, done in milliseconds at any
        table size. The clone then diverges independently: its upserts
        land in its own local write dirs (the source refs persist only for
        untouched partitions), and vacuum on the clone never touches
        foreign dirs (it only removes local ``w*`` entries). Caveat shared
        with Delta: vacuuming the SOURCE can drop dirs a shallow clone
        still references — keep source retention >= clone lifetime.

        Deep: a full versioned copy via one distributed write."""
        if src not in self.specs:
            self.load_table(src)
        sspec = self.specs[src]
        if not sspec.versioned:
            raise ValueError(f"clone requires a versioned source: {src}")
        if dst in self.specs:
            raise ValueError(f"table {dst} already exists")
        if not shallow:
            # Deep clone carries the FULL spec — constraints and codec
            # included — so both clone modes enforce the same invariants
            # (r4 VERDICT item 6: deep clones used to drop CHECKs).
            self.create_table(
                dst,
                self.table(src),
                partition_by=list(sspec.partition_by),
                bucket_by=list(sspec.bucket_by),
                n_buckets=sspec.n_buckets,
                keys=list(sspec.keys),
                compression=sspec.compression,
                versioned=True,
                constraints=dict(sspec.constraints),
                bloom_filter_cols=dict(sspec.bloom_filter_cols),
                deletion_vectors=sspec.deletion_vectors,
                zone_maps=sspec.zone_maps,
                cluster_by=list(sspec.cluster_by),
            )
            # create_table captured declared order from the READ-BACK
            # frame (partition columns last); the clone must keep the
            # source's user-declared order or positional INSERTs into
            # it would map differently than into the source
            self.specs[dst].declared_columns = list(sspec.declared_columns)
            self._write_manifest(self.specs[dst])
            return
        from dataclasses import replace as _dc_replace

        from polars_lake_spark.snapshots import SnapshotStore

        with self._lock(dst):
            src_store = self._snapstore(src)
            snap = src_store.load()
            dst_store = SnapshotStore(self._path(dst))
            os.makedirs(dst_store.data_path, exist_ok=True)
            rel = os.path.relpath(src_store.data_path, dst_store.data_path)
            mapping = {
                p: [os.path.join(rel, w).replace(os.sep, "/") for w in ws]
                for p, ws in snap.mapping.items()
            }
            # the source's deletion vectors apply to the referenced files
            # — a clone without them would resurrect the deleted rows
            meta = None
            dv = (snap.meta or {}).get("dv")
            if dv:
                meta = {
                    "dv": [
                        os.path.join(rel, d).replace(os.sep, "/") for d in dv
                    ]
                }
                n_dv = (snap.meta or {}).get("dv_rows")
                if n_dv:
                    meta["dv_rows"] = n_dv
            # schema events travel with the referenced dirs (a clone of a
            # renamed table must keep translating the source's era names);
            # max_write_counter folds the referenced basenames in, so
            # post-clone writes allocate counters ABOVE every inherited
            # dir and a later schema event still splits eras correctly.
            ev = (snap.meta or {}).get("schema_events")
            if ev:
                meta = {**(meta or {}), "schema_events": list(ev)}
            # identity high-water marks travel too — a clone that reset
            # them would re-issue the source's already-used ids
            hwm = (snap.meta or {}).get("identity")
            if hwm:
                meta = {**(meta or {}), "identity": dict(hwm)}
            dst_store.commit(mapping, "clone", snap.schema_json, meta=meta)
            dspec = _dc_replace(
                sspec,
                name=dst,
                partition_by=list(sspec.partition_by),
                bucket_by=list(sspec.bucket_by),
                keys=list(sspec.keys),
                constraints=dict(sspec.constraints),
                # every mutable container must be copied, or spec state
                # leaks between clone and source (the 73e0733 bug class)
                bloom_filter_cols=dict(sspec.bloom_filter_cols),
                declared_columns=list(sspec.declared_columns),
                cluster_by=list(sspec.cluster_by),
                copy_files=dict(sspec.copy_files),
            )
            self.specs[dst] = dspec
            self._write_manifest(dspec)
            self._register(dst)

    def delete(self, name: str, deletes: DataFrame, keys: list[str] | None = None) -> None:
        """Delete by key — anti join (reference TODO /root/reference/src/main.rs:31).

        Partitioned tables take the partition-scoped path: the doomed
        rows (a semi join on the delete keys) locate the touched
        partitions, and ``replace_where`` rewrites only those — a keyed
        delete against a day-partitioned 100 TB table costs the touched
        days, not a full static-overwrite rewrite.

        ``deletion_vectors`` tables take the merge-on-read path instead:
        the matched rows' physical refs commit as an O(matched) sidecar
        and NO data file is rewritten (:meth:`delete_keys_dv`)."""
        spec = self._guard_mutable(name)
        keys = list(keys or spec.keys)
        if not keys:
            raise ValueError(f"no delete keys for table {name}")
        if spec.deletion_vectors:
            self.delete_keys_dv(name, deletes, keys)
            return
        with self._lock(name):
            t = self.table(name)
            remaining = M.delete_keys(t, deletes, keys)
            if spec.physical_partitioning:
                doomed = M.ns_join(
                    t,
                    deletes.select(*keys).distinct(),
                    keys,
                    "left_semi",
                    broadcast_right=True,
                )
                self.replace_where(name, remaining, doomed)
            elif spec.versioned:
                self._write_versioned(remaining, spec, op="rewrite")
            elif name in self._mem or self.root is None:
                self._mem[name] = remaining
            else:
                self._write(
                    remaining.localCheckpoint(eager=True),
                    spec,
                    "overwrite",
                    static_overwrite=True,
                )
            self._register(name)

    def delete_where_dv(self, name: str, predicate: str, cond=None) -> int:
        """Merge-on-read predicate DELETE (Delta deletion-vector analog)
        for ``deletion_vectors=True`` tables: instead of rewriting every
        partition holding a match (``replace_where`` — O(touched
        partitions), potentially the whole table for one row per
        partition), commit an O(deleted-rows) SIDECAR of the matched
        rows' physical identities (file, row_index) and let reads
        anti-join it out (snapshots.read: DV side broadcast, map-side
        anti-join, partition pruning intact below it).

        At 100 TB: ``DELETE WHERE user_id = k`` on a date-partitioned
        table costs one predicate scan (bloom/row-group skipping
        applies) plus a write of the matched refs — untouched data files
        are never rewritten (tests assert byte-identical mtimes).

        Folding: a full ``compact()``/OPTIMIZE rewrites from the
        DV-applied read and its 'rewrite' commit clears the DV list.  A
        SCOPED compact (OPTIMIZE ... WHERE) folds the touched
        partitions' deletes into their rewrite but leaves the refs in
        the list — stale refs are harmless (their files left the
        mapping; nothing scans them) and ``dv_rows`` becomes a
        conservative overestimate until a full OPTIMIZE clears it.
        Time travel and RESTORE see each version's own DV state (the
        list rides in commit meta); CDC ``changes()`` diffs DV-applied
        reads, so DV deletes surface as ordinary ``delete`` rows; clones
        carry the DVs (shallow ones by reference).

        Returns the number of rows deleted. Zero-match deletes commit
        nothing.  ``cond`` is the predicate's parse tree when the caller
        holds it (SQL DELETE)."""
        spec = self._guard_mutable(name)
        if not (spec.versioned and spec.deletion_vectors):
            raise ValueError(
                f"table {name} does not have deletion_vectors enabled; "
                "use delete()/SQL DELETE (partition-scoped rewrite)"
            )
        from polars_lake_spark.snapshots import DV_FILE_COL, DV_POS_COL

        with self._lock(name):
            store = self._snapstore(name)
            base = store.load()
            # Zone maps accelerate the DML scan too: a file whose
            # min/max PROVE no row matches the predicate can contribute
            # no refs, so pruning it is exactly sound for the delete —
            # the ref scan costs O(files that may match), not O(table).
            live = store.read(
                self.spark,
                with_row_refs=True,
                prune=self._conjuncts(predicate, cond) or None,
            )
            # NULL predicate keeps the row, like the rewrite path
            refs = live.filter(
                F.coalesce(F.expr(predicate), F.lit(False))
            ).select(
                F.col(DV_FILE_COL).alias("file_path"),
                F.col(DV_POS_COL).alias("row_index"),
            )
            return self._commit_dv_refs(name, store, base, refs)

    def delete_keys_dv(
        self, name: str, keys_df: DataFrame, key_cols: list[str]
    ) -> int:
        """Merge-on-read KEYED delete for ``deletion_vectors`` tables:
        remove EVERY row whose key tuple appears in ``keys_df`` — the
        change-feed-maintenance shape (a CDC batch hands you doomed ids
        as a FRAME, not a literal predicate, and an IN-list of 100k ids
        is no predicate at all).  The table scan is key-range-pruned
        through the zone maps (``zonemaps.batch_key_conjuncts``) and
        semi-joins map-side against the BROADCAST key frame (bounded by
        the batch), the matched rows' physical refs go into an
        O(matched) sidecar, and untouched files are never rewritten
        (the scan's files_total/files_kept land in
        ``last_scan_report``).  Unlike :meth:`delete` (key-based
        rewrite), matching every row sharing a key is the POINT here —
        an index table holds many rows per doc id.
        Returns rows deleted; zero matches commit nothing."""
        spec = self._guard_mutable(name)
        if not (spec.versioned and spec.deletion_vectors):
            raise ValueError(
                f"table {name} does not have deletion_vectors enabled; "
                "use delete() (key-based rewrite)"
            )
        from polars_lake_spark.snapshots import DV_FILE_COL, DV_POS_COL
        from polars_lake_spark.zonemaps import batch_key_conjuncts

        # pinned: the key set bounds the scan (zone-map conjuncts) and
        # then semi-joins it, and must be the same rows both times
        keys = keys_df.select(*key_cols).distinct().localCheckpoint(eager=True)
        conj = batch_key_conjuncts(keys, key_cols)
        with self._lock(name):
            store = self._snapstore(name)
            base = store.load()
            live = self._scan_conjuncts(
                name, conj, with_row_refs=True, snap=base
            )
            refs = M.ns_join(
                live, keys, key_cols, "left_semi", broadcast_right=True
            ).select(
                F.col(DV_FILE_COL).alias("file_path"),
                F.col(DV_POS_COL).alias("row_index"),
            )
            return self._commit_dv_refs(name, store, base, refs)

    def _merge_dv(
        self,
        name: str,
        spec: TableSpec,
        source: DataFrame,
        keys: list[str],
        *,
        clauses: list[dict],
        nm_clauses: list[dict],
        bs_clauses: list[dict],
        null_clobbers: bool,
        base=None,
        live: DataFrame | None = None,
        judged: bool = False,
    ) -> None:
        """MERGE INTO for deletion-vector tables, merge-on-read: one
        RIGHT-outer join of the DV-applied target against the source
        (target-only rows never appear — they stay by mapping reference),
        matched delete/update rows' physical refs go to a DV sidecar,
        and the updated + inserted rows append; sidecar and append
        publish in ONE snapshot commit.  Matched-row detection uses the
        ref column (never NULL for a real target row), so NULL-keyed
        rows merge correctly where a key-based presence test would
        misread them.  The ordered ``clauses`` (normalized via
        operators/merge.normalize_matched_clauses) evaluate first-match-
        wins with column semantics mirroring merge_into exactly: keys
        coalesce, SET * columns are last-write-wins under
        ``null_clobbers`` else coalesce(new, old), explicit SET
        assignments leave unassigned columns at old values, and
        target-only columns keep old values (NULL for inserts).
        ``nm_clauses`` gate the inserts the same ordered way (explicit
        INSERT VALUES leaves unassigned columns NULL).  ``bs_clauses``
        (WHEN NOT MATCHED BY SOURCE) need a second pass here (the
        right-outer join never surfaces target-only rows): a key
        anti-join against the source finds them, the first firing
        clause refs the old copy out — and, for UPDATE, re-appends the
        assigned values — O(target-only matches) refs, still zero
        rewrite.

        ``base``/``live`` (the fused CDC apply): the snapshot to commit
        against and the rows of it, with refs, that the source's keys
        can match — every target row the join could pair, so the merge
        reads nothing else (refused with ``bs_clauses``, which need
        every target row).  ``judged``: the caller already ran the
        expectations over the source rows they govern."""
        from polars_lake_spark.snapshots import (
            DV_FILE_COL,
            DV_POS_COL,
            carried_meta,
        )

        assert live is None or not bs_clauses
        with self._lock(name):
            store = self._snapstore(name)
            if base is None:
                base = store.load()
                live = store.read(self.spark, with_row_refs=True, snap=base)
            new = self._with_layout(source, spec)
            old_cols = [
                c for c in live.columns if c not in (DV_FILE_COL, DV_POS_COL)
            ]
            M.matched_set_columns(clauses, old_cols)
            M.matched_set_columns(bs_clauses, old_cols)
            for cl in nm_clauses:
                if cl["values"]:
                    unknown = sorted(set(cl["values"]) - set(old_cols))
                    if unknown:
                        raise ValueError(
                            f"MERGE INTO {name}: INSERT columns "
                            f"{unknown} are not target columns"
                        )
            old_types = {
                f.name: f.dataType
                for f in live.select(*old_cols).schema.fields
            }
            # expectations quarantine INCOMING change rows BEFORE the
            # join: a violating change must neither ref (delete) its
            # match nor append — enforcing on `appends` instead would
            # drop the updated copy of a row whose old copy already left
            # by ref, silently losing the row.  Pin the PRE-expectation
            # key set first: for WHEN NOT MATCHED BY SOURCE a quarantined
            # change still counts as 'matched by source' (ADVICE r12).
            pre_keys = None
            if bs_clauses and spec.expectations:
                pre_keys = new.select(*keys)
            if not judged:
                new = self._apply_expectations(
                    spec, new, full_schema=live.select(*old_cols).schema
                )
            new_cols = set(new.columns)
            o, n = live.alias("o"), new.alias("n")
            joined = o.join(
                n,
                [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys],
                "right_outer",
            )
            matched = F.col(f"o.{DV_FILE_COL}").isNotNull()
            # ordered first-match-wins matched clauses (shared gate
            # builder with operators/merge.merge_into): a matched row's
            # first firing DELETE refs it out; its first firing UPDATE
            # refs the old copy out AND re-appends the assigned values;
            # no clause firing → the row stays on disk untouched
            gates, delc, updc = M.matched_clause_gates(matched, clauses)
            # ordered NOT MATCHED inserts: gate builder reused with every
            # clause as an update, so the OR'd flag = "some insert fired"
            nm_gates, _, insc = M.matched_clause_gates(
                ~matched,
                [
                    {
                        "action": "update",
                        "condition": cl["condition"],
                        "set": None,
                    }
                    for cl in nm_clauses
                ],
            )
            try:
                det = bool(
                    joined._jdf.queryExecution().analyzed().deterministic()
                )
            except Exception:
                det = False
            if not det:
                # refs and appends must describe the SAME matched rows
                joined = joined.localCheckpoint(eager=True)
            refs = joined.filter(delc | updc).select(
                F.col(f"o.{DV_FILE_COL}").alias("file_path"),
                F.col(f"o.{DV_POS_COL}").alias("row_index"),
            )
            bs_appends = None
            if bs_clauses:
                # target-only rows: anti-join on keys (null-safe, like
                # the merge join), ordered clause conditions over the
                # bare target row.  A firing DELETE refs the row out; a
                # firing UPDATE refs the old copy out AND re-appends the
                # assigned values — O(target-only matches) refs either
                # way, no rewrite.  The anti-join runs against the
                # PRE-expectation key set when the table carries
                # expectations, so a quarantined change row still
                # shields its target match (ADVICE r12).
                cand = live.alias("o").join(
                    (pre_keys if pre_keys is not None else new).alias("n"),
                    [
                        F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
                        for k in keys
                    ],
                    "left_anti",
                )
                bs_gates, bs_del, bs_upd = M.matched_clause_gates(
                    F.lit(True), bs_clauses
                )
                try:
                    cdet = bool(
                        cand._jdf.queryExecution().analyzed().deterministic()
                    )
                except Exception:
                    cdet = False
                if not cdet:
                    # re-alias: the checkpoint returns plain column
                    # names, and the clause conditions reference o.<col>
                    cand = cand.localCheckpoint(eager=True).alias("o")
                gone = cand.filter(bs_del | bs_upd).select(
                    F.col(DV_FILE_COL).alias("file_path"),
                    F.col(DV_POS_COL).alias("row_index"),
                )
                refs = refs.unionByName(gone)
                has_bs_update = any(
                    cl["action"] == "update" for cl in bs_clauses
                )
                if has_bs_update:
                    bs_select = []
                    for c in old_cols:
                        w = None
                        for cl, g in zip(bs_clauses, bs_gates):
                            if cl["action"] != "update":
                                continue
                            v = (
                                cl["set"][c]
                                if c in cl["set"]
                                else F.col(f"o.{c}")
                            )
                            w = (w.when if w is not None else F.when)(g, v)
                        bs_select.append(
                            (
                                w.otherwise(F.col(f"o.{c}"))
                                if w is not None
                                else F.col(f"o.{c}")
                            ).alias(c)
                        )
                    bs_appends = cand.filter(bs_upd).select(*bs_select)
            def _dv_insert_value(c: str):
                # insert rows: the first FIRING insert clause's value —
                # INSERT * takes source values (typed NULL for
                # target-only columns), explicit VALUES leaves
                # unassigned columns NULL
                w = None
                for cl, g in zip(nm_clauses, nm_gates):
                    if cl["values"] is None:
                        v = (
                            F.col(f"n.{c}")
                            if c in new_cols
                            else F.lit(None).cast(old_types[c])
                        )
                    else:
                        v = cl["values"].get(
                            c, F.lit(None).cast(old_types[c])
                        )
                    w = (w.when if w is not None else F.when)(g, v)
                if w is None:
                    return F.lit(None).cast(old_types[c])
                return w.otherwise(F.lit(None).cast(old_types[c]))

            select = []
            for c in old_cols:
                if c in keys:
                    # matched rows keep their key (o and n agree under
                    # the join); inserts take the first firing clause's
                    # key value (source key under INSERT *)
                    select.append(
                        F.when(matched, F.col(f"o.{c}"))
                        .otherwise(_dv_insert_value(c))
                        .alias(c)
                    )
                    continue
                # the first FIRING update clause's assignment wins
                # (column semantics mirror operators/merge.merge_into:
                # explicit SET leaves unassigned columns at OLD values;
                # SET * is last-write-wins under null_clobbers else
                # coalesce(new, old)); insert rows take their clause's
                # values (the o side is a typed NULL under right_outer)
                w = None
                for cl, g in zip(clauses, gates):
                    if cl["action"] != "update":
                        continue
                    if cl["set"] is not None:
                        v = (
                            cl["set"][c]
                            if c in cl["set"]
                            else F.col(f"o.{c}")
                        )
                    elif c in new_cols:
                        v = (
                            F.col(f"n.{c}")
                            if null_clobbers
                            else F.coalesce(F.col(f"n.{c}"), F.col(f"o.{c}"))
                        )
                    else:
                        v = F.col(f"o.{c}")
                    w = (w.when if w is not None else F.when)(g, v)
                ins_val = _dv_insert_value(c)
                select.append(
                    (w.otherwise(ins_val) if w is not None else ins_val).alias(
                        c
                    )
                )
            appends = joined.filter(updc | insc).select(*select)
            if bs_appends is not None:
                appends = appends.unionByName(bs_appends)
            for gcol, gexpr in spec.generated.items():
                # same recompute rule as the rewrite path (before the
                # bucket recompute — the bucket may derive from it)
                if gcol in appends.columns:
                    appends = appends.withColumn(gcol, F.expr(gexpr))
            if spec.bucket_by:
                # recompute the derived bucket from the MERGED values —
                # under coalesce semantics a NULL source cell keeps the
                # old value, so the source-side bucket_id may be stale
                from polars_lake_spark.layout import BUCKET_COL

                appends = self._with_layout(appends.drop(BUCKET_COL), spec)
                appends = appends.select(*old_cols)
            appends = self._check_constraints(spec, appends)
            dvname, nrefs = self._write_dv_sidecar(store, refs)
            appends = appends.localCheckpoint(eager=True)
            n_app = appends.count()
            if nrefs == 0 and n_app == 0:
                return
            meta = None
            if nrefs:
                meta = carried_meta(
                    base.meta,
                    {
                        "dv": list((base.meta or {}).get("dv", []))
                        + [dvname],
                        "dv_rows": int((base.meta or {}).get("dv_rows", 0))
                        + nrefs,
                    },
                )
            if n_app:
                # provided identity values advance the high-water marks,
                # as on the rewrite path
                ident = self._identity_bump_meta(spec, source)
                if ident:
                    meta = {**(meta or {}), **ident}
                self._write_versioned(appends, spec, op="append", meta=meta)
            else:
                store.commit(
                    base.mapping,
                    "delete_dv",
                    base.schema_json,
                    expected_base=base.version,
                    meta=meta or carried_meta(base.meta, None),
                )
                self._maybe_auto_optimize(name)
            self._register(name)

    def compact_dvs(self, name: str) -> int:
        """Consolidate a DV table's sidecar dirs into ONE, pruning STALE
        refs on the way — the maintenance move between deletes and a full
        OPTIMIZE. Every DV delete/update/merge adds a sidecar dir; reads
        union them all, so a long run of small deletes grows the read's
        union fan-out, and refs whose files later left the mapping
        (their partitions were rewritten by upsert/scoped compaction)
        inflate ``dv_rows`` past the live count — eventually switching
        the anti-join off broadcast for no reason.

        Metadata discipline: the consolidated refs land in a NEW sidecar
        dir and only the NEW commit's list points to it — earlier
        snapshots keep reading their original (immutable) sidecars, so
        time travel is unaffected and vacuum ages the old dirs out with
        their snapshots. Stale-pruning is conservative: a ref is dropped
        only when it provably points into THIS table's data dir at a
        write dir no longer in the live mapping; foreign refs (shallow
        clones) are kept verbatim.

        Returns the number of live refs after consolidation. No-op (and
        no commit) when the table carries zero or one sidecar and
        nothing would be pruned."""
        spec = self._guard_mutable(name)
        if not spec.versioned:
            raise ValueError(f"table {name} is not versioned")
        from polars_lake_spark.snapshots import carried_meta

        with self._lock(name):
            store = self._snapstore(name)
            base = store.load()
            dv = list((base.meta or {}).get("dv", []))
            if not dv:
                return 0
            n_before = int((base.meta or {}).get("dv_rows", 0))
            refs = store.dv_scan(self.spark, dv)
            # Provably-stale refs: inside OUR data dir at a (write dir,
            # partition relpath) the live mapping no longer references —
            # a partition rewrite replaces that pair while the write dir
            # itself stays live through its OTHER partitions, so the
            # check must be pair-granular. Foreign refs (shallow clones,
            # NULL extraction) are kept verbatim.
            prefix = "file:" + os.path.abspath(store.data_path) + "/"
            live_pairs = {
                (w, p)
                for p, ws in base.mapping.items()
                for w in ws
                if ".." not in w
            }
            rel = F.expr(f"substr(file_path, {len(prefix) + 1})")
            inner = F.regexp_replace(rel, r"^[^/]+/", "")
            refs = refs.withColumns(
                {
                    "__w": F.when(
                        F.col("file_path").startswith(prefix),
                        F.split(rel, "/")[0],
                    ),
                    "__p": F.when(
                        F.col("file_path").startswith(prefix),
                        F.when(
                            inner.contains("/"),
                            F.regexp_replace(inner, r"/[^/]*$", ""),
                        ).otherwise(F.lit("")),
                    ),
                }
            )
            # The staleness decision happens in PYTHON over the refs'
            # DISTINCT (write dir, partition relpath) pairs — bounded by
            # the file fan-out, like every other driver-side metadata
            # walk here — because the ref paths are URI-ENCODED
            # (_metadata.file_path renders a space as %20) while the
            # live mapping holds the raw on-disk names: comparing them
            # in Spark pruned LIVE refs under any escaped partition dir
            # and resurrected their deleted rows (r11, found with the
            # meta_row_count URI fix; 'p=NOT SPECIFIED' repro).
            from urllib.parse import unquote

            pairs = [
                (r["__w"], r["__p"])
                for r in refs.select("__w", "__p")
                .filter(F.col("__w").isNotNull())
                .distinct()
                .collect()
            ]
            stale = [
                (w, p)
                for w, p in pairs
                if (w, unquote(p)) not in live_pairs
            ]
            if stale:
                stale_df = self.spark.createDataFrame(
                    stale, "__sw string, __sp string"
                )
                refs = refs.join(
                    F.broadcast(stale_df),
                    (F.col("__w").eqNullSafe(F.col("__sw")))
                    & (F.col("__p").eqNullSafe(F.col("__sp"))),
                    "left_anti",
                )
            refs = refs.select("file_path", "row_index")
            wname, n = self._write_dv_sidecar(store, refs)
            if len(dv) <= 1 and n == n_before:
                # nothing to consolidate or prune; drop the staging dir
                if n:
                    shutil.rmtree(
                        os.path.join(store.data_path, wname),
                        ignore_errors=True,
                    )
                return n
            store.commit(
                base.mapping,
                "dv_compact",
                base.schema_json,
                expected_base=base.version,
                meta=carried_meta(
                    base.meta,
                    {"dv": [wname] if n else [], "dv_rows": n},
                ),
            )
            self._register(name)
            return n

    def _write_dv_sidecar(self, store, refs: DataFrame) -> tuple[str, int]:
        """Write (file_path, row_index) refs into a fresh sidecar dir;
        return (dir name, rows written). The count comes from the written
        parquet FOOTERS — the write already ran the job, so n is pinned
        to what actually landed even for a nondeterministic source."""
        wname, wpath = store.new_write_dir()
        refs.write.parquet(wpath)
        import pyarrow.parquet as pq

        n = sum(
            pq.ParquetFile(os.path.join(wpath, f)).metadata.num_rows
            for f in os.listdir(wpath)
            if f.endswith(".parquet")
        )
        if n == 0:
            shutil.rmtree(wpath, ignore_errors=True)
        return wname, n

    def _commit_dv_refs(self, name: str, store, base, refs: DataFrame) -> int:
        """Commit a deletion-vector sidecar as a metadata-only snapshot
        (mapping unchanged, DV list extended, carried meta intact).
        Zero-match refs commit nothing. Caller holds the table lock."""
        from polars_lake_spark.snapshots import carried_meta

        wname, n = self._write_dv_sidecar(store, refs)
        if n == 0:
            return 0
        store.commit(
            base.mapping,
            "delete_dv",
            base.schema_json,
            expected_base=base.version,
            meta=carried_meta(
                base.meta,
                {
                    "dv": list((base.meta or {}).get("dv", [])) + [wname],
                    "dv_rows": int((base.meta or {}).get("dv_rows", 0)) + n,
                },
            ),
        )
        self._maybe_auto_optimize(name)
        self._register(name)
        return n

    def update_where_dv(
        self, name: str, predicate: str, assigns: dict[str, Column], cond=None
    ) -> int:
        """Merge-on-read predicate UPDATE for ``deletion_vectors`` tables:
        the matched rows' physical refs go into a DV sidecar (the old
        rows vanish from reads) and the updated rows APPEND — both in ONE
        atomic snapshot commit, so readers never see the delete without
        the re-insert.  Cost is O(matched rows) written, never a
        partition rewrite.  ``assigns`` maps column name -> replacement
        Column; unlisted columns carry the old value.  The caller must
        not assign layout columns (rows would migrate partitions — that
        case needs the rewrite path; dml.py guards it).  ``cond`` is the
        predicate's parse tree when the caller holds it (SQL UPDATE)."""
        spec = self._guard_mutable(name)
        if not (spec.versioned and spec.deletion_vectors):
            raise ValueError(
                f"table {name} does not have deletion_vectors enabled"
            )
        from polars_lake_spark.snapshots import (
            DV_FILE_COL,
            DV_POS_COL,
            carried_meta,
        )

        with self._lock(name):
            store = self._snapstore(name)
            base = store.load()
            # same zone-map acceleration as delete_where_dv: files whose
            # ranges prove no match contribute neither refs nor new rows
            live = store.read(
                self.spark,
                with_row_refs=True,
                prune=self._conjuncts(predicate, cond) or None,
            )
            pred = F.coalesce(F.expr(predicate), F.lit(False))
            matched = live.filter(pred)
            try:
                det = bool(
                    live.select(pred)._jdf.queryExecution().analyzed().deterministic()
                )
            except Exception:
                det = False
            if not det:
                # pin ONE evaluation: refs and the re-appended rows must
                # describe the same matched set
                matched = matched.localCheckpoint(eager=True)
            refs = matched.select(
                F.col(DV_FILE_COL).alias("file_path"),
                F.col(DV_POS_COL).alias("row_index"),
            )
            dvname, n = self._write_dv_sidecar(store, refs)
            if n == 0:
                return 0
            cols = [
                c for c in live.columns if c not in (DV_FILE_COL, DV_POS_COL)
            ]
            # a SET value keeps its column's type (SET v = 1.0 on a
            # DOUBLE column is a decimal literal), as on the rewrite path
            new_rows = matched.select(
                *[
                    assigns[c].cast(live.schema[c].dataType).alias(c)
                    if c in assigns
                    else F.col(c)
                    for c in cols
                ]
            )
            # no incoming batch here: count expectation violations but
            # never drop (the old copy already left by ref — dropping
            # the rewritten row would silently lose it)
            new_rows = self._enforce(spec, new_rows, allow_drop=False)
            self._write_versioned(
                new_rows,
                spec,
                op="append",
                meta=carried_meta(
                    base.meta,
                    {
                        "dv": list((base.meta or {}).get("dv", []))
                        + [dvname],
                        "dv_rows": int((base.meta or {}).get("dv_rows", 0))
                        + n,
                    },
                ),
            )
            self._register(name)
            return n

    def drop_duplicates(self, name: str, keys: list[str] | None = None) -> None:
        """Dedup in place (reference TODO /root/reference/src/main.rs:32)."""
        spec = self._guard_mutable(name)
        keys = list(keys or spec.keys) or None
        with self._lock(name):
            deduped = self.table(name).dropDuplicates(keys)
            if spec.versioned:
                self._write_versioned(deduped, spec, op="rewrite")
            elif name in self._mem or self.root is None:
                self._mem[name] = deduped
            else:
                self._write(
                    deduped.localCheckpoint(eager=True),
                    spec,
                    "overwrite",
                    static_overwrite=True,
                )
            self._register(name)

    # Above this many touched partitions the literal predicate would bloat
    # the plan; fall back to a broadcast semi join (scans more, still merges
    # correctly).
    MAX_LITERAL_PARTITION_TUPLES = 1000

    def _data_files(self, name: str, relpaths: set[str] | None = None) -> list[str]:
        """Paths of the table's LIVE parquet data files, optionally scoped
        to a set of hive partition relpaths — driver-side metadata only
        (snapshot mapping for versioned tables, a directory walk for
        plain), never a Spark job. Empty for in-memory tables."""
        spec = self.specs.get(name)
        if spec is None or self.root is None or name in self._mem:
            return []
        out: list[str] = []
        if spec.versioned:
            store = self._snapstore(name)
            snap = store.load()
            for ppath, wdirs in snap.mapping.items():
                if relpaths is not None and ppath not in relpaths:
                    continue
                for w in wdirs:
                    d = os.path.join(store.data_path, w, ppath) if ppath else os.path.join(store.data_path, w)
                    if os.path.isdir(d):
                        out += [
                            os.path.join(d, f)
                            for f in os.listdir(d)
                            if f.endswith(".parquet")
                        ]
            return out
        base = self._path(name)
        roots = (
            [base]
            if relpaths is None
            else [os.path.join(base, r) for r in relpaths]
        )
        for r in roots:
            for cur, _s, fs in os.walk(r):
                out += [
                    os.path.join(cur, f) for f in fs if f.endswith(".parquet")
                ]
        return out

    def meta_row_count(self, name: str) -> int | None:
        """Exact row count from parquet FOOTERS (pyarrow, driver-side) —
        never a job over the DATA; the count a status frame wants while
        holding the table lock. On deletion-vector tables the footer sum
        still counts DV-deleted rows and the sidecars may hold STALE
        refs (files later rewritten out of the mapping), so the live
        count is footer sum minus the refs that point AT live files —
        one tiny job over the O(dv_rows) sidecar refs against the
        broadcast live-file list, still never a table scan (VERDICT
        r9: the DV whole-table DELETE ran a full count() under the
        lock). None when the table has no footer-countable files
        (in-memory, non-parquet)."""
        spec = self.specs.get(name)
        if (
            spec is None
            or self.root is None
            or name in self._mem
            or spec.format != "parquet"
        ):
            return None
        try:
            import pyarrow.parquet as pq

            files = self._data_files(name)
            total = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            if not spec.versioned:
                return total
            store = self._snapstore(name)
            dv = (store.load().meta or {}).get("dv") or []
            if not dv:
                return total
            # Refs are unique (file, row) pairs by construction — every
            # DV writer reads the already-DV-applied view, so a row can
            # never be re-deleted. Stale refs point at files no longer
            # in the mapping and are skipped.
            live = {os.path.abspath(f) for f in files}
            n_refs = sum(
                n
                for p, n in self._dv_counts_per_file(store, dv).items()
                if p in live
            )
            return total - n_refs
        except Exception:
            return None

    def _dv_counts_per_file(self, store, dv: list[str]) -> dict[str, int]:
        """Live-deletion counts per data file from the DV sidecars: ONE
        tiny grouped job over the O(dv_rows) refs (output ≤ the file
        count — bounded by the same O(files) driver budget as the footer
        walk), decoded to plain absolute paths in Python.  The decode
        matters: Spark records ``_metadata.file_path`` as a URI
        (``%20`` for spaces, UTF-8 %XX escapes), and matching it against
        raw ``os.path`` strings silently MISSES every ref under an
        escaped partition directory — metadata counts then over-count
        exactly the DV-deleted rows there (found via a space-carrying
        partition value, r11).  Python's ``unquote`` inverts the URI
        form without the ``+``-to-space corruption ``url_decode`` has."""
        from urllib.parse import unquote

        out: dict[str, int] = {}
        rows = (
            store.dv_scan(self.spark, dv)
            .groupBy("file_path")
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        for row in rows:
            p = unquote(row["file_path"])
            if p.startswith("file:"):
                p = p[5:]
            p = os.path.abspath(p)
            out[p] = out.get(p, 0) + int(row["__n"])
        return out

    def partition_counts(self, name: str) -> dict[str, int] | None:
        """Per-partition LIVE row counts from METADATA — the rollup that
        makes ``SHOW PARTITIONS`` row counts and partition-grouped
        ``COUNT(*)`` metadata-only (VERDICT r10 #6).  One driver-side
        footer walk maps each data file to its partition rel-path and
        sums ``num_rows``; on deletion-vector tables the per-partition
        deletions come from ONE tiny job over the O(dv_rows) sidecar
        refs joined to the broadcast (file → partition) list — never a
        table scan.  At 100 TB this is O(files) stat calls against
        O(cluster-wide scan) for the vanilla plan.  Keys are hive
        rel-paths (the snapshot mapping's own naming); empty partitions
        (mapping keys whose files were all rewritten away) report 0.
        None when the table is in-memory / non-parquet / unpartitioned
        (fall back to the vanilla plan)."""
        spec = self.specs.get(name)
        if (
            spec is None
            or self.root is None
            or name in self._mem
            or spec.format != "parquet"
            or not spec.physical_partitioning
        ):
            return None
        try:
            import pyarrow.parquet as pq

            if spec.versioned:
                store = self._snapstore(name)
                snap = store.load()
                rels = [p for p in snap.mapping if p]
            else:
                from polars_lake_spark.snapshots import _partition_relpaths

                rels = [
                    p for p in _partition_relpaths(self._path(name)) if p
                ]
                snap = None
            counts: dict[str, int] = {p: 0 for p in rels}
            file_rel: dict[str, str] = {}
            for f in self._data_files(name):
                d = os.path.dirname(os.path.abspath(f))
                rel = next(
                    (p for p in rels if d.endswith("/" + p)), None
                )
                if rel is None:
                    return None  # unexpected layout — stay conservative
                file_rel[f] = rel
                counts[rel] += pq.ParquetFile(f).metadata.num_rows
            if spec.versioned:
                dv = (snap.meta or {}).get("dv") or []
                if dv:
                    # stale refs (files no longer live) miss the dict
                    per_file = self._dv_counts_per_file(store, dv)
                    for f, rel in file_rel.items():
                        counts[rel] -= per_file.get(
                            os.path.abspath(f), 0
                        )
            return counts
        except Exception:
            return None

    def _partition_counts_frame(self, name: str):
        """Typed driver-LOCAL frame (partition cols..., __plsq_cnt) from
        :meth:`partition_counts` — the shared base of the metadata
        grouped-count and partition-predicate COUNT fast paths. Values
        are the directory-name strings CAST to the partition dtypes
        (byte-identical to a hive read-back), rolled up over any
        bucket_id segment below the partition prefix. None when the
        table cannot roll up from metadata."""
        spec = self.specs[name]
        parts = list(spec.partition_by)
        if not parts:
            return None
        counts = self.partition_counts(name)
        if counts is None:
            return None
        from polars_lake_spark.layout import parse_hive_relpath

        agg: dict[tuple, int] = {}
        for rel, n in counts.items():
            vals = parse_hive_relpath(rel)
            if any(c not in vals for c in parts):
                return None
            key = tuple(vals[c] for c in parts)
            agg[key] = agg.get(key, 0) + n
        dtypes = self._partition_dtypes(name, parts)
        if dtypes is None:
            return None
        rows = [
            k + (int(n),)
            for k, n in sorted(
                agg.items(),
                key=lambda kv: tuple(
                    (v is None, v or "") for v in kv[0]
                ),
            )
        ]
        schema = ", ".join(f"`{c}` string" for c in parts)
        local = self.spark.createDataFrame(
            rows, f"{schema}, __plsq_cnt bigint"
        )
        return local.select(
            *[
                F.col(c).cast(t).alias(c)
                for c, t in zip(parts, dtypes)
            ],
            "__plsq_cnt",
        )

    def _filter_partition_frame(self, frame, parts, pred: str):
        """Apply a WHERE predicate to the local partition frame — sound
        because a predicate over PARTITION COLUMNS ONLY is constant per
        partition, so filtering groups is identical to filtering rows.
        The filter runs against the key columns alone (the count column
        dropped), so a predicate referencing ANY other column — a data
        column, or a real column that happens to shadow our internal
        count — fails analysis and the caller falls through to the
        vanilla plan; non-deterministic predicates (rand()) fall
        through too, since group-level evaluation would diverge from
        row-level."""
        try:
            keys = frame.select(*parts).filter(pred)
            if not bool(
                keys._jdf.queryExecution().analyzed().deterministic()
            ):
                return None
            # NULL-SAFE semi-join: a NULL partition value
            # (__HIVE_DEFAULT_PARTITION__) is a real group key here — a
            # plain equi-join would silently drop every such row from
            # the count (caught by the typed/null edge-case test)
            f, k = frame.alias("__f"), keys.alias("__k")
            cond = None
            for c in parts:
                piece = F.col(f"__f.{c}").eqNullSafe(F.col(f"__k.{c}"))
                cond = piece if cond is None else (cond & piece)
            return f.join(k, cond, "left_semi")
        except Exception:
            return None

    def _try_meta_partition_count(
        self, query: str, sel: _Select
    ) -> DataFrame | None:
        """Metadata-only partition counts: ``SELECT COUNT(*) FROM t WHERE
        <partition-only pred>`` and ``SELECT <partition cols>, COUNT(*)
        FROM t [WHERE <partition-only pred>] GROUP BY <same cols>``
        answer from :meth:`partition_counts` — a driver-local plan, no
        files read.  Partition columns never appear in parquet footers
        (they are directory names), so the zone-map COUNT path cannot
        certify them, but a partition-column predicate is constant per
        partition: Spark evaluates it over the TYPED local partition
        frame (exactly the values its own partition pruning would
        compare).  Strictly conservative: a grouped select list must be
        exactly the table's partition columns (any order, no extras)
        followed by the count, the group list the same set; any WHERE
        must reference only partition columns deterministically (see
        :meth:`_filter_partition_frame`), and the table must roll up
        from metadata; anything else falls through to the vanilla
        plan."""
        alias = _count_star(sel.items[-1])
        cols = [sqltree.column(e) for e in sel.items[:-1]]
        parts = list(self.specs[sel.name].partition_by)
        low = {c.lower(): c for c in parts}
        if sel.groups is None:
            shape = not cols and sel.cond is not None
        else:
            grp = {sqltree.column(e) for e in sel.groups}
            shape = len(cols) == len(parts) and set(cols) == grp == set(low)
        # cheap pre-check BEFORE the footer walk: a predicate naming any
        # column but a partition column (the zone-map path's job) never
        # pays the O(files) stat walk on its way to falling through
        if not (alias and shape and parts) or (
            sel.cond is not None
            and not sqltree.partition_only(sel.cond, parts)
        ):
            return None
        frame = self._partition_counts_frame(sel.name)
        if frame is not None and sel.cond is not None:
            pred = sqltree.text(query, sel.cond)
            frame = self._filter_partition_frame(frame, parts, pred)
        if frame is None:
            return None
        if sel.groups is None:
            # sum the ≤ partition-count surviving rows DRIVER-side: one
            # literal row, same shape as _try_meta_count
            cnt = frame.select("__plsq_cnt").collect()
            return self._count_frame(sum(r[0] for r in cnt), alias)
        # a fully-emptied partition (all rows DV-deleted) still has a
        # rollup row at 0 — but GROUP BY emits NO group for no rows
        out = frame.filter(F.col("__plsq_cnt") > 0).select(
            *[low[c] for c in cols], F.col("__plsq_cnt").alias(alias)
        )
        if sel.cond is not None:
            # re-materialize the filtered join of two local frames as one
            # literal frame (≤ partition-count rows) so the returned plan
            # stays a pure local scan — no join, no exchange
            rows, schema = out.collect(), out.schema
            out = self.spark.createDataFrame(rows, schema)
        return out

    def convert_to_versioned(self, name: str) -> None:
        """CONVERT TO DELTA analog: adopt a plain on-disk parquet table
        into the snapshot layer IN PLACE — the data files are MOVED
        (os.rename, no rewrite, no copy) into the first immutable write
        dir and committed as version 1.  From then on the table has
        snapshot isolation, time travel, atomic DML, zone maps (the
        adopted dir's footer stats are collected during the convert),
        and deletion-vector eligibility (enable via ALTER TABLE SET
        TBLPROPERTIES).  At 100 TB this is the only affordable
        migration: a rewrite-based convert would cost a full table pass.
        Refuses in-memory / non-parquet / native-bucketed / already-
        versioned tables."""
        spec = self._guard_mutable(name)
        if spec.versioned:
            raise ValueError(f"table {name} is already versioned")
        if self.root is None or name in self._mem:
            raise ValueError(
                f"convert_to_versioned: {name} is not an on-disk table"
            )
        if spec.format != "parquet":
            raise ValueError(
                "convert_to_versioned: only parquet tables convert in "
                f"place (table {name} is {spec.format})"
            )
        from polars_lake_spark.snapshots import DATA_DIR, SNAP_DIR

        with self._lock(name):
            schema_json = self.table(name).schema.json()
            tpath = self._path(name)
            store = self._snapstore(name)
            wname, wpath = store.new_write_dir()
            os.makedirs(wpath, exist_ok=True)
            moved: list[str] = []
            old_schema_json = spec.schema_json
            pre_versions = set(store.versions())
            try:
                for e in os.listdir(tpath):
                    # keep table metadata in place; move only data
                    # entries (hive dirs are col=..., part files are
                    # part-...; _-/.- prefixed names are writer metadata)
                    if e in (DATA_DIR, SNAP_DIR, MANIFEST) or e.startswith(
                        ("_", ".")
                    ):
                        continue
                    os.rename(os.path.join(tpath, e), os.path.join(wpath, e))
                    moved.append(e)
                spec.versioned = True
                if spec.zone_maps:
                    try:
                        from polars_lake_spark.zonemaps import (
                            collect_zonemap,
                            write_zonemap,
                        )

                        write_zonemap(
                            wpath, collect_zonemap(wpath, spark=self.spark)
                        )
                    except Exception as e:
                        self.zonemap_errors[name] = (
                            self.zonemap_errors.get(name, 0) + 1
                        )
                        warnings.warn(
                            f"zone-map collection failed while converting "
                            f"{name!r}: {e!r}",
                            RuntimeWarning,
                            stacklevel=2,
                        )
                spec.schema_json = schema_json
                store.commit_write(wname, "create", schema_json)
                self._write_manifest(spec)
            except BaseException:
                # Roll the WHOLE adoption back — not just the renames.
                # A failure after the move (commit_write, the manifest
                # write) would otherwise leave the data under the
                # snapshot dir while the on-disk manifest still says
                # versioned=False: a restart reads the plain path and the
                # table comes back EMPTY, with the in-memory spec
                # half-flipped (ADVICE r10).  The table must come back as
                # the same readable PLAIN table, in memory AND on disk.
                spec.versioned = False
                spec.schema_json = old_schema_json
                restored = True
                for e in moved:
                    try:
                        os.rename(
                            os.path.join(wpath, e), os.path.join(tpath, e)
                        )
                    except OSError:
                        restored = False
                for v in set(store.versions()) - pre_versions:
                    try:
                        os.remove(
                            os.path.join(store.snap_path, f"v{v:06d}.json")
                        )
                    except OSError:
                        pass
                if restored:
                    # never rmtree a dir still holding un-restored data
                    shutil.rmtree(wpath, ignore_errors=True)
                try:
                    # re-write the plain manifest in case the failure was
                    # a partial manifest write
                    self._write_manifest(spec)
                except Exception:
                    pass
                raise
            self._register(name)

    def set_cluster_by(self, name: str, cluster_by: list[str]) -> None:
        """ALTER TABLE ... CLUSTER BY analog (Delta liquid-clustering
        re-declaration): future writes range-partition + sort on the new
        key so their zone maps are tight from ingest; existing files are
        untouched until the next OPTIMIZE rewrites them clustered.  Pass
        an empty list for CLUSTER BY NONE."""
        spec = self._guard_mutable(name)
        cluster_by = list(cluster_by or [])
        if cluster_by:
            if not spec.versioned:
                raise ValueError(
                    "cluster_by requires a versioned table (clustered "
                    "writes are snapshot commits)"
                )
            cols = self.table(name).columns
            missing = [c for c in cluster_by if c not in cols]
            if missing:
                raise ValueError(f"cluster_by columns {missing} not in data")
            overlap = set(cluster_by) & set(spec.physical_partitioning)
            if overlap:
                raise ValueError(
                    f"cluster_by columns {sorted(overlap)} are already "
                    "layout columns"
                )
        spec.cluster_by = cluster_by
        if self.root is not None and name not in self._mem:
            self._write_manifest(spec)

    def set_auto_optimize(
        self,
        name: str,
        dv_sidecars: int | None = None,
        write_dirs: int | None = None,
    ) -> None:
        """Opt a versioned table into auto-compaction (the Delta
        auto-optimize analog; closes the maintenance loop the
        reference's deferred ``changes`` counter gestures at,
        ``/root/reference/src/dataset.rs:95,136``).  After any mutating
        commit, when the live snapshot carries >= ``dv_sidecars`` DV
        sidecar dirs the engine runs :meth:`compact_dvs` (folds the
        sidecar union back to one, reads lose fan-out), and when the
        write-dir fan-out reaches ``write_dirs`` it runs a full
        :meth:`compact` (which also folds DVs in).  Both thresholds are
        checked O(1) against the already-committed snapshot dict — the
        write path never stats files or scans data to decide.

        Pass both as ``None`` to disable.  The policy persists in the
        table manifest, so a fresh engine keeps enforcing it."""
        spec = self.specs[name]
        if dv_sidecars is None and write_dirs is None:
            spec.auto_optimize = None
        else:
            if not spec.versioned:
                raise ValueError(
                    f"auto_optimize requires a versioned table: {name}"
                )
            pol = {}
            if dv_sidecars is not None:
                if dv_sidecars < 2:
                    raise ValueError("auto_optimize: dv_sidecars must be >= 2")
                pol["dv_sidecars"] = int(dv_sidecars)
            if write_dirs is not None:
                if write_dirs < 2:
                    raise ValueError("auto_optimize: write_dirs must be >= 2")
                pol["write_dirs"] = int(write_dirs)
            spec.auto_optimize = pol
        if self.root is not None and name not in self._mem:
            self._write_manifest(spec)

    def _maybe_auto_optimize(self, name: str, snap=None) -> None:
        """Post-commit auto-compaction trigger (:meth:`set_auto_optimize`).
        Called from the commit funnels (_write_versioned, the DV commit
        paths); re-entrancy-guarded so a triggered compaction's own
        commits never recurse.  Threshold checks read only the committed
        snapshot's dict (len of the dv list / distinct write dirs in the
        mapping) — O(1) driver work, no IO beyond the snapshot already
        in hand."""
        spec = self.specs.get(name)
        pol = getattr(spec, "auto_optimize", None)
        if not pol or name in self._auto_opt_active:
            return
        if snap is None:
            store = self._snapstore(name)
            if not store.versions():
                return
            snap = store.load()
        n_dv = len((snap.meta or {}).get("dv") or [])
        n_dirs = len({w for ws in snap.mapping.values() for w in ws})
        self._auto_opt_active.add(name)
        try:
            if pol.get("write_dirs") and n_dirs >= pol["write_dirs"]:
                replaced = self.compact(name)
                self.last_auto_optimize = {
                    "table": name,
                    "action": "compact",
                    "trigger": "write_dirs",
                    "replaced_files": replaced,
                }
            elif pol.get("dv_sidecars") and n_dv >= pol["dv_sidecars"]:
                refs = self.compact_dvs(name)
                self.last_auto_optimize = {
                    "table": name,
                    "action": "compact_dvs",
                    "trigger": "dv_sidecars",
                    "live_refs": refs,
                }
        finally:
            self._auto_opt_active.discard(name)

    def fragmentation_report(self, name: str) -> dict:
        """Maintenance advisor from METADATA alone — the 100 TB ops
        question "does this table need an OPTIMIZE?" answered without
        scanning a byte: live file count and size histogram (driver-side
        stat calls), write-dir fan-out, live DV sidecar count and ref
        total, and a recommendation.  A table accumulating small files
        (ingest micro-batches), many write dirs (every commit adds one),
        or many DV sidecars (every sparse delete adds one) pays at scan
        time: more splits to plan, more footers to read, a wider DV
        union to anti-join.  ``recommend`` is 'compact' when >50% of
        files are under ``small_bytes`` or write dirs exceed 16,
        'compact_dvs' when sidecars exceed 4, else 'ok'."""
        spec = self.specs[name]
        small_bytes = 16 << 20
        files = self._data_files(name)
        sizes = [os.path.getsize(f) for f in files]
        out = {
            "table": name,
            "files": len(files),
            "bytes_total": sum(sizes),
            "avg_file_bytes": (sum(sizes) // len(sizes)) if sizes else 0,
            "small_files": sum(1 for s in sizes if s < small_bytes),
            "write_dirs": None,
            "dv_sidecars": 0,
            "dv_rows": 0,
        }
        if spec.versioned:
            store = self._snapstore(name)
            snap = store.load()
            out["write_dirs"] = len(
                {w for ws in snap.mapping.values() for w in ws}
            )
            dv = (snap.meta or {}).get("dv") or []
            out["dv_sidecars"] = len(dv)
            out["dv_rows"] = int((snap.meta or {}).get("dv_rows", 0))
        if out["dv_sidecars"] > 4:
            out["recommend"] = "compact_dvs"
        elif out["files"] and (
            out["small_files"] * 2 > out["files"]
            or (out["write_dirs"] or 0) > 16
        ):
            out["recommend"] = "compact"
        else:
            out["recommend"] = "ok"
        return out

    def copy_loaded(self, name: str) -> dict[str, str]:
        """The table's COPY INTO loaded-file log (digest -> source path):
        from the LATEST snapshot's commit meta for versioned tables
        (atomic with the data, rolls back with restore), from the
        manifest for plain tables."""
        spec = self.specs[name]
        if spec.versioned:
            store = self._snapstore(name)
            if not store.versions():
                return {}
            return dict((store.load().meta or {}).get("copy_files", {}))
        return dict(spec.copy_files or {})

    def _partition_dtypes(self, name: str, parts: list[str]) -> list[str] | None:
        """Spark dtype strings for the partition columns (hive_relpath
        needs them to render single-precision floats with Java
        Float.toString digits). None when the schema isn't on hand."""
        spec = self.specs.get(name)
        if spec is None or not spec.schema_json:
            return None
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(spec.schema_json))
        by_name = {f.name.lower(): f.dataType.simpleString() for f in schema.fields}
        try:
            return [by_name[c.lower()] for c in parts]
        except KeyError:
            return None

    def _prune_to_touched(self, old: DataFrame, new: DataFrame, parts: list[str]) -> DataFrame:
        """Restrict the old side of a merge to the partitions the incoming
        batch touches, as a LITERAL predicate so it becomes static
        PartitionFilters at the scan (a semi join does not trigger partition
        pruning — verified against the physical plan). The distinct tuple
        set is bounded by the batch's partition fan-out, so the driver
        collect is small by construction."""
        from functools import reduce as _reduce

        tuples = new.select(*parts).distinct().limit(
            self.MAX_LITERAL_PARTITION_TUPLES + 1
        ).collect()
        if len(tuples) > self.MAX_LITERAL_PARTITION_TUPLES:
            # NULL-SAFE like the literal branch below: a name-based equi
            # semi join never matches a NULL partition value, which would
            # silently drop the NULL partition from the merge slice — and
            # under replace_where the partition would then be tombstoned
            # with its surviving rows (r7 review finding).
            o = old.alias("__pt_o")
            touched = F.broadcast(
                new.select(*parts).distinct().alias("__pt_t")
            )
            cond = _reduce(
                lambda a, b: a & b,
                [
                    F.col(f"__pt_o.{c}").eqNullSafe(F.col(f"__pt_t.{c}"))
                    for c in parts
                ],
            )
            return o.join(touched, cond, "left_semi")
        pred = _reduce(
            lambda a, b: a | b,
            [
                _reduce(
                    lambda a, b: a & b,
                    [F.col(c).eqNullSafe(F.lit(row[c])) for c in parts],
                )
                for row in tuples
            ],
        )
        return old.filter(pred)

    # ------------------------------------------------------------ maintenance
    def _bump_pending(self, name: str) -> None:
        """Deferred-compaction counter (``/root/reference/src/dataset.rs:23``):
        after max_lazy_merges chained in-memory merges, cut the plan."""
        self._pending_merges[name] = self._pending_merges.get(name, 0) + 1
        if self._pending_merges[name] >= self.max_lazy_merges:
            self.materialize(name)

    def materialize(self, name: str) -> None:
        """MaterializeTable (``/root/reference/src/server.rs:192-208``):
        truncate plan lineage. localCheckpoint bounds the chained-merge
        plan depth the reference also suffers from
        (``/root/reference/src/dataset.rs:141-145``)."""
        if name in self._mem:
            self._mem[name] = self._mem[name].localCheckpoint(eager=True)
            self._pending_merges[name] = 0
            self._register(name)

    def flush(self, name: str) -> None:
        """Persist the in-memory tier to storage."""
        spec = self.specs[name]
        if name in self._mem:
            df = self._mem.pop(name).localCheckpoint(eager=True)
            self._write(df, spec, mode="overwrite")
            self._pending_merges[name] = 0
            self._register(name)

    def compact(
        self,
        name: str,
        n_files: int | None = None,
        zorder_by: list[str] | None = None,
        where: str | None = None,
    ) -> int:
        """Small-file compaction: rewrite the table so each partition
        directory holds one file (or ``n_files`` for unpartitioned
        tables). The long-lived-table hygiene operator the reference's
        deferred-materialization counter gestures at
        (/root/reference/src/dataset.rs:95,136).

        ``zorder_by`` additionally clusters the rewrite on a
        bit-interleaved multi-column key (layout.zorder_key — the
        OPTIMIZE ZORDER BY analog): range-partitioned and sorted by the
        key, so every output file carries narrow min/max ranges on ALL
        listed columns and Parquet file/row-group skipping applies to
        predicates on any of them.

        ``where`` (partitioned tables) scopes the compaction to the
        partitions holding rows matching the predicate — Delta's
        ``OPTIMIZE ... WHERE``: at 100 TB you compact yesterday's
        partition after streaming ingest fragments it, never the table.
        The rewrite goes through ``replace_partitions`` so untouched
        partitions are never read or rewritten.

        Returns the number of data files the compaction replaced (counted
        over its SCOPE before the rewrite, from metadata — the snapshot
        mapping or a directory walk, never a scan) so OPTIMIZE's status
        row reports the work actually done, not the whole table's file
        count (ADVICE r7)."""
        spec = self._guard_mutable(name)
        with self._lock(name):
            df = self.table(name)
            parts = spec.physical_partitioning
            scoped = where is not None
            scope_relpaths: set[str] | None = None
            if scoped:
                if not parts:
                    raise ValueError(
                        f"compact(where=...) requires a partitioned table; "
                        f"{name} is not partitioned"
                    )
                touched = [
                    tuple(r)
                    for r in df.filter(F.expr(where))
                    .select(*parts)
                    .distinct()
                    .collect()
                ]
                if not touched:
                    return 0
                part_dtypes = self._partition_dtypes(name, parts)
                scope_relpaths = {
                    hive_relpath(parts, t, part_dtypes) for t in touched
                }
                tdf = self.spark.createDataFrame(
                    touched, df.select(*parts).schema
                )
                df = self._prune_to_touched(df, tdf, parts)
            n_before = len(self._data_files(name, scope_relpaths))
            if zorder_by:
                from polars_lake_spark.layout import zorder_key

                zk = zorder_key(df, zorder_by)
                range_cols = [F.col(c) for c in parts] + [F.col("__zk")]
                df = (
                    df.withColumn("__zk", zk)
                    .repartitionByRange(
                        n_files or self.spark.sparkContext.defaultParallelism,
                        *range_cols,
                    )
                    .sortWithinPartitions("__zk")
                    .drop("__zk")
                )
            elif parts:
                # all rows of one partition dir land in one task → 1 file/dir
                df = df.repartition(*[F.col(c) for c in parts])
            else:
                df = df.coalesce(n_files or 1)
            if scoped:
                # only the matched partitions rewrite; everything else is
                # carried by reference (versioned) or left on disk (plain)
                self.replace_partitions(name, df, allow_drop=False)
                if spec.versioned and spec.deletion_vectors:
                    # the rewrite just staled every DV ref into the
                    # touched partitions — consolidate + prune so reads
                    # union ONE sidecar and dv_rows tracks live refs
                    self.compact_dvs(name)
            elif spec.versioned:
                # Compaction folds every partition's dir list back to one
                # write dir; old dirs stay until vacuum().
                self._write_versioned(df, spec, op="rewrite")
            else:
                self._write(
                    df.localCheckpoint(eager=True),
                    spec,
                    "overwrite",
                    static_overwrite=True,
                )
            self._register(name)
            return n_before

    # ------------------------------------------------------ snapshot surface
    def history(self, name: str) -> list[dict]:
        """DESCRIBE HISTORY analog for a versioned table."""
        if not self.specs[name].versioned:
            raise ValueError(f"table {name} is not versioned")
        return self._snapstore(name).history()

    def restore(self, name: str, version: int) -> None:
        """Roll a versioned table back to a past snapshot (as a NEW
        version — history is preserved).

        Restoring PAST metadata-only column DDL (r14 column mapping)
        rolls the logical schema back too, so the manifest's
        name-carrying fields (keys, identity, cluster_by, bloom sizing,
        stats, declared order) translate BACK through the rewound event
        suffix — otherwise a later upsert would join on a key name the
        restored table no longer has, and an identity insert would miss
        the restored high-water mark and re-issue ids (r14 review)."""
        spec = self.specs[name]
        if not spec.versioned:
            raise ValueError(f"table {name} is not versioned")
        with self._lock(name):
            from polars_lake_spark.snapshots import (
                event_suffix,
                reverse_names,
            )

            store = self._snapstore(name)
            past = store.load(version)
            cur = store.load()
            ev_past = (past.meta or {}).get("schema_events") or []
            ev_cur = (cur.meta or {}).get("schema_events") or []
            suffix = event_suffix(ev_past, ev_cur)
            if suffix is None:
                raise ValueError(
                    f"restore({name}, {version}): the target's schema-"
                    "event log is not an ancestor of the current one "
                    "(nested restores around column DDL) — restore to "
                    "an intermediate version first"
                )
            store.restore(version)
            if suffix:

                def back(n):
                    return reverse_names([n], suffix)[0]

                spec.schema_json = past.schema_json
                spec.keys = [back(k) for k in spec.keys]
                spec.identity = {
                    back(c): d for c, d in spec.identity.items()
                }
                spec.cluster_by = [back(c) for c in spec.cluster_by]
                spec.bloom_filter_cols = {
                    back(c): v for c, v in spec.bloom_filter_cols.items()
                }
                if spec.stats and spec.stats.get("columns"):
                    spec.stats = {
                        **spec.stats,
                        "columns": {
                            back(c): v
                            for c, v in spec.stats["columns"].items()
                        },
                    }
                if past.schema_json:
                    restored = {
                        f["name"].lower(): f["name"]
                        for f in json.loads(past.schema_json)["fields"]
                    }
                    # declared order: translate renames back, drop names
                    # the target version doesn't have (added later), and
                    # append target columns missing from the list
                    # (dropped later) in schema order
                    decl = [
                        back(c)
                        for c in spec.declared_columns
                        if back(c).lower() in restored
                    ]
                    have = {c.lower() for c in decl}
                    decl += [
                        n
                        for low, n in restored.items()
                        if low not in have
                    ]
                    spec.declared_columns = decl if spec.declared_columns else []
                self._write_manifest(spec)
            self._register(name)

    def vacuum(
        self, name: str, keep_last: int = 1, dry_run: bool = False
    ) -> dict:
        """Delete write dirs unreferenced by the newest ``keep_last``
        snapshots (and the expired snapshot manifests); ``dry_run``
        only reports them."""
        if not self.specs[name].versioned:
            raise ValueError(f"table {name} is not versioned")
        with self._lock(name):
            return self._snapstore(name).vacuum(keep_last, dry_run=dry_run)

    def changes(
        self,
        name: str,
        from_version: int,
        to_version: int | None = None,
        keys: list[str] | None = None,
        *,
        preimages: bool = False,
    ) -> DataFrame:
        """Change feed between two snapshots (Delta CDF analog): one row
        per key whose content differs, tagged ``_change_type`` in
        {insert, update, delete}.  Computed as a keyed full-outer diff of
        the two version reads — both sides are explicit file-list scans,
        so the cost is two scans + one shuffle on the keys regardless of
        how many intermediate versions exist.

        ``preimages=True`` emits Delta CDF's full four-type feed — updates
        become TWO rows (update_preimage with the old values,
        update_postimage with the new) via a map-side explode over the
        same single join, which is what makes downstream consumers able to
        SUBTRACT old contributions (incremental aggregate maintenance).

        Contract: the diff is KEYED — it assumes at most one row per key
        per version, i.e. the table's key-uniqueness invariant (which
        upsert/merge/delete maintain) holds. Appending duplicate keys via
        insert() breaks that invariant and yields pairwise-join change
        rows; refresh_aggregate would silently mis-apply them."""
        spec = self.specs[name]
        if not spec.versioned:
            raise ValueError(f"table {name} is not versioned")
        keys = list(keys or spec.keys)
        if not keys:
            raise ValueError(f"no keys for table {name}")
        old = self.table(name, from_version)
        new = self.table(name, to_version)
        # Metadata-only column DDL between the two versions (r14 column
        # mapping): a rename is the SAME logical column under a new name
        # — without translation every row would diff as an update (old.v
        # vs new.val) and poison incremental consumers.  The event log
        # only appends (rewrites carry it), so the newer log extends the
        # older's and replaying the suffix onto the OLD read aligns the
        # names.  The one rewind — a RESTORE past a column DDL — makes
        # the diff a schema change: raise rather than emit a silent
        # mixed-schema feed (split the range at the restore).
        from polars_lake_spark.snapshots import (
            apply_event_suffix,
            event_suffix,
        )

        store = self._snapstore(name)
        ev_old = (store.load(from_version).meta or {}).get(
            "schema_events"
        ) or []
        ev_new = (store.load(to_version).meta or {}).get(
            "schema_events"
        ) or []
        suffix = event_suffix(ev_old, ev_new)
        if suffix is None:
            raise ValueError(
                f"changes({name}, {from_version}, {to_version}): the "
                "range crosses a RESTORE that rewound metadata-only "
                "column DDL — the versions speak different schemas; "
                "split the range at the restore commit"
            )
        old = apply_event_suffix(old, suffix)
        # keys are spec-current names; translate to the to-version's
        # era when later DDL renamed one (see table_changes)
        keys = self._keys_at(name, keys, ev_new)
        return self._keyed_diff(old, new, keys, preimages=preimages)

    def _keys_at(
        self, name: str, keys: list[str], ev_at: list[dict]
    ) -> list[str]:
        """``spec.keys`` (current names) translated back to the names an
        EARLIER version used, when metadata-only renames happened after
        it — the latest event log extends ``ev_at``'s, so the reverse
        walk over the suffix recovers the era names; on the (restore)
        rewind case the names are returned unchanged and the caller's
        join fails loudly rather than silently mis-keying."""
        from polars_lake_spark.snapshots import event_suffix, reverse_names

        ev_cur = (
            (self._snapstore(name).load().meta or {}).get("schema_events")
            or []
        )
        suffix = event_suffix(ev_at, ev_cur)
        if not suffix:
            return keys
        return reverse_names(keys, suffix)

    @staticmethod
    def _keyed_diff(
        old: DataFrame, new: DataFrame, keys: list[str], preimages: bool = False
    ) -> DataFrame:
        """The keyed full-outer diff behind :meth:`changes` (and the
        per-version :meth:`table_changes` feed): one row per key whose
        content differs, tagged ``_change_type``; ``preimages`` explodes
        updates into pre/post image pairs (Delta CDF's four-type feed)."""
        # diff over the union of columns; version-specific columns (schema
        # evolution) compare as NULL on the missing side
        cols = list(dict.fromkeys(old.columns + new.columns))
        o = old.select(
            *[
                (F.col(c) if c in old.columns else F.lit(None)).alias(c)
                for c in cols
            ]
        ).alias("o")
        n = new.select(
            *[
                (F.col(c) if c in new.columns else F.lit(None)).alias(c)
                for c in cols
            ]
        ).alias("n")
        o = o.withColumn("_o_present", F.lit(True)).alias("o")
        n = n.withColumn("_n_present", F.lit(True)).alias("n")
        cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
        joined = o.join(n, cond, "full_outer")
        non_keys = [c for c in cols if c not in keys]
        o_first_key = F.col("o._o_present")
        n_first_key = F.col("n._n_present")
        same = F.struct(*[F.col(f"o.{c}") for c in non_keys]).eqNullSafe(
            F.struct(*[F.col(f"n.{c}") for c in non_keys])
        )
        change = (
            F.when(o_first_key.isNull(), F.lit("insert"))
            .when(n_first_key.isNull(), F.lit("delete"))
            .when(~same, F.lit("update"))
        )
        key_cols = [
            F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in keys
        ]
        if preimages:
            is_insert = o_first_key.isNull()
            is_delete = n_first_key.isNull()
            old_img = F.struct(
                *[F.col(f"o.{c}").alias(c) for c in non_keys],
                F.when(is_delete, F.lit("delete"))
                .when(~is_insert & ~is_delete & ~same, F.lit("update_preimage"))
                .alias("_change_type"),
            )
            new_img = F.struct(
                *[F.col(f"n.{c}").alias(c) for c in non_keys],
                F.when(is_insert, F.lit("insert"))
                .when(~is_insert & ~is_delete & ~same, F.lit("update_postimage"))
                .alias("_change_type"),
            )
            exploded = joined.select(
                *key_cols, F.explode(F.array(old_img, new_img)).alias("_img")
            )
            return exploded.filter(
                F.col("_img._change_type").isNotNull()
            ).select(
                *keys,
                *[F.col(f"_img.{c}").alias(c) for c in non_keys],
                F.col("_img._change_type").alias("_change_type"),
            )
        out_cols = key_cols + [
            # deleted rows surface their OLD values; inserts/updates the new
            F.when(n_first_key.isNull(), F.col(f"o.{c}"))
            .otherwise(F.col(f"n.{c}"))
            .alias(c)
            for c in non_keys
        ]
        return (
            joined.withColumn("_change_type", change)
            .filter(F.col("_change_type").isNotNull())
            .select(*out_cols, "_change_type")
        )

    def table_changes(
        self,
        name: str,
        from_version: int,
        to_version: int | None = None,
        *,
        preimages: bool = False,
    ) -> DataFrame:
        """PER-VERSION change feed (Delta CDF ``readChangeFeed`` analog):
        one row per changed row per COMMIT in ``(from_version,
        to_version]``, tagged ``_change_type`` + ``_commit_version`` —
        unlike :meth:`changes`, which collapses the whole range into one
        net diff, this preserves commit granularity so a downstream
        consumer can apply (or audit) each transaction separately.

        100 TB design — the cost is proportional to what each commit
        CHANGED, not to the table:

        * ``append`` commits (no DV change) read ONLY their new write
          dirs — the rows ARE the inserts, no diff, no old-data scan
          (plan-gated in tests via ``inputFiles``);
        * ``replace`` commits (upsert/merge/partition delete) run the
          keyed diff over ONLY the partitions whose write-dir lists
          changed — untouched partitions are never read;
        * metadata-only commits (``alter``, ``dv_compact``) emit
          nothing without touching data;
        * DV deletes, restores, and full rewrites fall back to the
          keyed diff of the two versions (their blast radius is not
          derivable from the mapping alone).

        Schema events between the versions align exactly as in
        :meth:`changes` (a rename is metadata, never a row change).
        Exactly-once downstream delivery composes with the existing txn
        watermarks: apply each batch with ``insert(txn=(app,
        to_version))`` and replays skip."""
        from functools import reduce as _reduce

        from polars_lake_spark.snapshots import (
            apply_event_suffix as _apply_event_suffix,
        )
        from polars_lake_spark.snapshots import event_suffix as _event_suffix

        spec = self.specs[name]
        if not spec.versioned:
            raise ValueError(f"table {name} is not versioned")
        keys = list(spec.keys)
        if not keys:
            raise ValueError(f"no keys for table {name}")
        store = self._snapstore(name)
        to = to_version if to_version is not None else store.latest_version()
        frames = []
        if from_version == 0:
            # full-history feed: the initial snapshot's rows surface as
            # version-1 inserts (Delta's startingVersion=0)
            from polars_lake_spark.snapshots import Snapshot as _Snap

            first = store.load(1)
            prev = _Snap(
                version=0, op="empty", ts_ns=first.ts_ns,
                schema_json=first.schema_json, mapping={}, meta=None,
            )
        else:
            prev = store.load(from_version)
        ev_to = (store.load(to).meta or {}).get("schema_events") or []
        # spec.keys are CURRENT names; later metadata renames mean the
        # to-version frames use earlier era names — join on those
        keys = self._keys_at(name, keys, ev_to)
        from polars_lake_spark.snapshots import reverse_names as _rev_names

        for v in range(from_version + 1, to + 1):
            snap = store.load(v)
            # the whole feed speaks the END version's logical schema: a
            # commit from before a metadata-only rename/drop aligns
            # forward through the event-log suffix (Delta CDF's
            # column-mapping rule); a RESTORE that rewound the log
            # inside the range is a schema change — raise, never emit a
            # silent mixed-schema feed.  The join keys likewise
            # translate back to THIS version's era names.
            ev_v = (snap.meta or {}).get("schema_events") or []
            suffix = _event_suffix(ev_v, ev_to)
            if suffix is None:
                raise ValueError(
                    f"table_changes({name}): version {v} speaks a "
                    "different schema than the range end — the range "
                    "crosses a RESTORE that rewound column DDL; "
                    "split it at the restore commit"
                )
            step = self._version_delta(
                store, prev, snap, _rev_names(keys, suffix), preimages
            )
            if step is not None:
                step = _apply_event_suffix(step, suffix)
                frames.append(
                    step.withColumn(
                        "_commit_version", F.lit(v).cast("bigint")
                    )
                )
            prev = snap
        if not frames:
            empty = self.table(name, to).limit(0)
            return empty.withColumns(
                {
                    "_change_type": F.lit(None).cast("string"),
                    "_commit_version": F.lit(None).cast("bigint"),
                }
            )
        return _reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )

    def _version_delta(
        self, store, prev, snap, keys: list[str], preimages: bool
    ) -> DataFrame | None:
        """One commit's change rows (without ``_commit_version``), or
        None for metadata-only commits — see :meth:`table_changes` for
        the fast-path taxonomy."""
        from dataclasses import replace as _dc_replace

        op = snap.op
        if op == "alter" or op == "dv_compact":
            return None  # metadata-only: no logical rows changed
        dv_prev = (prev.meta or {}).get("dv") or []
        dv_now = (snap.meta or {}).get("dv") or []
        if op in ("append", "create") and dv_prev == dv_now:
            # fast path: the new dirs' rows ARE the inserts (strip the
            # unchanged DV refs — they only name pre-existing files)
            added = {}
            for p, ws in snap.mapping.items():
                new_ws = [w for w in ws if w not in (prev.mapping.get(p) or [])]
                if new_ws:
                    added[p] = new_ws
            if not added:
                return None
            syn = _dc_replace(
                snap,
                mapping=added,
                meta={
                    k: v
                    for k, v in (snap.meta or {}).items()
                    if k not in ("dv", "dv_rows")
                },
            )
            df = store.read(self.spark, snap=syn)
            return df.withColumn("_change_type", F.lit("insert"))
        # keyed diff — partition-scoped when the mapping localizes the
        # change and DVs are untouched; full otherwise
        if dv_prev == dv_now:
            allp = set(prev.mapping) | set(snap.mapping)
            changed = {
                p
                for p in allp
                if (prev.mapping.get(p) or []) != (snap.mapping.get(p) or [])
            }
            old_syn = _dc_replace(
                prev,
                mapping={p: prev.mapping[p] for p in changed & set(prev.mapping)},
            )
            new_syn = _dc_replace(
                snap,
                mapping={p: snap.mapping[p] for p in changed & set(snap.mapping)},
            )
        else:
            old_syn, new_syn = prev, snap
        old = store.read(self.spark, snap=old_syn)
        new = store.read(self.spark, snap=new_syn)
        # metadata-only column DDL between the versions: replay the
        # event-log suffix onto the OLD side (same rule as changes())
        ev_old = (prev.meta or {}).get("schema_events") or []
        ev_new = (snap.meta or {}).get("schema_events") or []
        from polars_lake_spark.snapshots import (
            apply_event_suffix,
            event_suffix,
        )

        suffix = event_suffix(ev_old, ev_new)
        if suffix is None:
            raise ValueError(
                f"table_changes: the step to version {snap.version} "
                "rewinds metadata-only column DDL (RESTORE) — the two "
                "versions speak different schemas; split the feed range "
                "at the restore commit"
            )
        old = apply_event_suffix(old, suffix)
        return self._keyed_diff(old, new, keys, preimages=preimages)

    # ------------------------------------------- incremental aggregates
    AGGDEF = "_aggdef.json"

    def create_aggregate(
        self,
        agg_name: str,
        src: str,
        group_by: list[str],
        sum_cols: dict[str, str],
        count_col: str = "n_rows",
    ) -> None:
        """Materialize an incrementally-maintainable sum/count aggregate
        over a versioned source table (materialized-view maintenance, the
        Delta CDF consumer pattern).  The sidecar records which source
        snapshot the aggregate reflects; refresh_aggregate() advances it
        by applying ONLY the change feed — at 100 TB a refresh costs two
        version scans + one grouped delta, never a full recompute chain,
        and the delta itself is partition-prunable like any CDC read."""
        if src not in self.specs:
            self.load_table(src)
        if not self.specs[src].versioned:
            raise ValueError(f"aggregate source must be versioned: {src}")
        if self.root is None:
            raise ValueError("aggregates need a persisted engine root")
        src_v = self._snapstore(src).latest_version()
        df = self.table(src).groupBy(*group_by).agg(
            *[F.sum(c).cast("double").alias(out) for out, c in sum_cols.items()],
            F.count(F.lit(1)).alias(count_col),
        )
        self.create_table(agg_name, df, keys=list(group_by), versioned=True)
        with open(os.path.join(self._path(agg_name), self.AGGDEF), "w") as f:
            json.dump(
                {
                    "src": src,
                    "group_by": list(group_by),
                    "sum_cols": dict(sum_cols),
                    "count_col": count_col,
                    "applied_version": src_v,
                },
                f,
            )

    def refresh_aggregate(self, agg_name: str) -> dict:
        """Advance the aggregate to the source's latest snapshot by
        applying signed CDF contributions: insert/update_postimage add,
        delete/update_preimage subtract — group-key changes in an update
        move mass between groups for free (the preimage subtracts from
        the old group, the postimage adds to the new). Groups whose row
        count reaches zero are dropped. Commits one snapshot on the
        aggregate; a no-op when already current.

        Durability: the applied source version is recorded INSIDE the
        aggregate's snapshot commit (``meta.applied_version``) — progress
        and data are published by the same atomic manifest rename, so a
        crash at any point leaves either the old state (refresh re-runs,
        correctly) or the new state (refresh is a no-op). No
        marker-after-commit window exists. The sidecar only stores the
        aggregate DEFINITION plus the create-time version."""
        with open(os.path.join(self._path(agg_name), self.AGGDEF)) as f:
            d = json.load(f)
        src = d["src"]
        applied = self._agg_applied_version(agg_name, d)
        group_by, sum_cols, count_col = d["group_by"], d["sum_cols"], d["count_col"]
        latest = self._snapstore(src).latest_version()
        if latest == applied:
            return {"applied_version": applied, "refreshed": False}
        cdc = self.changes(src, applied, latest, preimages=True)
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        delta = cdc.groupBy(*group_by).agg(
            *[
                F.sum(sign * F.col(c)).cast("double").alias(f"__d_{out}")
                for out, c in sum_cols.items()
            ],
            F.sum(sign).alias("__d_n"),
        )
        spec = self.specs[agg_name]
        with self._lock(agg_name):
            cur = self.table(agg_name)
            joined = cur.join(delta, on=list(group_by), how="full_outer")
            merged = joined.select(
                *group_by,
                *[
                    (
                        F.coalesce(F.col(out), F.lit(0.0))
                        + F.coalesce(F.col(f"__d_{out}"), F.lit(0.0))
                    ).alias(out)
                    for out in sum_cols
                ],
                (
                    F.coalesce(F.col(count_col), F.lit(0))
                    + F.coalesce(F.col("__d_n"), F.lit(0))
                ).alias(count_col),
            ).filter(F.col(count_col) > 0)
            self._write_versioned(
                merged, spec, op="rewrite", meta={"applied_version": latest, "src": src}
            )
            self._register(agg_name)
        return {"applied_version": latest, "refreshed": True}

    def _agg_applied_version(self, agg_name: str, sidecar: dict) -> int:
        """The source version the aggregate currently reflects, read from
        the snapshot chain's commit metadata (atomic with the data it
        describes). Walk newest → oldest: the first commit carrying
        ``meta.applied_version`` wins (content-preserving ops like
        compact commit without meta and are skipped over), but the walk
        STOPS at a restore commit — restore() carries the restored
        version's meta, so a meta-less restore means the data reflects
        the create-time state and any newer pre-restore marker must NOT
        be trusted. Falls back to the sidecar's create-time value."""
        store = self._snapstore(agg_name)
        for v in reversed(store.versions()):
            snap = store.load(v)
            if snap.meta and "applied_version" in snap.meta:
                return snap.meta["applied_version"]
            if snap.op.startswith("restore_"):
                break  # rolled back to a pre-refresh state
        return sidecar["applied_version"]

    SKETCHDEF = "_sketchdef.json"

    def create_sketch_rollup(
        self,
        rollup_name: str,
        src: str,
        segment_cols: list[str],
        key_col: str,
        lgk: int = 12,
    ) -> None:
        """Materialize a per-segment HLL sketch rollup over a versioned
        source: one row per segment carrying a Datasketches-HLL of
        ``key_col`` plus the segment's row count.

        This is how distinct-count questions over ARBITRARY segment
        subsets get answered at 100 TB: `approx_distinct_over` unions
        the matching sketch rows (associative, bytes-per-segment cost)
        instead of rescanning the source. `refresh_sketch_rollup`
        maintains it from the change feed."""
        if src not in self.specs:
            self.load_table(src)
        if not self.specs[src].versioned:
            raise ValueError(f"sketch rollup source must be versioned: {src}")
        if self.root is None:
            raise ValueError("sketch rollups need a persisted engine root")
        src_v = self._snapstore(src).latest_version()
        # pinned read: a concurrent commit after the version capture must
        # not leak into a rollup stamped applied_version=src_v
        df = (
            self.table(src, version=src_v)
            .groupBy(*segment_cols)
            .agg(
                F.hll_sketch_agg(key_col, F.lit(lgk)).alias("sketch"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
        self.create_table(rollup_name, df, keys=list(segment_cols), versioned=True)
        with open(os.path.join(self._path(rollup_name), self.SKETCHDEF), "w") as f:
            json.dump(
                {
                    "src": src,
                    "segment_cols": list(segment_cols),
                    "key_col": key_col,
                    "lgk": lgk,
                    "applied_version": src_v,
                },
                f,
            )

    def refresh_sketch_rollup(self, rollup_name: str) -> dict:
        """Advance the rollup to the source's latest snapshot.

        Appended rows sketch ONLY their own slice and hll_union into the
        existing segment rows — refresh cost tracks the appended data.
        HLL cannot subtract, so segments touched by a delete or update
        are REBUILT from the current source (still pruned to exactly
        those segments); pure-append feeds — the normal event-log shape —
        never rebuild anything. The applied source version commits inside
        the rollup's snapshot meta (atomic with the data), exactly like
        refresh_aggregate."""
        with open(os.path.join(self._path(rollup_name), self.SKETCHDEF)) as f:
            d = json.load(f)
        src, seg, key_col, lgk = d["src"], d["segment_cols"], d["key_col"], d["lgk"]
        applied = self._agg_applied_version(rollup_name, d)
        latest = self._snapstore(src).latest_version()
        if latest == applied:
            return {"applied_version": applied, "refreshed": False}
        # preimages: an update that MOVES a row between segments must mark
        # BOTH segments destructive (the old one lost a row HLL can't
        # forget).
        cdc = self.changes(src, applied, latest, preimages=True)
        # NULL is a legal segment value (changes() itself matches keys
        # null-safely) — every segment join here must be <=> not =, and
        # the join side carries RENAMED columns so no self-join lineage
        # ambiguity can arise (destructive and the insert slice share the
        # cdc plan).
        dst = (
            cdc.filter(F.col("_change_type") != "insert")
            .select(*[F.col(c).alias(f"__d_{c}") for c in seg])
            .distinct()
        )

        def null_safe(prefix):
            import functools
            import operator

            return functools.reduce(
                operator.and_,
                [F.col(c).eqNullSafe(F.col(f"{prefix}{c}")) for c in seg],
            )

        inserts = cdc.filter(F.col("_change_type") == "insert").join(
            F.broadcast(dst), null_safe("__d_"), "left_anti"
        )
        ins_sk = inserts.groupBy(*seg).agg(
            F.hll_sketch_agg(key_col, F.lit(lgk)).alias("__sk"),
            F.count(F.lit(1)).alias("__n"),
        )
        # pinned read (the applied_version contract): a commit landing
        # after the latest_version() capture must not leak into this
        # refresh — its rows arrive via the NEXT change feed.
        rebuilt = (
            self.table(src, version=latest)
            .join(F.broadcast(dst), null_safe("__d_"), "left_semi")
            .groupBy(*seg)
            .agg(
                F.hll_sketch_agg(key_col, F.lit(lgk)).alias("sketch"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )
        spec = self.specs[rollup_name]
        with self._lock(rollup_name):
            cur = self.table(rollup_name).join(
                F.broadcast(dst), null_safe("__d_"), "left_anti"
            )
            ins2 = ins_sk.select(
                *[F.col(c).alias(f"__i_{c}") for c in seg], "__sk", "__n"
            )
            merged = cur.join(ins2, null_safe("__i_"), "full_outer").select(
                *[
                    F.coalesce(F.col(c), F.col(f"__i_{c}")).alias(c)
                    for c in seg
                ],
                F.when(F.col("sketch").isNull(), F.col("__sk"))
                .when(F.col("__sk").isNull(), F.col("sketch"))
                .otherwise(F.hll_union("sketch", "__sk"))
                .alias("sketch"),
                (
                    F.coalesce(F.col("n_rows"), F.lit(0))
                    + F.coalesce(F.col("__n"), F.lit(0))
                ).alias("n_rows"),
            )
            merged = merged.unionByName(rebuilt)
            self._write_versioned(
                merged, spec, op="rewrite",
                meta={"applied_version": latest, "src": src},
            )
            self._register(rollup_name)
        return {"applied_version": latest, "refreshed": True}

    def approx_distinct_over(
        self, rollup_name: str, predicate: str | None = None
    ) -> DataFrame:
        """One-row (approx_distinct, rows) for the segments matching the
        SQL ``predicate`` (None = all): a union of sketch ROWS — the
        source is never touched."""
        df = self.table(rollup_name)
        if predicate:
            df = df.filter(predicate)
        return df.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch"))
            .cast("bigint")
            .alias("approx_distinct"),
            F.coalesce(F.sum("n_rows"), F.lit(0)).alias("rows"),
        )

    def tables(self, schema: str | None = None) -> list[str]:
        """SHOW TABLES analog (SURVEY §2.c DDL-ish row); ``schema``
        filters to one namespace level (SHOW TABLES IN schema)."""
        if schema is None:
            return sorted(self.specs)
        return sorted(n for n in self.specs if n.startswith(schema + "."))

    def drop_table(self, name: str, *, delete_files: bool = False) -> None:
        """DROP TABLE analog; optionally removes the storage directory
        (both the real location and, for offloaded tables, the engine-root
        breadcrumb)."""
        # resolve paths BEFORE dropping the spec (offloaded tables route
        # _path through spec.root_override)
        paths = []
        if delete_files and self.root is not None:
            home = os.path.join(self.root, name)
            if name in self.specs:
                paths.append(self._path(name))
            else:
                # never-loaded offloaded table: follow the breadcrumb so
                # the real data dir is removed too, not just the pointer
                ppath = os.path.join(home, POINTER)
                if os.path.isfile(ppath):
                    with open(ppath) as f:
                        paths.append(
                            os.path.join(json.load(f)["root_override"], name)
                        )
            if home not in paths:
                paths.append(home)
        self.specs.pop(name, None)
        self._mem.pop(name, None)
        self._pending_merges.pop(name, None)
        self.spark.catalog.dropTempView(view_key(name))
        if paths:
            import shutil

            for p in paths:
                shutil.rmtree(p, ignore_errors=True)

    def create_table_as(self, name: str, query: str, **kwargs) -> TableSpec:
        """CREATE TABLE AS SELECT (SURVEY §2.c DDL-ish row)."""
        return self.create_table(name, self.sql(query), **kwargs)

    # ------------------------------------------------- column DDL (mapping)

    def _column_ddl_spec(self, name: str) -> TableSpec:
        """The spec, when metadata-only column DDL applies: versioned
        parquet without native bucketing (the catalog entry pins column
        names Spark-side).  Unversioned tables have no snapshot to hang
        an event log on — their ALTER path rewrites (dml.py)."""
        if name not in self.specs and name not in self._mem:
            self.load_table(name)
        if name in self._mem:
            raise ValueError(
                f"metadata-only column DDL needs a persisted versioned "
                f"table; {name!r} is in-memory"
            )
        spec = self.specs[name]
        if not (
            spec.versioned
            and spec.format == "parquet"
            and not spec.native_bucketing
        ):
            raise ValueError(
                f"metadata-only column DDL needs a versioned parquet "
                f"table (got {name!r}: versioned={spec.versioned}, "
                f"format={spec.format}, native_bucketing="
                f"{spec.native_bucketing}); unversioned tables rewrite "
                "through the SQL ALTER path"
            )
        return spec

    def _column_ddl_guard(
        self, spec: TableSpec, cols: set[str], verb: str, keys_ok: bool = False
    ) -> None:
        """Refuse column DDL that would break physical layout or recorded
        semantics, on the metadata-only path and the unversioned rewrite
        path alike: partition/bucket columns name directories, keys define row
        identity (renames may carry them, `keys_ok`), and CHECK
        constraints / expectations / generated-column formulas hold SQL
        text that would dangle."""
        layout = set(spec.partition_by) | set(spec.bucket_by)
        if spec.bucket_by:
            layout.add(BUCKET_COL)
        bad = sorted(c for c in cols if c in layout)
        if bad:
            raise ValueError(
                f"ALTER TABLE {spec.name}: cannot {verb} layout "
                f"(partition/bucket) columns {bad}"
            )
        low = {c.lower() for c in cols}
        if not keys_ok:  # renames carry identity like they carry keys
            badi = sorted(c for c in cols if c.lower() in
                          {i.lower() for i in spec.identity})
            if badi:
                raise ValueError(
                    f"ALTER TABLE {spec.name}: cannot {verb} IDENTITY "
                    f"columns {badi}"
                )
        if not keys_ok:
            badk = sorted(c for c in cols if c in spec.keys)
            if badk:
                raise ValueError(
                    f"ALTER TABLE {spec.name}: cannot {verb} upsert key "
                    f"columns {badk}"
                )
        # generated first: a generated column always carries an auto
        # CHECK constraint too, and "this is a GENERATED column" is the
        # actionable message
        for gcol, formula in spec.generated.items():
            if gcol.lower() in low:
                raise ValueError(
                    f"ALTER TABLE {spec.name}: {gcol!r} is a GENERATED "
                    f"column; cannot {verb} it (redefine the table)"
                )
            hit = sorted(
                sqltree.referenced_columns(self.spark, formula, candidates=cols)
            )
            if hit:
                raise ValueError(
                    f"ALTER TABLE {spec.name}: columns {hit} are formula "
                    f"sources of GENERATED column {gcol!r} ({formula}); "
                    f"cannot {verb} them"
                )
        for kind, entries in (
            ("constraint", spec.constraints),
            ("expectation", {k: v["expr"] for k, v in spec.expectations.items()}),
        ):
            for ename, expr in entries.items():
                hit = sorted(
                    sqltree.referenced_columns(self.spark, expr, candidates=cols)
                )
                if hit:
                    raise ValueError(
                        f"ALTER TABLE {spec.name}: columns {hit} are "
                        f"referenced by {kind} {ename!r} ({expr}); drop "
                        "it first"
                    )

    def _schema_fields(self, spec: TableSpec, base=None) -> dict:
        """The CURRENT logical schema for column DDL — the latest
        snapshot's, not the spec's: a RESTORE rolls the snapshot schema
        back (with its era names) without rewriting the manifest, and
        DDL must validate against what a read actually returns."""
        sj = (base or self._snapstore(spec.name).load()).schema_json
        if sj:
            return json.loads(sj)
        if not spec.schema_json:
            spec.schema_json = self.table(spec.name).schema.json()
        return json.loads(spec.schema_json)

    def rename_column(self, name: str, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN as PURE METADATA (Delta
        column-mapping analog): one snapshot commit records the new
        logical schema plus a rename event — zero data files move, so a
        100 TB table renames in milliseconds.  Old write dirs keep their
        era-named files; ``SnapshotStore.read`` replays the events newer
        than each dir onto its scan, and zone-map probes reverse-
        translate, so file skipping on the renamed column keeps working
        for pre-rename files.  Time travel shows each version under its
        own names; RESTORE carries the event log with the mapping.

        Upsert keys rename with the column (row identity unchanged),
        EXCEPT when CDC companion state exists (`{t}_cdc_tombstones` /
        `{t}_cdc_meta` store rows under the key's current name — a
        metadata rename would silently orphan their stale-filter state).
        Partition/bucket columns refuse (directory names are physical);
        constraint/expectation/generated-referenced columns refuse (SQL
        text would dangle).  Versioned parquet tables only — the
        unversioned ALTER path rewrites instead (dml.py)."""
        spec = self._column_ddl_spec(name)
        with self._lock(name):
            store = self._snapstore(name)
            base = store.load()
            fields = self._schema_fields(spec, base)
            have = {f["name"].lower(): f["name"] for f in fields["fields"]}
            if old.lower() not in have:
                raise ValueError(f"ALTER TABLE {name}: no column {old!r}")
            old = have[old.lower()]
            if new.lower() in have:
                raise ValueError(
                    f"ALTER TABLE {name}: column {new!r} exists"
                )
            if not re.fullmatch(r"[A-Za-z_]\w*", new) or new.startswith("__"):
                raise ValueError(
                    f"ALTER TABLE {name}: invalid column name {new!r} "
                    "(identifiers only; __ prefix is reserved)"
                )
            self._column_ddl_guard(spec, {old}, "RENAME COLUMN", keys_ok=True)
            # probe DISK, not just loaded specs: a fresh engine process
            # hasn't lazily loaded the companions yet, and an unguarded
            # key rename would orphan their stale-filter state
            if old in spec.keys and any(
                f"{name}{suf}" in self.specs
                or f"{name}{suf}" in self._mem
                or (
                    self.root is not None
                    and os.path.isfile(
                        os.path.join(self.root, f"{name}{suf}", MANIFEST)
                    )
                )
                for suf in ("_cdc_tombstones", "_cdc_meta")
            ):
                raise ValueError(
                    f"ALTER TABLE {name}: key column {old!r} has CDC "
                    "companion state recorded under its current name; "
                    "key renames with live CDC state are refused"
                )
            schema_json = json.dumps(
                {
                    **fields,
                    "fields": [
                        {**f, "name": new} if f["name"] == old else f
                        for f in fields["fields"]
                    ],
                }
            )
            # an identity column's high-water mark is keyed by name in
            # the snapshot meta — remap it WITH the rename or the next
            # insert would fall back to the declared start and re-issue
            # already-used ids
            id_meta = None
            hwm = (base.meta or {}).get("identity") or {}
            if old in hwm:
                id_meta = {
                    "identity": {
                        (new if k == old else k): v for k, v in hwm.items()
                    }
                }
            store.commit_schema_change(
                schema_json,
                base=base,
                events=[{"op": "rename", "from": old, "to": new}],
                meta=id_meta,
            )
            # spec mutations only after the commit landed — a failed
            # commit leaves the manifest untouched
            spec.schema_json = schema_json
            spec.keys = [new if k == old else k for k in spec.keys]
            spec.identity = {
                (new if c == old else c): d for c, d in spec.identity.items()
            }
            spec.cluster_by = [new if c == old else c for c in spec.cluster_by]
            spec.declared_columns = [
                new if c.lower() == old.lower() else c
                for c in spec.declared_columns
            ]
            if old in spec.bloom_filter_cols:
                spec.bloom_filter_cols[new] = spec.bloom_filter_cols.pop(old)
            if spec.stats and old in (spec.stats.get("columns") or {}):
                cs = dict(spec.stats["columns"])
                cs[new] = cs.pop(old)
                spec.stats = {**spec.stats, "columns": cs}
            self._guard_mutable(name)
            self._write_manifest(spec)
            self._register(name)

    def drop_columns(self, name: str, cols: list[str]) -> None:
        """ALTER TABLE DROP COLUMN(S) as PURE METADATA (see
        ``rename_column``): the snapshot commit removes the columns from
        the logical schema and records drop events — data files keep the
        bytes (they age out as writes/compaction rewrite dirs), reads
        prune the columns per write dir, and a LATER re-ADD under the
        same name reads NULL from pre-drop files (the era translation
        refuses to let the dropped column's values or stats answer for
        the new one).  Layout/key/constraint-referenced columns refuse."""
        spec = self._column_ddl_spec(name)
        with self._lock(name):
            store = self._snapstore(name)
            base = store.load()
            fields = self._schema_fields(spec, base)
            have = {f["name"].lower(): f["name"] for f in fields["fields"]}
            missing = [c for c in cols if c.lower() not in have]
            if missing:
                raise ValueError(f"ALTER TABLE {name}: no columns {missing}")
            doomed = {have[c.lower()] for c in cols}
            if len(doomed) == len(fields["fields"]):
                raise ValueError(
                    f"ALTER TABLE {name}: cannot drop every column"
                )
            self._column_ddl_guard(spec, doomed, "DROP COLUMN")
            schema_json = json.dumps(
                {
                    **fields,
                    "fields": [
                        f for f in fields["fields"] if f["name"] not in doomed
                    ],
                }
            )
            store.commit_schema_change(
                schema_json,
                base=base,
                events=[{"op": "drop", "name": c} for c in sorted(doomed)],
            )
            spec.schema_json = schema_json
            spec.cluster_by = [c for c in spec.cluster_by if c not in doomed]
            spec.declared_columns = [
                c for c in spec.declared_columns if c not in doomed
            ]
            for c in doomed:
                spec.bloom_filter_cols.pop(c, None)
            if spec.stats and spec.stats.get("columns"):
                spec.stats = {
                    **spec.stats,
                    "columns": {
                        k: v
                        for k, v in spec.stats["columns"].items()
                        if k not in doomed
                    },
                }
            self._guard_mutable(name)
            self._write_manifest(spec)
            self._register(name)

    def add_column(self, name: str, col: str, coltype: str) -> None:
        """ALTER TABLE ADD COLUMN as PURE METADATA (see
        ``rename_column``): the snapshot commit appends the typed column
        to the logical schema — no NULL-filled rewrite; reads of dirs
        from before the add NULL-fill it, and the add event fences the
        column's era so a probe on it can never consult a same-named
        DROPPED column's old stats."""
        spec = self._column_ddl_spec(name)
        with self._lock(name):
            store = self._snapstore(name)
            base = store.load()
            fields = self._schema_fields(spec, base)
            have = {f["name"].lower() for f in fields["fields"]}
            if col.lower() in have:
                raise ValueError(f"ALTER TABLE {name}: column {col!r} exists")
            if not re.fullmatch(r"[A-Za-z_]\w*", col) or col.startswith("__"):
                raise ValueError(
                    f"ALTER TABLE {name}: invalid column name {col!r} "
                    "(identifiers only; __ prefix is reserved)"
                )
            # driver-side DDL-string parse via an empty frame — the same
            # types the SQL surface accepts, including nested/decimal
            new_field = json.loads(
                self.spark.createDataFrame([], f"`{col}` {coltype}")
                .schema.json()
            )["fields"][0]
            schema_json = json.dumps(
                {**fields, "fields": [*fields["fields"], new_field]}
            )
            store.commit_schema_change(
                schema_json,
                base=base,
                events=[{"op": "add", "name": col}],
            )
            spec.schema_json = schema_json
            if spec.declared_columns:
                spec.declared_columns = [*spec.declared_columns, col]
            self._guard_mutable(name)
            self._write_manifest(spec)
            self._register(name)

    # Order-preserving widenings whose parquet-encoded values and
    # zone-map stats stay valid unchanged (Delta type-widening set,
    # integer chain + float→double + decimal precision growth).
    # Schema-JSON type names (integer/long), not DDL names (int/bigint).
    _WIDENINGS = {
        ("byte", "short"), ("byte", "integer"), ("byte", "long"),
        ("short", "integer"), ("short", "long"),
        ("integer", "long"),
        ("float", "double"),
    }

    @classmethod
    def _is_widening(cls, frm: str, to: str) -> bool:
        if (frm, to) in cls._WIDENINGS:
            return True
        m1 = re.fullmatch(r"decimal\((\d+),(\d+)\)", frm)
        m2 = re.fullmatch(r"decimal\((\d+),(\d+)\)", to)
        if m1 and m2:
            # precision may grow; scale may grow by at most the
            # precision growth (integer digits never shrink)
            p1, s1, p2, s2 = map(int, m1.groups() + m2.groups())
            return p2 >= p1 and s2 >= s1 and (p2 - s2) >= (p1 - s1)
        return False

    def alter_column_type(self, name: str, col: str, newtype: str) -> None:
        """ALTER TABLE ALTER COLUMN TYPE as PURE METADATA (Delta type
        widening analog): only ORDER- and VALUE-preserving widenings
        (tinyint→…→bigint, float→double, decimal precision growth), so
        the bytes in every era's files and the min/max in every zone-map
        sidecar remain correct as-is — the read conforms each branch up
        to the committed type (union coercion + one cast), and probes
        need no translation (the era stats bound the same values).
        Narrowing or cross-family changes refuse — rewrite explicitly.
        Partition/bucket columns refuse: bucket routing hashes the TYPED
        value (Murmur3 of int 1 ≠ bigint 1) and partition dirs parse per
        declared type."""
        spec = self._column_ddl_spec(name)
        with self._lock(name):
            store = self._snapstore(name)
            base = store.load()
            fields = self._schema_fields(spec, base)
            have = {f["name"].lower(): f for f in fields["fields"]}
            if col.lower() not in have:
                raise ValueError(f"ALTER TABLE {name}: no column {col!r}")
            fld = have[col.lower()]
            col = fld["name"]
            new_field = json.loads(
                self.spark.createDataFrame([], f"`{col}` {newtype}")
                .schema.json()
            )["fields"][0]
            frm_s = (
                json.dumps(fld["type"])
                if not isinstance(fld["type"], str)
                else fld["type"]
            )
            to_s = (
                json.dumps(new_field["type"])
                if not isinstance(new_field["type"], str)
                else new_field["type"]
            )
            if frm_s == to_s:
                return  # already that type
            if not self._is_widening(frm_s, to_s):
                raise ValueError(
                    f"ALTER TABLE {name}: {col!r} {frm_s} → {to_s} is "
                    "not an order-preserving widening; rewrite the "
                    "table to change types"
                )
            layout = set(spec.partition_by) | set(spec.bucket_by)
            if col in layout:
                raise ValueError(
                    f"ALTER TABLE {name}: cannot widen layout "
                    f"(partition/bucket) column {col!r}"
                )
            schema_json = json.dumps(
                {
                    **fields,
                    "fields": [
                        {**f, "type": new_field["type"]}
                        if f["name"] == col
                        else f
                        for f in fields["fields"]
                    ],
                }
            )
            store.commit_schema_change(
                schema_json,
                base=base,
                events=[{"op": "retype", "name": col, "to": to_s}],
            )
            spec.schema_json = schema_json
            self._guard_mutable(name)
            self._write_manifest(spec)
            self._register(name)

    def rename_table(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME analog: a pure METADATA move — one
        ``os.rename`` of the table directory (snapshots, zone maps, DV
        sidecars, and data files all travel with it, since every
        internal reference is dir-relative), manifest re-stamped, views
        re-registered.  O(1) at any table size; this is what makes
        CREATE OR REPLACE's stage-then-swap failure-atomic without a
        second data pass.  Companion side tables (quarantine log, CDC
        tombstones/meta) rename along with their base — orphaning them
        under the old name would silently reset CDC stale-filter state
        (a late pre-delete change could resurrect a deleted row).
        Refuses offloaded (root_override) and native-bucketed tables —
        their physical location is entangled with the name in ways a
        dir move can't carry."""
        # validate the NEW name before ANY mutation: a rename that moves
        # the dir and only then fails view_key would strand the table
        # under an unregistrable name (r13 review)
        view_key(new)
        # same reserved-companion-namespace refusal as create_table: a
        # rename INTO {base}_quarantine / {base}_cdc_* of an existing
        # base would later be silently adopted as base's companion
        # (ADVICE r14 #4)
        for suf in RESERVED_SIDE_SUFFIXES:
            if new.endswith(suf):
                base = new[: -len(suf)]
                # probe DISK too: a fresh process may not have lazily
                # loaded the base yet (r14 review)
                if base and (
                    base in self.specs
                    or base in self._mem
                    or (
                        self.root is not None
                        and os.path.isfile(
                            os.path.join(self.root, base, MANIFEST)
                        )
                    )
                ):
                    raise ValueError(
                        f"rename_table: {new!r} is the reserved "
                        f"{suf.lstrip('_')} companion name of existing "
                        f"table {base!r}; pick another name"
                    )
        if old not in self.specs and old not in self._mem:
            self.load_table(old)
        spec = self.specs.get(old)
        if spec is not None and spec.native_bucketing:
            raise ValueError(
                f"rename_table: {old} uses native_bucketing (a Spark "
                "catalog table); recreate it instead"
            )
        if spec is not None and spec.root_override:
            raise ValueError(
                f"rename_table: {old} is offloaded (root_override); "
                "rename is not supported for offloaded tables"
            )
        if new in self.specs or new in self._mem:
            raise ValueError(f"rename_table: table {new} already exists")
        if self.root is not None and os.path.exists(
            os.path.join(self.root, new)
        ):
            raise ValueError(
                f"rename_table: directory for {new} already exists"
            )
        # companion side tables travel with the base — resolve them (and
        # refuse destination collisions) BEFORE the first move so a
        # half-renamed family can't happen on a validation error.  Probe
        # the DISK too: a fresh engine process hasn't loaded companion
        # manifests into specs, and an unloaded companion left behind
        # would silently reset CDC stale-filter state (r13 review #2)
        companions = []
        if spec is not None:
            for suf in RESERVED_SIDE_SUFFIXES:
                cname = f"{old}{suf}"
                if (
                    cname not in self.specs
                    and self.root is not None
                    and os.path.isfile(
                        os.path.join(self.root, cname, MANIFEST)
                    )
                ):
                    self.load_table(cname)
            for suf in RESERVED_SIDE_SUFFIXES:
                cspec = self.specs.get(f"{old}{suf}")
                if cspec is not None and cspec.side_table_of == old:
                    companions.append((f"{old}{suf}", f"{new}{suf}", cspec))
            for _, cnew, _c in companions:
                if cnew in self.specs or cnew in self._mem:
                    raise ValueError(
                        f"rename_table: companion target {cnew} already "
                        "exists"
                    )
                if self.root is not None and os.path.exists(
                    os.path.join(self.root, cnew)
                ):
                    raise ValueError(
                        f"rename_table: directory for companion {cnew} "
                        "already exists"
                    )
        with self._lock(old):
            moves = [(old, new, spec)] + companions
            done: list[tuple[str, str, object, bool]] = []
            try:
                for mold, mnew, mspec in moves:
                    was_mem = mold in self._mem
                    if was_mem:
                        self._mem[mnew] = self._mem.pop(mold)
                    elif self.root is not None:
                        os.rename(
                            os.path.join(self.root, mold),
                            os.path.join(self.root, mnew),
                        )
                    done.append((mold, mnew, mspec, was_mem))
                    if mspec is not None:
                        self.specs[mnew] = self.specs.pop(mold)
                        mspec.name = mnew
                        if mspec.side_table_of == old:
                            mspec.side_table_of = new
                        if mnew not in self._mem and self.root is not None:
                            self._write_manifest(mspec)
                    self._pending_merges.pop(mold, None)
                    self.spark.catalog.dropTempView(view_key(mold))
                    self._register(mnew)
            except Exception:
                # an os.rename failure mid-family (permissions, EXDEV)
                # must not leave the base renamed with a companion
                # orphaned under the old name — that is exactly the CDC
                # stale-filter reset the companion rename prevents
                # (ADVICE r14 #5). Best-effort reverse of every
                # completed move, then re-raise.
                for mold, mnew, mspec, was_mem in reversed(done):
                    try:
                        if was_mem:
                            self._mem[mold] = self._mem.pop(mnew)
                        elif self.root is not None:
                            os.rename(
                                os.path.join(self.root, mnew),
                                os.path.join(self.root, mold),
                            )
                        if mspec is not None and mnew in self.specs:
                            self.specs[mold] = self.specs.pop(mnew)
                            mspec.name = mold
                            if mspec.side_table_of == new:
                                mspec.side_table_of = old
                            if (
                                mold not in self._mem
                                and self.root is not None
                            ):
                                self._write_manifest(mspec)
                        self.spark.catalog.dropTempView(view_key(mnew))
                        self._register(mold)
                    except Exception:
                        pass  # best-effort: surface the ORIGINAL error
                raise

    def table_info(self, name: str) -> dict:
        """GetTableInfo (``/root/reference/src/server.rs:210-232``): rows,
        parts, column names + dtype strings. Row count is exact — the
        reference under-reports after lazy upserts
        (``/root/reference/src/dataset.rs:144``)."""
        df = self.table(name)
        spec = self.specs[name]
        n_parts = None
        if name not in self._mem and self.root is not None:
            n_parts = sum(
                len([f for f in files if f.endswith(".parquet")])
                for _, _, files in os.walk(self._path(name))
            )
        return {
            "name": name,
            "rows": df.count(),
            "parts": n_parts,
            "columns": df.columns,
            "dtypes": [t for _, t in df.dtypes],
            "partition_by": spec.partition_by,
            "bucket_by": spec.bucket_by,
            "keys": spec.keys,
            "version": (
                self._snapstore(name).latest_version() if spec.versioned else None
            ),
            # zone-map sidecar collection failures since this Engine
            # opened (0 = every write dir has skippable stats)
            "zonemap_errors": self.zonemap_errors.get(name, 0),
            # auto-compaction policy (None = manual maintenance) and the
            # last action it took this session, if it was for this table
            "auto_optimize": spec.auto_optimize,
            "last_auto_optimize": (
                self.last_auto_optimize
                if (self.last_auto_optimize or {}).get("table") == name
                else None
            ),
        }

    # ------------------------------------------------------ statistics
    _STATS_MINMAX_TYPES = (
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "string", "date", "boolean",
    )
    _FIXED_TYPE_BYTES = {
        "boolean": 1, "tinyint": 1, "smallint": 2, "int": 4,
        "bigint": 8, "float": 4, "double": 8, "date": 4,
    }

    @classmethod
    def _col_bytes(cls, col: str, dtype: str):
        """Per-row byte contribution of one column for the broadcast-size
        estimate: ``(fixed_bytes, avg_expr)`` — exactly one is non-None,
        or ``(None, None)`` when the type defeats estimation (nested
        maps/structs), which disables the auto-broadcast hint for the
        whole table rather than risk an unbounded broadcast."""
        if dtype in cls._FIXED_TYPE_BYTES:
            return cls._FIXED_TYPE_BYTES[dtype], None
        if dtype.startswith("timestamp"):
            return 8, None
        if dtype.startswith("decimal"):
            return 16, None
        if dtype in ("string", "binary"):
            return None, F.avg(F.coalesce(F.octet_length(F.col(col)), F.lit(0)))
        if dtype.startswith("array<"):
            elem = dtype[6:-1]
            if elem in cls._FIXED_TYPE_BYTES:
                w = cls._FIXED_TYPE_BYTES[elem]
                return None, F.avg(
                    F.coalesce(F.size(F.col(col)), F.lit(0)).cast("long") * w
                )
            if elem == "string":
                return None, F.avg(
                    F.coalesce(
                        F.aggregate(
                            F.col(col),
                            F.lit(0).cast("long"),
                            lambda a, x: a
                            + F.coalesce(F.octet_length(x), F.lit(0)),
                        ),
                        F.lit(0).cast("long"),
                    )
                )
        return None, None

    def analyze_table(self, name: str, columns: list[str] | None = None) -> dict:
        """ANALYZE TABLE COMPUTE STATISTICS FOR COLUMNS analog.

        ONE aggregation pass over the table computes row count plus
        per-column non-null count, approx NDV (HLL++), and min/max for
        orderable scalar types; the result is persisted in the manifest
        (``TableSpec.stats``) tagged with the snapshot version it was
        computed at, so a FRESH engine process can plan against it
        without touching the data. That is the point at 100 TB: the
        decision "is this dimension broadcastable" must not cost a scan
        per session. Single pass = one job; all column aggregates ride
        in the same partial-aggregation stage (no per-column scans).
        """
        spec = self.specs[name]
        df = self.table(name)
        dtypes = dict(df.dtypes)
        cols = columns if columns is not None else df.columns
        unknown = [c for c in cols if c not in dtypes]
        if unknown:
            raise ValueError(f"analyze_table({name}): unknown columns {unknown}")
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs.append(F.count(F.col(c)).alias(f"nn__{c}"))
            # rsd=0.02: persisted planning stats are worth a tighter
            # sketch than the 5% default (per-column memory, not a scan).
            aggs.append(F.approx_count_distinct(F.col(c), 0.02).alias(f"ndv__{c}"))
            if dtypes[c] in self._STATS_MINMAX_TYPES:
                # timestamps serialized via cast to string so the manifest
                # stays plain JSON; numerics/strings/dates store natively.
                aggs.append(F.min(F.col(c)).alias(f"min__{c}"))
                aggs.append(F.max(F.col(c)).alias(f"max__{c}"))
            elif dtypes[c].startswith("timestamp"):
                aggs.append(F.min(F.col(c)).cast("string").alias(f"min__{c}"))
                aggs.append(F.max(F.col(c)).cast("string").alias(f"max__{c}"))
        # Bytes-per-row estimate over ALL columns (not just the analyzed
        # subset — the broadcast decision concerns the whole row), riding
        # in the same single aggregation pass.
        fixed_bytes, var_byte_cols, est_ok = 0, [], True
        for c in df.columns:
            fb, expr = self._col_bytes(c, dtypes[c])
            if fb is not None:
                fixed_bytes += fb
            elif expr is not None:
                aggs.append(expr.alias(f"bytes__{c}"))
                var_byte_cols.append(c)
            else:
                est_ok = False
        row = df.agg(*aggs).collect()[0].asDict()
        colstats = {}
        for c in cols:
            entry = {
                "non_null": row[f"nn__{c}"],
                "approx_ndv": row[f"ndv__{c}"],
            }
            if f"min__{c}" in row:
                entry["min"] = _json_scalar(row[f"min__{c}"])
                entry["max"] = _json_scalar(row[f"max__{c}"])
            colstats[c] = entry
        est_row_bytes = (
            float(fixed_bytes)
            + sum(float(row[f"bytes__{c}"] or 0.0) for c in var_byte_cols)
            if est_ok
            else None
        )
        stats = {
            "rows": row["__rows"],
            "est_row_bytes": est_row_bytes,
            "analyzed_version": (
                self._snapstore(name).latest_version() if spec.versioned else None
            ),
            # freshness arms the auto-broadcast view hint (_register);
            # cleared by the next mutation (_guard_mutable). Manifests
            # persist it, so a reloaded engine keeps the hint for tables
            # not mutated since their ANALYZE.
            "fresh": True,
            "columns": colstats,
        }
        with self._lock(name):
            spec.stats = stats
            if name not in self._mem and self.root is not None:
                self._write_manifest(spec)
            self._register(name)
        return stats

    def table_stats(self, name: str) -> dict | None:
        """Persisted stats from the last analyze_table(), or None. For a
        versioned table, stats older than the current snapshot are still
        returned (advisory) — check ``analyzed_version`` if staleness
        matters to the caller."""
        return self.specs[name].stats

    def table_hinted(self, name: str, broadcast_max_rows: int = 10_000_000) -> DataFrame:
        """The table, broadcast-hinted when its ANALYZED row count is
        under ``broadcast_max_rows`` — the stats-driven version of the
        dimension-table broadcast every large join wants. Without stats
        (or above the bound) the plain DataFrame is returned and
        Catalyst/AQE decide from its own size estimate."""
        df = self.table(name)
        stats = self.specs[name].stats
        if stats is not None and stats["rows"] <= broadcast_max_rows:
            return F.broadcast(df)
        return df
