"""File-level data skipping (zone maps): the Delta/Iceberg data-skipping
tier, built on public parquet footer metadata.

Partition pruning only covers the layout keys; at 100 TB most selective
predicates hit NON-layout columns (an orderkey point lookup, a price
range, a timestamp window), where every file of every surviving partition
must otherwise be opened.  Parquet footers already carry per-row-group
min/max/null statistics, so at COMMIT time we fold them into one
per-write-dir ``_zonemap.json`` sidecar (file → column → [lo, hi,
nulls]), and at SCAN time a driver-side metadata pass drops every file
whose recorded range cannot satisfy the predicate — before Spark plans a
single task.

Design:

* The sidecar lives INSIDE the immutable write dir, so it inherits every
  snapshot property for free: time travel reads the stats that describe
  exactly that version's files, vacuum deletes stats with their dir,
  clones carry them, and a reader can never see stats newer than its
  data.  (Leading-underscore files are invisible to Spark's directory
  scans.)
* Stats collection is footer-only — never a data scan.  Small write dirs
  read footers on the driver; past ``DISTRIBUTE_THRESHOLD`` files the
  footer reads fan out as one Spark job over the file list and only the
  O(files) stat rows return (the same shape Delta uses: stats computed
  at write, metadata-only thereafter).
* Pruning is CONSERVATIVE by construction: an unparseable predicate, an
  unrecognized conjunct, a column without stats, or a type the encoder
  doesn't know all keep the file.  The caller re-applies the full
  predicate as a residual filter, so correctness never depends on the
  pruning decision — only IO does.  (Parquet may truncate long string
  min/max to prefix bounds; those remain valid bounds, so prefix-range
  pruning stays sound.)

The reference engine has no file-level statistics at all — its manifest
records only partition/bucket columns (``/root/reference/src/
dataset.rs:337-358``); this module is beyond-reference scale surface.
"""

from __future__ import annotations

import datetime
import json
import os
from decimal import Decimal

from polars_lake_spark import sqltree

ZONEMAP = "_zonemap.json"
# Stat at most this many columns per table (Delta's dataSkippingNumIndexedCols
# default is 32): wide tables would otherwise bloat the sidecar and the
# driver-side prune loop for columns nobody filters on.
MAX_ZONE_COLS = 32
# Above this many files the footer reads run as one Spark job instead of a
# driver loop (each footer read is ~1 IO; a 1000-executor write can land
# tens of thousands of files).
DISTRIBUTE_THRESHOLD = 64


# --------------------------------------------------------------- encoding
def _encode(v):
    """JSON-safe typed encoding of a footer min/max value; None when the
    type is not order-comparable across the JSON round-trip (those
    columns simply don't prune)."""
    if isinstance(v, bool):
        return ["b", bool(v)]
    if isinstance(v, int):
        return ["i", v]
    if isinstance(v, float):
        # A NaN endpoint (parquet-mr orders NaN largest, so any file
        # containing NaN gets max=NaN) poisons every range comparison —
        # drop the column's stats for that file (always kept).
        if v != v:
            return None
        return ["f", v]
    if isinstance(v, str):
        return ["s", v]
    if isinstance(v, Decimal):
        return ["dec", str(v)]
    if isinstance(v, datetime.datetime):
        return ["t", v.isoformat()]
    if isinstance(v, datetime.date):
        return ["d", v.isoformat()]
    return None


def _decode(e):
    t, v = e
    if t == "dec":
        return t, Decimal(v)
    if t == "t":
        return t, datetime.datetime.fromisoformat(v)
    if t == "d":
        return t, datetime.date.fromisoformat(v)
    return t, v


def _coerce(tag, lit):
    """Coerce a predicate literal into the stat value's domain for
    comparison; None when the literal can't live there (no pruning)."""
    try:
        if tag in ("i", "f"):
            if not isinstance(lit, (int, float, Decimal)) or isinstance(
                lit, bool
            ):
                return None
            # Spark compares a DOUBLE column with a decimal literal as
            # DOUBLE (0.1 is the nearest double, not exactly 1/10);
            # against an integer column int/Decimal compare exactly
            return float(lit) if tag == "f" else lit
        if tag == "s":
            return lit if isinstance(lit, str) else None
        if tag == "dec":
            if isinstance(lit, Decimal):
                return lit
            if isinstance(lit, (int, float)) and not isinstance(lit, bool):
                return Decimal(str(lit))
            if isinstance(lit, str):
                return Decimal(lit)
            return None
        if tag == "d":
            if isinstance(lit, str):
                return datetime.date.fromisoformat(lit)
            return None
        if tag == "t":
            if isinstance(lit, str):
                return datetime.datetime.fromisoformat(lit)
            return None
        if tag == "b":
            return lit if isinstance(lit, bool) else None
    except (ValueError, ArithmeticError):
        return None
    return None


def _lits(tag, c) -> list | None:
    """The literal operands of conjunct ``c`` coerced into the domain of
    stats tagged ``tag``; None when one cannot live there."""
    vals = [_coerce(tag, v) for v in (c[2] if c[1] == "in" else c[2:])]
    return None if any(v is None for v in vals) else vals


# ------------------------------------------------------------- collection
def _file_stats(path: str, max_cols: int = MAX_ZONE_COLS) -> dict:
    """One parquet file's zone-map entry from its FOOTER: row count plus,
    per top-level primitive column, [min, max, null_count] folded over
    row groups.  A column any row group lacks trustworthy min/max for is
    dropped for the whole file (absent stats never prune).

    Float/double stats are kept ONLY for parquet-mr-written files
    (``created_by``): parquet-mr propagates NaN into the recorded max
    (NaN orders largest), so a float entry that SURVIVES the
    NaN-endpoint drop below is provably from a NaN-free file.  A
    spec-compliant foreign writer instead IGNORES NaN when computing
    stats — a file [3.0, NaN] records min=max=3 — which is still sound
    for disjointness pruning (a NaN row can never satisfy the float
    shapes we prune on) but silently wrong for all-match certification
    and exact MIN/MAX, so foreign float stats are dropped outright
    (reachable via convert_to_versioned-adopted parquet; ADVICE r10)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    float_trust = (md.created_by or "").startswith("parquet-mr")
    cols: dict[str, list] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        rgm = md.row_group(rg)
        for ci in range(md.num_columns):
            cm = rgm.column(ci)
            name = cm.path_in_schema
            if "." in name or name in bad:
                continue  # nested leaf — not a top-level column
            st = cm.statistics
            if st is None or not st.has_min_max:
                bad.add(name)
                cols.pop(name, None)
                continue
            lo, hi = _encode(st.min), _encode(st.max)
            if lo is None or hi is None:
                bad.add(name)
                cols.pop(name, None)
                continue
            if (lo[0] == "f" or hi[0] == "f") and not float_trust:
                bad.add(name)
                cols.pop(name, None)
                continue
            nulls = st.null_count if st.has_null_count else None
            cur = cols.get(name)
            if cur is None:
                cols[name] = [lo, hi, nulls]
            else:
                if _decode(lo)[1] < _decode(cur[0])[1]:
                    cur[0] = lo
                if _decode(hi)[1] > _decode(cur[1])[1]:
                    cur[1] = hi
                cur[2] = (
                    None if (cur[2] is None or nulls is None) else cur[2] + nulls
                )
    if len(cols) > max_cols:
        # Cap by SCHEMA POSITION (cols preserves first-seen footer order,
        # which is the file's schema order), matching Delta's
        # dataSkippingNumIndexedCols semantics — an alphabetic cap would
        # make prunability depend on column NAMES (ADVICE r9).
        import itertools

        cols = dict(itertools.islice(cols.items(), max_cols))
    return {"rows": md.num_rows, "cols": cols}


def _parquet_relpaths(write_dir: str) -> list[str]:
    out = []
    for cur, _dirs, files in os.walk(write_dir):
        for f in files:
            if f.endswith(".parquet"):
                out.append(
                    os.path.relpath(os.path.join(cur, f), write_dir).replace(
                        os.sep, "/"
                    )
                )
    return sorted(out)


def collect_zonemap(write_dir: str, spark=None) -> dict:
    """Zone map for every parquet file under ``write_dir`` —
    footer-metadata only.  Distributes the footer reads as one Spark job
    past DISTRIBUTE_THRESHOLD files; only the O(files) stat entries
    come back to the driver."""
    rels = _parquet_relpaths(write_dir)
    if spark is not None and len(rels) > DISTRIBUTE_THRESHOLD:
        sc = spark.sparkContext
        base = write_dir

        def _read(rel):
            return rel, _file_stats(os.path.join(base, rel))

        pairs = sc.parallelize(rels, max(1, len(rels) // 32)).map(_read).collect()
        files = dict(pairs)
    else:
        files = {rel: _file_stats(os.path.join(write_dir, rel)) for rel in rels}
    # Every 'f' entry in this sidecar is from a provably NaN-free file
    # (_file_stats drops foreign-writer float stats and NaN endpoints),
    # so exact-answer consumers (file_all_match's =/IN/BETWEEN/</<= and
    # minmax_meta's float extremes) may trust it.  Sidecars WITHOUT this
    # marker (pre-r11, hand-written) get the conservative float rules.
    return {"files": files, "fnanproof": True}


def write_zonemap(write_dir: str, zm: dict) -> None:
    tmp = os.path.join(write_dir, f".{ZONEMAP}.tmp{os.getpid()}")
    with open(tmp, "w") as f:
        json.dump(zm, f)
    os.replace(tmp, os.path.join(write_dir, ZONEMAP))


def load_zonemap(write_dir: str) -> dict | None:
    path = os.path.join(write_dir, ZONEMAP)
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return json.load(f)


# ----------------------------------------------------------------- pruning
def probe_literal(v):
    """Map a collected batch-key endpoint into the zone-map comparison
    domain (``_coerce``) EXACTLY: Decimal/date/datetime travel as
    their lossless string forms, a NaN float endpoint disqualifies its
    column (NaN poisons every range comparison — conservative: that
    column just prunes nothing), and an unmapped type contributes no
    conjunct."""
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return None if v != v else v
    if isinstance(v, str):
        return v
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return None


def batch_key_conjuncts(bkeys, keys: list[str], in_cap: int = 64) -> list[tuple]:
    """Per-key-column conjuncts bounding a key set (a CDC batch's, a
    keyed DV delete's), used to key-range-prune the scans that join
    against it: any file that can hold one of the keys satisfies every
    conjunct, so a pruned file provably holds NONE of them and
    contributes nothing to the key-equality semi/inner joins downstream.

    Small batches (<= ``in_cap`` distinct key tuples — the common CDC
    trigger shape) emit exact per-column IN lists: a batch touching
    keys {5, 9_000_000} would prune NOTHING under a min/max bounding
    box on a clustered target, but under IN only the files whose range
    covers 5 or 9M survive.  Larger batches fall back to one min/max
    aggregate per key column (BETWEEN conjuncts — one tiny job, no
    driver-side key list)."""
    from pyspark.sql import functions as F

    head = bkeys.limit(in_cap + 1).collect()
    conj = []
    if len(head) <= in_cap:
        for k in keys:
            # Poison rule (mirrors the BETWEEN path): a batch key that
            # the stats layer cannot bound disqualifies the whole
            # column's conjunct.  That covers a NON-NULL key
            # probe_literal cannot map (NaN float, exotic type —
            # Spark's join equality DOES match NaN=NaN, but
            # spec-compliant foreign-written stats ignore NaN) AND a
            # NULL key: the downstream probe joins are NULL-SAFE (the
            # engine's key identity — NULL matches NULL), while min/max
            # and IN-list stats ignore NULLs, so an `IN (rest)` list
            # could prune the very file holding the NULL-keyed rows and
            # the stale filter would miss their watermark (r14).
            lits, poisoned = set(), False
            for r in head:
                raw = r[k]
                if raw is None:
                    poisoned = True
                    break
                v = probe_literal(raw)
                if v is None:
                    poisoned = True
                    break
                lits.add(v)
            if lits and not poisoned:
                conj.append((k.lower(), "in", sorted(lits, key=str)))
        return conj
    row = bkeys.agg(
        *[
            a
            for k in keys
            for a in (
                F.min(F.col(k)),
                F.max(F.col(k)),
                # NULL keys are invisible to min/max but DO match in the
                # null-safe probe joins — any NULL poisons the conjunct
                F.max(F.col(k).isNull()),
            )
        ]
    ).head()
    for i, k in enumerate(keys):
        lo = probe_literal(row[3 * i])
        hi = probe_literal(row[3 * i + 1])
        has_null = bool(row[3 * i + 2])
        if lo is not None and hi is not None and not has_null:
            conj.append((k.lower(), "between", lo, hi))
    return conj


# Catalyst comparison node -> (op, op with its operands swapped)
_CMP = {
    "EqualTo": ("=", "="),
    "LessThan": ("<", ">"),
    "LessThanOrEqual": ("<=", ">="),
    "GreaterThan": (">", "<"),
    "GreaterThanOrEqual": (">=", "<="),
}


def _conjunct(e) -> tuple | None:
    """One conjunct tuple from one expression node, or None."""
    k, ch = sqltree.kind(e), sqltree.children(e)
    cols = [sqltree.column(c) for c in ch]
    lits = [sqltree.literal(c) for c in ch]
    if k == "Not" and sqltree.kind(ch[0]) == "EqualTo":
        c = _conjunct(ch[0])
        return c and (c[0], "!=", c[2])
    if k in ("IsNull", "IsNotNull") and cols[0]:
        return cols[0], "isnull" if k == "IsNull" else "notnull"
    if k in _CMP and cols[0] and lits[1][0]:
        return cols[0], _CMP[k][0], lits[1][1]
    if k in _CMP and cols[1] and lits[0][0]:
        return cols[1], _CMP[k][1], lits[0][1]
    if not (len(ch) > 1 and cols[0] and all(ok for ok, _ in lits[1:])):
        return None
    vals = [v for _, v in lits[1:]]
    if k == "In":
        return cols[0], "in", vals
    if k == "UnresolvedFunction" and sqltree.name(e).lower() == "between":
        return cols[0], "between", vals[0], vals[1]
    return None


def parse_conjuncts(expr) -> list[tuple]:
    """The prunable conjuncts of a parsed predicate
    (``sqltree.parse_expression``).  Each is one of ``(col, op, lit)``
    with op in =,!=,<,<=,>,>=; ``(col, 'in', [lits])``; ``(col,
    'between', lo, hi)``; ``(col, 'isnull')``; ``(col, 'notnull')``.
    Top-level AND operands of other shapes are simply dropped (they
    prune nothing; the residual filter still applies them); a top-level
    OR is one such operand, so it prunes nothing.  ``expr`` None (an
    unparseable predicate) prunes nothing."""
    if expr is None:
        return []
    return [c for c in map(_conjunct, sqltree.conjuncts(expr)) if c]


def _range_may_match(lo, hi, op, lit) -> bool:
    if op == "=":
        return lo <= lit <= hi
    if op == "!=":
        return not (lo == hi == lit)
    if op == "<":
        return lo < lit
    if op == "<=":
        return lo <= lit
    if op == ">":
        return hi > lit
    if op == ">=":
        return hi >= lit
    raise AssertionError(op)


def file_survives(fstats: dict, conjuncts: list[tuple]) -> bool:
    """False only when the file's recorded ranges PROVE no row can
    satisfy every conjunct.  Missing stats for a column keep the file."""
    cols = {k.lower(): v for k, v in (fstats.get("cols") or {}).items()}
    rows = fstats.get("rows")
    for c in conjuncts:
        name, kind = c[0], c[1]
        ent = cols.get(name)
        if kind == "isnull":
            if ent is not None and ent[2] == 0:
                return False
            continue
        if kind == "notnull":
            if ent is not None and rows is not None and ent[2] == rows:
                return False
            continue
        if ent is None:
            continue
        (tlo, lo), (thi, hi) = _decode(ent[0]), _decode(ent[1])
        if tlo != thi:
            continue
        # Float/double NaN soundness: parquet min/max statistics ignore
        # NaN, but Spark orders NaN LARGER than every value and NaN=NaN.
        # A file [3, NaN] may carry min=max=3, yet its NaN row satisfies
        # "v > 100" and "v != 3" — so on float stats only the shapes a
        # NaN row can never satisfy may prune: =, IN, BETWEEN (both
        # sides bounded above), <, <=.  (isnull/notnull are unaffected —
        # NaN is not NULL and null_count still counts it as non-null.)
        if tlo == "f" and kind in (">", ">=", "!="):
            continue
        # any comparison that raises (e.g. tz-aware stats vs a naive
        # literal) conservatively keeps the file
        vals = _lits(tlo, c)
        try:
            if vals is None:
                continue
            if kind == "between":
                if hi < vals[0] or lo > vals[1]:
                    return False
            elif kind == "in":
                if not any(lo <= v <= hi for v in vals):
                    return False
            elif not _range_may_match(lo, hi, kind, vals[0]):
                return False
        except TypeError:
            continue
    return True


def parse_conjuncts_exact(expr) -> list[tuple] | None:
    """``parse_conjuncts``, but only when EVERY top-level conjunct
    parsed.  Pruning can afford to drop unsupported conjuncts (the
    residual filter re-applies them); an ALL-MATCH certificate cannot —
    counting a file's rows as matching requires the whole predicate
    captured.  None = incomplete capture (caller must scan)."""
    conj = parse_conjuncts(expr)
    if not conj:
        return None
    return conj if len(conj) == len(sqltree.conjuncts(expr)) else None


def file_all_match(
    fstats: dict, conjuncts: list[tuple], *, fnanproof: bool = False
) -> int | None:
    """The file's row count when its recorded stats PROVE every row
    satisfies every conjunct — the dual of :func:`file_survives`
    (range fully INSIDE the predicate instead of disjoint from it).
    None = undecided; the caller scans the file.

    Soundness notes, MIRROR-imaged from file_survives:

    * Truncated string min/max are OUTER bounds (recorded lo ≤ actual
      lo, recorded hi ≥ actual hi), so recorded-inside-predicate still
      implies actual-inside-predicate.
    * Value predicates are never satisfied by NULL rows, so any
      recorded nulls (or an unknown null count) defeats all-match.
    * Float stats: a spec-compliant writer IGNORES NaN when recording
      min/max, so a hidden NaN row may lurk above the recorded max.
      Spark orders NaN largest, so such a row ALWAYS satisfies >, >=,
      != and ALWAYS fails =, IN, BETWEEN, <, <= — the certifiable set
      is exactly the INVERSE of file_survives' prunable set.  Only a
      sidecar that PROVES its float stats NaN-free (``fnanproof=True``,
      stamped by collect_zonemap since r11) may certify the failing
      shapes too.
    """
    cols = {k.lower(): v for k, v in (fstats.get("cols") or {}).items()}
    rows = fstats.get("rows")
    if rows is None:
        return None
    if rows == 0:
        return 0
    for c in conjuncts:
        name, kind = c[0], c[1]
        ent = cols.get(name)
        if ent is None:
            return None
        nulls = ent[2]
        if kind == "notnull":
            if nulls == 0:
                continue
            return None
        if kind == "isnull":
            if nulls is not None and nulls == rows:
                continue
            return None
        if nulls != 0:  # unknown (None) or any nulls: not all rows match
            return None
        (tlo, lo), (thi, hi) = _decode(ent[0]), _decode(ent[1])
        if tlo != thi:
            return None
        if (
            tlo == "f"
            and not fnanproof
            and kind not in (">", ">=", "!=")
        ):
            return None
        vals = _lits(tlo, c)
        try:
            if vals is None:
                return None
            if kind == "between":
                ok = vals[0] <= lo and hi <= vals[1]
            elif kind == "in":
                ok = lo == hi and any(v == lo for v in vals)
            else:
                lit = vals[0]
                ok = {
                    "=": lo == hi == lit,
                    "!=": hi < lit or lo > lit,
                    "<": hi < lit,
                    "<=": hi <= lit,
                    ">": lo > lit,
                    ">=": lo >= lit,
                }[kind]
            if not ok:
                return None
        except TypeError:
            return None
    return rows
