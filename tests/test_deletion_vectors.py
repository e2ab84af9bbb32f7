"""Merge-on-read DELETE/UPDATE via deletion vectors (Delta DV analog):
predicate DML on a ``deletion_vectors=True`` versioned table commits an
O(mutated-rows) sidecar of (file, row_index) refs instead of rewriting
every touched partition; reads anti-join the broadcast DV below which
partition pruning still applies; compaction folds DVs in."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from polars_lake_spark import Engine


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, str(tmp_path))


def _seed(spark, eng, name, n=30, **kw):
    df = spark.createDataFrame(
        [(i, i % 5, float(i), "d%d" % (i % 3)) for i in range(n)],
        "id bigint, user bigint, v double, day string",
    )
    eng.create_table(
        name, df, partition_by=["day"], keys=["id"], versioned=True,
        deletion_vectors=True, **kw
    )
    return df


def _data_files(eng, name):
    return {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(eng._path(name) + "/data/**/*.parquet", recursive=True)
    }


def test_dv_delete_sparse_no_rewrite(spark, eng):
    """A sparse key-delete touches every partition's rows but rewrites
    NO data file — the one remaining scale-weak write path of r7."""
    _seed(spark, eng, "t")
    before = _data_files(eng, "t")
    st = eng.sql("DELETE FROM t WHERE user = 2").head()
    assert (st["operation"], st["n_affected"]) == ("delete", 6)
    assert eng.table("t").count() == 24
    assert eng.table("t").filter("user = 2").count() == 0
    # every pre-existing data file is byte-untouched; only the DV
    # sidecar is new
    after = {f: os.stat(f).st_mtime_ns for f in before}
    assert before == after
    # time travel sees the pre-delete state
    assert eng.table("t", version=1).count() == 30
    # empty-match delete commits nothing
    v = eng._snapstore("t").latest_version()
    st = eng.sql("DELETE FROM t WHERE user = 99").head()
    assert st["n_affected"] == 0
    assert eng._snapstore("t").latest_version() == v


def test_dv_requires_versioned(spark, eng):
    df = spark.createDataFrame([(1,)], "id bigint")
    with pytest.raises(ValueError, match="deletion_vectors requires"):
        eng.create_table("bad", df, deletion_vectors=True)


def test_dv_read_plan_broadcast_anti_and_pruning(spark, eng):
    """The DV apply must be a BROADCAST anti-join (O(deleted rows) sent
    to executors, map-side apply) and must NOT break partition pruning
    on the base scans below it."""
    _seed(spark, eng, "t")
    eng.sql("DELETE FROM t WHERE user = 2")
    plan = (
        eng.table("t")
        .filter("day = 'd1'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # every BASE-table scan (not the DV sidecar's own scan, whose
    # ReadSchema is the file_path/row_index pair) prunes to day=d1
    base_scans = [
        l
        for l in plan.splitlines()
        if "FileScan parquet" in l
        and "file_path:string,row_index:bigint" not in l
    ]
    assert base_scans and all(
        "PartitionFilters" in l and "d1" in l for l in base_scans
    )


def test_dv_update_merge_on_read(spark, eng):
    """UPDATE on a DV table appends the updated rows and DVs the old
    ones in ONE commit; SET expressions all see the OLD row."""
    _seed(spark, eng, "t")
    files = _data_files(eng, "t")
    st = eng.sql("UPDATE t SET v = v + 100, user = user * 10 WHERE id < 3").head()
    assert (st["operation"], st["n_affected"]) == ("update", 3)
    got = {r.id: (r.user, r.v) for r in eng.table("t").filter("id < 3").collect()}
    assert got == {0: (0, 100.0), 1: (10, 101.0), 2: (20, 102.0)}
    assert eng.table("t").count() == 30
    # pre-existing files untouched (the append landed in a new dir)
    assert {f: os.stat(f).st_mtime_ns for f in files} == files
    # exactly one commit for the whole update
    assert eng._snapstore("t").load().op == "append"
    # a layout-column SET falls back to the rewrite path and clears DVs
    st = eng.sql("UPDATE t SET day = 'd9' WHERE id = 5").head()
    assert st["n_affected"] == 1
    assert eng.table("t").filter("day = 'd9'").count() == 1
    assert eng.table("t").count() == 30


def test_dv_compact_folds_and_vacuum_keeps_live_dvs(spark, eng):
    _seed(spark, eng, "t")
    eng.sql("DELETE FROM t WHERE user = 2")
    store = eng._snapstore("t")
    assert (store.load().meta or {}).get("dv")
    # vacuum keeping the DV-carrying head must NOT delete the sidecar
    eng.vacuum("t", keep_last=1)
    assert eng.table("t").count() == 24
    assert eng.table("t").filter("user = 2").count() == 0
    # compaction folds the DVs into rewritten files and clears the list
    eng.compact("t")
    assert not (store.load().meta or {}).get("dv")
    assert eng.table("t").count() == 24
    assert eng.table("t").filter("user = 2").count() == 0


def test_dv_restore_and_cdc(spark, eng):
    _seed(spark, eng, "t")
    eng.sql("DELETE FROM t WHERE user = 2")  # v2
    eng.insert(
        "t",
        eng.spark.createDataFrame(
            [(100, 7, 1.0, "d0")], "id bigint, user bigint, v double, day string"
        ),
    )  # v3
    # CDC: the DV delete surfaces as ordinary delete rows
    ch = eng.changes("t", 1, 2)
    assert ch.filter("_change_type = 'delete'").count() == 6
    # restore to v1 resurrects the rows (DV state rolls back with meta)
    eng.restore("t", 1)
    assert eng.table("t").count() == 30
    assert eng.table("t").filter("user = 2").count() == 6


def test_dv_txn_watermark_carried_across_dv_commits(spark, eng):
    """An exactly-once txn watermark committed before a DV delete must
    survive it (delete_dv commits carry meta like every other commit)."""
    _seed(spark, eng, "t")
    batch = eng.spark.createDataFrame(
        [(200, 1, 2.0, "d0")], "id bigint, user bigint, v double, day string"
    )
    eng.insert("t", batch, txn=("loader", 1))
    assert eng.table("t").count() == 31
    eng.sql("DELETE FROM t WHERE user = 2")
    # replay of the tracked batch must still be skipped
    eng.insert("t", batch, txn=("loader", 1))
    assert eng.table("t").filter("id = 200").count() == 1


def test_dv_upsert_composes(spark, eng):
    """Upsert after a DV delete: the deleted rows stay deleted, the
    upsert's partition rewrite folds its slice, untouched partitions
    keep answering through their DVs."""
    _seed(spark, eng, "t")
    eng.sql("DELETE FROM t WHERE user = 2")
    up = eng.spark.createDataFrame(
        [(3, 3, 999.0, "d0")], "id bigint, user bigint, v double, day string"
    )
    eng.upsert("t", up)
    t = eng.table("t")
    assert t.count() == 24
    assert t.filter("user = 2").count() == 0
    assert t.filter("id = 3").head().v == 999.0


def test_dv_rows_accounting_and_oversize_fallback(spark, eng, monkeypatch):
    """Commits track the accumulated DV ref count (meta['dv_rows']) so
    the read side can decide broadcast-vs-AQE from metadata alone; past
    the cap the read stays CORRECT without forcing the broadcast hint."""
    _seed(spark, eng, "t")
    eng.sql("DELETE FROM t WHERE user = 2")
    store = eng._snapstore("t")
    assert store.load().meta["dv_rows"] == 6
    eng.sql("UPDATE t SET v = v + 1 WHERE user = 3")  # 6 more refs
    assert store.load().meta["dv_rows"] == 12
    import polars_lake_spark.snapshots as S

    monkeypatch.setattr(S, "DV_BROADCAST_MAX_ROWS", 2)
    t = eng.table("t")
    assert t.count() == 24
    assert t.filter("user = 2").count() == 0
    assert {r.v for r in t.filter("user = 3").collect()} == {
        4.0, 9.0, 14.0, 19.0, 24.0, 29.0
    }


def test_dv_keyed_delete_and_truncate_count(spark, eng):
    """engine.delete (keyed) on a DV table routes merge-on-read too —
    no data file rewritten — and TRUNCATE's metadata row count must not
    include the DV-deleted rows (footers still carry them: the count
    falls back to a real DV-applied count)."""
    _seed(spark, eng, "t")
    files = _data_files(eng, "t")
    dels = spark.createDataFrame([(0,), (7,), (999,)], "id bigint")
    eng.delete("t", dels)
    assert eng.table("t").count() == 28
    assert eng.table("t").filter("id in (0, 7)").count() == 0
    assert {f: os.stat(f).st_mtime_ns for f in files} == files
    # no-match keyed delete commits nothing
    v = eng._snapstore("t").latest_version()
    eng.delete("t", spark.createDataFrame([(999,)], "id bigint"))
    assert eng._snapstore("t").latest_version() == v
    st = eng.sql("TRUNCATE TABLE t").head()
    assert st["n_affected"] == 28  # not 30: DV'd rows are already gone
    assert eng.table("t").count() == 0


def test_dv_clones(spark, eng):
    """Both clone modes must carry the deletion state — a clone that
    dropped the DVs would resurrect deleted rows."""
    _seed(spark, eng, "t")
    eng.sql("DELETE FROM t WHERE user = 2")
    eng.clone("t", "shallow_c", shallow=True)
    assert eng.table("shallow_c").count() == 24
    assert eng.table("shallow_c").filter("user = 2").count() == 0
    eng.clone("t", "deep_c", shallow=False)
    assert eng.table("deep_c").count() == 24
    assert eng.table("deep_c").filter("user = 2").count() == 0
    assert eng.specs["deep_c"].deletion_vectors
    # the clone diverges independently
    eng.sql("DELETE FROM shallow_c WHERE user = 3")
    assert eng.table("shallow_c").count() == 18
    assert eng.table("t").count() == 24


def test_set_tblproperties_enables_dv_on_existing_table(spark, eng):
    """The migration path: an EXISTING versioned table flips to
    merge-on-read DML via ALTER TABLE SET TBLPROPERTIES; disabling is
    refused while live DVs exist (OPTIMIZE folds them first)."""
    df = spark.createDataFrame(
        [(i, i % 5, "d%d" % (i % 3)) for i in range(30)],
        "id bigint, user bigint, day string",
    )
    eng.create_table("tp", df, partition_by=["day"], keys=["id"], versioned=True)
    st = eng.sql(
        "ALTER TABLE tp SET TBLPROPERTIES ('deletion_vectors' = 'true')"
    ).head()
    assert (st["operation"], st["n_affected"]) == ("set_tblproperties", 1)
    files = _data_files(eng, "tp")
    eng.sql("DELETE FROM tp WHERE user = 2")
    assert eng.table("tp").count() == 24
    assert {f: os.stat(f).st_mtime_ns for f in files} == files  # DV path
    # flag survives a fresh engine over the same root
    eng2 = Engine(eng.spark, eng.root)
    eng2.load_all()
    assert eng2.specs["tp"].deletion_vectors
    with pytest.raises(ValueError, match="live deletion vectors"):
        eng.sql("ALTER TABLE tp SET TBLPROPERTIES ('deletion_vectors' = 'false')")
    eng.sql("OPTIMIZE tp")  # folds DVs
    eng.sql("ALTER TABLE tp SET TBLPROPERTIES ('deletion_vectors' = 'false')")
    assert not eng.specs["tp"].deletion_vectors
    # plain tables can't enable
    eng.create_table("plainp", df, keys=["id"])
    with pytest.raises(ValueError, match="requires a versioned"):
        eng.sql("ALTER TABLE plainp SET TBLPROPERTIES ('deletion_vectors' = 'true')")
    with pytest.raises(ValueError, match="unsupported table property"):
        eng.sql("ALTER TABLE tp SET TBLPROPERTIES ('nope' = 'true')")


def test_dv_concurrent_deletes_serialize(spark, eng):
    """Two threads issuing DV deletes on the same table: the per-table
    lock serializes the read-refs-commit sequences, so both land, the
    versions chain, and dv_rows sums exactly."""
    from concurrent.futures import ThreadPoolExecutor

    _seed(spark, eng, "t", n=60)
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(lambda u=u: eng.sql(f"DELETE FROM t WHERE user = {u}").head())
            for u in (1, 2)
        ]
        results = [f.result() for f in futs]
    assert sorted(r["n_affected"] for r in results) == [12, 12]
    assert eng.table("t").count() == 36
    assert eng._snapstore("t").load().meta["dv_rows"] == 24


def test_dv_with_schema_evolution(spark, eng):
    """A column add AFTER a DV delete is METADATA-ONLY (r14 column
    mapping): no data file moves, so the (file, row_index) DV refs stay
    valid and carry through the alter commit — rows stay deleted, the
    new column reads NULL.  A DV delete AFTER the evolution spans old-
    and new-schema rows."""
    _seed(spark, eng, "t")
    eng.sql("DELETE FROM t WHERE user = 2")
    store = eng._snapstore("t")
    assert (store.load().meta or {}).get("dv")
    eng.sql("ALTER TABLE t ADD COLUMN note STRING")
    # metadata-only: the DV refs survive, the deleted rows stay gone
    assert (store.load().meta or {}).get("dv")
    assert eng.table("t").count() == 24
    assert eng.table("t").filter("user = 2").count() == 0
    # new-schema DML keeps working merge-on-read
    eng.sql("UPDATE t SET note = 'kept' WHERE user = 3")
    assert (store.load().meta or {}).get("dv")
    assert eng.table("t").filter("note = 'kept'").count() == 6
    eng.sql("DELETE FROM t WHERE note = 'kept'")
    assert eng.table("t").count() == 18
    assert eng.table("t").filter("user = 3").count() == 0


def test_dv_merge_into_matches_rewrite_semantics(spark, eng):
    """MERGE INTO on a DV table (merge-on-read: refs + appends in one
    commit) must produce exactly the rows the rewrite-path merge
    produces on an identical non-DV table — while leaving every
    pre-existing data file byte-untouched."""
    rows = [(i, i % 5, float(i), "d%d" % (i % 3)) for i in range(30)]
    schema = "id bigint, user bigint, v double, day string"
    df = spark.createDataFrame(rows, schema)
    eng.create_table(
        "mdv", df, partition_by=["day"], keys=["id"], versioned=True,
        deletion_vectors=True,
    )
    eng.create_table(
        "mrw", df, partition_by=["day"], keys=["id"], versioned=True,
    )
    # source: updates (ids 0..9, v*10), a delete trigger (v negative),
    # and brand-new keys
    src = spark.createDataFrame(
        [(i, i % 5, float(i) * 10, "d%d" % (i % 3)) for i in range(10)]
        + [(5, 0, -1.0, "d2"), (100, 9, 1.0, "d0"), (101, 9, 2.0, "d2")],
        schema,
    ).filter("id != 5 or v < 0")  # one row per key
    files = _data_files(eng, "mdv")
    for t in ("mdv", "mrw"):
        eng.merge(
            t, src, ["id"],
            when_matched_delete=F.col("n.v") < 0,
            null_clobbers=True,
        )
    got = {tuple(r) for r in eng.table("mdv").collect()}
    want = {tuple(r) for r in eng.table("mrw").collect()}
    assert got == want and len(got) == 31  # 30 - 1 deleted + 2 inserted
    assert {f: os.stat(f).st_mtime_ns for f in files} == files
    # exactly ONE commit for the whole merge
    assert eng._snapstore("mdv").load().op == "append"


def test_dv_merge_partition_moving_update(spark, eng):
    """A source row that changes the partition column: the rewrite merge
    documents this as unsupported (the old copy would strand); the DV
    merge handles it — the old physical row leaves by ref, the new one
    appends in its new partition."""
    df = spark.createDataFrame(
        [(1, 1.0, "d0"), (2, 2.0, "d1")], "id bigint, v double, day string"
    )
    eng.create_table(
        "pm", df, partition_by=["day"], keys=["id"], versioned=True,
        deletion_vectors=True,
    )
    src = spark.createDataFrame([(1, 5.0, "d9")], "id bigint, v double, day string")
    eng.merge("pm", src, ["id"], null_clobbers=True)
    got = {(r.id, r.v, r.day) for r in eng.table("pm").collect()}
    assert got == {(1, 5.0, "d9"), (2, 2.0, "d1")}


def test_dv_merge_delete_only_and_noop(spark, eng):
    """A delete-only merge (no updates, no inserts) commits a
    metadata-only DV snapshot; a no-match merge commits nothing."""
    _seed(spark, eng, "t")
    src = spark.createDataFrame([(0,), (7,), (999,)], "id bigint")
    eng.merge(
        "t", src, ["id"],
        when_matched_delete=F.lit(True),
        when_matched_update=False,
        when_not_matched_insert=False,
    )
    assert eng.table("t").count() == 28
    assert eng._snapstore("t").load().op == "delete_dv"
    v = eng._snapstore("t").latest_version()
    eng.merge(
        "t", spark.createDataFrame([(999,)], "id bigint"), ["id"],
        when_matched_delete=F.lit(True),
        when_matched_update=False,
        when_not_matched_insert=False,
    )
    assert eng._snapstore("t").latest_version() == v


def test_compact_dvs_consolidates_and_prunes(spark, eng):
    """A run of small deletes accumulates sidecar dirs and partition
    rewrites stale some refs; compact_dvs folds everything into ONE new
    sidecar holding only live refs — while earlier snapshots keep their
    original sidecars (time travel unaffected)."""
    _seed(spark, eng, "t")
    for i in (0, 1, 2):
        eng.sql(f"DELETE FROM t WHERE id = {i}")
    store = eng._snapstore("t")
    meta = store.load().meta
    assert len(meta["dv"]) == 3 and meta["dv_rows"] == 3
    v_deleted = store.latest_version()
    # rewrite partition d0 (id 0's home) → its ref goes stale
    eng.upsert(
        "t",
        spark.createDataFrame(
            [(3, 3, 999.0, "d0")], "id bigint, user bigint, v double, day string"
        ),
    )
    n = eng.compact_dvs("t")
    meta = store.load().meta
    assert n == 2 and meta["dv_rows"] == 2 and len(meta["dv"]) == 1
    t = eng.table("t")
    assert t.count() == 27
    assert t.filter("id in (0, 1, 2)").count() == 0
    assert t.filter("id = 3").head().v == 999.0
    # earlier snapshots still read through their ORIGINAL sidecars
    assert eng.table("t", version=v_deleted).count() == 27
    assert eng.table("t", version=1).count() == 30
    # already consolidated: no new commit
    v = store.latest_version()
    assert eng.compact_dvs("t") == 2
    assert store.latest_version() == v


def test_scoped_optimize_consolidates_dvs(spark, eng):
    """OPTIMIZE ... WHERE on a DV table folds the touched partitions'
    deletes into the rewrite AND consolidates/prunes the sidecars, so
    dv_rows tracks live refs again."""
    _seed(spark, eng, "t")
    eng.sql("DELETE FROM t WHERE id = 0")   # d0
    eng.sql("DELETE FROM t WHERE id = 1")   # d1
    st = eng.sql("OPTIMIZE t WHERE day = 'd0'").head()
    assert st["operation"] == "optimize"
    store = eng._snapstore("t")
    meta = store.load().meta
    # d0's ref was folded by the rewrite and pruned; only d1's survives
    assert meta["dv_rows"] == 1 and len(meta["dv"]) == 1
    assert eng.table("t").count() == 28
    assert eng.table("t").filter("id in (0, 1)").count() == 0


def test_reorg_apply_purge_folds_dvs(spark, eng):
    """REORG TABLE t APPLY (PURGE) — the Delta statement for
    materializing deletion vectors into the data files: after it, no DV
    remains, the deleted rows are physically gone, and reads stop paying
    the anti-join."""
    _seed(spark, eng, "t")
    eng.sql("DELETE FROM t WHERE user = 2")
    store = eng._snapstore("t")
    assert (store.load().meta or {}).get("dv")
    st = eng.sql("REORG TABLE t APPLY (PURGE)").head()
    assert st["operation"] == "reorg" and st["n_affected"] >= 1
    assert not (store.load().meta or {}).get("dv")
    assert eng.table("t").count() == 24
    assert eng.table("t").filter("user = 2").count() == 0
    # no anti-join left in the read plan
    plan = eng.table("t")._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan


def test_dv_offload_rewrites_refs(spark, eng, tmp_path):
    """Offload moves the table directory; the DV refs' absolute file
    paths must be rewritten or deleted rows resurrect at the new root."""
    _seed(spark, eng, "t")
    eng.sql("DELETE FROM t WHERE user = 2")
    cold = str(tmp_path / "cold_tier")
    eng.offload_table("t", cold)
    assert eng.table("t").count() == 24
    assert eng.table("t").filter("user = 2").count() == 0
    # further DV DML at the offloaded location
    st = eng.sql("DELETE FROM t WHERE user = 3").head()
    assert st["n_affected"] == 6
    assert eng.table("t").count() == 18
    # recall home
    eng.offload_table("t", None)
    assert eng.table("t").count() == 18
    assert eng.table("t").filter("user in (2, 3)").count() == 0


def test_dv_whole_table_and_partition_deletes_route_metadata(spark, eng):
    """ADVICE r8: DELETE with no WHERE — or a partition-only predicate —
    on a DV table must not materialize a ref for every doomed row; those
    shapes route to the rewrite/tombstone path (metadata-only), and only
    genuinely row-level predicates pay the sidecar."""
    _seed(spark, eng, "t")
    store = eng._snapstore("t")
    files = _data_files(eng, "t")
    # partition-aligned predicate: tombstone commit, zero DV refs,
    # untouched partitions' files byte-identical
    st = eng.sql("DELETE FROM t WHERE day = 'd1'").head()
    assert st["n_affected"] == 10
    assert not (store.load().meta or {}).get("dv")
    assert eng.table("t").count() == 20
    kept = {f: m for f, m in files.items() if "day=d1" not in f}
    assert {f: os.stat(f).st_mtime_ns for f in kept} == kept
    # a mixed predicate (partition col AND row col) stays on the DV path
    eng.sql("DELETE FROM t WHERE day = 'd0' AND user = 2")
    assert (store.load().meta or {}).get("dv")
    # ...and a string literal naming a column doesn't confuse the check:
    # 'user' here is a VALUE of day, not a column reference
    st = eng.sql("DELETE FROM t WHERE day = 'user'").head()
    assert st["n_affected"] == 0
    # whole-table delete: full rewrite clears DVs instead of writing a
    # ref per row
    st = eng.sql("DELETE FROM t").head()
    assert st["n_affected"] == 18  # 20 - 2 DV'd (user=2 in d0: ids 12, 27)
    assert not (store.load().meta or {}).get("dv")
    assert eng.table("t").count() == 0


def test_dv_dml_scan_prunes_files(spark, eng, monkeypatch):
    """Zone maps accelerate DV DML: the DELETE/UPDATE ref-computation
    scan skips files whose ranges prove no match — observed via a
    file_survives spy — and the result is still exact."""
    import polars_lake_spark.zonemaps as ZM

    df = spark.range(0, 2000).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v"
    ).repartitionByRange(8, "id")
    eng.create_table(
        "zd", df, keys=["id"], versioned=True, deletion_vectors=True
    )
    calls = {"n": 0, "kept": 0}
    orig = ZM.file_survives

    def spy(fs, conj):
        r = orig(fs, conj)
        calls["n"] += 1
        calls["kept"] += int(r)
        return r

    monkeypatch.setattr(ZM, "file_survives", spy)
    st = eng.sql("DELETE FROM zd WHERE id = 1234").head()
    assert st["n_affected"] == 1
    assert calls["n"] == 8 and calls["kept"] == 1  # 7 files never scanned
    assert eng.table("zd").count() == 1999
    calls.update(n=0, kept=0)
    st = eng.sql("UPDATE zd SET v = -1.0 WHERE id BETWEEN 10 AND 12").head()
    assert st["n_affected"] == 3
    assert calls["n"] == 8 and calls["kept"] == 1
    assert eng.table("zd").filter("v = -1.0").count() == 3
    assert eng.table("zd").count() == 1999


def test_dv_dml_escaped_literal(spark, eng):
    """DELETE/UPDATE on a DV table match rows by Spark's reading of the
    literal: 'x\\\\' is x\\ (one backslash).  The ref scan's zone-map
    pruning must use the same value, or it drops the file holding the
    match and the statement silently affects nothing."""
    df = spark.createDataFrame(
        [(1, "A"), (2, "x\\"), (3, "B")], "id bigint, s string"
    ).repartitionByRange(3, "id")
    for name in ("ed", "eu"):
        eng.create_table(
            name, df, keys=["id"], versioned=True, deletion_vectors=True
        )
    st = eng.sql("DELETE FROM ed WHERE s = 'x\\\\'").head()
    assert st["n_affected"] == 1
    assert sorted(r.id for r in eng.table("ed").collect()) == [1, 3]
    st = eng.sql("UPDATE eu SET s = 'y' WHERE s = 'x\\\\'").head()
    assert st["n_affected"] == 1
    assert {r.id: r.s for r in eng.table("eu").collect()} == {
        1: "A", 2: "y", 3: "B",
    }


def test_dv_merge_target_named_like_the_source_alias(spark, eng):
    """SQL MERGE into a DV table named ``n`` (merge_into's own source
    alias): ``SET v = s.v`` takes the source values."""
    eng.create_table(
        "n",
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "id bigint, v double"
        ),
        keys=["id"], versioned=True, deletion_vectors=True,
    )
    spark.createDataFrame(
        [(1, 5.0), (2, 7.0)], "id bigint, v double"
    ).createOrReplaceTempView("n_src")
    st = eng.sql(
        "MERGE INTO n USING n_src AS s ON n.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v"
    ).head()
    assert st["n_affected"] == 2
    assert {r.id: r.v for r in eng.table("n").collect()} == {
        1: 5.0, 2: 7.0, 3: 30.0,
    }


def test_dv_dml_decimal_literal_on_double(spark, eng, tmp_path):
    """The DV ref scan prunes a DOUBLE column against the decimal
    literal 0.1 as Spark compares it — as the double 0.1 — so the files
    whose min = max = 0.1 keep their matches; the rows the UPDATE
    re-appends keep v DOUBLE, not the SET literal's decimal type."""
    df = spark.createDataFrame(
        [(1, 0.1), (2, 0.3), (3, 0.1)], "id bigint, v double"
    ).repartitionByRange(3, "id")
    for name in ("dd", "du"):
        eng.create_table(
            name, df, keys=["id"], versioned=True, deletion_vectors=True
        )
    st = eng.sql("DELETE FROM dd WHERE v = 0.1 AND id = 1").head()
    assert st["n_affected"] == 1
    st = eng.sql("DELETE FROM dd WHERE v <= 0.1").head()
    assert st["n_affected"] == 1
    assert [r.id for r in eng.table("dd").collect()] == [2]
    st = eng.sql("UPDATE du SET v = 1.0 WHERE v <= 0.1").head()
    assert st["n_affected"] == 2
    assert {r.id: r.v for r in eng.table("du").collect()} == {
        1: 1.0, 2: 0.3, 3: 1.0,
    }
    files = glob.glob(str(tmp_path / "du" / "**" / "*.parquet"), recursive=True)
    assert files
    for f in files:
        schema = pq.read_schema(f)
        if "v" in schema.names:
            assert str(schema.field("v").type) == "double", f


@pytest.mark.parametrize("dv", [True, False])
def test_dml_condition_with_commented_parenthesis(spark, eng, dv):
    """A comment inside a DELETE/UPDATE condition is no part of the
    condition's parentheses: a '(' or ')' in it neither breaks nor moves
    the cut of the WHERE text."""
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0)], "id bigint, v double"
    )
    eng.create_table(
        "cm", df, keys=["id"], versioned=True, deletion_vectors=dv
    )
    st = eng.sql(
        "UPDATE cm SET v = -v /* ) */ WHERE id = 1 /* ( */ AND v > 0"
    ).head()
    assert st["n_affected"] == 1
    st = eng.sql("DELETE FROM cm WHERE (id -- )\n) = 2 /* ( */ AND v > 0")
    assert st.head()["n_affected"] == 1
    assert {r.id: r.v for r in eng.table("cm").collect()} == {
        1: -1.0, 3: 3.0,
    }


def test_delete_keys_dv_frame_keyed(spark, eng):
    """delete_keys_dv removes EVERY row whose key appears in the frame
    (merge-on-read, O(matched) sidecar) — the CDC-maintenance shape
    where doomed ids arrive as a frame, not a literal predicate."""
    import glob
    import os

    rows = [(i % 5, i, f"p{i}") for i in range(50)]  # 10 rows per key
    df = spark.createDataFrame(rows, "k bigint, seq bigint, s string")
    eng.create_table(
        "kd", df, versioned=True, deletion_vectors=True
    )
    files = sorted(glob.glob(eng._path("kd") + "/data/w*/**/*.parquet",
                             recursive=True))
    mt = {f: os.path.getmtime(f) for f in files}
    doomed = spark.createDataFrame([(1,), (3,), (99,)], "k bigint")
    n = eng.delete_keys_dv("kd", doomed, ["k"])
    assert n == 20  # 10 rows per present key; absent key matches nothing
    assert eng.table("kd").filter("k IN (1, 3)").count() == 0
    assert eng.table("kd").count() == 30
    # merge-on-read: no data file was rewritten
    assert {f: os.path.getmtime(f) for f in files} == mt
    # zero-match frame commits nothing
    v = eng.table_info("kd")["version"]
    assert eng.delete_keys_dv(
        "kd", spark.createDataFrame([(42,)], "k bigint"), ["k"]
    ) == 0
    assert eng.table_info("kd")["version"] == v
    # non-DV tables refuse
    eng.create_table("kd2", df, versioned=True)
    with pytest.raises(ValueError, match="deletion_vectors"):
        eng.delete_keys_dv("kd2", doomed, ["k"])


def test_meta_row_count_dv_with_stale_refs(spark, eng):
    """VERDICT r9: meta_row_count is exact on DV tables — footer sum
    minus LIVE refs only (a partition rewrite retires files some refs
    point at; those stale refs must not be subtracted) — so whole-table
    DELETE/TRUNCATE report their counts without a table scan under the
    lock."""
    df = spark.createDataFrame(
        [(i, i % 2, i) for i in range(100)], "id bigint, p bigint, v bigint"
    )
    eng.create_table(
        "mrc", df, partition_by=["p"], keys=["id"], versioned=True,
        deletion_vectors=True,
    )
    assert eng.meta_row_count("mrc") == 100
    eng.delete_where_dv("mrc", "id < 10")
    assert eng.meta_row_count("mrc") == 90
    # upsert rewrites partition p=0 from the DV-applied read: its old
    # files leave the mapping, their refs go STALE (still in the list)
    eng.upsert(
        "mrc",
        spark.createDataFrame([(50, 0, 999)], "id bigint, p bigint, v bigint"),
    )
    real = eng.table("mrc").count()
    assert real == 90
    assert eng.meta_row_count("mrc") == real
    # whole-table DELETE status row comes from the metadata count
    st = eng.sql("DELETE FROM mrc").head()
    assert (st.operation, st.n_affected) == ("delete", real)
    assert eng.table("mrc").count() == 0
    assert eng.meta_row_count("mrc") == 0


def test_compact_dvs_uri_escaped_partition_dirs(spark, tmp_path):
    """Regression (r11): stale-ref pruning compared the refs' URI-encoded
    partition relpath (%20) against the raw mapping names, so compact_dvs
    pruned LIVE refs under any escaped partition dir and resurrected
    their deleted rows. Live refs must survive; genuinely stale refs
    (partition rewritten) must still leave."""
    from polars_lake_spark import Engine

    eng = Engine(spark, str(tmp_path / "a"))
    df = spark.createDataFrame(
        [(i, "NOT SPECIFIED" if i % 2 else "clean", i) for i in range(40)],
        "k bigint, p string, v bigint",
    )
    eng.create_table(
        "t", df, keys=["k"], partition_by=["p"],
        versioned=True, deletion_vectors=True,
    )
    eng.delete_where_dv("t", "k < 10")
    eng.delete_where_dv("t", "k >= 30")
    assert eng.table("t").count() == 20
    assert eng.compact_dvs("t") == 20  # all 20 refs live, none pruned
    assert eng.table("t").count() == 20
    # stale pruning still fires: rewriting the 'clean' partition leaves
    # its 5 refs stale; the 5 under the escaped dir stay
    eng2 = Engine(spark, str(tmp_path / "b"))
    eng2.create_table(
        "t", df, keys=["k"], partition_by=["p"],
        versioned=True, deletion_vectors=True,
    )
    eng2.delete_where_dv("t", "k < 10")
    eng2.upsert(
        "t",
        spark.createDataFrame(
            [(0, "clean", 99), (40, "clean", 40)],
            "k bigint, p string, v bigint",
        ),
    )
    before = eng2.table("t").count()
    assert eng2.compact_dvs("t") == 5
    assert eng2.table("t").count() == before


def test_offload_refuses_percent_encodable_roots(spark, tmp_path):
    """The offload DV prefix rewrite swaps raw-string prefixes against
    URI-encoded refs — a root with a space would silently leave refs at
    the old location (deleted rows resurrect after the move), so it must
    refuse loudly instead."""
    import pytest as _pt

    from polars_lake_spark import Engine

    eng = Engine(spark, str(tmp_path / "a"))
    df = spark.range(0, 10).selectExpr("id AS k", "id AS v")
    eng.create_table(
        "t", df, keys=["k"], versioned=True, deletion_vectors=True
    )
    bad = str(tmp_path / "cold tier")
    with _pt.raises(ValueError, match="percent-encodes"):
        eng.offload_table("t", bad)


def test_dv_table_read_plans_without_spark_jobs(spark, eng):
    """``engine.table()`` on a DV table holding several write dirs and
    DV sidecars launches no Spark job: each write dir's schema was
    recorded when it was written and every sidecar has one fixed
    schema, so no read infers a schema from footers.  A dir without a
    recorded schema (written before it was recorded) still reads."""
    _seed(spark, eng, "t")
    for i in range(3):
        eng.insert(
            "t",
            spark.createDataFrame(
                [(100 + i, 9, 1.5, "d%d" % i)],
                "id bigint, user bigint, v double, day string",
            ),
        )
        eng.sql(f"DELETE FROM t WHERE id = {i}")
    snap = eng._snapstore("t").load()
    assert len({w for ws in snap.mapping.values() for w in ws}) >= 3
    assert len(snap.meta["dv"]) == 3
    sc = spark.sparkContext
    group = f"dv-read-budget-{id(eng)}"
    sc.setJobGroup(group, "engine.table on a DV table", False)
    try:
        df = eng.table("t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.dtypes == [
        ("id", "bigint"), ("user", "bigint"), ("v", "double"),
        ("day", "string"),
    ]
    want = {i for i in range(3, 30)} | {100, 101, 102}
    assert {r.id for r in df.collect()} == want
    for f in glob.glob(eng._path("t") + "/data/*/_schema.json"):
        os.remove(f)
    assert {r.id for r in eng.table("t").collect()} == want


def test_dv_keyed_delete_prunes_by_key_range(spark, eng):
    """A keyed DV delete (``delete_keys_dv`` and ``delete`` on a DV
    table) reads only the files whose zone-map key range can hold one
    of the doomed keys, not the whole table."""
    prev = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "50")
    try:
        eng.create_table(
            "c",
            spark.range(1000).select(
                F.col("id"), (F.col("id") % 7).alias("v")
            ),
            keys=["id"], versioned=True, deletion_vectors=True,
            cluster_by=["id"],
        )
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", prev)
    doomed = spark.createDataFrame([(5,), (6,)], "id bigint")
    assert eng.delete_keys_dv("c", doomed, ["id"]) == 2
    r = eng.last_scan_report
    assert r["files_total"] >= 10, r
    assert r["files_kept"] == 1, r
    eng.delete("c", spark.createDataFrame([(700,), (990,)], "id bigint"))
    r = eng.last_scan_report
    assert r["files_total"] >= 10 and r["files_kept"] == 2, r
    ids = {row.id for row in eng.table("c").collect()}
    assert ids == set(range(1000)) - {5, 6, 700, 990}
