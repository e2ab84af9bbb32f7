"""Metadata-only column DDL on versioned tables (Delta column-mapping
analog, r14): ALTER ADD/DROP/RENAME COLUMN commit one snapshot with a
schema-event log — zero data files move — and reads/zone-map probes
translate each write dir's era names forward
(snapshots.commit_schema_change / apply_schema_events / era_conjuncts,
engine.rename_column / drop_columns / add_column)."""

import os

import pyspark.sql.functions as F
import pytest

from polars_lake_spark import Engine


def _wdirs(root, table):
    p = os.path.join(root, table, "data")
    return {d for d in os.listdir(p) if d.startswith("w")} if os.path.isdir(p) else set()


def _mk(spark, tmp_path, rows=3, **kw):
    eng = Engine(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, f"s{i}", float(i * 10)) for i in range(1, rows + 1)],
        "id bigint, s string, v double",
    )
    eng.create_table("t", df, keys=["id"], versioned=True, **kw)
    return eng


def test_rename_is_metadata_only(spark, tmp_path):
    eng = _mk(spark, tmp_path)
    before = _wdirs(eng.root, "t")
    v0 = eng.history("t")[-1]["version"]
    eng.rename_column("t", "v", "val")
    assert _wdirs(eng.root, "t") == before, "rename moved data files"
    hist = eng.history("t")
    assert hist[-1]["version"] == v0 + 1 and hist[-1]["op"] == "alter"
    assert eng.table("t").columns == ["id", "s", "val"]
    assert {(r.id, r.val) for r in eng.table("t").collect()} == {
        (1, 10.0), (2, 20.0), (3, 30.0),
    }


def test_mixed_era_read_and_upsert(spark, tmp_path):
    eng = _mk(spark, tmp_path)
    eng.rename_column("t", "v", "val")
    eng.insert(
        "t",
        spark.createDataFrame([(4, "s4", 40.0)], "id bigint, s string, val double"),
    )
    eng.upsert(
        "t",
        spark.createDataFrame([(1, "s1", 11.0)], "id bigint, s string, val double"),
    )
    assert {(r.id, r.val) for r in eng.table("t").collect()} == {
        (1, 11.0), (2, 20.0), (3, 30.0), (4, 40.0),
    }


def test_rename_chain_and_swap_direction(spark, tmp_path):
    # a→b then c→a: per-dir replay must apply in event order
    eng = _mk(spark, tmp_path)
    eng.rename_column("t", "v", "w")
    eng.rename_column("t", "s", "v")
    got = eng.table("t")
    assert got.columns == ["id", "v", "w"]
    assert {(r.id, r.v, r.w) for r in got.collect()} == {
        (1, "s1", 10.0), (2, "s2", 20.0), (3, "s3", 30.0),
    }


def test_time_travel_and_restore_keep_era_names(spark, tmp_path):
    eng = _mk(spark, tmp_path)
    eng.rename_column("t", "v", "val")
    v1 = eng.table("t", version=1)
    assert "v" in v1.columns and "val" not in v1.columns
    assert {r.v for r in v1.collect()} == {10.0, 20.0, 30.0}
    # restore to the pre-rename version: old name comes back, and a new
    # rename still translates the (still-old-era) dirs correctly
    eng.restore("t", 1)
    assert eng.table("t").columns == ["id", "s", "v"]
    eng.rename_column("t", "v", "v2")
    assert {r.v2 for r in eng.table("t").collect()} == {10.0, 20.0, 30.0}


def test_drop_then_readd_does_not_resurrect(spark, tmp_path):
    eng = _mk(spark, tmp_path)
    before = _wdirs(eng.root, "t")
    eng.drop_columns("t", ["s"])
    assert _wdirs(eng.root, "t") == before
    assert eng.table("t").columns == ["id", "v"]
    eng.add_column("t", "s", "string")
    assert {(r.id, r.s) for r in eng.table("t").collect()} == {
        (1, None), (2, None), (3, None),
    }
    # and the re-added column accepts new writes while old rows stay NULL
    eng.upsert(
        "t",
        spark.createDataFrame([(1, 10.0, "new")], "id bigint, v double, s string"),
    )
    assert {(r.id, r.s) for r in eng.table("t").collect()} == {
        (1, "new"), (2, None), (3, None),
    }


def test_metadata_add_reads_typed_null_before_any_write(spark, tmp_path):
    eng = _mk(spark, tmp_path)
    eng.add_column("t", "score", "decimal(10,2)")
    got = eng.table("t")
    assert got.schema["score"].dataType.simpleString() == "decimal(10,2)"
    assert {r.score for r in got.collect()} == {None}


def test_zonemap_prune_translates_eras(spark, tmp_path):
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "20000")
    try:
        eng = Engine(spark, str(tmp_path / "wh"))
        df = spark.range(0, 100000).select(
            "id", (F.col("id") * 2).alias("m"), F.lit("x").alias("s")
        )
        eng.create_table("z", df, keys=["id"], versioned=True, cluster_by=["m"])
        assert eng.scan_where("z", "m BETWEEN 100 AND 120").count() == 11
        base_rep = dict(eng.last_scan_report)
        assert base_rep["files_kept"] < base_rep["files_total"]
        eng.rename_column("z", "m", "metric")
        # same probe through the new name: old-era sidecars must still
        # prune (era_conjuncts reverse-translates metric → m per dir)
        assert eng.scan_where("z", "metric BETWEEN 100 AND 120").count() == 11
        rep = dict(eng.last_scan_report)
        assert rep["files_kept"] == base_rep["files_kept"]
        assert rep["files_total"] == base_rep["files_total"]
        # COUNT fast path on the renamed column (file_all_match era path)
        assert eng.count_where("z", "metric < 1000") == 500
        # post-rename append: both eras prune under the current name
        eng.insert(
            "z",
            spark.range(100000, 200000).select(
                "id", (F.col("id") * 2).alias("metric"), F.lit("y").alias("s")
            ),
        )
        assert (
            eng.scan_where("z", "metric BETWEEN 199000 AND 199020").count() == 11
        )
        rep2 = dict(eng.last_scan_report)
        assert rep2["files_kept"] < rep2["files_total"]
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")


def test_readded_column_never_uses_dropped_stats(spark, tmp_path):
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "20000")
    try:
        eng = Engine(spark, str(tmp_path / "wh"))
        df = spark.range(0, 100000).select(
            "id", (F.col("id") * 2).alias("m")
        )
        eng.create_table("z", df, keys=["id"], versioned=True, cluster_by=["m"])
        eng.drop_columns("z", ["m"])
        eng.add_column("z", "m", "bigint")
        # every m is NULL now; the old m's tight stats would wrongly
        # prove/prune — the era sentinel must keep them out of play
        assert eng.scan_where("z", "m = 100").count() == 0
        assert eng.count_where("z", "m IS NULL") == 100000
        assert eng.count_where("z", "m = 100") == 0
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")


def test_sql_alter_routes_metadata_only_when_versioned(spark, tmp_path):
    eng = _mk(spark, tmp_path)
    before = _wdirs(eng.root, "t")
    st = eng.sql("ALTER TABLE t RENAME COLUMN v TO val").collect()[0]
    assert (st.operation, st.n_affected) == ("alter_rename_column", 0)
    st = eng.sql("ALTER TABLE t ADD COLUMN extra int").collect()[0]
    assert (st.operation, st.n_affected) == ("alter_add_column", 0)
    st = eng.sql("ALTER TABLE t DROP COLUMN extra").collect()[0]
    assert (st.operation, st.n_affected) == ("alter_drop_column", 0)
    assert _wdirs(eng.root, "t") == before
    # the SQL view refreshed: the new name queries
    assert eng.sql("SELECT sum(val) AS s FROM t").collect()[0].s == 60.0


def test_unversioned_alter_keeps_rewrite_path(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "u",
        spark.createDataFrame([(1, 1.0)], "id bigint, v double"),
        keys=["id"],
    )
    st = eng.sql("ALTER TABLE u RENAME COLUMN v TO val").collect()[0]
    assert st.n_affected == 1  # rewrite path reports rows touched
    assert eng.table("u").columns == ["id", "val"]


def test_guards(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "a", 1.0, "p0")], "id bigint, s string, v double, p string"
    )
    eng.create_table("g", df, keys=["id"], versioned=True, partition_by=["p"])
    with pytest.raises(ValueError, match="layout"):
        eng.rename_column("g", "p", "q")
    with pytest.raises(ValueError, match="key"):
        eng.drop_columns("g", ["id"])
    with pytest.raises(ValueError, match="exists"):
        eng.rename_column("g", "s", "v")
    with pytest.raises(ValueError, match="no column"):
        eng.rename_column("g", "nope", "x")
    with pytest.raises(ValueError, match="invalid column name"):
        eng.rename_column("g", "s", "__mark")
    eng.add_constraint("g", "pos", "v >= 0")
    with pytest.raises(ValueError, match="constraint"):
        eng.rename_column("g", "v", "w")
    with pytest.raises(ValueError, match="constraint"):
        eng.drop_columns("g", ["v"])
    eng.drop_constraint("g", "pos")
    eng.rename_column("g", "v", "w")  # allowed once the constraint is gone
    with pytest.raises(ValueError, match="every column"):
        eng.drop_columns("g", ["id", "s", "w", "p"])


def test_generated_column_guards(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, 5.0)], "id bigint, v double")
    eng.create_table(
        "gg", df, keys=["id"], versioned=True, generated={"v2": "v * 2"}
    )
    with pytest.raises(ValueError, match="GENERATED"):
        eng.rename_column("gg", "v2", "dbl")
    with pytest.raises(ValueError, match="formula"):
        eng.rename_column("gg", "v", "w")
    eng.add_column("gg", "note", "string")  # unrelated column is fine
    eng.rename_column("gg", "note", "memo")
    eng.drop_columns("gg", ["memo"])


def test_key_rename_follows_and_cdc_guard(spark, tmp_path):
    from polars_lake_spark.streaming.ingest import apply_changes_batch

    eng = _mk(spark, tmp_path)
    eng.rename_column("t", "id", "doc_id")
    assert eng.specs["t"].keys == ["doc_id"]
    eng.upsert(
        "t",
        spark.createDataFrame(
            [(2, "s2", 22.0)], "doc_id bigint, s string, v double"
        ),
    )
    assert {r.v for r in eng.table("t").filter("doc_id = 2").collect()} == {22.0}
    # CDC companion state pins the key name
    eng.create_table(
        "c",
        spark.createDataFrame([(1, "a")], "k bigint, s string"),
        keys=["k"],
        versioned=True,
    )
    b = spark.createDataFrame(
        [(1, None, "delete", 10)], "k bigint, s string, _op string, seq bigint"
    )
    apply_changes_batch(eng, "c", b, sequence_by="seq")
    with pytest.raises(ValueError, match="CDC companion"):
        eng.rename_column("c", "k", "kk")
    eng.rename_column("c", "s", "payload")  # non-key is fine


def test_clone_carries_events_and_counter_monotonicity(spark, tmp_path):
    eng = _mk(spark, tmp_path)
    eng.rename_column("t", "v", "val")
    eng.clone("t", "t2")
    assert {(r.id, r.val) for r in eng.table("t2").collect()} == {
        (1, 10.0), (2, 20.0), (3, 30.0),
    }
    # post-clone write + post-clone rename on the CLONE: the new dir's
    # counter must exceed the inherited dirs', so the second rename
    # applies to the inherited (old-era) dirs but NOT the new one
    eng.insert(
        "t2",
        spark.createDataFrame([(4, "s4", 40.0)], "id bigint, s string, val double"),
    )
    eng.rename_column("t2", "val", "metric")
    assert {(r.id, r.metric) for r in eng.table("t2").collect()} == {
        (1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0),
    }
    # the source is untouched
    assert eng.table("t").columns == ["id", "s", "val"]


def test_events_survive_restart_and_vacuum(spark, tmp_path):
    eng = _mk(spark, tmp_path)
    eng.rename_column("t", "v", "val")
    eng.insert(
        "t",
        spark.createDataFrame([(4, "s4", 40.0)], "id bigint, s string, val double"),
    )
    eng.vacuum("t", keep_last=1)
    # a FRESH engine discovers the manifest + snapshot event log
    eng2 = Engine(spark, eng.root)
    got = eng2.table("t")
    assert got.columns == ["id", "s", "val"]
    assert {r.val for r in got.collect()} == {10.0, 20.0, 30.0, 40.0}


def test_rewrite_keeps_event_lineage(spark, tmp_path):
    eng = _mk(spark, tmp_path)
    eng.rename_column("t", "v", "val")
    # a full rewrite re-lands every row under current names; the carried
    # event log is a read-side no-op (the fresh dir postdates every
    # event) but preserves the rename lineage for the change feed
    eng.overwrite(
        "t",
        eng.table("t").withColumn("val", F.col("val") + 1),
        allow_drop=False,
    )
    store = eng._snapstore("t")
    assert (store.load().meta or {}).get("schema_events")
    assert eng.table("t").columns == ["id", "s", "val"]
    assert {r.val for r in eng.table("t").collect()} == {11.0, 21.0, 31.0}


def test_changes_across_rename_reports_only_real_changes(spark, tmp_path):
    """Delta-CDF alignment: a rename between the two versions is
    METADATA — the change feed must not report every row as an update
    (old.v vs new.val would diff NULL-vs-value and poison incremental
    aggregate maintenance).  The event-log suffix replays onto the old
    read instead."""
    eng = _mk(spark, tmp_path)
    eng.rename_column("t", "v", "val")
    eng.upsert(
        "t",
        spark.createDataFrame([(2, "s2", 99.0)], "id bigint, s string, val double"),
    )
    ch = eng.changes("t", 1).collect()
    assert {(r.id, r._change_type) for r in ch} == {(2, "update")}
    # drop between versions: the dropped column compares as equal-NULL,
    # not as a change on every row
    eng.drop_columns("t", ["s"])
    assert eng.changes("t", 3).count() == 0


def test_type_widening_metadata_only(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "w",
        spark.createDataFrame([(1, 5), (2, 7)], "id bigint, v int"),
        keys=["id"],
        versioned=True,
    )
    before = _wdirs(eng.root, "w")
    st = eng.sql("ALTER TABLE w ALTER COLUMN v TYPE bigint").collect()[0]
    assert (st.operation, st.n_affected) == ("alter_column_type", 0)
    assert _wdirs(eng.root, "w") == before
    got = eng.table("w")
    assert got.schema["v"].dataType.simpleString() == "bigint"
    assert {(r.id, r.v) for r in got.collect()} == {(1, 5), (2, 7)}
    # post-widen values beyond int range, mixed-era read + zone-map probe
    eng.insert("w", spark.createDataFrame([(3, 2**40)], "id bigint, v bigint"))
    assert {r.v for r in eng.table("w").collect()} == {5, 7, 2**40}
    assert eng.count_where("w", "v > 6") == 2
    # time travel shows the era type
    assert eng.table("w", version=1).schema["v"].dataType.simpleString() == "int"


def test_type_widening_guards(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "w",
        spark.createDataFrame([(1, 5, 1.5, 7)], "id bigint, v bigint, f float, p int"),
        keys=["id"],
        versioned=True,
        partition_by=["p"],
    )
    with pytest.raises(ValueError, match="widening"):
        eng.alter_column_type("w", "v", "int")  # narrowing
    with pytest.raises(ValueError, match="widening"):
        eng.alter_column_type("w", "v", "string")  # cross-family
    with pytest.raises(ValueError, match="layout"):
        eng.alter_column_type("w", "p", "bigint")  # partition col
    eng.alter_column_type("w", "f", "double")
    assert eng.table("w").schema["f"].dataType.simpleString() == "double"
    # decimal: precision growth ok, integer-digit shrink refused
    eng.add_column("w", "m", "decimal(5,2)")
    eng.alter_column_type("w", "m", "decimal(12,4)")
    assert eng.table("w").schema["m"].dataType.simpleString() == "decimal(12,4)"
    with pytest.raises(ValueError, match="widening"):
        eng.alter_column_type("w", "m", "decimal(12,11)")


def test_unversioned_widening_rewrites(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "u", spark.createDataFrame([(1, 5)], "id bigint, v int"), keys=["id"]
    )
    st = eng.sql("ALTER TABLE u ALTER COLUMN v TYPE bigint").collect()[0]
    assert st.n_affected == 1  # rewrite path
    assert eng.table("u").schema["v"].dataType.simpleString() == "bigint"
    with pytest.raises(ValueError, match="widening"):
        eng.sql("ALTER TABLE u ALTER COLUMN v TYPE int")


def test_minmax_fast_path_era_translation(spark, tmp_path):
    """r14 review #1: the SQL MIN/MAX sidecar fast path must not answer
    a re-added column's query from the DROPPED column's stale stats."""
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "mm",
        spark.createDataFrame([(i, i) for i in range(1, 101)], "id bigint, x bigint"),
        keys=["id"],
        versioned=True,
    )
    eng.drop_columns("mm", ["x"])
    eng.add_column("mm", "x", "bigint")
    eng.insert(
        "mm",
        spark.createDataFrame([(1000, 1000)], "id bigint, x bigint"),
    )
    # old-era dir has x stats [1,100] but every old row reads NULL now
    row = eng.sql("SELECT MIN(x) AS lo, MAX(x) AS hi FROM mm").collect()[0]
    assert (row.lo, row.hi) == (1000, 1000), (row.lo, row.hi)
    # renamed column still answers via the sidecars
    eng2 = Engine(spark, str(tmp_path / "wh2"))
    eng2.create_table(
        "mr",
        spark.createDataFrame([(i, i) for i in range(1, 101)], "id bigint, x bigint"),
        keys=["id"],
        versioned=True,
    )
    eng2.rename_column("mr", "x", "y")
    row = eng2.sql("SELECT MIN(y) AS lo, MAX(y) AS hi FROM mr").collect()[0]
    assert (row.lo, row.hi) == (1, 100)


def test_fresh_engine_disk_probes(spark, tmp_path):
    """r14 review #2/#4: guards that depend on companion/base tables
    must probe DISK, not just the lazily-loaded spec cache."""
    from polars_lake_spark.streaming.ingest import apply_changes_batch

    root = str(tmp_path / "wh")
    eng = Engine(spark, root)
    eng.create_table(
        "c",
        spark.createDataFrame([(1, "a")], "k bigint, s string"),
        keys=["k"],
        versioned=True,
    )
    b = spark.createDataFrame(
        [(1, None, "delete", 10)], "k bigint, s string, _op string, seq bigint"
    )
    apply_changes_batch(eng, "c", b, sequence_by="seq")
    eng.create_table(
        "other", spark.createDataFrame([(1,)], "z bigint"), keys=["z"],
        versioned=True,
    )
    # FRESH process: only the target table gets loaded
    eng2 = Engine(spark, root)
    with pytest.raises(ValueError, match="CDC companion"):
        eng2.rename_column("c", "k", "kk")
    eng3 = Engine(spark, root)
    with pytest.raises(ValueError, match="reserved"):
        eng3.rename_table("other", "c_quarantine")


def test_optimize_purges_dropped_column_bytes(spark, tmp_path):
    """REORG TABLE ... APPLY (PURGE) analog: a metadata-only DROP leaves
    the bytes in old files; OPTIMIZE rewrites through the conformed read
    (current schema), so the new files physically omit the dropped
    column and the event log self-cleans for the rewritten dirs."""
    import glob

    import pyarrow.parquet as pq

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "t",
        spark.createDataFrame(
            [(i, "x" * 100, float(i)) for i in range(100)],
            "id bigint, payload string, v double",
        ),
        keys=["id"],
        versioned=True,
    )
    eng.drop_columns("t", ["payload"])

    def physical_cols():
        out = set()
        for f in glob.glob(str(tmp_path / "wh/t/data/**/*.parquet"), recursive=True):
            out |= set(pq.read_schema(f).names)
        return out

    assert "payload" in physical_cols()  # metadata drop keeps the bytes
    eng.compact("t")
    eng.vacuum("t", keep_last=1)
    assert "payload" not in physical_cols()  # OPTIMIZE + VACUUM purged
    assert eng.table("t").columns == ["id", "v"]
    assert eng.table("t").count() == 100


@pytest.mark.parametrize("versioned", [True, False])
def test_sql_column_ddl_guard_same_on_both_paths(spark, tmp_path, versioned):
    """The metadata-only (versioned) and rewrite (unversioned) ALTER
    paths make one decision: a column named only inside a constraint's
    string literal may drop; a column an expectation reads may neither
    drop nor rename, and the refusal is a ValueError before any write."""
    eng = Engine(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "a", 1.0, 2.0)], "id bigint, s string, val double, w double"
    )
    eng.create_table("cg", df, keys=["id"], versioned=versioned)
    eng.add_constraint("cg", "not_val", "s <> 'val'")
    eng.sql("ALTER TABLE cg DROP COLUMN val").collect()
    assert eng.table("cg").columns == ["id", "s", "w"]
    eng.add_expectation("cg", "pos_w", "w >= 0")
    with pytest.raises(ValueError, match="expectation 'pos_w'"):
        eng.sql("ALTER TABLE cg DROP COLUMN w")
    with pytest.raises(ValueError, match="expectation 'pos_w'"):
        eng.sql("ALTER TABLE cg RENAME COLUMN w TO w2")
    assert eng.table("cg").columns == ["id", "s", "w"]
    assert eng.table("cg").collect()[0].asDict() == {
        "id": 1, "s": "a", "w": 2.0,
    }
