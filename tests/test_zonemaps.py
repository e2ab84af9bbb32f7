"""File-level data skipping (zone maps): parquet-footer min/max stats per
write dir, pruned at scan time by Engine.scan_where. Correctness must
NEVER depend on pruning (residual filter always applies); these tests pin
both the equivalence and that pruning actually happens (inputFiles)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from polars_lake_spark import Engine
from polars_lake_spark import zonemaps as Z
from polars_lake_spark.sqltree import parse_expression


# ----------------------------------------------------------- parser units
@pytest.fixture()
def pc(spark):
    """parse_conjuncts over Spark's parse of a predicate string."""
    return lambda pred: Z.parse_conjuncts(parse_expression(spark, pred))


def test_parse_conjuncts_shapes(pc):
    assert pc("a = 5") == [("a", "=", 5)]
    assert pc("5 = a") == [("a", "=", 5)]
    assert pc("a < 5 AND b >= 'x'") == [
        ("a", "<", 5),
        ("b", ">=", "x"),
    ]
    assert pc("10 > a") == [("a", "<", 10)]
    assert pc("a <> 3") == [("a", "!=", 3)]
    assert pc("a BETWEEN 1 AND 3 AND b = 2") == [
        ("a", "between", 1, 3),
        ("b", "=", 2),
    ]
    assert pc("a IN (1, 2, 3)") == [("a", "in", [1, 2, 3])]
    assert pc("a IS NULL AND b IS NOT NULL") == [
        ("a", "isnull"),
        ("b", "notnull"),
    ]
    # unsupported conjuncts drop silently; supported ones survive
    assert pc("a % 7 = 3 AND b = 2") == [("b", "=", 2)]
    assert pc("lower(a) = 'x' AND b < 4") == [("b", "<", 4)]
    # string literal containing AND must not split
    assert pc("a = 'x AND y'") == [("a", "=", "x AND y")]
    # escaped quote inside the literal
    assert pc("a = 'it''s' AND b = 1") == [
        ("a", "=", "it's"),
        ("b", "=", 1),
    ]


def test_parse_conjuncts_or_disables_pruning(pc):
    assert pc("a = 5 OR b = 2") == []
    assert pc("a = 5 AND (b = 2 OR c = 3)") == [("a", "=", 5)]
    # an OR only inside a string literal is not an OR
    assert pc("a = 'x OR y'") == [("a", "=", "x OR y")]


def test_file_survives_ranges():
    fs = {
        "rows": 10,
        "cols": {"a": [["i", 5], ["i", 9], 0], "s": [["s", "m"], ["s", "p"], 2]},
    }
    assert Z.file_survives(fs, [("a", "=", 7)])
    assert not Z.file_survives(fs, [("a", "=", 4)])
    assert not Z.file_survives(fs, [("a", "=", 10)])
    assert Z.file_survives(fs, [("a", "=", 5)])  # inclusive boundaries
    assert Z.file_survives(fs, [("a", "=", 9)])
    assert not Z.file_survives(fs, [("a", "<", 5)])
    assert Z.file_survives(fs, [("a", "<=", 5)])
    assert not Z.file_survives(fs, [("a", ">", 9)])
    assert Z.file_survives(fs, [("a", ">=", 9)])
    assert not Z.file_survives(fs, [("a", "between", 10, 20)])
    assert Z.file_survives(fs, [("a", "between", 9, 20)])
    assert not Z.file_survives(fs, [("a", "in", [1, 4, 11])])
    assert Z.file_survives(fs, [("a", "in", [1, 6])])
    assert not Z.file_survives(fs, [("s", "=", "q")])
    assert Z.file_survives(fs, [("s", "=", "n")])
    # nulls: a has none → IS NULL prunes; s has 2 → survives
    assert not Z.file_survives(fs, [("a", "isnull")])
    assert Z.file_survives(fs, [("s", "isnull")])
    assert Z.file_survives(fs, [("a", "notnull")])
    # all-null column: notnull prunes
    fs2 = {"rows": 4, "cols": {"a": [["i", 0], ["i", 0], 4]}}
    assert not Z.file_survives(fs2, [("a", "notnull")])
    # != prunes only a constant file
    fs3 = {"rows": 4, "cols": {"a": [["i", 3], ["i", 3], 0]}}
    assert not Z.file_survives(fs3, [("a", "!=", 3)])
    assert Z.file_survives(fs, [("a", "!=", 7)])
    # unknown column / type-mismatched literal keep the file
    assert Z.file_survives(fs, [("zz", "=", 1)])
    assert Z.file_survives(fs, [("a", "=", "not-a-number")])


# --------------------------------------------------------------- fixtures
@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, str(tmp_path))


def _seed(spark, eng, name, **kw):
    """Two range-clustered appends → 8 files with tight id ranges."""
    def batch(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id",
            "id * 2 AS v",
            "concat('s', lpad(CAST(id AS STRING), 5, '0')) AS s",
            "DATE_ADD(DATE'2024-01-01', CAST(id / 100 AS INT)) AS d",
        ).repartitionByRange(4, "id")

    eng.create_table(name, batch(0, 1000), keys=["id"], versioned=True, **kw)
    eng.insert(name, batch(1000, 2000))


# ------------------------------------------------------------- end to end
def test_scan_where_prunes_and_matches(spark, eng):
    _seed(spark, eng, "z")
    assert len(glob.glob(eng._path("z") + "/data/*/_zonemap.json")) == 2
    out = eng.scan_where("z", "id = 1500")
    assert eng.last_scan_report["files_total"] == 8
    assert eng.last_scan_report["files_kept"] == 1
    assert len(out.inputFiles()) == 1  # the plan really reads one file
    assert [(r.id, r.v) for r in out.collect()] == [(1500, 3000)]
    # range on a derived column
    out = eng.scan_where("z", "v >= 3900 AND v < 3910")
    assert eng.last_scan_report["files_kept"] == 1
    assert sorted(r.id for r in out.collect()) == [1950, 1951, 1952, 1953, 1954]
    # strings and dates prune too
    out = eng.scan_where("z", "s = 's00042'")
    assert eng.last_scan_report["files_kept"] == 1 and out.count() == 1
    out = eng.scan_where("z", "d = DATE'2024-01-16'")
    assert eng.last_scan_report["files_kept"] == 1
    assert out.count() == 100
    # nothing matches → schema-pinned empty frame, zero files planned
    out = eng.scan_where("z", "id = 999999")
    assert eng.last_scan_report["files_kept"] == 0
    assert out.count() == 0 and out.columns == ["id", "v", "s", "d"]
    # unparseable predicate: no pruning, still correct
    a = sorted(r.id for r in eng.scan_where("z", "id % 17 = 3").collect())
    b = sorted(r.id for r in eng.table("z").filter("id % 17 = 3").collect())
    assert a == b and len(a) > 0


def test_scan_where_residual_filter_is_authoritative(spark, eng):
    """Every conjunct prunes conservatively, but the RESULT must equal a
    plain filter for mixed parseable/unparseable predicates."""
    _seed(spark, eng, "z")
    for pred in [
        "id >= 777 AND id % 2 = 1",
        "v BETWEEN 100 AND 120 AND s > 's00055'",
        "id IN (3, 1503, 4000)",
        "s LIKE 's0000%' AND id < 50",
    ]:
        got = sorted(tuple(r) for r in eng.scan_where("z", pred).collect())
        want = sorted(
            tuple(r) for r in eng.table("z").filter(pred).collect()
        )
        assert got == want, pred


def test_scan_where_with_partitions_and_time_travel(spark, eng):
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(300)],
        "id bigint, day bigint, v double",
    ).repartitionByRange(3, "id")
    eng.create_table(
        "pt", df, partition_by=["day"], keys=["id"], versioned=True
    )
    v1_max = eng.table("pt").agg(F.max("id")).head()[0]
    eng.insert(
        "pt",
        spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(300, 600)],
            "id bigint, day bigint, v double",
        ).repartitionByRange(3, "id"),
    )
    out = eng.scan_where("pt", "id = 450")
    assert eng.last_scan_report["files_kept"] < eng.last_scan_report["files_total"]
    assert [r.day for r in out.collect()] == [0]
    # time travel prunes against THAT version's files
    old = eng.scan_where("pt", "id = 450", version=1)
    assert old.count() == 0 and v1_max == 299
    assert eng.scan_where("pt", "id = 299", version=1).count() == 1


def test_scan_where_respects_deletion_vectors(spark, eng):
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(200)],
        "id bigint, day bigint, v double",
    )
    eng.create_table(
        "dz", df, partition_by=["day"], keys=["id"], versioned=True,
        deletion_vectors=True,
    )
    eng.sql("DELETE FROM dz WHERE id = 42")
    out = eng.scan_where("dz", "id BETWEEN 40 AND 44")
    assert sorted(r.id for r in out.collect()) == [40, 41, 43, 44]


def test_scan_where_after_compaction_and_evolution(spark, eng):
    _seed(spark, eng, "z")
    eng.sql("ALTER TABLE z ADD COLUMN note STRING")
    # the evolved rewrite wrote ONE new dir with a fresh zonemap
    out = eng.scan_where("z", "id = 77")
    assert eng.last_scan_report["files_kept"] >= 1
    r = out.head()
    assert (r.id, r.note) == (77, None)
    # pruning on the evolved column: no stats say anything useful, but
    # correctness holds
    eng.sql("UPDATE z SET note = 'hot' WHERE id = 77")
    assert eng.scan_where("z", "note = 'hot'").count() == 1
    eng.compact("z")
    out = eng.scan_where("z", "id = 1500")
    assert eng.last_scan_report["files_kept"] >= 1
    assert out.head().id == 1500


def test_zone_maps_opt_out(spark, eng):
    df = spark.range(0, 100).selectExpr("id", "id * 2 AS v")
    eng.create_table("nz", df, keys=["id"], versioned=True, zone_maps=False)
    assert not glob.glob(eng._path("nz") + "/data/*/_zonemap.json")
    out = eng.scan_where("nz", "id = 5")
    assert out.count() == 1  # falls back to the unpruned scan


def test_zonemap_distributed_collection_matches_driver(spark, eng, monkeypatch):
    import polars_lake_spark.zonemaps as ZM

    df = spark.range(0, 500).selectExpr("id", "id * 3 AS w").repartitionByRange(
        6, "id"
    )
    eng.create_table("dd", df, keys=["id"], versioned=True)
    wdir = glob.glob(eng._path("dd") + "/data/w*")[0]
    driver = ZM.collect_zonemap(wdir)  # spark=None → driver path
    monkeypatch.setattr(ZM, "DISTRIBUTE_THRESHOLD", 1)
    dist = ZM.collect_zonemap(wdir, spark=spark)
    assert driver == dist


def test_zonemap_vacuum_and_unversioned_fallback(spark, eng):
    _seed(spark, eng, "z")
    eng.sql("UPDATE z SET v = v + 1 WHERE id = 3")
    eng.vacuum("z", keep_last=1)
    # dirs referenced by the latest snapshot keep their zonemaps
    live = glob.glob(eng._path("z") + "/data/*/_zonemap.json")
    assert live
    out = eng.scan_where("z", "id = 3")
    assert out.head().v == 7.0
    # unversioned tables: scan_where is just filter
    eng.create_table("u", spark.range(10).selectExpr("id"), keys=["id"])
    assert eng.scan_where("u", "id = 4").count() == 1


def test_sql_select_fast_path(spark, eng):
    """A plain single-table SELECT ... WHERE over a versioned table
    routes through scan_where (files pruned) with identical semantics;
    anything more complex falls through to vanilla spark.sql."""
    _seed(spark, eng, "z")
    r = eng.sql("SELECT id, v FROM z WHERE id = 1500").collect()
    assert [(x.id, x.v) for x in r] == [(1500, 3000)]
    assert eng.last_scan_report == {
        "files_total": 8, "files_kept": 1, "conjuncts": 1,
    }
    # aggregates in the select list still work over the pruned scan
    assert (
        eng.sql("SELECT count(*) AS n FROM z WHERE v BETWEEN 100 AND 198")
        .head().n == 50
    )
    assert eng.last_scan_report["files_kept"] == 1
    # a keyword inside a string literal neither bails nor mis-slices
    s = eng.sql(
        "SELECT concat(s, ' FROM x WHERE id = 1') AS c FROM z WHERE id = 7"
    ).head().c
    assert s == "s00007 FROM x WHERE id = 1"
    # bail shapes fall through to vanilla SQL (and stay correct)
    eng.last_scan_report = None
    assert (
        eng.sql("SELECT count(*) AS n FROM z WHERE id < 10 GROUP BY s IS NULL")
        .head().n == 10
    )
    assert (
        eng.sql("SELECT id FROM z WHERE id IN (SELECT id FROM z WHERE id = 3)")
        .head().id == 3
    )
    assert eng.last_scan_report is None  # scan_where never ran
    # table-qualified select list resolves via the aliased staging view
    # (stays on the fast path since ADVICE r9)
    assert eng.sql("SELECT z.id FROM z WHERE id = 9").head().id == 9
    # unprunable predicate: vanilla path, same answer
    assert eng.sql("SELECT count(*) AS n FROM z WHERE id % 500 = 1").head().n == 4


def test_sql_fast_path_sees_latest_version(spark, eng):
    """The fast-path must read the CURRENT snapshot like the registered
    view does — a write between two identical SELECTs shows up."""
    _seed(spark, eng, "z")
    assert eng.sql("SELECT v FROM z WHERE id = 3").head().v == 6
    eng.sql("UPDATE z SET v = 999 WHERE id = 3")
    assert eng.sql("SELECT v FROM z WHERE id = 3").head().v == 999


def test_zorder_compact_improves_pruning(spark, eng):
    """OPTIMIZE ZORDER and zone maps compose: interleaved writes leave
    every file's id range wide (pruning keeps everything); a z-ordered
    compaction narrows per-file ranges, and the SAME predicate then
    skips most files."""
    df = spark.range(0, 4000).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v"
    ).repartition(8)  # hash layout: every file spans ~the full id range
    eng.create_table("zo", df, keys=["id"], versioned=True)
    eng.scan_where("zo", "id BETWEEN 100 AND 120").count()
    before = dict(eng.last_scan_report)
    assert before["files_kept"] == before["files_total"] == 8
    eng.compact("zo", n_files=8, zorder_by=["id"])
    out = eng.scan_where("zo", "id BETWEEN 100 AND 120")
    after = dict(eng.last_scan_report)
    assert after["files_total"] == 8
    assert after["files_kept"] <= 2
    assert out.count() == 21


def test_float_nan_pruning_soundness():
    """Spark orders NaN larger than everything and NaN=NaN, but parquet
    min/max stats ignore NaN — so on float stats only NaN-proof shapes
    may prune. A file [3.0, NaN] with min=max=3 must survive v > 100
    and v != 3 (its NaN row matches both), while =, <, BETWEEN, IN may
    still prune."""
    fs = {"rows": 2, "cols": {"v": [["f", 3.0], ["f", 3.0], 0]}}
    assert Z.file_survives(fs, [("v", ">", 100)])
    assert Z.file_survives(fs, [("v", ">=", 100)])
    assert Z.file_survives(fs, [("v", "!=", 3)])
    assert not Z.file_survives(fs, [("v", "=", 100)])
    assert not Z.file_survives(fs, [("v", "<", 3)])
    assert not Z.file_survives(fs, [("v", "between", 100, 200)])
    assert not Z.file_survives(fs, [("v", "in", [1, 2])])
    # integer stats keep the full shape set (no NaN in the domain)
    fi = {"rows": 2, "cols": {"v": [["i", 3], ["i", 3], 0]}}
    assert not Z.file_survives(fi, [("v", ">", 100)])
    assert not Z.file_survives(fi, [("v", "!=", 3)])


def test_float_nan_end_to_end(spark, eng):
    """A NaN row physically in a pruned-candidate file must survive
    scan_where for every predicate shape."""
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, float("nan")), (4, 500.0)],
        "id bigint, v double",
    ).repartitionByRange(2, "id")
    eng.create_table("nan_t", df, keys=["id"], versioned=True)
    for pred in ["v > 100", "v != 2.0", "v >= 1.5", "v = 500.0",
                 "v < 1.5", "v BETWEEN 0 AND 3"]:
        got = sorted(r.id for r in eng.scan_where("nan_t", pred).collect())
        want = sorted(
            r.id for r in eng.table("nan_t").filter(pred).collect()
        )
        assert got == want, pred


def test_cluster_by_keeps_zonemaps_tight_on_ingest(spark, eng):
    """cluster_by range-partitions + sorts every versioned write, so
    point/range predicates skip files from INGEST — no OPTIMIZE ZORDER
    needed. Appends cluster independently; the advisor sees the
    difference vs a hash-scattered table."""
    def batch(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id", "CAST(id AS DOUBLE) AS v"
        ).repartition(8)  # deliberately scattered input

    # tiny test writes coalesce to ONE range partition under AQE (the
    # right behavior at real scale); hold coalescing off so each write
    # lands several files with disjoint ranges
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        eng.create_table(
            "cl", batch(0, 2000), keys=["id"], versioned=True,
            cluster_by=["id"],
        )
        eng.insert("cl", batch(2000, 4000))
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    out = eng.scan_where("cl", "id BETWEEN 100 AND 120")
    rep = dict(eng.last_scan_report)
    assert rep["files_kept"] <= 2 < rep["files_total"]
    assert out.count() == 21
    # rows all present and correct despite the re-layout
    assert eng.table("cl").count() == 4000
    assert eng.scan_where("cl", "id = 3999").head().v == 3999.0
    # advisor: the clustered column reads near-perfect, vs a
    # hash-layout control table that keeps ~everything
    st = eng.zonemap_stats("cl")["columns"]["id"]
    assert st["expected_keep_fraction"] <= 3 * st["perfect"]
    eng.create_table("hz", batch(0, 2000), keys=["id"], versioned=True)
    hs = eng.zonemap_stats("hz")["columns"]["id"]
    assert hs["expected_keep_fraction"] > 0.5
    # validation
    with pytest.raises(ValueError, match="not in data"):
        eng.create_table(
            "bad1", batch(0, 10), versioned=True, cluster_by=["nope"]
        )
    with pytest.raises(ValueError, match="versioned"):
        eng.create_table("bad2", batch(0, 10), cluster_by=["id"])


def test_streaming_ingest_writes_zonemaps(spark, eng, tmp_path):
    """stream_append lands through the same versioned write path, so
    streaming-ingested tables carry zone maps and scan_where prunes —
    and on a cluster_by table the micro-batches cluster themselves."""
    from polars_lake_spark.streaming.ingest import stream_append

    eng.create_table(
        "st",
        spark.range(0, 1000).selectExpr("id", "id * 2 AS v")
        .repartitionByRange(2, "id"),
        keys=["id"], versioned=True, cluster_by=["v"],
    )
    staging = str(tmp_path / "src")
    spark.range(1000, 2000).selectExpr("id", "id * 2 AS v").repartition(
        1
    ).write.parquet(staging)
    stream = spark.readStream.schema("id bigint, v bigint").parquet(staging)
    q = stream_append(
        eng, "st", stream,
        checkpoint_dir=str(tmp_path / "ck"), txn_app="zm_loader",
    )
    q.awaitTermination(120)
    assert eng.table("st").count() == 2000
    # every write dir (initial + micro-batch) carries a zonemap sidecar
    wdirs = glob.glob(eng._path("st") + "/data/w*")
    zms = glob.glob(eng._path("st") + "/data/w*/_zonemap.json")
    assert len(wdirs) == len(zms) >= 2
    out = eng.scan_where("st", "id = 1500")
    rep = dict(eng.last_scan_report)
    assert rep["files_kept"] < rep["files_total"]
    assert out.head().v == 3000


# --------------------------------------------- ADVICE r9 fast-path fixes
def test_sql_fast_path_qualified_and_clause_shapes(spark, eng):
    """Queries vanilla spark.sql resolves must keep working through
    engine.sql (ADVICE r9): case-variant table qualifiers resolve via
    the aliased staging view (and still prune); SORT BY / DISTRIBUTE BY
    / CLUSTER BY swallowed into the predicate span bail to vanilla."""
    _seed(spark, eng, "z")
    # case-variant qualifier in the select list — fast path, pruned
    r = eng.sql("SELECT Z.id, z.v FROM z WHERE id = 1500").collect()
    assert [(x.id, x.v) for x in r] == [(1500, 3000)]
    assert eng.last_scan_report["files_kept"] == 1
    # qualifier in the PREDICATE with >=1 prunable conjunct — the
    # qualified conjunct is unparseable (prunes nothing), v>0 prunes,
    # and the full predicate resolves over the alias
    r = eng.sql("SELECT id FROM z WHERE z.id = 1500 AND v > 2999").collect()
    assert [x.id for x in r] == [1500]
    assert eng.last_scan_report["files_kept"] <= 4
    # SORT BY / DISTRIBUTE BY / CLUSTER BY after WHERE: bail, correct
    r = eng.sql("SELECT id FROM z WHERE id < 5 AND v >= 0 SORT BY id").collect()
    assert sorted(x.id for x in r) == [0, 1, 2, 3, 4]
    assert eng.sql("SELECT id FROM z WHERE id = 3 DISTRIBUTE BY id").head().id == 3
    assert eng.sql("SELECT id FROM z WHERE id = 3 CLUSTER BY id").head().id == 3


def _escaped(spark, eng, name, **kw):
    """ids 1..3 with s = A, x\\ (one backslash), B — one file per row,
    so a wrongly read literal prunes the file that holds the match."""
    df = spark.createDataFrame(
        [(1, "A"), (2, "x\\"), (3, "B")], "id bigint, s string"
    )
    eng.create_table(
        name, df.repartitionByRange(3, "id"), keys=["id"], versioned=True,
        **kw,
    )


def test_sql_escaped_literal_prunes_with_sparks_value(spark, eng):
    """Spark reads the SQL literal 'x\\\\' as x\\ (one backslash) and
    '\\u0041' as A; the zone-map routes prune with Spark's reading of
    the literal, never its spelling."""
    _escaped(spark, eng, "esc")
    q = "SELECT id FROM esc WHERE s = 'x\\\\'"
    assert [r.id for r in eng.sql(q).collect()] == [2]
    assert eng.last_scan_report["files_total"] == 3
    q = "SELECT COUNT(*) FROM esc WHERE s = 'x\\\\'"
    assert eng.sql(q).head()[0] == 1
    q = "SELECT id FROM esc WHERE s = '\\u0041'"
    assert [r.id for r in eng.sql(q).collect()] == [1]


def _doubles(spark, eng, name, **kw):
    """ids 1..3 with DOUBLE v = 0.1, 0.3, 0.1 — one file per row."""
    df = spark.createDataFrame(
        [(1, 0.1), (2, 0.3), (3, 0.1)], "id bigint, v double"
    )
    eng.create_table(
        name, df.repartitionByRange(3, "id"), keys=["id"], versioned=True,
        **kw,
    )


def test_sql_decimal_literal_on_double_prunes_as_double(spark, eng):
    """Spark compares a DOUBLE column with the decimal literal 0.1 as
    the double 0.1, which is not exactly 1/10: pruning and the
    full-match COUNT must compare the same way, or the file whose
    min = max = 0.1 is pruned and the one whose max = 0.3 is certified
    all-matching for v < 0.3."""
    _doubles(spark, eng, "dbl")
    t = eng.table("dbl")
    for pred, ids in [("v = 0.1", [1, 3]), ("v <= 0.1", [1, 3]),
                      ("v < 0.3", [1, 3]), ("v >= 0.3", [2])]:
        assert sorted(r.id for r in t.filter(pred).collect()) == ids
        got = eng.sql(f"SELECT id FROM dbl WHERE {pred}").collect()
        assert sorted(r.id for r in got) == ids, pred
        n = eng.sql(f"SELECT COUNT(*) FROM dbl WHERE {pred}").head()[0]
        assert n == len(ids), pred


def test_sql_fast_path_drops_staging_views(spark, eng):
    """Staging views are dropped as soon as the plan is built — no
    catalog leak over a long session, and the returned DataFrame still
    executes after the drop (spark.sql analyzes eagerly)."""
    _seed(spark, eng, "z")
    for _ in range(3):
        assert eng.sql("SELECT v FROM z WHERE id = 1").head().v == 2
    leaked = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("__zm_scan_")
    ]
    assert leaked == []


def test_last_scan_report_is_per_thread(spark, eng):
    """Concurrent scan_where calls must not race each other's
    observability counters (ADVICE r9): the report is thread-local."""
    import threading

    _seed(spark, eng, "z")
    eng.scan_where("z", "id = 1500").collect()
    main_report = eng.last_scan_report
    seen = []

    def worker():
        eng.scan_where("z", "id >= 0").collect()
        seen.append(dict(eng.last_scan_report))

    th = threading.Thread(target=worker)
    th.start()
    th.join()
    assert seen[0]["files_kept"] == 8  # the worker saw ITS OWN scan
    assert eng.last_scan_report is main_report  # ours untouched
    assert main_report["files_kept"] == 1


def test_zonemap_collection_failure_warns_and_degrades(spark, eng, monkeypatch):
    """A sidecar collection failure must degrade LOUDLY (VERDICT r9):
    one RuntimeWarning per table, a running count in table_info, and
    scans stay correct — just unpruned for the statless write dir."""
    import polars_lake_spark.zonemaps as Zm

    def boom(*a, **k):
        raise RuntimeError("footer exploded")

    monkeypatch.setattr(Zm, "collect_zonemap", boom)
    df = spark.range(0, 100).selectExpr("id", "id * 2 AS v")
    with pytest.warns(RuntimeWarning, match="zone-map collection failed"):
        eng.create_table("zerr", df, keys=["id"], versioned=True)
    # second failing write counts but does not re-warn
    with warnings_none():
        eng.insert("zerr", spark.range(100, 200).selectExpr("id", "id * 2 AS v"))
    assert eng.table_info("zerr")["zonemap_errors"] == 2
    out = eng.scan_where("zerr", "id = 50")
    rep = eng.last_scan_report
    assert rep["files_kept"] == rep["files_total"]  # conservative full scan
    assert out.head().v == 100
    assert eng.table("zerr").count() == 200


class warnings_none:
    """Context manager asserting NO RuntimeWarning is raised inside."""

    def __enter__(self):
        import warnings as W

        self._cm = W.catch_warnings(record=True)
        self._log = self._cm.__enter__()
        import warnings as W2

        W2.simplefilter("always")
        return self

    def __exit__(self, *exc):
        self._cm.__exit__(*exc)
        bad = [w for w in self._log if issubclass(w.category, RuntimeWarning)]
        assert not bad, f"unexpected RuntimeWarning(s): {bad}"
        return False


def test_zone_cols_cap_by_schema_position(tmp_path):
    """The MAX_ZONE_COLS cap keeps the FIRST columns by schema position
    (Delta's dataSkippingNumIndexedCols semantics), not alphabetical
    name order (ADVICE r9) — a frequently-filtered early column late in
    the alphabet must still prune."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = ["z_lead", "y", "x", "w", "v", "a", "b"]
    t = pa.table({n: [1, 2] for n in names})
    p = str(tmp_path / "f.parquet")
    pq.write_table(t, p)
    st = Z._file_stats(p, max_cols=5)
    assert list(st["cols"]) == ["z_lead", "y", "x", "w", "v"]


def test_sql_fast_path_time_travel_prunes_pinned_version(spark, eng):
    """VERDICT r9: `SELECT ... FROM t VERSION AS OF n WHERE ...` routes
    through the zone-map fast path against the PINNED version's
    sidecars — correct pinned rows, and files actually skipped."""
    _seed(spark, eng, "z")  # v1 = 4 files (0..1000), v2 = 8 files
    eng.last_scan_report = {}
    r = eng.sql("SELECT id, v FROM z VERSION AS OF 1 WHERE id = 500")
    assert [(x.id, x.v) for x in r.collect()] == [(500, 1000)]
    rep = dict(eng.last_scan_report)
    assert rep == {"files_total": 4, "files_kept": 1, "conjuncts": 1}
    # a key that only exists at v2 is absent from the pinned read
    assert (
        eng.sql("SELECT id FROM z VERSION AS OF 1 WHERE id = 1500").count()
        == 0
    )
    assert eng.last_scan_report["files_total"] == 4
    # HEAD query still plans against all 8 files
    eng.sql("SELECT id FROM z WHERE id = 500").collect()
    assert eng.last_scan_report["files_total"] == 8
    # mutate HEAD: the pinned version still reads the old value, pruned
    eng.sql("UPDATE z SET v = -1 WHERE id = 500")
    eng.last_scan_report = {}
    assert (
        eng.sql("SELECT v FROM z VERSION AS OF 1 WHERE id = 500").head().v
        == 1000
    )
    assert eng.last_scan_report["files_kept"] == 1
    assert eng.sql("SELECT v FROM z WHERE id = 500").head().v == -1
    # TIMESTAMP AS OF resolves to a version and prunes the same way;
    # a bail shape (GROUP BY) with AS OF still runs vanilla, correct
    hist = eng.sql("DESCRIBE HISTORY z").collect()
    ts = max(r.timestamp for r in hist if r.version == 1)
    eng.last_scan_report = {}
    got = eng.sql(
        f"SELECT v FROM z TIMESTAMP AS OF '{ts}' WHERE id = 500"
    ).head().v
    assert got == 1000 and eng.last_scan_report["files_kept"] == 1
    n = eng.sql(
        "SELECT count(*) AS n FROM z VERSION AS OF 1 "
        "WHERE id < 100 GROUP BY id % 2"
    ).count()
    assert n == 2


def test_count_where_metadata_full_match(spark, eng):
    """Selective COUNT answers full-match files from footers and scans
    only the boundary; the SQL fast path routes through it."""
    _seed(spark, eng, "z")
    pred = "id BETWEEN 100 AND 1900"
    want = eng.table("z").filter(pred).count()
    assert eng.count_where("z", pred) == want == 1801
    rep = dict(eng.last_scan_report)
    assert rep["full_match_files"] >= 4  # interior files never scanned
    assert rep["full_match_rows"] > 0
    assert rep["files_kept"] <= 8
    # SQL fast path: same answer, Spark's column name, report updated
    out = eng.sql(f"SELECT COUNT(*) FROM z WHERE {pred}")
    assert out.columns == ["count(1)"] and out.head()[0] == want
    assert eng.sql(
        f"SELECT COUNT(1) AS n FROM z WHERE {pred}"
    ).head().n == want
    # point count: one full or boundary file, exact either way
    assert eng.sql("SELECT COUNT(*) FROM z WHERE id = 1500").head()[0] == 1
    # unparseable extra conjunct -> falls back to pruned scan, exact
    assert (
        eng.count_where("z", f"{pred} AND id % 2 = 0")
        == eng.table("z").filter(f"{pred} AND id % 2 = 0").count()
    )
    # a predicate selecting NOTHING: zero, zero files scanned
    assert eng.count_where("z", "id = 999999") == 0
    # time travel counts the pinned version
    assert eng.count_where("z", "id >= 0", version=1) == 1000
    assert (
        eng.sql("SELECT COUNT(*) FROM z VERSION AS OF 1 WHERE id >= 0")
        .head()[0] == 1000
    )


def test_count_where_dv_and_nulls_exact(spark, eng):
    """Exactness guards: live DVs force the scan path (footer counts
    include deleted rows); NULL-bearing columns never full-match a
    value predicate."""
    df = spark.createDataFrame(
        [(i, None if i % 10 == 0 else i * 2) for i in range(1000)],
        "id bigint, v bigint",
    )
    eng.create_table(
        "cw",
        df.repartitionByRange(4, "id"),
        keys=["id"],
        versioned=True,
        deletion_vectors=True,
    )
    # NULLs in v: a v-range can never fully match (nulls recorded)
    pred = "v BETWEEN 0 AND 4000"
    assert eng.count_where("cw", pred) == eng.table("cw").filter(pred).count()
    assert eng.last_scan_report.get("full_match_files", 0) == 0
    # id has no nulls: full match fires
    assert eng.count_where("cw", "id >= 0") == 1000
    assert eng.last_scan_report["full_match_files"] >= 1
    # DV delete: metadata path disabled, count stays exact
    eng.delete_where_dv("cw", "id < 100")
    assert eng.count_where("cw", "id >= 0") == 900
    assert eng.sql("SELECT COUNT(*) FROM cw WHERE id >= 0").head()[0] == 900


def test_sql_fast_path_trailing_string_literal(spark, eng):
    """Clause slices cut BETWEEN delimiter keywords on the original
    text: a predicate ENDING in a string literal used to truncate
    ("s = 's00042'" -> "s =") because the masked literal read as
    trailing whitespace (r10 regression)."""
    _seed(spark, eng, "z")
    r = eng.sql("SELECT id FROM z WHERE s = 's00042'")
    assert [x.id for x in r.collect()] == [42]
    assert eng.last_scan_report["files_kept"] == 1
    # multi-conjunct predicate ending in a literal
    r = eng.sql("SELECT id FROM z WHERE id < 100 AND s = 's00042'").collect()
    assert [x.id for x in r] == [42]
    # metadata COUNT with a trailing literal and a trailing semicolon
    assert (
        eng.sql("SELECT COUNT(*) FROM z WHERE s <= 's00099';").head()[0]
        == 100
    )
    # select list that is ONLY a literal still slices correctly
    assert eng.sql("SELECT 'x' FROM z WHERE id = 3").head()[0] == "x"
    # partition-column predicate on a partitioned table (the CTAS shape
    # that surfaced the bug: no footer stats for partition columns)
    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(30)], "id bigint, grp string"
    )
    eng.create_table("pq", df, partition_by=["grp"], versioned=True)
    assert eng.sql("SELECT COUNT(*) FROM pq WHERE grp = 'g0'").head()[0] == 10


# ----------------------------------------------- float NaN (ADVICE r10)
def test_file_all_match_float_nan_mirror_rule():
    """A spec-compliant foreign writer records ignore-NaN float stats
    (pyarrow: [3.0, NaN] -> min=max=3), so a hidden NaN row may lurk
    above the recorded max. Spark orders NaN largest: such a row ALWAYS
    satisfies >, >=, != and ALWAYS fails =, IN, BETWEEN, <, <= — so
    without NaN-proof evidence all-match may certify only the former
    (the exact INVERSE of file_survives' float pruning rule; the r10
    code had it backwards)."""
    fs = {"rows": 5, "cols": {"v": [["f", 3.0], ["f", 3.0], 0]}}
    nan_fails = [
        [("v", "=", 3.0)],
        [("v", "in", [3.0, 4.0])],
        [("v", "between", 1.0, 10.0)],
        [("v", "<", 10.0)],
        [("v", "<=", 10.0)],
    ]
    nan_satisfies = [
        [("v", ">", 1.0)],
        [("v", ">=", 3.0)],
        [("v", "!=", 7.0)],
    ]
    for conj in nan_fails:
        assert Z.file_all_match(fs, conj) is None, conj
        assert Z.file_all_match(fs, conj, fnanproof=True) == 5, conj
    for conj in nan_satisfies:
        assert Z.file_all_match(fs, conj) == 5, conj
        assert Z.file_all_match(fs, conj, fnanproof=True) == 5, conj
    # integers are unaffected by the float rule
    fi = {"rows": 4, "cols": {"k": [["i", 2], ["i", 2], 0]}}
    assert Z.file_all_match(fi, [("k", "=", 2)]) == 4


def test_foreign_float_stats_dropped_at_collection(tmp_path):
    """_file_stats keeps float stats only for parquet-mr files (whose
    NaN-poisoned endpoints the collector already drops, so survivors
    are provably NaN-free); a pyarrow file's ignore-NaN float stats
    are dropped outright."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fp = str(tmp_path / "foreign.parquet")
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1, 2], pa.int64()),
                "v": pa.array([3.0, float("nan")], pa.float64()),
            }
        ),
        fp,
    )
    st = pq.ParquetFile(fp).metadata.row_group(0).column(1).statistics
    assert st.has_min_max and st.min == 3.0 == st.max  # the threat is real
    fs = Z._file_stats(fp)
    assert "k" in fs["cols"] and "v" not in fs["cols"]


def test_convert_adopted_foreign_nan_file_stays_exact(spark, eng):
    """The end-to-end ADVICE scenario: a convert_to_versioned-adopted
    dir containing a foreign parquet file whose ignore-NaN stats hide a
    NaN. MAX(v) must come back NaN (Spark orders NaN largest) and a
    selective COUNT must never count the NaN row as matching."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k bigint, v double"
    )
    eng.create_table("adopt", df.repartition(2), versioned=False)
    part = sorted(glob.glob(eng._path("adopt") + "/part-*.parquet"))[0]
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1000, 1001], pa.int64()),
                "v": pa.array([3.0, float("nan")], pa.float64()),
            }
        ),
        part,
    )
    crc = os.path.join(os.path.dirname(part), "." + os.path.basename(part) + ".crc")
    if os.path.isfile(crc):
        os.remove(crc)
    eng.convert_to_versioned("adopt")
    mx = eng.sql("SELECT MAX(v) AS mx FROM adopt").head().mx
    assert math.isnan(mx)
    pred = "v <= 1000000.0"
    assert eng.count_where("adopt", pred) == eng.table("adopt").filter(pred).count()


def test_doctored_sidecar_without_nanproof_not_trusted(spark, eng):
    """Defense in depth for pre-r11 / hand-written sidecars: float
    stats in a sidecar WITHOUT the fnanproof stamp must neither certify
    all-match on NaN-failing shapes (count_where would over-count) nor
    answer exact MIN/MAX (MAX would hide the NaN)."""
    import json as J
    import math

    rows = [(i, float(i)) for i in range(100)] + [(100, float("nan"))]
    df = spark.createDataFrame(rows, "k bigint, v double")
    eng.create_table("doc", df.coalesce(1), versioned=True)
    [zpath] = glob.glob(eng._path("doc") + "/data/*/_zonemap.json")
    with open(zpath) as f:
        zm = J.load(f)
    # claim clean ignore-NaN float stats over the NaN-bearing file and
    # strip the NaN-proof stamp (what a foreign/legacy sidecar looks like)
    for fs in zm["files"].values():
        fs["cols"]["v"] = [["f", 0.0], ["f", 99.0], 0]
    zm.pop("fnanproof", None)
    with open(zpath, "w") as f:
        J.dump(zm, f)
    pred = "v <= 99.0"
    want = eng.table("doc").filter(pred).count()
    assert want == 100  # the NaN row fails the predicate
    assert eng.count_where("doc", pred) == want
    assert eng.last_scan_report.get("full_match_files", 0) == 0
    assert eng.minmax_meta("doc", "v") is None
    assert math.isnan(eng.sql("SELECT MAX(v) AS mx FROM doc").head().mx)


def test_engine_float_minmax_still_metadata_only(spark, eng):
    """The fnanproof stamp keeps NaN-free float extremes answerable
    from sidecars alone (the minmax_meta_check gate shape)."""
    df = spark.createDataFrame(
        [(i, float(i) * 1.5) for i in range(200)], "k bigint, v double"
    )
    eng.create_table("fm", df.repartitionByRange(3, "k"), versioned=True)
    out = eng.sql("SELECT MIN(v) AS lo, MAX(v) AS hi FROM fm")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan
    r = out.head()
    assert (r.lo, r.hi) == (0.0, 199 * 1.5)
