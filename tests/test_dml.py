"""SQL DML statements (DELETE / UPDATE / INSERT INTO ... SELECT) routed
through the engine's mutation paths."""

import pytest
from pyspark.errors import ParseException
from pyspark.sql import functions as F

from polars_lake_spark import Engine


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3), float(i * 10)) for i in range(20)],
        "id bigint, grp string, val double",
    )
    e.create_table("t", df, keys=["id"])
    return e


def test_delete_where(eng):
    st = eng.sql("DELETE FROM t WHERE grp = 'g0'").head()
    assert (st["operation"], st["n_affected"]) == ("delete", 7)
    assert eng.sql("SELECT count(*) AS n FROM t").head()["n"] == 13
    assert eng.table("t").filter("grp = 'g0'").count() == 0


def test_update_set_where(eng):
    st = eng.sql("UPDATE t SET val = val + 1, grp = upper(grp) WHERE id < 5").head()
    assert (st["operation"], st["n_affected"]) == ("update", 5)
    rows = {r.id: (r.grp, r.val) for r in eng.table("t").collect()}
    assert rows[0] == ("G0", 1.0) and rows[4] == ("G1", 41.0)
    assert rows[10] == ("g1", 100.0)  # untouched


def test_update_set_with_function_commas(eng):
    st = eng.sql(
        "UPDATE t SET val = round(greatest(val, 55.0), 1) WHERE id IN (1, 2)"
    ).head()
    assert st["n_affected"] == 2
    rows = {r.id: r.val for r in eng.table("t").collect()}
    assert rows[1] == 55.0 and rows[2] == 55.0 and rows[3] == 30.0


def test_insert_into_select(eng, spark):
    spark.range(100, 103).select(
        F.col("id"), F.lit("gx").alias("grp"), F.lit(0.0).alias("val")
    ).createOrReplaceTempView("src")
    st = eng.sql("INSERT INTO t SELECT id, grp, val FROM src").head()
    assert (st["operation"], st["n_affected"]) == ("insert", 3)
    assert eng.table("t").filter("grp = 'gx'").count() == 3


def test_select_passthrough_and_unknown_table_falls_through(eng):
    assert eng.sql("SELECT max(id) AS m FROM t").head()["m"] == 19
    with pytest.raises(Exception):
        eng.sql("DELETE FROM no_such_table WHERE 1=1").collect()


def test_dml_on_two_level_namespace(eng, spark):
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id bigint, v double")
    eng.create_table("s.u", df, keys=["id"])
    st = eng.sql("DELETE FROM s__u WHERE id = 1").head()
    assert st["n_affected"] == 1 and st["table"] == "s.u"
    assert eng.table("s.u").count() == 1


def test_update_set_sees_old_row_values(eng, spark):
    """Standard SQL: all SET expressions evaluate against the OLD row —
    SET a = b, b = a must swap."""
    df = spark.createDataFrame([(1, 10.0, 20.0)], "id bigint, a double, b double")
    eng.create_table("sw", df, keys=["id"])
    eng.sql("UPDATE sw SET a = b, b = a")
    r = eng.table("sw").head()
    assert (r.a, r.b) == (20.0, 10.0)


def test_update_set_null_sticks(eng, spark):
    df = spark.createDataFrame([(1, "x")], "id bigint, s string")
    eng.create_table("nl", df, keys=["id"])
    eng.sql("UPDATE nl SET s = NULL WHERE id = 1")
    assert eng.table("nl").head().s is None


def test_delete_row_exact_under_duplicate_keys(eng, spark):
    """Two rows share the key; DELETE WHERE must remove exactly the
    matching ROW, not every row sharing its key (the engine.delete
    anti-join would take both)."""
    df = spark.createDataFrame(
        [(1, "keep"), (1, "doomed")], "id bigint, tag string"
    )
    eng.create_table("dup", df, keys=["id"])
    st = eng.sql("DELETE FROM dup WHERE tag = 'doomed'").head()
    assert st["n_affected"] == 1
    rows = eng.table("dup").collect()
    assert len(rows) == 1 and rows[0].tag == "keep"


def test_update_where_inside_string_literal(eng, spark):
    """A SET expression whose string literal contains 'WHERE' must not
    truncate the clause (quote-aware top-level split)."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, s string")
    eng.create_table("q", df, keys=["id"])
    eng.sql("UPDATE q SET s = 'x where y' WHERE id = 1")
    rows = {r.id: r.s for r in eng.table("q").collect()}
    assert rows == {1: "x where y", 2: "b"}


def test_insert_column_subset_null_fills(eng):
    """Unlisted table columns become NULL and the table keeps its full
    schema (a narrower append must not clobber the recorded schema)."""
    st = eng.sql(
        "INSERT INTO t (id, grp) SELECT 900 AS a, 'gz' AS b"
    ).head()
    assert st["n_affected"] == 1
    row = eng.table("t").filter("id = 900").head()
    assert row.grp == "gz" and row.val is None
    assert set(eng.table("t").columns) == {"id", "grp", "val"}


def test_batched_sqls_routes_dml(eng):
    """sqls() must route DML like sql() — not hit the Spark analyzer."""
    out = eng.sqls(["DELETE FROM t WHERE id = 0", "SELECT count(*) AS n FROM t"])
    assert out[0].head()["n_affected"] == 1
    assert out[1].head()["n"] == 19


def test_update_respects_check_constraints(eng, spark):
    """DML routes through engine.overwrite, which enforces CHECK
    constraints — an UPDATE that would violate one must fail and leave
    the table untouched."""
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id bigint, v double")
    eng.create_table("c", df, keys=["id"])
    eng.add_constraint("c", "v_pos", "v > 0")
    with pytest.raises(Exception, match="v_pos|constraint"):
        eng.sql("UPDATE c SET v = -5 WHERE id = 1").collect()
    rows = {r.id: r.v for r in eng.table("c").collect()}
    assert rows == {1: 10.0, 2: 20.0}
    # a valid update still lands
    eng.sql("UPDATE c SET v = 99.0 WHERE id = 1")
    assert {r.v for r in eng.table("c").filter("id = 1").collect()} == {99.0}


def test_dml_on_versioned_table_is_one_snapshot_with_time_travel(eng, spark):
    """Each DML statement on a versioned table publishes exactly one
    snapshot; the pre-statement version stays queryable (time travel)."""
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id bigint, v double")
    eng.create_table("vt", df, keys=["id"], versioned=True)
    v0 = len(eng.history("vt"))
    eng.sql("UPDATE vt SET v = v * 10 WHERE id = 1")
    eng.sql("DELETE FROM vt WHERE id = 2")
    hist = eng.history("vt")
    assert len(hist) == v0 + 2
    assert {r.id: r.v for r in eng.table("vt").collect()} == {1: 100.0}
    # time travel: the state between the two statements and the original
    versions = sorted(h["version"] for h in hist)
    mid = {r.id: r.v for r in eng.table("vt", version=versions[-2]).collect()}
    assert mid == {1: 100.0, 2: 20.0}
    orig = {r.id: r.v for r in eng.table("vt", version=versions[0]).collect()}
    assert orig == {1: 10.0, 2: 20.0}


def test_dml_update_feeds_change_data_capture(eng, spark):
    """An UPDATE issued as SQL shows up in the change feed between the
    surrounding versions like any API mutation."""
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id bigint, v double")
    eng.create_table("cd", df, keys=["id"], versioned=True)
    vs = sorted(h["version"] for h in eng.history("cd"))
    eng.sql("UPDATE cd SET v = 11.0 WHERE id = 1")
    vs2 = sorted(h["version"] for h in eng.history("cd"))
    feed = eng.changes("cd", vs[-1], vs2[-1]).collect()
    by_type = {}
    for r in feed:
        by_type.setdefault(r["_change_type"], []).append(r)
    assert set(by_type) == {"update"} or set(by_type) == {
        "update_preimage",
        "update_postimage",
    }


def test_vacuum_and_optimize_statements(eng, spark, tmp_path):
    """Delta-style maintenance statements route to vacuum/compact."""
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id bigint, v double")
    eng.create_table("m", df, keys=["id"], versioned=True)
    eng.sql("UPDATE m SET v = v + 1")  # second snapshot -> old dirs exist
    st = eng.sql("VACUUM m RETAIN 1").head()
    assert st["operation"] == "vacuum" and st["n_affected"] >= 1
    assert {r.v for r in eng.table("m").collect()} == {2.0, 3.0}

    df2 = spark.createDataFrame([(i, float(i)) for i in range(20)], "id bigint, v double")
    eng.create_table("m2", df2, keys=["id"])
    st2 = eng.sql("OPTIMIZE m2").head()
    # n_affected = data FILES before compaction (metadata walk, no scan)
    assert st2["operation"] == "optimize" and st2["n_affected"] >= 1
    assert eng.table("m2").count() == 20


def test_merge_into_statement(eng, spark):
    """MERGE INTO ... USING ... ON ... WHEN clauses map onto
    engine.merge: conditional delete, update-all, insert-missing."""
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id bigint, v double"
    )
    eng.create_table("mg", df, keys=["id"])
    spark.createDataFrame(
        [(1, -1.0), (2, 99.0), (9, 9.0)], "id bigint, v double"
    ).createOrReplaceTempView("mg_src")
    st = eng.sql(
        "MERGE INTO mg USING mg_src AS s ON mg.id = s.id "
        "WHEN MATCHED AND s.v < 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    ).head()
    assert (st["operation"], st["n_affected"]) == ("merge", 3)
    rows = {r.id: r.v for r in eng.table("mg").collect()}
    # id=1 deleted (source v<0), id=2 updated, id=3 untouched, id=9 inserted
    assert rows == {2: 99.0, 3: 30.0, 9: 9.0}


def test_merge_into_subquery_source_and_bad_on_rejected(eng, spark):
    df = spark.createDataFrame([(1, 10.0)], "id bigint, v double")
    eng.create_table("mg2", df, keys=["id"])
    st = eng.sql(
        "MERGE INTO mg2 USING (SELECT 5 AS id, 50.0 AS v) ON mg2.id = s.id "
        "WHEN NOT MATCHED THEN INSERT *"
    ).head()
    assert st["n_affected"] == 1
    assert eng.table("mg2").count() == 2
    with pytest.raises(ValueError, match="column equalities"):
        eng.sql(
            "MERGE INTO mg2 USING (SELECT 1 AS id, 1.0 AS v) ON mg2.id > s.id "
            "WHEN NOT MATCHED THEN INSERT *"
        )


def test_ctas_and_drop_statements(eng):
    st = eng.sql(
        "CREATE TABLE agg AS SELECT grp, count(*) AS n FROM t GROUP BY grp"
    ).head()
    assert st["operation"] == "create_table_as" and st["n_affected"] == 3
    assert eng.sql("SELECT sum(n) AS s FROM agg").head()["s"] == 20
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE TABLE agg AS SELECT 1 AS x")
    st2 = eng.sql("DROP TABLE agg").head()
    assert st2["operation"] == "drop_table"
    # not an engine table anymore: IF EXISTS falls through to spark.sql
    # (no-op, no error) instead of synthesizing a success frame
    eng.sql("DROP TABLE IF EXISTS agg").collect()


def test_drop_if_exists_reaches_spark_catalog(eng, spark):
    """DROP TABLE IF EXISTS on a Spark-catalog (non-engine) table must
    actually drop it — a synthesized success frame that leaves the table
    standing is a lie (ADVICE r5)."""
    spark.sql("DROP TABLE IF EXISTS cat_tbl")
    spark.sql("CREATE TABLE cat_tbl (x INT) USING parquet")
    assert spark.catalog.tableExists("cat_tbl")
    eng.sql("DROP TABLE IF EXISTS cat_tbl").collect()
    assert not spark.catalog.tableExists("cat_tbl")


def test_delete_update_nondeterministic_predicate_consistent(eng):
    """A rand() predicate must yield n_affected that agrees exactly with
    the rows actually mutated, and per-column updates must not tear —
    the predicate is pinned by one materialization (ADVICE r5)."""
    st = eng.sql(
        "UPDATE t SET val = -1.0, grp = 'hit' WHERE rand() < 0.5"
    ).head()
    rows = eng.table("t").collect()
    hit = [r for r in rows if r.grp == "hit"]
    # no torn rows: grp='hit' iff val=-1.0
    assert all(r.val == -1.0 for r in hit)
    assert all(r.val != -1.0 for r in rows if r.grp != "hit")
    assert st["n_affected"] == len(hit)

    st2 = eng.sql("DELETE FROM t WHERE rand() < 0.5").head()
    assert eng.table("t").count() == 20 - st2["n_affected"]


def _parse_refused(eng, name, sql, condition):
    """Spark's parser refuses ``sql`` with ``condition`` before the
    engine runs anything: table ``name`` is unchanged."""
    before = sorted(eng.table(name).collect(), key=str)
    with pytest.raises(ParseException) as exc:
        eng.sql(sql)
    assert exc.value.getCondition() == condition
    assert sorted(eng.table(name).collect(), key=str) == before


def test_merge_explicit_update_set(eng, spark):
    """Explicit-column UPDATE SET (formerly rejected): matched rows take
    exactly the assignments — unassigned columns keep OLD values — and
    expressions resolve through the user's own aliases."""
    spark.createDataFrame(
        [(1, 1.0), (5, 2.0)], "id bigint, v double"
    ).createOrReplaceTempView("mr_src")
    df = spark.createDataFrame(
        [(1, 10.0, "keep1"), (2, 20.0, "keep2")],
        "id bigint, v double, tag string",
    )
    eng.create_table("mr", df, keys=["id"])
    st = eng.sql(
        "MERGE INTO mr USING mr_src ON mr.id = mr_src.id "
        "WHEN MATCHED THEN UPDATE SET v = mr.v + mr_src.v * 100 "
        "WHEN NOT MATCHED THEN INSERT *"
    ).head()
    assert st["operation"] == "merge"
    got = {r.id: (r.v, r.tag) for r in eng.table("mr").collect()}
    assert got[1] == (110.0, "keep1")   # assigned col updated, tag kept
    assert got[2] == (20.0, "keep2")    # unmatched target untouched
    assert got[5] == (2.0, None)        # insert takes source values
    # assigning an unknown column errors loudly
    with pytest.raises(ValueError, match="not target columns"):
        eng.sql(
            "MERGE INTO mr USING mr_src ON mr.id = mr_src.id "
            "WHEN MATCHED THEN UPDATE SET nope = 1"
        )
    # multiple WHEN MATCHED clauses are ordered first-match-wins, so an
    # UNconditioned clause anywhere but last makes the rest dead — Spark's
    # parser refuses it
    _parse_refused(
        eng,
        "mr",
        "MERGE INTO mr USING mr_src ON mr.id = mr_src.id "
        "WHEN MATCHED THEN UPDATE SET v = 1 "
        "WHEN MATCHED THEN UPDATE SET *",
        "NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION",
    )


def test_merge_not_matched_by_source_delete(eng, spark):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE removes target rows the
    source lacks (optionally condition-scoped); matched and inserted
    rows are unaffected."""
    spark.createDataFrame([(1, 1.0)], "id bigint, v double").createOrReplaceTempView(
        "mbs_src"
    )
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id bigint, v double"
    )
    eng.create_table("mbs", df, keys=["id"])
    eng.sql(
        "MERGE INTO mbs USING mbs_src ON mbs.id = mbs_src.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE AND mbs.v > 25 THEN DELETE"
    )
    got = {r.id: r.v for r in eng.table("mbs").collect()}
    assert got == {1: 1.0, 2: 20.0}  # 3 deleted (>25), 2 kept (condition)


def test_merge_by_source_delete_and_set_on_dv_table(spark, tmp_path):
    """The deletion-vector merge path honors explicit SET and BY SOURCE
    deletes too: refs leave merge-on-read (no rewrite), assignments land
    in the appended copies."""
    e = Engine(spark, str(tmp_path / "dv"))
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")],
        "id bigint, v double, tag string",
    )
    e.create_table(
        "mdv", df, keys=["id"], versioned=True, deletion_vectors=True
    )
    spark.createDataFrame(
        [(1, 5.0), (9, 9.0)], "id bigint, v double"
    ).createOrReplaceTempView("mdv_src")
    e.sql(
        "MERGE INTO mdv USING mdv_src ON mdv.id = mdv_src.id "
        "WHEN MATCHED THEN UPDATE SET v = mdv_src.v * 3 "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND mdv.tag = 'c' THEN DELETE"
    )
    got = {r.id: (r.v, r.tag) for r in e.table("mdv").collect()}
    assert got[1] == (15.0, "a")    # SET applied, unassigned col kept
    assert got[2] == (20.0, "b")    # by-source condition false: kept
    assert 3 not in got             # by-source delete
    assert got[9] == (9.0, None)    # insert


def test_merge_update_set_star_is_last_write_wins(eng, spark):
    """SQL/Delta UPDATE SET *: a NULL in the source overwrites the
    target (not the engine API's coalesce default)."""
    df = spark.createDataFrame([(1, "old")], "id bigint, s string")
    eng.create_table("mnull", df, keys=["id"])
    spark.createDataFrame([(1, None)], "id bigint, s string").createOrReplaceTempView(
        "mnull_src"
    )
    eng.sql(
        "MERGE INTO mnull USING mnull_src ON mnull.id = mnull_src.id "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    assert eng.table("mnull").head().s is None


def test_merge_subquery_with_trailing_parens(eng, spark):
    df = spark.createDataFrame([(1, 1.0)], "id bigint, v double")
    eng.create_table("mp", df, keys=["id"])
    st = eng.sql(
        "MERGE INTO mp USING (SELECT 7 AS id, 7.0 AS v FROM range(1) "
        "WHERE 7 IN (6, 7)) ON mp.id = s.id "
        "WHEN NOT MATCHED THEN INSERT *"
    ).head()
    assert st["n_affected"] == 1
    assert eng.table("mp").count() == 2


def test_merge_using_engine_table_source(eng, spark):
    """USING <engine table> resolves through the engine's own names,
    including two-level ones, not just Spark catalog views."""
    eng.create_table(
        "mt", spark.createDataFrame([(1, 1.0)], "id bigint, v double"), keys=["id"]
    )
    eng.create_table(
        "s2.src",
        spark.createDataFrame([(2, 2.0)], "id bigint, v double"),
        keys=["id"],
    )
    st = eng.sql(
        "MERGE INTO mt USING s2.src ON mt.id = src.id "
        "WHEN NOT MATCHED THEN INSERT *"
    ).head()
    assert st["n_affected"] == 1 and eng.table("mt").count() == 2


def test_drop_table_statement_is_durable(spark, tmp_path):
    """SQL DROP removes the manifest and files — a fresh engine over the
    same root must not resurrect the table."""
    from polars_lake_spark import Engine

    e1 = Engine(spark, str(tmp_path))
    e1.create_table(
        "d", spark.createDataFrame([(1,)], "id bigint"), keys=["id"]
    )
    e1.sql("DROP TABLE d")
    e2 = Engine(spark, str(tmp_path))
    e2.load_all()
    assert "d" not in e2.tables()


# ---- MERGE reads its clauses from Spark's parse tree: literals,
# comments, nested calls and quoted names never move a clause boundary
def test_merge_set_list_literal_commas_calls_and_case(eng, spark):
    """One SET list holding a comma inside a literal, a nested call, an
    escaped quote and a CASE expression: every column takes exactly its
    own value."""
    spark.createDataFrame(
        [(1, 5.0)], "id bigint, v double"
    ).createOrReplaceTempView("sl_src")
    df = spark.createDataFrame(
        [(1, 0.0, "x", "x", "x")],
        "id bigint, v double, a string, b string, c string",
    )
    eng.create_table("sl", df, keys=["id"])
    eng.sql(
        "MERGE INTO sl USING sl_src AS s ON sl.id = s.id "
        "WHEN MATCHED THEN UPDATE SET a = 'a,b', "
        "v = greatest(s.v, pow(2, 3)), b = 'it\\'s', "
        "c = CASE WHEN s.v > 1 THEN 'big, s.v' ELSE 'small' END"
    )
    assert eng.table("sl").collect()[0].asDict() == {
        "id": 1, "v": 8.0, "a": "a,b", "b": "it's", "c": "big, s.v",
    }


def _merge_target(eng, spark, name, src):
    spark.createDataFrame(
        [(1, 5.0), (2, 7.0)], "id bigint, v double"
    ).createOrReplaceTempView(src)
    df = spark.createDataFrame(
        [(1, 10.0, "x"), (2, 20.0, "y"), (3, 30.0, "z")],
        "id bigint, v double, note string",
    )
    eng.create_table(name, df, keys=["id"])


def test_merge_target_named_like_the_source_alias(eng, spark):
    """A target table named ``n`` (merge_into's own source alias): the
    source alias ``s`` must not be rewritten into the target's."""
    _merge_target(eng, spark, "n", "n_src")
    st = eng.sql(
        "MERGE INTO n USING n_src AS s ON n.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v"
    ).head()
    assert st["n_affected"] == 2
    got = {r.id: r.v for r in eng.table("n").collect()}
    assert got == {1: 5.0, 2: 7.0, 3: 30.0}


@pytest.mark.parametrize("dv", [False, True])
def test_merge_set_columns_qualified_by_the_target(eng, spark, dv):
    """Delta's qualified SET / INSERT column form (``SET qs.v = s.v``,
    ``x.note`` under the alias ``x``) names the target's own columns,
    on rewrite and deletion-vector tables alike."""
    spark.createDataFrame(
        [(1, 5.0), (2, 7.0), (4, 9.0)], "id bigint, v double"
    ).createOrReplaceTempView("qs_src")
    eng.create_table(
        "qs",
        spark.createDataFrame(
            [(1, 10.0, "x"), (2, 20.0, "y"), (3, 30.0, "z")],
            "id bigint, v double, note string",
        ),
        keys=["id"], versioned=dv, deletion_vectors=dv,
    )
    st = eng.sql(
        "MERGE INTO qs USING qs_src AS s ON qs.id = s.id "
        "WHEN MATCHED AND s.id = 1 THEN UPDATE SET qs.v = s.v "
        "WHEN MATCHED THEN UPDATE SET qs.v = s.v + 1, qs.note = 'u' "
        "WHEN NOT MATCHED THEN INSERT (qs.id, qs.v) VALUES (s.id, s.v)"
    ).head()
    assert st["n_affected"] == 3
    eng.sql(
        "MERGE INTO qs AS x USING qs_src AS s ON x.id = s.id "
        "WHEN MATCHED AND s.id = 4 THEN UPDATE SET x.note = 'a'"
    )
    got = {r.id: (r.v, r.note) for r in eng.table("qs").collect()}
    assert got == {
        1: (5.0, "x"), 2: (8.0, "u"), 3: (30.0, "z"), 4: (9.0, "a"),
    }


def test_merge_clause_keyword_inside_string_literal(eng, spark):
    _merge_target(eng, spark, "kw", "kw_src")
    eng.sql(
        "MERGE INTO kw USING kw_src AS s ON kw.id = s.id "
        "WHEN MATCHED THEN UPDATE SET note = 'a WHEN MATCHED b' "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r.id: r.note for r in eng.table("kw").collect()}
    assert got == {1: "a WHEN MATCHED b", 2: "a WHEN MATCHED b", 3: "z"}


def test_merge_with_comments(eng, spark):
    """A ``--`` comment after ON and a ``/* */`` comment between WHEN and
    THEN are Spark's comments, not clause text."""
    _merge_target(eng, spark, "cm", "cm_src")
    eng.sql(
        "MERGE INTO cm USING cm_src AS s ON cm.id = s.id -- the key\n"
        "WHEN MATCHED AND s.v > 6 /* only id 2 */ THEN UPDATE SET v = s.v "
        "WHEN MATCHED /* the rest */ THEN DELETE"
    )
    got = {r.id: r.v for r in eng.table("cm").collect()}
    assert got == {2: 7.0, 3: 30.0}


def test_merge_aliased_target(eng, spark):
    """``MERGE INTO t AS x``: the target alias reads the target row."""
    _merge_target(eng, spark, "ta", "ta_src")
    st = eng.sql(
        "MERGE INTO ta AS x USING ta_src AS s ON x.id = s.id "
        "WHEN MATCHED AND x.v < 15 THEN UPDATE SET v = s.v + x.v"
    ).head()
    assert st["operation"] == "merge"
    got = {r.id: r.v for r in eng.table("ta").collect()}
    assert got == {1: 15.0, 2: 20.0, 3: 30.0}


def test_merge_backticked_source_alias(eng, spark):
    _merge_target(eng, spark, "bq", "bq_src")
    eng.sql(
        "MERGE INTO bq USING bq_src AS `s` ON bq.id = `s`.id "
        "WHEN MATCHED THEN UPDATE SET v = `s`.`v` * 2, note = bq.note || 'q'"
    )
    got = {r.id: (r.v, r.note) for r in eng.table("bq").collect()}
    assert got == {1: (10.0, "xq"), 2: (14.0, "yq"), 3: (30.0, "z")}


def test_analyze_table_statement(eng):
    st = eng.sql("ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS id, grp").head()
    assert (st["operation"], st["n_affected"]) == ("analyze", 20)
    assert eng.specs["t"].stats is not None


def test_select_for_version_as_of(eng, spark, tmp_path):
    """SELECT ... FOR VERSION AS OF pins a snapshot; both the FOR and
    bare Delta spellings parse; unversioned references fall through."""
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id bigint, v double")
    eng.create_table("tt", df, keys=["id"], versioned=True)
    eng.sql("UPDATE tt SET v = v + 100 WHERE id = 1")
    cur = {r.id: r.v for r in eng.sql("SELECT * FROM tt").collect()}
    assert cur[1] == 110.0
    old = {
        r.id: r.v
        for r in eng.sql("SELECT * FROM tt FOR VERSION AS OF 1").collect()
    }
    assert old == {1: 10.0, 2: 20.0}
    bare = eng.sql("SELECT sum(v) AS s FROM tt VERSION AS OF 1").head()
    assert bare["s"] == 30.0


def test_select_timestamp_as_of(eng, spark):
    """TIMESTAMP AS OF resolves to the latest snapshot at or before the
    instant; an instant before the first commit errors."""
    import datetime as dt

    import pytest as _pytest

    df = spark.createDataFrame([(1, 1.0)], "id bigint, v double")
    eng.create_table("ts_t", df, keys=["id"], versioned=True)
    eng.sql("UPDATE ts_t SET v = 2.0 WHERE id = 1")
    hist = eng._snapstore("ts_t").history()
    t1 = dt.datetime.fromtimestamp(
        hist[0]["ts_ns"] / 1e9, tz=dt.timezone.utc
    ).isoformat()
    got = eng.sql(
        f"SELECT v FROM ts_t FOR TIMESTAMP AS OF '{t1}'"
    ).head()["v"]
    assert got == 1.0
    t_now = dt.datetime.now(tz=dt.timezone.utc).isoformat()
    assert eng.sql(
        f"SELECT v FROM ts_t FOR TIMESTAMP AS OF '{t_now}'"
    ).head()["v"] == 2.0
    before = dt.datetime.fromtimestamp(
        (hist[0]["ts_ns"] - 10**9) / 1e9, tz=dt.timezone.utc
    ).isoformat()
    with _pytest.raises(ValueError, match="at or before"):
        eng.sql(f"SELECT v FROM ts_t FOR TIMESTAMP AS OF '{before}'")


def test_time_travel_inside_dml_source(eng, spark):
    """The AS OF rewrite reaches table references inside a DML source
    subquery (INSERT INTO ... SELECT ... FOR VERSION AS OF n)."""
    df = spark.createDataFrame([(1, 5.0)], "id bigint, v double")
    eng.create_table("src_v", df, keys=["id"], versioned=True)
    eng.sql("UPDATE src_v SET v = 99.0 WHERE id = 1")
    eng.create_table(
        "sink_v",
        spark.createDataFrame([], "id bigint, v double"),
        keys=["id"],
    )
    st = eng.sql(
        "INSERT INTO sink_v SELECT id, v FROM src_v FOR VERSION AS OF 1"
    ).head()
    assert st["n_affected"] == 1
    assert eng.table("sink_v").head()["v"] == 5.0


def test_alter_constraint_statements(eng, spark):
    """ALTER TABLE ADD/DROP CONSTRAINT route to the engine's constraint
    store: a violating insert is rejected until the constraint drops;
    DROP without IF EXISTS on a missing name errors loudly."""
    from polars_lake_spark.engine import ConstraintViolationError

    st = eng.sql("ALTER TABLE t ADD CONSTRAINT val_pos CHECK (val >= 0)").head()
    assert st["operation"] == "alter_add_constraint"
    bad = spark.createDataFrame([(500, "gz", -1.0)], "id bigint, grp string, val double")
    with pytest.raises(ConstraintViolationError):
        eng.insert("t", bad)
    with pytest.raises(ValueError, match="no constraint"):
        eng.sql("ALTER TABLE t DROP CONSTRAINT nope")
    eng.sql("ALTER TABLE t DROP CONSTRAINT IF EXISTS nope")
    st2 = eng.sql("ALTER TABLE t DROP CONSTRAINT val_pos").head()
    assert st2["operation"] == "alter_drop_constraint"
    eng.insert("t", bad)  # passes now
    assert eng.table("t").filter("val < 0").count() == 1


def test_alter_add_column_statement(eng, spark):
    """ALTER TABLE ADD COLUMN lands a NULL-filled typed column on every
    existing row; adding an existing column errors; a versioned table
    time-travels to the pre-add schema."""
    st = eng.sql("ALTER TABLE t ADD COLUMN note string").head()
    assert (st["operation"], st["n_affected"]) == ("alter_add_column", 20)
    assert dict(eng.table("t").dtypes)["note"] == "string"
    assert eng.table("t").filter(F.col("note").isNull()).count() == 20
    with pytest.raises(ValueError, match="exists"):
        eng.sql("ALTER TABLE t ADD COLUMN note string")

    # complex types parse; multi-column ADD COLUMNS rejects loudly
    eng.sql("ALTER TABLE t ADD COLUMN meta map<string,int>")
    assert dict(eng.table("t").dtypes)["meta"] == "map<string,int>"
    with pytest.raises(ValueError, match="one ADD COLUMN"):
        eng.sql("ALTER TABLE t ADD COLUMNS (a int, b int)")

    df = spark.createDataFrame([(1, 1.0)], "id bigint, v double")
    eng.create_table("vc", df, keys=["id"], versioned=True)
    eng.sql("ALTER TABLE vc ADD COLUMN w double")
    assert "w" in eng.table("vc").columns
    assert "w" not in eng.sql("SELECT * FROM vc FOR VERSION AS OF 1").columns


def test_alter_add_column_paren_typed(eng):
    """decimal(10,2) — a paren-typed single column, the exact shape the
    balanced-paren unwrap exists for: the type's own parens must survive
    both with and without a wrapping paren pair (r6 verdict item 3b)."""
    eng.sql("ALTER TABLE t ADD COLUMN price decimal(10,2)")
    assert dict(eng.table("t").dtypes)["price"] == "decimal(10,2)"
    eng.sql("ALTER TABLE t ADD COLUMNS (price2 decimal(7,3))")
    assert dict(eng.table("t").dtypes)["price2"] == "decimal(7,3)"


def test_time_travel_pattern_inside_string_literal(eng, spark):
    """'... VERSION AS OF 1' INSIDE a string literal is data, not syntax
    — the rewriter must leave it verbatim (r6 verdict item 3a)."""
    df = spark.createDataFrame([(1, "x")], "id bigint, s string")
    eng.create_table("ttl", df, keys=["id"], versioned=True)
    eng.sql("UPDATE ttl SET s = 'ttl VERSION AS OF 1' WHERE id = 1")
    assert eng.table("ttl").head().s == "ttl VERSION AS OF 1"
    got = eng.sql(
        "SELECT s FROM ttl WHERE s = 'ttl VERSION AS OF 1'"
    ).collect()
    assert [r.s for r in got] == ["ttl VERSION AS OF 1"]
    # and a REAL reference right next to a literal one still rewrites
    n = eng.sql(
        "SELECT count(*) AS n FROM ttl VERSION AS OF 1 "
        "WHERE s != 'ttl VERSION AS OF 99'"
    ).head()["n"]
    assert n == 1


def test_alter_drop_column_statement(eng, spark):
    """DROP COLUMN rewrites without the column; layout/key/constraint
    columns are refused; the (a, b) list form drops several at once."""
    eng.sql("ALTER TABLE t ADD COLUMN extra string")
    eng.sql("ALTER TABLE t ADD COLUMN extra2 int")
    st = eng.sql("ALTER TABLE t DROP COLUMN extra").head()
    assert (st["operation"], st["n_affected"]) == ("alter_drop_column", 20)
    assert "extra" not in eng.table("t").columns
    with pytest.raises(ValueError, match="upsert key"):
        eng.sql("ALTER TABLE t DROP COLUMN id")
    eng.sql("ALTER TABLE t ADD CONSTRAINT vpos CHECK (val >= 0)")
    with pytest.raises(ValueError, match="constraint"):
        eng.sql("ALTER TABLE t DROP COLUMN val")
    eng.sql("ALTER TABLE t DROP CONSTRAINT vpos")
    eng.sql("ALTER TABLE t DROP COLUMNS (extra2, val)")
    assert set(eng.table("t").columns) == {"id", "grp"}

    # layout columns are refused on a partitioned table
    df = spark.createDataFrame([(1, "a", 1.0)], "id bigint, p string, v double")
    eng.create_table("pt", df, partition_by=["p"], keys=["id"])
    with pytest.raises(ValueError, match="layout"):
        eng.sql("ALTER TABLE pt DROP COLUMN p")


def test_alter_rename_column_statement(eng, spark):
    """RENAME COLUMN rewrites under the new name; upsert keys follow the
    rename (a later keyed upsert works on the new name); renaming onto an
    existing name or a layout column is refused; a versioned table
    time-travels to the old name."""
    st = eng.sql("ALTER TABLE t RENAME COLUMN val TO score").head()
    assert (st["operation"], st["n_affected"]) == ("alter_rename_column", 20)
    assert "score" in eng.table("t").columns and "val" not in eng.table("t").columns
    with pytest.raises(ValueError, match="exists"):
        eng.sql("ALTER TABLE t RENAME COLUMN score TO grp")
    with pytest.raises(ValueError, match="no column"):
        eng.sql("ALTER TABLE t RENAME COLUMN nope TO x")

    # key rename carries into the spec; keyed upsert uses the new key
    eng.sql("ALTER TABLE t RENAME COLUMN id TO rid")
    assert eng.specs["t"].keys == ["rid"]
    up = spark.createDataFrame([(0, "gX", 123.0)], "rid bigint, grp string, score double")
    eng.upsert("t", up)
    assert eng.table("t").filter("rid = 0").head().grp == "gX"
    assert eng.table("t").count() == 20

    df = spark.createDataFrame([(1, "a", 1.0)], "id bigint, p string, v double")
    eng.create_table("ptr", df, partition_by=["p"], keys=["id"])
    with pytest.raises(ValueError, match="layout"):
        eng.sql("ALTER TABLE ptr RENAME COLUMN p TO q")

    vdf = spark.createDataFrame([(1, 5.0)], "id bigint, v double")
    eng.create_table("vr", vdf, keys=["id"], versioned=True)
    eng.sql("ALTER TABLE vr RENAME COLUMN v TO w")
    assert "w" in eng.table("vr").columns
    assert "v" in eng.sql("SELECT * FROM vr FOR VERSION AS OF 1").columns


def test_insert_overwrite_statement(eng, spark):
    """INSERT OVERWRITE replaces the FULL table contents atomically —
    including from a self-referential SELECT reading the old state — with
    INSERT INTO's column-list and cast semantics."""
    st = eng.sql(
        "INSERT OVERWRITE TABLE t SELECT id, grp, val FROM t WHERE id < 5"
    ).head()
    assert (st["operation"], st["n_affected"]) == ("insert_overwrite", 5)
    assert eng.table("t").count() == 5
    # column-list form NULL-fills unlisted columns; TABLE keyword optional
    st2 = eng.sql("INSERT OVERWRITE t (id, grp) SELECT 77, 'gz'").head()
    assert st2["n_affected"] == 1
    row = eng.table("t").head()
    assert (row.id, row.grp, row.val) == (77, "gz", None)
    # versioned: one snapshot, old state time-travels
    vdf = spark.createDataFrame([(1, "a")], "id bigint, s string")
    eng.create_table("vo", vdf, keys=["id"], versioned=True)
    eng.sql("INSERT OVERWRITE vo SELECT 2, 'b'")
    assert [r.s for r in eng.table("vo").collect()] == ["b"]
    assert [
        r.s for r in eng.sql("SELECT * FROM vo FOR VERSION AS OF 1").collect()
    ] == ["a"]


def test_show_tables_and_describe(eng, spark):
    tables = {r.tableName: r for r in eng.sql("SHOW TABLES").collect()}
    assert "t" in tables and tables["t"].format == "parquet"
    df = spark.createDataFrame([(1, "a", 1.0)], "id bigint, p string, v double")
    eng.create_table("dsc", df, partition_by=["p"], keys=["id"], versioned=True)
    tables = {r.tableName: r for r in eng.sql("SHOW TABLES").collect()}
    assert tables["dsc"].versioned is True
    assert tables["dsc"].partitionedBy == "p"

    desc = {r.col_name: (r.data_type, r.comment) for r in eng.sql("DESCRIBE dsc").collect()}
    assert desc["p"] == ("string", "partition column")
    assert desc["id"] == ("bigint", "key")
    assert desc["v"][0] == "double" and desc["v"][1] is None
    # DESCRIBE of a non-engine name falls through to spark.sql
    spark.range(3).createOrReplaceTempView("plainview")
    out = eng.sql("DESCRIBE plainview")
    assert "col_name" in out.columns


def test_describe_history_and_restore_statements(eng, spark):
    df = spark.createDataFrame([(1, 1.0)], "id bigint, v double")
    eng.create_table("h", df, keys=["id"], versioned=True)
    eng.sql("UPDATE h SET v = 2.0 WHERE id = 1")
    hist = eng.sql("DESCRIBE HISTORY h").collect()
    assert [r.version for r in hist] == [1, 2]
    assert hist[0].operation == "create"
    assert hist[1].timestamp >= hist[0].timestamp
    st = eng.sql("RESTORE TABLE h TO VERSION AS OF 1").head()
    assert st["operation"] == "restore"
    assert eng.table("h").head().v == 1.0
    # restore is itself a new audited version
    assert len(eng.sql("DESCRIBE HISTORY h").collect()) == 3
    # non-engine name falls through (and errors in spark.sql)
    with pytest.raises(Exception):
        eng.sql("DESCRIBE HISTORY no_such").collect()


def test_ctas_partitioned_versioned_and_show_partitions(eng, spark):
    st = eng.sql(
        "CREATE VERSIONED TABLE tp PARTITIONED BY (grp) "
        "AS SELECT id, grp, val FROM t"
    ).head()
    assert (st["operation"], st["n_affected"]) == ("create_table_as", 20)
    spec = eng.specs["tp"]
    assert spec.versioned and spec.partition_by == ["grp"]
    # versioned: SHOW PARTITIONS reads the snapshot mapping (no scan)
    got = [r.partition for r in eng.sql("SHOW PARTITIONS tp").collect()]
    assert got == ["grp=g0", "grp=g1", "grp=g2"]
    # partition pruning works on the CTAS table
    assert eng.sql("SELECT count(*) AS n FROM tp WHERE grp = 'g0'").head()["n"] == 7

    # plain partitioned: directory walk
    eng.sql("CREATE TABLE tp2 PARTITIONED BY (grp) AS SELECT * FROM t")
    got2 = [r.partition for r in eng.sql("SHOW PARTITIONS tp2").collect()]
    assert got2 == ["grp=g0", "grp=g1", "grp=g2"]
    # a DELETE emptying one partition drops it from the listing
    eng.sql("DELETE FROM tp2 WHERE grp = 'g1'")
    got3 = [r.partition for r in eng.sql("SHOW PARTITIONS tp2").collect()]
    assert got3 == ["grp=g0", "grp=g2"]

    with pytest.raises(ValueError, match="not a partitioned"):
        eng.sql("SHOW PARTITIONS t")


def test_update_set_derived_bucket_column_rejected(eng, spark):
    """SET on the derived bucket_id must be refused, and bucket DDL
    guards cover it too (r7 review finding: the scoped-update path would
    otherwise silently drop the matched rows)."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id bigint, v double"
    )
    eng.create_table("bt", df, bucket_by=["id"], n_buckets=4, keys=["id"])
    with pytest.raises(ValueError, match="derived"):
        eng.sql("UPDATE bt SET bucket_id = 3 WHERE id = 1")
    with pytest.raises(ValueError, match="layout"):
        eng.sql("ALTER TABLE bt RENAME COLUMN bucket_id TO b2")
    with pytest.raises(ValueError, match="layout"):
        eng.sql("ALTER TABLE bt DROP COLUMN bucket_id")
    # updates to ordinary columns still work and stay row-exact
    eng.sql("UPDATE bt SET v = v + 1 WHERE id = 1")
    assert eng.table("bt").filter("id = 1").head().v == 2.0
    assert eng.table("bt").count() == 10


def test_drop_column_guard_case_insensitive_constraint(eng, spark):
    df = spark.createDataFrame([(1, 5.0)], "id bigint, val double")
    eng.create_table("cc", df, keys=["id"])
    eng.sql("ALTER TABLE cc ADD CONSTRAINT vp CHECK (VAL >= 0)")
    with pytest.raises(ValueError, match="constraint"):
        eng.sql("ALTER TABLE cc DROP COLUMN val")


def test_drop_column_clears_bloom_and_stats(eng, spark):
    df = spark.createDataFrame(
        [(i, "x%d" % i, float(i)) for i in range(50)],
        "id bigint, tag string, v double",
    )
    eng.create_table("bs", df, keys=["id"], bloom_filter_cols={"tag": 1000})
    eng.analyze_table("bs")
    assert "tag" in eng.specs["bs"].bloom_filter_cols
    eng.sql("ALTER TABLE bs DROP COLUMN tag")
    assert "tag" not in eng.specs["bs"].bloom_filter_cols
    assert "tag" not in (eng.specs["bs"].stats or {}).get("columns", {})
    # rename migrates the stats entry
    eng.analyze_table("bs")
    eng.sql("ALTER TABLE bs RENAME COLUMN v TO w")
    cols = (eng.specs["bs"].stats or {}).get("columns", {})
    assert "w" in cols and "v" not in cols


def test_optimize_where_scoped_compaction(eng, spark):
    """OPTIMIZE ... WHERE compacts only the partitions holding matching
    rows: the untouched partition's files are byte-for-byte untouched,
    the touched one folds to one file per dir."""
    import os

    df = spark.createDataFrame(
        [(p, i, float(i)) for p in range(2) for i in range(6)],
        "p int, id bigint, v double",
    )
    eng.create_table("oc", df, partition_by=["p"], keys=["id"])
    # fragment both partitions with appends
    for i in range(3):
        eng.insert("oc", spark.createDataFrame(
            [(0, 100 + i, 1.0), (1, 200 + i, 1.0)], "p int, id bigint, v double"
        ))
    root = eng._path("oc")
    files = lambda rel: sorted(
        (f, os.stat(os.path.join(root, rel, f)).st_mtime_ns)
        for f in os.listdir(os.path.join(root, rel)) if f.endswith(".parquet")
    )
    assert len(files("p=0")) >= 4 and len(files("p=1")) >= 4
    before_p1 = files("p=1")
    n_p0_before = len(files("p=0"))
    n_rows = eng.table("oc").count()
    st = eng.sql("OPTIMIZE oc WHERE p = 0").head()
    assert st["operation"] == "optimize"
    # n_affected = files replaced in the SCOPE, not the whole table
    assert st["n_affected"] == n_p0_before
    assert len(files("p=0")) == 1           # compacted
    assert files("p=1") == before_p1        # untouched
    assert eng.table("oc").count() == n_rows


def test_truncate_table_statement(eng, spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, s string")
    eng.create_table("tr", df, keys=["id"], versioned=True)
    st = eng.sql("TRUNCATE TABLE tr").head()
    assert (st["operation"], st["n_affected"]) == ("truncate", 2)
    assert eng.table("tr").count() == 0
    assert eng.table("tr").columns == ["id", "s"]  # schema preserved
    # pre-truncate state time-travels; inserts still work after
    assert eng.sql("SELECT count(*) AS n FROM tr FOR VERSION AS OF 1").head()["n"] == 2
    eng.insert("tr", spark.createDataFrame([(3, "c")], "id bigint, s string"))
    assert eng.table("tr").count() == 1


def test_insert_values_statement(eng, spark):
    """INSERT INTO t VALUES — the first statement a new user types;
    routes through _insert_frame so column lists NULL-fill and every
    value casts to the table's types."""
    st = eng.sql("INSERT INTO t VALUES (100, 'g9', 5.5), (101, 'g9', 6.5)").head()
    assert (st["operation"], st["n_affected"]) == ("insert", 2)
    rows = {r.id: r.val for r in eng.table("t").filter("grp = 'g9'").collect()}
    assert rows == {100: 5.5, 101: 6.5}
    # column list: reordered subset, unlisted column NULL-fills
    st = eng.sql("INSERT INTO t (val, id) VALUES (7.5, 102)").head()
    assert st["n_affected"] == 1
    r = eng.table("t").filter("id = 102").head()
    assert (r.val, r.grp) == (7.5, None)
    # int literal casts to the table's bigint
    assert dict(eng.table("t").dtypes)["id"] == "bigint"
    with pytest.raises(ValueError, match="no columns"):
        eng.sql("INSERT INTO t (nope) VALUES (1)")
    with pytest.raises(ValueError, match="columns"):
        eng.sql("INSERT INTO t VALUES (1, 'x')")  # arity mismatch


def test_create_table_literal_statement(eng, spark):
    """Literal CREATE TABLE t (col type, ...): an empty typed table a
    user then INSERTs into — previously only CTAS parsed."""
    st = eng.sql("CREATE TABLE ct (a BIGINT, b STRING, c DECIMAL(10,2))").head()
    assert (st["operation"], st["n_affected"]) == ("create_table", 0)
    assert eng.table("ct").count() == 0
    assert dict(eng.table("ct").dtypes) == {
        "a": "bigint", "b": "string", "c": "decimal(10,2)"
    }
    eng.sql("INSERT INTO ct VALUES (1, 'x', 2.50)")
    assert eng.sql("SELECT a, b, CAST(c AS STRING) AS c FROM ct").collect()[0][:] == (
        1, "x", "2.50"
    )
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE TABLE ct (a INT)")
    # versioned + partitioned empty table: v1 is the empty state
    eng.sql(
        "CREATE VERSIONED TABLE cvp (id BIGINT, day STRING) PARTITIONED BY (day)"
    )
    assert eng.table("cvp").count() == 0
    eng.sql("INSERT INTO cvp VALUES (1, 'd1'), (2, 'd2')")
    assert eng.table("cvp").count() == 2
    assert eng.table("cvp", version=1).count() == 0
    assert eng.specs["cvp"].versioned and eng.specs["cvp"].partition_by == ["day"]


def test_truncate_partitioned_versioned_empty_state(eng, spark):
    """Emptying a partitioned VERSIONED table is a legal state (ADVICE r7):
    TRUNCATE commits mapping={} and reads must come back empty and
    schema-pinned, not raise, until the next append repairs it."""
    df = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d2")], "id bigint, s string, day string"
    )
    eng.create_table("trpv", df, keys=["id"], partition_by=["day"], versioned=True)
    st = eng.sql("TRUNCATE TABLE trpv").head()
    assert (st["operation"], st["n_affected"]) == ("truncate", 2)
    t = eng.table("trpv")
    assert t.count() == 0
    # partition column last, like a real partitioned scan
    assert t.columns == ["id", "s", "day"]
    assert eng.sql("SELECT * FROM trpv").count() == 0
    # pre-truncate state still time-travels
    assert eng.sql("SELECT count(*) AS n FROM trpv FOR VERSION AS OF 1").head()["n"] == 2
    eng.insert(
        "trpv",
        spark.createDataFrame([(3, "c", "d1")], "id bigint, s string, day string"),
    )
    assert eng.table("trpv").count() == 1


def test_delete_all_rows_partitioned_versioned(eng, spark):
    """A DELETE matching every row tombstones every partition — the table
    must stay readable (empty), not raise 'maps no data'."""
    df = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d2")], "id bigint, s string, day string"
    )
    eng.create_table("dav", df, keys=["id"], partition_by=["day"], versioned=True)
    st = eng.sql("DELETE FROM dav WHERE id < 100").head()
    assert (st["operation"], st["n_affected"]) == ("delete", 2)
    assert eng.table("dav").count() == 0
    assert eng.table("dav").columns == ["id", "s", "day"]
    eng.insert(
        "dav",
        spark.createDataFrame([(9, "z", "d3")], "id bigint, s string, day string"),
    )
    assert eng.table("dav").count() == 1


def test_truncate_and_delete_all_partitioned_plain(eng, spark):
    """Plain on-disk partitioned table with ZERO parquet files left
    (TRUNCATE writes no partition dirs; drop-all rmtree's them) must read
    back empty and schema-pinned, and appends must repair it."""
    df = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d2")], "id bigint, s string, day string"
    )
    eng.create_table("trpp", df, keys=["id"], partition_by=["day"])
    st = eng.sql("TRUNCATE TABLE trpp").head()
    assert (st["operation"], st["n_affected"]) == ("truncate", 2)
    t = eng.table("trpp")
    assert t.count() == 0
    assert t.columns == ["id", "s", "day"]
    eng.insert(
        "trpp",
        spark.createDataFrame([(3, "c", "d1")], "id bigint, s string, day string"),
    )
    assert eng.table("trpp").count() == 1
    # now empty it via predicate DELETE (all partitions dropped)
    st = eng.sql("DELETE FROM trpp WHERE id > 0").head()
    assert st["n_affected"] == 1
    assert eng.table("trpp").count() == 0
    assert eng.sql("SELECT * FROM trpp").count() == 0


def test_copy_into_statement(eng, spark, tmp_path):
    src = spark.createDataFrame(
        [("gz", 500), ("gz", 501)], "grp string, id int"  # reordered + narrower
    )
    p = str(tmp_path / "copy_src")
    src.write.parquet(p)
    st = eng.sql(f"COPY INTO t FROM '{p}'").head()
    assert (st["operation"], st["n_affected"]) == ("copy_into", 2)
    rows = eng.table("t").filter("grp = 'gz'").collect()
    assert {r.id for r in rows} == {500, 501}
    assert all(r.val is None for r in rows)  # NULL-filled
    assert dict(eng.table("t").dtypes)["id"] == "bigint"  # cast to table type
    # unknown source column rejected
    bad = spark.createDataFrame([(1, "x")], "id int, nope string")
    pb = str(tmp_path / "copy_bad")
    bad.write.parquet(pb)
    with pytest.raises(ValueError, match="not in the table"):
        eng.sql(f"COPY INTO t FROM '{pb}'")


def test_copy_into_idempotent_replay_versioned(eng, spark, tmp_path):
    """A replayed COPY INTO is a NO-OP (the single most common ingest
    failure mode is a retried loader script): loaded files are logged in
    the snapshot commit meta, new files in the same directory still
    load, and FORCE overrides the log."""
    df = spark.createDataFrame([(1, "a")], "id bigint, s string")
    eng.create_table("ci", df, keys=["id"], versioned=True)
    src = spark.createDataFrame([(10, "x"), (11, "y")], "id bigint, s string")
    p = str(tmp_path / "ci_src")
    src.write.parquet(p)

    st = eng.sql(f"COPY INTO ci FROM '{p}'").head()
    assert st["n_affected"] == 2 and eng.table("ci").count() == 3
    # replay: nothing loads, nothing duplicates
    st = eng.sql(f"COPY INTO ci FROM '{p}'").head()
    assert st["n_affected"] == 0 and eng.table("ci").count() == 3
    # a NEW file appearing in the same directory loads alone
    extra = spark.createDataFrame([(12, "z")], "id bigint, s string")
    extra.coalesce(1).write.mode("append").parquet(p)
    st = eng.sql(f"COPY INTO ci FROM '{p}'").head()
    assert st["n_affected"] == 1 and eng.table("ci").count() == 4
    # FORCE re-loads everything (duplicates, by request)
    st = eng.sql(f"COPY INTO ci FROM '{p}' FORCE").head()
    assert st["n_affected"] == 3 and eng.table("ci").count() == 7


def test_copy_into_replay_plain_table_survives_reload(spark, tmp_path):
    """Plain (unversioned) tables keep the loaded-file log in the
    manifest: the replay guard survives a fresh Engine over the same
    root."""
    from polars_lake_spark import Engine

    root = str(tmp_path / "root")
    eng = Engine(spark, root)
    eng.create_table(
        "cp", spark.createDataFrame([(1, "a")], "id bigint, s string"), keys=["id"]
    )
    src = spark.createDataFrame([(10, "x")], "id bigint, s string")
    p = str(tmp_path / "cp_src")
    src.write.parquet(p)
    assert eng.sql(f"COPY INTO cp FROM '{p}'").head()["n_affected"] == 1
    assert eng.sql(f"COPY INTO cp FROM '{p}'").head()["n_affected"] == 0

    eng2 = Engine(spark, root)
    eng2.load_all()
    assert eng2.sql(f"COPY INTO cp FROM '{p}'").head()["n_affected"] == 0
    assert eng2.table("cp").count() == 2


def test_copy_into_log_horizon_evicts_oldest(eng, spark, tmp_path):
    """The loaded-file log is BOUNDED: past COPY_LOG_MAX the oldest
    entries evict, so snapshot manifests never grow with table lifetime;
    a replay of a file older than the horizon re-loads (at-least-once
    beyond the cap, by design)."""
    eng.COPY_LOG_MAX = 2
    eng.create_table(
        "ch", spark.createDataFrame([(0, "s")], "id bigint, s string"),
        keys=["id"], versioned=True,
    )
    paths = []
    for i in range(1, 4):
        p = str(tmp_path / f"ch_src{i}")
        spark.createDataFrame([(i * 10, "x")], "id bigint, s string").coalesce(
            1
        ).write.parquet(p)
        paths.append(p)
        assert eng.sql(f"COPY INTO ch FROM '{p}'").head()["n_affected"] == 1
    assert len(eng.copy_loaded("ch")) == 2  # capped
    # newest two still replay as no-ops
    assert eng.sql(f"COPY INTO ch FROM '{paths[2]}'").head()["n_affected"] == 0
    assert eng.sql(f"COPY INTO ch FROM '{paths[1]}'").head()["n_affected"] == 0
    # the evicted oldest re-loads (documented at-least-once beyond cap)
    assert eng.sql(f"COPY INTO ch FROM '{paths[0]}'").head()["n_affected"] == 1


def test_copy_into_modified_file_reloads(eng, spark, tmp_path):
    """Overwriting a source file (same path, new size/mtime) is a NEW
    load — the identity is path+size+mtime, not path alone."""
    import glob

    eng.create_table(
        "cm",
        spark.createDataFrame([(0, "seed")], "id bigint, s string"),
        keys=["id"],
        versioned=True,
    )
    p = str(tmp_path / "cm_src")
    spark.createDataFrame([(1, "v1")], "id bigint, s string").coalesce(1).write.parquet(p)
    assert eng.sql(f"COPY INTO cm FROM '{p}'").head()["n_affected"] == 1
    # rewrite the directory with different contents
    spark.createDataFrame(
        [(2, "v2"), (3, "v2")], "id bigint, s string"
    ).coalesce(1).write.mode("overwrite").parquet(p)
    assert glob.glob(p + "/*.parquet")
    assert eng.sql(f"COPY INTO cm FROM '{p}'").head()["n_affected"] == 2
    assert {r.s for r in eng.table("cm").collect()} == {"seed", "v1", "v2"}


def test_positional_insert_declared_order(eng, spark):
    """ADVICE r8 high: positional INSERT maps against the DECLARED
    column order, not hive read-back order (partition columns last) —
    a partition column declared mid-schema silently swapped values
    (id, p, v) VALUES (1, 7, 100) into v=7, p=100 before."""
    eng.sql(
        "CREATE TABLE pm2 (id BIGINT, p BIGINT, v BIGINT) PARTITIONED BY (p)"
    )
    eng.sql("INSERT INTO pm2 VALUES (1, 7, 100)")
    r = eng.table("pm2").head()
    assert (r.id, r.p, r.v) == (1, 7, 100)
    # positional SELECT takes the same mapping
    eng.sql("INSERT INTO pm2 SELECT 2, 8, 200")
    rows = {x.id: (x.p, x.v) for x in eng.table("pm2").collect()}
    assert rows == {1: (7, 100), 2: (8, 200)}
    # INSERT OVERWRITE shares _insert_frame
    eng.sql("INSERT OVERWRITE pm2 SELECT 3, 9, 300")
    r = eng.table("pm2").head()
    assert (r.id, r.p, r.v) == (3, 9, 300)
    # RENAME keeps the declared slot (not pushed to the end)
    eng.sql("ALTER TABLE pm2 RENAME COLUMN v TO w")
    eng.sql("INSERT INTO pm2 VALUES (4, 10, 400)")
    r = eng.table("pm2").filter("id = 4").head()
    assert (r.p, r.w) == (10, 400)
    # an evolved column appends at the END of the positional order
    eng.sql("ALTER TABLE pm2 ADD COLUMN z STRING")
    eng.sql("INSERT INTO pm2 VALUES (5, 11, 500, 'zz')")
    r = eng.table("pm2").filter("id = 5").head()
    assert (r.p, r.w, r.z) == (11, 500, "zz")


def test_positional_insert_declared_order_versioned_api(eng, spark):
    """The engine-API create path records declared order too (versioned,
    partition column mid-schema)."""
    df = spark.createDataFrame(
        [(1, "a", 1.0)], "id bigint, day string, v double"
    )
    eng.create_table("pm3", df, partition_by=["day"], versioned=True,
                     keys=["id"])
    eng.sql("INSERT INTO pm3 VALUES (2, 'b', 2.0)")
    rows = {x.id: (x.day, x.v) for x in eng.table("pm3").collect()}
    assert rows == {1: ("a", 1.0), 2: ("b", 2.0)}
    # legacy manifests without a declaration fall back to schema order
    eng.specs["pm3"].declared_columns = []
    sch = eng.table("pm3").schema
    assert [f.name for f in eng.specs["pm3"].declared_order(sch)] == [
        f.name for f in sch.fields
    ]


def test_copy_into_log_lru_on_reload(eng, spark, tmp_path):
    """ADVICE r8: a FORCE re-load moves the file's log entry to the END
    of the eviction order — the horizon evicts by most-recent load, so a
    frequently re-verified file never falls off before a stale one."""
    eng.COPY_LOG_MAX = 2
    eng.create_table(
        "cl", spark.createDataFrame([(0, "s")], "id bigint, s string"),
        keys=["id"], versioned=True,
    )
    paths = []
    for i in range(1, 4):
        p = str(tmp_path / f"cl_src{i}")
        spark.createDataFrame(
            [(i * 10, "x")], "id bigint, s string"
        ).coalesce(1).write.parquet(p)
        paths.append(p)
    eng.sql(f"COPY INTO cl FROM '{paths[0]}'")
    eng.sql(f"COPY INTO cl FROM '{paths[1]}'")
    # re-verify file 0: moves it to the end of the eviction order
    eng.sql(f"COPY INTO cl FROM '{paths[0]}' FORCE")
    # loading file 2 evicts file 1 (the stale one), NOT file 0
    eng.sql(f"COPY INTO cl FROM '{paths[2]}'")
    assert eng.sql(f"COPY INTO cl FROM '{paths[0]}'").head()["n_affected"] == 0
    assert eng.sql(f"COPY INTO cl FROM '{paths[1]}'").head()["n_affected"] == 1


def test_clone_preserves_declared_order(eng, spark):
    """Both clone modes must keep the SOURCE's user-declared column
    order — a deep clone's create_table sees the read-back frame
    (partition columns last), so positional INSERTs into the clone
    would otherwise map differently than into the source."""
    eng.sql(
        "CREATE VERSIONED TABLE po (id BIGINT, p BIGINT, v BIGINT) "
        "PARTITIONED BY (p)"
    )
    eng.sql("INSERT INTO po VALUES (1, 7, 100)")
    for dst, shallow in (("po_s", True), ("po_d", False)):
        eng.clone("po", dst, shallow=shallow)
        assert eng.specs[dst].declared_columns == ["id", "p", "v"]
        assert eng.specs[dst].declared_columns is not eng.specs["po"].declared_columns
        eng.sql(f"INSERT INTO {dst} VALUES (2, 8, 200)")
        rows = {r.id: (r.p, r.v) for r in eng.table(dst).collect()}
        assert rows == {1: (7, 100), 2: (8, 200)}, dst


def test_create_table_cluster_by(eng, spark):
    """CLUSTER BY in both CREATE forms routes to clustered writes."""
    eng.sql(
        "CREATE VERSIONED TABLE cbt (id BIGINT, v DOUBLE) CLUSTER BY (id)"
    )
    assert eng.specs["cbt"].cluster_by == ["id"]
    eng.sql("INSERT INTO cbt SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    assert eng.table("cbt").count() == 100
    eng.sql(
        "CREATE VERSIONED TABLE cbt2 CLUSTER BY (id) AS "
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(50)"
    )
    assert eng.specs["cbt2"].cluster_by == ["id"]
    assert eng.table("cbt2").count() == 50
    with pytest.raises(ValueError, match="versioned"):
        eng.sql("CREATE TABLE cbt3 (id BIGINT) CLUSTER BY (id)")


def test_describe_flags_cluster_columns(eng, spark):
    eng.sql("CREATE VERSIONED TABLE dcb (id BIGINT, v DOUBLE) CLUSTER BY (v)")
    rows = {r.col_name: r.comment for r in eng.sql("DESCRIBE dcb").collect()}
    assert rows["v"] == "cluster column" and rows["id"] is None


def test_show_create_table_roundtrip(spark, tmp_path):
    """SHOW CREATE TABLE emits a statement the literal CREATE parser
    accepts verbatim, reconstructing the full spec (declared column
    order, partitioning, clustering, keys/buckets/DV/constraints via
    TBLPROPERTIES) in a second engine."""
    from polars_lake_spark import Engine

    eng = Engine(spark, str(tmp_path / "a"))
    df = spark.createDataFrame(
        [(1, 1, 1.5, "x")], "id bigint, p int, price double, s string"
    )
    eng.create_table(
        "t1",
        df,
        partition_by=["p"],
        keys=["id"],
        versioned=True,
        deletion_vectors=True,
        cluster_by=["price"],
        constraints={"price_pos": "price >= 0"},
        expectations={"s_known": {"expr": "s IS NOT NULL", "action": "drop"}},
    )
    eng.set_auto_optimize("t1", dv_sidecars=6, write_dirs=20)
    stmt = eng.sql("SHOW CREATE TABLE t1").head().createtab_stmt
    assert "'auto_optimize.dv_sidecars'='6'" in stmt
    assert "'auto_optimize.write_dirs'='20'" in stmt
    assert stmt.startswith("CREATE VERSIONED TABLE t1")
    assert "PARTITIONED BY (p)" in stmt and "CLUSTER BY (price)" in stmt
    assert "'deletion_vectors'='true'" in stmt
    assert "'constraint.price_pos'='price >= 0'" in stmt
    # declared order survives the hive read-back (p is NOT last)
    assert stmt.index("id BIGINT") < stmt.index("p INT") < stmt.index(
        "price DOUBLE"
    ) < stmt.index("s STRING")
    eng2 = Engine(spark, str(tmp_path / "b"))
    eng2.sql(stmt)
    s1, s2 = eng.specs["t1"], eng2.specs["t1"]
    for attr in (
        "partition_by", "cluster_by", "keys", "versioned",
        "deletion_vectors", "constraints", "declared_columns",
        "expectations", "auto_optimize",
    ):
        assert getattr(s1, attr) == getattr(s2, attr), attr
    # the reconstructed table accepts data and enforces the constraint
    eng2.insert("t1", df)
    assert eng2.table("t1").count() == 1
    with pytest.raises(Exception, match="price_pos"):
        eng2.insert(
            "t1",
            spark.createDataFrame(
                [(2, 1, -5.0, "y")], "id bigint, p int, price double, s string"
            ),
        )
    # bucketed plain table: derived bucket_id never leaks into the DDL
    eng.create_table("t2", df, bucket_by=["id"], n_buckets=4, keys=["id"])
    stmt2 = eng.sql("SHOW CREATE TABLE t2").head().createtab_stmt
    assert "bucket_id" not in stmt2
    assert "'bucket_by'='id'" in stmt2 and "'n_buckets'='4'" in stmt2
    eng2.sql(stmt2)
    assert eng2.specs["t2"].bucket_by == ["id"]
    assert eng2.specs["t2"].n_buckets == 4
    # unknown property in a literal CREATE is rejected loudly
    with pytest.raises(ValueError, match="unsupported table property"):
        eng2.sql("CREATE TABLE t3 (a INT) TBLPROPERTIES ('nope'='1')")


def test_expectations_drop_and_track(spark, tmp_path):
    """DLT-style expectations: 'drop' filters violating rows out of
    every write (quarantine-on-ingest), 'track' only counts; both
    surface per-write counts; constraints still fail atomically; the
    rules persist through the manifest."""
    from polars_lake_spark import Engine

    eng = Engine(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(1, 10.0, "en"), (2, -5.0, "en"), (3, 7.0, None)],
        "id bigint, score double, lang string",
    )
    eng.create_table(
        "ex",
        df,
        keys=["id"],
        versioned=True,
        expectations={
            "score_pos": {"expr": "score >= 0", "action": "drop"},
            "lang_known": {"expr": "lang IS NOT NULL", "action": "track"},
        },
    )
    # the dirty row (score -5) never landed; the NULL-lang row did
    # (track) — and NULL-evaluating exprs PASS (CHECK semantics): the
    # NULL lang row violates lang_known (IS NOT NULL is FALSE, not NULL)
    got = {r.id for r in eng.table("ex").collect()}
    assert got == {1, 3}
    rep = eng.last_expectation_report
    assert rep["violations"] == {"score_pos": 1, "lang_known": 1}
    assert rep["dropped"] == 1
    # every write path applies them: insert + upsert
    eng.insert(
        "ex",
        spark.createDataFrame(
            [(4, -1.0, "de"), (5, 2.0, "fr")],
            "id bigint, score double, lang string",
        ),
    )
    assert {r.id for r in eng.table("ex").collect()} == {1, 3, 5}
    assert eng.last_expectation_report["violations"]["score_pos"] == 1
    eng.upsert(
        "ex",
        spark.createDataFrame(
            [(5, -9.0, "fr"), (6, 1.0, "it")],
            "id bigint, score double, lang string",
        ),
    )
    t = {r.id: r.score for r in eng.table("ex").collect()}
    assert 6 in t and t.get(5) != -9.0  # merged row with bad score dropped
    # rules persist: a fresh engine enforces them
    eng2 = Engine(spark, str(tmp_path))
    eng2.load_all()
    assert eng2.specs["ex"].expectations["score_pos"]["action"] == "drop"
    eng2.insert(
        "ex",
        spark.createDataFrame(
            [(7, -3.0, "en")], "id bigint, score double, lang string"
        ),
    )
    assert eng2.table("ex").filter("id = 7").count() == 0
    # add_expectation after the fact + invalid action refused
    eng.add_expectation("ex", "id_small", "id < 1000", action="drop")
    assert eng.specs["ex"].expectations["id_small"]["action"] == "drop"
    with pytest.raises(ValueError, match="drop"):
        # 'quarantine' became a real action in r12 — probe a bogus one
        eng.add_expectation("ex", "bad", "id > 0", action="explode")
    eng.drop_expectation("ex", "id_small")
    assert "id_small" not in eng.specs["ex"].expectations


def test_drop_expectation_spares_preexisting_rows(spark, tmp_path):
    """add_expectation's contract is 'governs what may LAND from now
    on': a drop rule added AFTER data landed quarantines only INCOMING
    rows — upsert/merge/UPDATE/DELETE rewrites must never silently
    delete old violating rows they carry (ADVICE r10)."""
    from polars_lake_spark import Engine

    eng = Engine(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, 5 if i < 5 else 1) for i in range(10)], "id bigint, v bigint"
    )
    eng.create_table("hist", df, keys=["id"], versioned=True)
    eng.add_expectation("hist", "no_five", "v != 5", action="drop")
    # upsert: incoming violating row quarantined, old v=5 rows intact
    eng.upsert(
        "hist",
        spark.createDataFrame([(100, 5), (101, 7)], "id bigint, v bigint"),
    )
    t = {r.id: r.v for r in eng.table("hist").collect()}
    assert set(t) == set(range(10)) | {101}
    assert t[0] == 5 and t[3] == 5  # historical violators survive
    rep = eng.last_expectation_report
    assert rep["violations"]["no_five"] == 1 and rep["dropped"] == 1
    # merge: a violating change row is quarantined whole
    eng.merge(
        "hist",
        spark.createDataFrame([(102, 5), (103, 2)], "id bigint, v bigint"),
    )
    t = {r.id: r.v for r in eng.table("hist").collect()}
    assert 103 in t and 102 not in t and t[0] == 5
    # UPDATE rewrite: a row updated INTO violation lands (counted, never
    # dropped — there is no incoming batch to quarantine)
    eng.sql("UPDATE hist SET v = 5 WHERE id = 7")
    t = {r.id: r.v for r in eng.table("hist").collect()}
    assert t[7] == 5
    # DELETE rewrite: survivors (including old violators) are never
    # re-quarantined
    eng.sql("DELETE FROM hist WHERE id = 9")
    t = {r.id: r.v for r in eng.table("hist").collect()}
    assert 9 not in t and t[0] == 5 and t[7] == 5
    # TRUNCATE-like column DDL rewrites carry violators too
    eng.sql("ALTER TABLE hist ADD COLUMN note STRING")
    assert {r.id: r.v for r in eng.table("hist").collect()}[0] == 5


def test_dv_merge_and_update_never_vanish_rows(spark, tmp_path):
    """Deletion-vector tables: a violating MERGE change row must be
    quarantined WHOLE (its match is neither deleted nor updated) — the
    r10 code enforced on the appends slice AFTER refs were recorded, so
    the old copy left by ref and the updated copy was dropped: the row
    vanished. update_where_dv likewise must land (and count) a
    violating rewritten row, never drop it."""
    from pyspark.sql import functions as F

    from polars_lake_spark import Engine

    eng = Engine(spark, str(tmp_path))
    eng.create_table(
        "dvx",
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "id bigint, v double"
        ),
        keys=["id"],
        versioned=True,
        deletion_vectors=True,
    )
    eng.add_expectation("dvx", "v_pos", "v >= 0", action="drop")
    eng.merge(
        "dvx",
        spark.createDataFrame(
            [(1, -5.0), (3, 3.0)], "id bigint, v double"
        ),
    )
    t = {r.id: r.v for r in eng.table("dvx").collect()}
    assert t == {1: 1.0, 2: 2.0, 3: 3.0}  # row 1 kept its OLD value
    assert eng.last_expectation_report["dropped"] == 1
    # merge-delete: a violating change row must not delete its match
    eng.merge(
        "dvx",
        spark.createDataFrame([(2, -1.0)], "id bigint, v double"),
        when_matched_delete=F.lit(True),
    )
    assert {r.id for r in eng.table("dvx").collect()} == {1, 2, 3}
    # update_where_dv: rewritten row lands despite violating (counted)
    n = eng.update_where_dv("dvx", "id = 2", {"v": F.lit(-9.0)})
    assert n == 1
    t = {r.id: r.v for r in eng.table("dvx").collect()}
    assert t[2] == -9.0
    assert eng.last_expectation_report["violations"]["v_pos"] == 1
    assert eng.last_expectation_report["dropped"] == 0


def test_enforce_pins_nondeterministic_frames(spark, tmp_path):
    """Non-deterministic frames (rand() filters/columns) are pinned
    (localCheckpoint) before the violation-count aggregation, so
    counted rows ≡ written rows: landed + dropped always equals the
    batch size, and a passing CHECK constraint means NO violating row
    landed (VERDICT r10 #1 — without the pin the write re-evaluates
    the plan and the two row sets drift)."""
    from pyspark.sql import functions as F

    from polars_lake_spark import Engine

    eng = Engine(spark, str(tmp_path))
    eng.create_table(
        "nd",
        spark.createDataFrame([(0, True)], "id bigint, keep boolean"),
        keys=["id"],
        versioned=True,
        expectations={"keep_it": {"expr": "keep", "action": "drop"}},
    )
    for i in range(3):
        n0 = eng.table("nd").count()
        batch = spark.range(1 + i * 4000, 1 + (i + 1) * 4000).select(
            "id", (F.rand() < 0.5).alias("keep")
        )
        eng.insert("nd", batch)
        landed = eng.table("nd").count() - n0
        rep = eng.last_expectation_report
        assert landed + rep["dropped"] == 4000
        assert rep["violations"]["keep_it"] == rep["dropped"]
    # upsert path (_apply_expectations on the incoming batch): same
    # agreement under a nondeterministic batch with disjoint keys
    n0 = eng.table("nd").count()
    batch = spark.range(100000, 104000).select(
        "id", (F.rand() < 0.5).alias("keep")
    )
    eng.upsert("nd", batch)
    landed = eng.table("nd").count() - n0
    assert landed + eng.last_expectation_report["dropped"] == 4000
    # CHECK constraint + rand(): any write that PASSES must have landed
    # zero violating rows (the count and the write see the same pin)
    from polars_lake_spark.engine import ConstraintViolationError

    eng.create_table(
        "ndc",
        spark.createDataFrame([(0, 1)], "id bigint, v bigint"),
        keys=["id"],
        versioned=True,
    )
    eng.add_constraint("ndc", "v_small", "v < 100")
    for i in range(5):
        batch = spark.range(1 + i * 200, 1 + (i + 1) * 200).select(
            "id",
            F.when(F.rand() < 0.02, F.lit(200))
            .otherwise(F.lit(1))
            .alias("v"),
        )
        try:
            eng.insert("ndc", batch)
        except ConstraintViolationError:
            pass
        assert eng.table("ndc").filter("v >= 100").count() == 0


def test_apply_changes_statement_type1(spark, tmp_path):
    """APPLY CHANGES INTO (DLT statement): ops from the source's _op
    column, SEQUENCE BY ordering, cross-batch watermarks — a second
    statement with strictly-older sequences drops against the first."""
    e = Engine(spark, str(tmp_path / "w"))
    seed = spark.createDataFrame(
        [(i, f"v{i}") for i in range(6)], "id bigint, s string"
    )
    e.create_table("tgt", seed, keys=["id"], versioned=True)
    ch = spark.createDataFrame(
        [
            (1, "new1", "update", 200),
            (2, None, "delete", 210),
            (9, "ins9", "insert", 220),
        ],
        "id bigint, s string, _op string, seq bigint",
    )
    ch.createOrReplaceTempView("cdc_feed")
    st = e.sql(
        "APPLY CHANGES INTO tgt FROM cdc_feed KEYS (id) SEQUENCE BY seq"
    ).head()
    assert (st["operation"], st["n_affected"]) == ("apply_changes", 3)
    got = {r.id: r.s for r in e.table("tgt").collect()}
    assert got[1] == "new1" and 2 not in got and got[9] == "ins9"
    # late feed: every sequence strictly older -> all drop
    late = spark.createDataFrame(
        [(1, "stale", "update", 100), (2, "res", "upsert", 100)],
        "id bigint, s string, _op string, seq bigint",
    )
    late.createOrReplaceTempView("cdc_late")
    e.sql("APPLY CHANGES INTO tgt FROM cdc_late SEQUENCE BY seq")
    got2 = {r.id: r.s for r in e.table("tgt").collect()}
    assert got2[1] == "new1" and 2 not in got2
    # KEYS mismatch refused
    with pytest.raises(ValueError, match="KEYS"):
        e.sql("APPLY CHANGES INTO tgt FROM cdc_feed KEYS (s) SEQUENCE BY seq")


def test_apply_changes_statement_apply_as_and_subquery(spark, tmp_path):
    """APPLY AS DELETE WHEN derives ops from a condition (no _op column
    needed); a parenthesized SELECT works as the source; a source with
    neither _op nor APPLY AS clauses is a pure upsert feed."""
    e = Engine(spark, str(tmp_path / "w"))
    seed = spark.createDataFrame(
        [(i, f"v{i}", 0) for i in range(4)], "id bigint, s string, dead int"
    )
    e.create_table("tgt", seed, keys=["id"], versioned=True)
    feed = spark.createDataFrame(
        [(0, "keep0", 0, 10), (1, None, 1, 10), (7, "new7", 0, 10)],
        "id bigint, s string, dead int, seq bigint",
    )
    feed.createOrReplaceTempView("feed")
    e.sql(
        "APPLY CHANGES INTO tgt FROM (SELECT * FROM feed) "
        "APPLY AS DELETE WHEN dead = 1 SEQUENCE BY seq"
    )
    got = {r.id: r.s for r in e.table("tgt").collect()}
    assert got[0] == "keep0" and 1 not in got and got[7] == "new7"
    # pure upsert feed: no _op, no APPLY AS
    up = spark.createDataFrame(
        [(2, "up2", 0, 20)], "id bigint, s string, dead int, seq bigint"
    )
    up.createOrReplaceTempView("upfeed")
    e.sql("APPLY CHANGES INTO tgt FROM upfeed SEQUENCE BY seq")
    assert e.table("tgt").filter("id = 2").head().s == "up2"


def test_apply_changes_statement_scd2(spark, tmp_path):
    """STORED AS SCD TYPE 2 routes to the version-row apply: changes
    open/close version rows on a scd2_init target; SEQUENCE BY is
    mandatory for the SCD2 form."""
    from polars_lake_spark.streaming.ingest import scd2_current, scd2_init

    e = Engine(spark, str(tmp_path / "w"))
    seed = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, s string"
    )
    scd2_init(e, "dim", seed, keys=["id"], versioned=True)
    ch = spark.createDataFrame(
        [(1, "a2", "update", 10), (2, None, "delete", 10)],
        "id bigint, s string, _op string, seq bigint",
    )
    ch.createOrReplaceTempView("dim_feed")
    st = e.sql(
        "APPLY CHANGES INTO dim FROM dim_feed KEYS (id) SEQUENCE BY seq "
        "STORED AS SCD TYPE 2"
    ).head()
    assert (st["operation"], st["n_affected"]) == ("apply_changes", 2)
    cur = {r.id: r.s for r in scd2_current(e, "dim").collect()}
    assert cur == {1: "a2"}
    assert e.table("dim").count() == 3  # two closed seeds + one open
    with pytest.raises(ValueError, match="SEQUENCE BY"):
        e.sql("APPLY CHANGES INTO dim FROM dim_feed STORED AS SCD TYPE 2")


def test_apply_changes_statement_truncate_when(spark, tmp_path):
    """APPLY AS TRUNCATE WHEN derives full-refresh ops: pre-truncate
    target rows leave, same-batch later-sequenced rows land, and the
    truncate watermark persists so a later pre-truncate straggler
    statement drops."""
    e = Engine(spark, str(tmp_path / "w"))
    seed = spark.createDataFrame(
        [(i, f"v{i}") for i in range(4)], "id bigint, s string"
    )
    e.create_table("tgt", seed, keys=["id"], versioned=True)
    feed = spark.createDataFrame(
        [
            (None, None, 1, 50),   # full-refresh marker
            (0, "fresh0", 0, 60),
            (9, "fresh9", 0, 60),
        ],
        "id bigint, s string, refresh int, seq bigint",
    )
    feed.createOrReplaceTempView("refresh_feed")
    e.sql(
        "APPLY CHANGES INTO tgt FROM refresh_feed "
        "APPLY AS TRUNCATE WHEN refresh = 1 SEQUENCE BY seq"
    )
    got = {r.id: r.s for r in e.table("tgt").collect()}
    assert got == {0: "fresh0", 9: "fresh9"}
    # a straggler statement sequenced below the truncate drops entirely
    straggler = spark.createDataFrame(
        [(1, "old1", 0, 40)], "id bigint, s string, refresh int, seq bigint"
    )
    straggler.createOrReplaceTempView("straggler_feed")
    e.sql(
        "APPLY CHANGES INTO tgt FROM straggler_feed "
        "APPLY AS TRUNCATE WHEN refresh = 1 SEQUENCE BY seq"
    )
    got2 = {r.id: r.s for r in e.table("tgt").collect()}
    assert got2 == {0: "fresh0", 9: "fresh9"}


def test_merge_conditional_update(eng, spark):
    """WHEN MATCHED AND c THEN UPDATE (both SET * and explicit forms):
    matched rows failing the condition keep old values — the clause
    condition gates the update, it never deletes."""
    spark.createDataFrame(
        [(1, 100.0), (2, 200.0), (7, 7.0)], "id bigint, v double"
    ).createOrReplaceTempView("mc_src")
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id bigint, v double"
    )
    eng.create_table("mc", df, keys=["id"])
    eng.sql(
        "MERGE INTO mc USING mc_src ON mc.id = mc_src.id "
        "WHEN MATCHED AND mc.v < 15 THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r.id: r.v for r in eng.table("mc").collect()}
    assert got == {1: 100.0, 2: 20.0, 7: 7.0}  # 2 failed the gate
    # explicit assignments under a gate, on a DV table
    eng.sql(
        "MERGE INTO mc USING mc_src ON mc.id = mc_src.id "
        "WHEN MATCHED AND mc_src.v > 150 THEN UPDATE SET v = mc.v + 1"
    )
    got2 = {r.id: r.v for r in eng.table("mc").collect()}
    assert got2 == {1: 100.0, 2: 21.0, 7: 7.0}  # only src.v=200 passes


def test_merge_conditional_update_dv_table(spark, tmp_path):
    """The DV path honors the update-clause condition: matched rows
    failing it neither ref out nor re-append (they stay on disk)."""
    e = Engine(spark, str(tmp_path / "dv"))
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id bigint, v double"
    )
    e.create_table(
        "mcd", df, keys=["id"], versioned=True, deletion_vectors=True
    )
    spark.createDataFrame(
        [(1, 100.0), (2, 200.0)], "id bigint, v double"
    ).createOrReplaceTempView("mcd_src")
    e.sql(
        "MERGE INTO mcd USING mcd_src ON mcd.id = mcd_src.id "
        "WHEN MATCHED AND mcd.v < 15 THEN UPDATE SET *"
    )
    got = {r.id: r.v for r in e.table("mcd").collect()}
    assert got == {1: 100.0, 2: 20.0}


def test_expectations_quarantine_action(spark, tmp_path):
    """'quarantine' expectations: violating rows leave the write like
    'drop' but ADDITIONALLY land in {table}_quarantine tagged with the
    violated rule names — across the append path, the merge-style
    upsert path, and SQL DML."""
    e = Engine(spark, str(tmp_path / "w"))
    seed = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "id bigint, score int, s string"
    )
    e.create_table(
        "q", seed, keys=["id"], versioned=True,
        expectations={
            "score_pos": {"expr": "score >= 0", "action": "quarantine"},
            "s_known": {"expr": "s IS NOT NULL", "action": "quarantine"},
        },
    )
    # append path: one row violates both rules, one violates one, one clean
    batch = spark.createDataFrame(
        [(3, -1, None), (4, -5, "d"), (5, 50, "e")],
        "id bigint, score int, s string",
    )
    e.insert("q", batch)
    got = {r.id for r in e.table("q").collect()}
    assert got == {1, 2, 5}
    rep = e.last_expectation_report
    assert rep["violations"] == {"score_pos": 2, "s_known": 1}
    assert rep["quarantined"] == 3  # per-rule sum, like 'dropped'
    quar = {r.id: sorted(r["__rules"]) for r in e.table("q_quarantine").collect()}
    assert quar == {3: ["s_known", "score_pos"], 4: ["score_pos"]}
    # merge-style path (upsert): violating update quarantined whole,
    # the key's old state survives
    up = spark.createDataFrame(
        [(1, -9, "a2"), (2, 25, "b2")], "id bigint, score int, s string"
    )
    e.upsert("q", up)
    got2 = {r.id: (r.score, r.s) for r in e.table("q").collect()}
    assert got2[1] == (10, "a")      # quarantined update never landed
    assert got2[2] == (25, "b2")
    quar2 = e.table("q_quarantine").collect()
    assert len(quar2) == 3
    assert {r.id for r in quar2} == {1, 3, 4}
    # SQL DML rides the same paths
    e.sql("INSERT INTO q SELECT 9, -2, 'z'")
    assert e.table("q").filter("id = 9").count() == 0
    assert e.table("q_quarantine").filter("id = 9").count() == 1
    # round-trips through SHOW CREATE TABLE
    ddl = e.sql("SHOW CREATE TABLE q").head()[0]
    assert "expectation.score_pos.quarantine" in ddl


def test_create_or_replace_table(spark, tmp_path):
    """CREATE OR REPLACE TABLE: same-layout versioned targets replace in
    ONE snapshot (pre-replace state stays time-travelable; constraints
    reset with the new definition); a layout change drops and recreates;
    the SELECT may read the table it replaces; plain CREATE on an
    existing name still refuses."""
    e = Engine(spark, str(tmp_path / "w"))
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, s string"
    ).createOrReplaceTempView("corr_src")
    e.sql("CREATE VERSIONED TABLE t AS SELECT * FROM corr_src")
    e.add_constraint("t", "id_pos", "id > 0")
    with pytest.raises(ValueError, match="already exists"):
        e.sql("CREATE VERSIONED TABLE t AS SELECT * FROM corr_src")
    # same layout: one rewrite snapshot, history preserved
    st = e.sql(
        "CREATE OR REPLACE VERSIONED TABLE t AS "
        "SELECT id * 10 AS id, s FROM corr_src"
    ).head()
    assert st["operation"] == "replace_table_as"
    assert {r.id for r in e.table("t").collect()} == {10, 20}
    assert {r.id for r in e.table("t", version=1).collect()} == {1, 2}
    # constraints reset with the new definition: negative ids now land
    assert e.specs["t"].constraints == {}
    e.sql("INSERT INTO t SELECT -5, 'neg'")
    assert e.table("t").filter("id = -5").count() == 1
    # self-referencing replace
    e.sql("CREATE OR REPLACE VERSIONED TABLE t AS SELECT * FROM t WHERE id > 0")
    assert {r.id for r in e.table("t").collect()} == {10, 20}
    # layout change: drop + recreate (fresh history, partitioned layout)
    e.sql(
        "CREATE OR REPLACE VERSIONED TABLE t PARTITIONED BY (s) AS "
        "SELECT * FROM corr_src"
    )
    assert {r.id for r in e.table("t").collect()} == {1, 2}
    assert e.specs["t"].partition_by == ["s"]
    # fresh table: old history gone (exactly the one 'create' snapshot)
    assert len(e._snapstore("t").versions()) == 1


def test_restore_to_timestamp(spark, tmp_path):
    """RESTORE ... TO TIMESTAMP AS OF resolves like time travel (latest
    snapshot at or before the instant) and rolls the table back."""
    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame([(1, "a")], "id bigint, s string")
    e.create_table("t", df, keys=["id"], versioned=True)
    hist1 = [
        h for h in e._snapstore("t").history()
    ]
    ts1 = max(h["ts_ns"] for h in hist1)
    e.insert("t", spark.createDataFrame([(2, "b")], "id bigint, s string"))
    assert e.table("t").count() == 2
    import datetime as dt

    iso = (
        dt.datetime.fromtimestamp(ts1 / 1e9, dt.timezone.utc)
        .replace(tzinfo=None)
        .isoformat()
    )
    st = e.sql(f"RESTORE TABLE t TO TIMESTAMP AS OF '{iso}'").head()
    assert st["operation"] == "restore"
    assert {r.id for r in e.table("t").collect()} == {1}


def test_merge_multiple_ordered_when_matched_clauses(eng, spark):
    """Delta's multi-clause MERGE: WHEN MATCHED clauses evaluate in
    order, FIRST match wins — gated updates, a gated delete, and a
    final catch-all compose in one statement (VERDICT r12 item #2)."""
    spark.createDataFrame(
        [(1, -5.0), (2, 500.0), (3, 42.0), (9, 1.0)], "id bigint, v double"
    ).createOrReplaceTempView("mc_src")
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"), (4, 40.0, "d")],
        "id bigint, val double, tag string",
    )
    eng.create_table("mc", df, keys=["id"])
    st = eng.sql(
        "MERGE INTO mc USING mc_src AS s ON mc.id = s.id "
        "WHEN MATCHED AND s.v < 0 THEN DELETE "
        "WHEN MATCHED AND s.v > 100 THEN UPDATE SET val = s.v, tag = 'big' "
        "WHEN MATCHED THEN UPDATE SET val = mc.val + s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    ).head()
    assert st["operation"] == "merge"
    got = {r.id: (r.val, r.tag) for r in eng.table("mc").collect()}
    assert 1 not in got                      # first clause: delete
    assert got[2] == (500.0, "big")          # second clause wins
    assert got[3] == (72.0, "c")             # catch-all: 30 + 42
    assert got[4] == (40.0, "d")             # unmatched target untouched
    assert got[9] == (None, None)            # INSERT * (no val col match)
    # first-match-wins: a row passing BOTH gated clauses takes the FIRST
    spark.createDataFrame(
        [(2, -1.0)], "id bigint, v double"
    ).createOrReplaceTempView("mc_src2")
    eng.sql(
        "MERGE INTO mc USING mc_src2 AS s ON mc.id = s.id "
        "WHEN MATCHED AND s.v < 0 THEN UPDATE SET tag = 'neg' "
        "WHEN MATCHED AND s.v < 100 THEN DELETE"
    )
    got2 = {r.id: r.tag for r in eng.table("mc").collect()}
    assert got2[2] == "neg"                  # updated, NOT deleted


def test_merge_multi_clause_deletion_vectors(eng, spark):
    """The ordered-clause executor must behave identically on the DV
    merge-on-read path (refs + appends, zero rewrite)."""
    spark.createDataFrame(
        [(1, -5.0), (2, 500.0), (3, 42.0)], "id bigint, v double"
    ).createOrReplaceTempView("mcdv_src")
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)],
        "id bigint, val double",
    )
    eng.create_table("mcdv", df, keys=["id"], versioned=True,
                     deletion_vectors=True)
    eng.sql(
        "MERGE INTO mcdv USING mcdv_src AS s ON mcdv.id = s.id "
        "WHEN MATCHED AND s.v < 0 THEN DELETE "
        "WHEN MATCHED AND s.v > 100 THEN UPDATE SET val = s.v "
        "WHEN MATCHED THEN UPDATE SET val = mcdv.val + s.v"
    )
    got = {r.id: r.val for r in eng.table("mcdv").collect()}
    assert got == {2: 500.0, 3: 72.0, 4: 40.0}


def test_merge_alias_inside_string_literal_untouched(eng, spark):
    """ADVICE r12: the o/n alias rewrite must skip string literals — an
    assignment whose VALUE is the text 's.x' lands verbatim."""
    spark.createDataFrame([(1,)], "id bigint").createOrReplaceTempView(
        "lit_src"
    )
    df = spark.createDataFrame([(1, "old")], "id bigint, note string")
    eng.create_table("lt", df, keys=["id"])
    eng.sql(
        "MERGE INTO lt USING lit_src AS s ON lt.id = s.id "
        "WHEN MATCHED THEN UPDATE SET note = 's.x'"
    )
    assert eng.table("lt").head()["note"] == "s.x"


def test_merge_by_source_delete_spares_quarantined_matches(eng, spark):
    """ADVICE r12: a change row dropped by a quality expectation must
    still count as 'matched by source' — WHEN NOT MATCHED BY SOURCE
    DELETE may not remove its target match."""
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id bigint, val double"
    )
    eng.create_table("qb", df, keys=["id"])
    eng.add_expectation("qb", "pos_val", "val >= 0", action="drop")
    spark.createDataFrame(
        [(1, 11.0), (2, -1.0)], "id bigint, val double"
    ).createOrReplaceTempView("qb_src")
    eng.sql(
        "MERGE INTO qb USING qb_src AS s ON qb.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    got = {r.id: r.val for r in eng.table("qb").collect()}
    assert got[1] == 11.0      # clean change applied
    assert got[2] == 20.0      # quarantined change: target row SURVIVES
    assert 3 not in got        # genuinely unmatched by source: deleted


def test_merge_by_source_delete_spares_quarantined_matches_dv(eng, spark):
    """Same guarantee on the deletion-vector merge path."""
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id bigint, val double"
    )
    eng.create_table(
        "qbdv", df, keys=["id"], versioned=True, deletion_vectors=True
    )
    eng.add_expectation("qbdv", "pos_val", "val >= 0", action="drop")
    spark.createDataFrame(
        [(1, 11.0), (2, -1.0)], "id bigint, val double"
    ).createOrReplaceTempView("qbdv_src")
    eng.sql(
        "MERGE INTO qbdv USING qbdv_src AS s ON qbdv.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    got = {r.id: r.val for r in eng.table("qbdv").collect()}
    assert got[1] == 11.0 and got[2] == 20.0 and 3 not in got


def test_create_or_replace_failure_atomicity(spark, tmp_path):
    """ADVICE r12 (high): a failing CREATE OR REPLACE must leave the old
    table byte-identical — data, constraints, expectations, history.
    The layout-change path stages under a temp name and swaps only on
    success; the same-layout path persists its property reset only
    after the overwrite commits."""
    e = Engine(spark, str(tmp_path / "w"))
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, s string"
    ).createOrReplaceTempView("atom_src")
    e.sql("CREATE VERSIONED TABLE t AS SELECT * FROM atom_src")
    e.add_constraint("t", "id_pos", "id > 0")
    e.add_expectation("t", "s_nonempty", "length(s) > 0", action="drop")

    # (1) layout change whose create_table validation fails: CLUSTER BY
    # requires VERSIONED — fires AFTER the old drop in the r12 code
    with pytest.raises(ValueError):
        e.sql(
            "CREATE OR REPLACE TABLE t CLUSTER BY (id) AS "
            "SELECT * FROM atom_src"
        )
    assert {r.id for r in e.table("t").collect()} == {1, 2}
    assert "id_pos" in e.specs["t"].constraints
    assert "s_nonempty" in e.specs["t"].expectations

    # (2) PARTITIONED BY column missing from the SELECT
    with pytest.raises(Exception):
        e.sql(
            "CREATE OR REPLACE VERSIONED TABLE t PARTITIONED BY (nope) "
            "AS SELECT * FROM atom_src"
        )
    assert {r.id for r in e.table("t").collect()} == {1, 2}
    assert "id_pos" in e.specs["t"].constraints

    # (3) same-layout replace whose SELECT fails at RUNTIME: the
    # property reset must not persist (r12 cleared + wrote the manifest
    # before spark.sql even ran)
    with pytest.raises(Exception):
        e.sql(
            "CREATE OR REPLACE VERSIONED TABLE t AS "
            "SELECT id, s, assert_true(id < 0) AS x FROM atom_src"
        )
    assert {r.id for r in e.table("t").collect()} == {1, 2}
    assert "id_pos" in e.specs["t"].constraints
    assert "s_nonempty" in e.specs["t"].expectations
    # manifest on disk agrees (a fresh engine sees the constraints)
    e2 = Engine(spark, str(tmp_path / "w"))
    assert "id_pos" in e2.load_table("t").constraints

    # (4) same-layout analysis error: nothing ran, nothing reset
    with pytest.raises(Exception):
        e.sql("CREATE OR REPLACE VERSIONED TABLE t AS SELECT nope FROM t")
    assert "id_pos" in e.specs["t"].constraints

    # no staging residue survived any of the failures
    assert _resolve_names(e) == {"t"}


def _resolve_names(e):
    return {n for n in e.specs if not n.startswith("_")}


def test_create_or_replace_key_validation(spark, tmp_path):
    """ADVICE r12 (low): a same-layout replace whose SELECT drops a key
    column clears spec.keys instead of advertising a key that no longer
    exists; keys survive when the new definition still carries them."""
    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame([(1, "a", 1.0)], "id bigint, s string, v double")
    e.create_table("t", df, keys=["id"], versioned=True)
    # keys survive a replace that keeps the key column
    e.sql("CREATE OR REPLACE VERSIONED TABLE t AS SELECT id, s FROM t")
    assert e.specs["t"].keys == ["id"]
    # keys clear when the key column is dropped
    e.sql("CREATE OR REPLACE VERSIONED TABLE t AS SELECT s FROM t")
    assert e.specs["t"].keys == []


def test_create_or_replace_layout_change_not_pinned(spark, tmp_path):
    """VERDICT r12 perf weak: the layout-change path must not
    localCheckpoint the full SELECT — the staging write is the only
    materialization.  Pin by absence: no RDD checkpoint blocks appear
    during the replace."""
    e = Engine(spark, str(tmp_path / "w"))
    spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(100)], "id bigint, g string"
    ).createOrReplaceTempView("np_src")
    e.sql("CREATE VERSIONED TABLE t AS SELECT * FROM np_src")
    sc = spark.sparkContext
    before = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}
    e.sql(
        "CREATE OR REPLACE VERSIONED TABLE t PARTITIONED BY (g) AS "
        "SELECT * FROM t"
    )
    after = {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}
    # no NEW storage appeared (stale entries from other tests may age
    # OUT between the samples — only additions indicate a pin)
    assert after <= before, "replace pinned RDD storage"
    assert e.table("t").count() == 100
    assert e.specs["t"].partition_by == ["g"]


def test_rename_table(spark, tmp_path):
    """rename_table: one metadata move — data, snapshots, constraints
    and views all travel; old name gone; collisions and unsupported
    layouts refuse."""
    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame([(1, "a")], "id bigint, s string")
    e.create_table("src_t", df, keys=["id"], versioned=True)
    e.add_constraint("src_t", "id_pos", "id > 0")
    e.upsert("src_t", spark.createDataFrame([(2, "b")], "id bigint, s string"))
    e.rename_table("src_t", "dst_t")
    assert {r.id for r in e.table("dst_t").collect()} == {1, 2}
    assert "id_pos" in e.specs["dst_t"].constraints
    assert len(e._snapstore("dst_t").versions()) == 2  # history travels
    assert e.sql("SELECT count(*) AS n FROM dst_t").head()["n"] == 2
    assert "src_t" not in e.specs
    with pytest.raises(Exception):
        e.table("src_t").count()
    # fresh engine loads the renamed manifest
    e2 = Engine(spark, str(tmp_path / "w"))
    assert e2.load_table("dst_t").name == "dst_t"
    # collision refusal
    e.create_table("other", df)
    with pytest.raises(ValueError, match="already exists"):
        e.rename_table("dst_t", "other")


def test_reserved_side_table_names_refused(spark, tmp_path):
    """VERDICT r12 hygiene: `{t}_quarantine` / `{t}_cdc_tombstones` /
    `{t}_cdc_meta` are reserved companion names while `t` exists — user
    creation refuses, and the implicit writers refuse to append into an
    independently-created table under the name."""
    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame([(1, 1.0)], "id bigint, val double")
    e.create_table("t", df, keys=["id"])
    for suf in ("_quarantine", "_cdc_tombstones", "_cdc_meta"):
        with pytest.raises(ValueError, match="reserved"):
            e.create_table(f"t{suf}", df)
        with pytest.raises(ValueError, match="reserved"):
            e.sql(f"CREATE TABLE t{suf} AS SELECT * FROM t")
    # no base table -> the name is free
    e.create_table("free_quarantine", df)
    # a user table created BEFORE the base existed must never silently
    # become the quarantine log
    e.create_table("u_quarantine", df)
    e.create_table("u", df, keys=["id"])
    e.add_expectation("u", "pos", "val >= 0", action="quarantine")
    with pytest.raises(ValueError, match="not created as"):
        e.insert("u", spark.createDataFrame([(2, -1.0)], "id bigint, val double"))
    # ...and the engine's own side tables keep working
    e.drop_table("u_quarantine", delete_files=True)
    e.insert("u", spark.createDataFrame([(2, -1.0)], "id bigint, val double"))
    assert e.table("u_quarantine").count() == 1
    assert e.specs["u_quarantine"].side_table_of == "u"


def test_cdc_side_table_collision_refused(spark, tmp_path):
    """A pre-existing user `{t}_cdc_tombstones` refuses the CDC apply
    instead of silently becoming the tombstone log."""
    from polars_lake_spark.streaming.ingest import apply_changes_batch

    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame([(1, "a")], "k bigint, s string")
    e.create_table("t_cdc_tombstones", df, keys=["k"])  # user table first
    e.create_table("t", df, keys=["k"])
    b = spark.createDataFrame(
        [(1, None, "delete", 10)], "k bigint, s string, _op string, seq bigint"
    )
    with pytest.raises(ValueError, match="not created as"):
        apply_changes_batch(e, "t", b, sequence_by="seq")


def test_vacuum_quarantine_retention(spark, tmp_path):
    """vacuum_quarantine drops quarantined rows stamped before the
    horizon (and unstamped legacy rows); newer rows survive."""
    import datetime as dt

    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame([(1, 1.0)], "id bigint, val double")
    e.create_table("t", df, keys=["id"])
    e.add_expectation("t", "pos", "val >= 0", action="quarantine")
    e.insert("t", spark.createDataFrame([(2, -1.0), (3, -2.0)],
                                        "id bigint, val double"))
    assert e.table("t_quarantine").count() == 2
    assert "__quarantined_at" in e.table("t_quarantine").columns
    # nothing is older than a horizon in the past
    past = dt.datetime.now() - dt.timedelta(days=1)
    assert e.vacuum_quarantine("t", past) == 0
    assert e.table("t_quarantine").count() == 2
    # everything is older than a horizon in the future
    future = dt.datetime.now() + dt.timedelta(days=1)
    assert e.vacuum_quarantine("t", future.isoformat()) == 2
    assert e.table("t_quarantine").count() == 0
    # no quarantine table at all -> 0
    assert e.vacuum_quarantine("nope", past) == 0


def test_merge_not_matched_insert_values_and_conditions(eng, spark):
    """Delta's full NOT MATCHED family: ordered conditioned inserts,
    INSERT (cols) VALUES (exprs) with unassigned columns NULL, and
    source rows firing no insert clause dropped."""
    spark.createDataFrame(
        [(100, 5.0), (101, -3.0), (102, 900.0)], "id bigint, v double"
    ).createOrReplaceTempView("ni_src")
    df = spark.createDataFrame(
        [(1, 10.0, "a")], "id bigint, val double, tag string"
    )
    eng.create_table("ni", df, keys=["id"])
    eng.sql(
        "MERGE INTO ni USING ni_src AS s ON ni.id = s.id "
        "WHEN NOT MATCHED AND s.v < 0 THEN INSERT (id, val, tag) "
        "VALUES (s.id, -s.v, 'neg') "
        "WHEN NOT MATCHED AND s.v < 100 THEN INSERT (id, val) "
        "VALUES (s.id, s.v * 2)"
    )
    got = {r.id: (r.val, r.tag) for r in eng.table("ni").collect()}
    assert got[1] == (10.0, "a")          # target untouched
    assert got[100] == (10.0, None)       # 2nd clause: 5*2, tag NULL
    assert got[101] == (3.0, "neg")       # 1st clause wins (v<0)
    assert 102 not in got                  # no insert clause fired
    # BY TARGET is a synonym for plain NOT MATCHED (INSERT * maps only
    # same-named columns; the source's 'v' has no target counterpart)
    eng.sql(
        "MERGE INTO ni USING ni_src AS s ON ni.id = s.id "
        "WHEN NOT MATCHED BY TARGET AND s.id = 102 THEN INSERT *"
    )
    row = eng.table("ni").filter("id = 102").head()
    assert row is not None and row.val is None
    # length-mismatched VALUES: Spark's parser refuses it
    _parse_refused(
        eng,
        "ni",
        "MERGE INTO ni USING ni_src AS s ON ni.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id, val) VALUES (s.id)",
        "_LEGACY_ERROR_TEMP_0006",
    )
    # only the last NOT MATCHED clause may omit its condition
    _parse_refused(
        eng,
        "ni",
        "MERGE INTO ni USING ni_src AS s ON ni.id = s.id "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED AND s.v < 0 THEN INSERT *",
        "NON_LAST_NOT_MATCHED_BY_TARGET_CLAUSE_OMIT_CONDITION",
    )


def test_merge_by_source_update(eng, spark):
    """WHEN NOT MATCHED BY SOURCE THEN UPDATE SET (Delta): target rows
    the source lacks take the assignments; ordered with a BY SOURCE
    DELETE, first match wins."""
    spark.createDataFrame([(1, 1.0)], "id bigint, v double").createOrReplaceTempView(
        "bsu_src"
    )
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 200.0, "c")],
        "id bigint, val double, tag string",
    )
    eng.create_table("bsu", df, keys=["id"])
    eng.sql(
        "MERGE INTO bsu USING bsu_src AS s ON bsu.id = s.id "
        "WHEN MATCHED THEN UPDATE SET val = s.v "
        "WHEN NOT MATCHED BY SOURCE AND bsu.val > 100 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tag = 'stale'"
    )
    got = {r.id: (r.val, r.tag) for r in eng.table("bsu").collect()}
    assert got[1] == (1.0, "a")           # matched: updated
    assert got[2] == (20.0, "stale")      # target-only: 2nd clause
    assert 3 not in got                   # target-only: 1st clause (del)
    # SET * on a BY SOURCE clause (no source row) is no Spark grammar
    _parse_refused(
        eng,
        "bsu",
        "MERGE INTO bsu USING bsu_src AS s ON bsu.id = s.id "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *",
        "PARSE_SYNTAX_ERROR",
    )


def test_merge_full_clause_set_deletion_vectors(eng, spark):
    """The complete three-family clause set on the DV merge-on-read
    path: conditioned inserts append, BY SOURCE UPDATE refs the old
    copy out and appends the assigned values, BY SOURCE DELETE refs
    only."""
    spark.createDataFrame(
        [(1, 1.0), (100, 5.0), (101, -3.0)], "id bigint, v double"
    ).createOrReplaceTempView("fdv_src")
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 200.0, "c")],
        "id bigint, val double, tag string",
    )
    eng.create_table(
        "fdv", df, keys=["id"], versioned=True, deletion_vectors=True
    )
    eng.sql(
        "MERGE INTO fdv USING fdv_src AS s ON fdv.id = s.id "
        "WHEN MATCHED THEN UPDATE SET val = s.v "
        "WHEN NOT MATCHED AND s.v < 0 THEN INSERT (id, val, tag) "
        "VALUES (s.id, -s.v, 'neg') "
        "WHEN NOT MATCHED AND s.v < 100 THEN INSERT (id, val) "
        "VALUES (s.id, s.v * 2) "
        "WHEN NOT MATCHED BY SOURCE AND fdv.val > 100 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tag = 'stale'"
    )
    got = {r.id: (r.val, r.tag) for r in eng.table("fdv").collect()}
    assert got[1] == (1.0, "a")
    assert got[2] == (20.0, "stale")
    assert 3 not in got
    assert got[100] == (10.0, None)
    assert got[101] == (3.0, "neg")
    assert len(got) == 4


def test_merge_insert_values_recomputes_bucket(eng, spark):
    """An explicit INSERT VALUES key on a bucketed table must land with
    a RECOMPUTED bucket_id (not the source row's, not NULL) — point
    lookups by bucket must keep finding it."""
    from polars_lake_spark.layout import bucket_expr

    spark.createDataFrame([(7, 70.0)], "id bigint, v double").createOrReplaceTempView(
        "bkt_src"
    )
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id bigint, val double"
    )
    eng.create_table("bkt", df, keys=["id"], bucket_by=["id"], n_buckets=4)
    eng.sql(
        "MERGE INTO bkt USING bkt_src AS s ON bkt.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id, val) VALUES (s.id + 1000, s.v)"
    )
    rows = {r.id: r for r in eng.table("bkt").collect()}
    assert rows[1007].val == 70.0
    want = (
        spark.createDataFrame([(1007,)], "id bigint")
        .select(bucket_expr(["id"], 4).alias("b"))
        .head()["b"]
    )
    assert rows[1007].bucket_id == want


def test_alter_table_rename_to(spark, tmp_path):
    """ALTER TABLE t RENAME TO u routes through rename_table: data,
    history, constraints and SQL view all travel."""
    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame([(1, "a")], "id bigint, s string")
    e.create_table("t", df, keys=["id"], versioned=True)
    e.add_constraint("t", "id_pos", "id > 0")
    st = e.sql("ALTER TABLE t RENAME TO u").head()
    assert st["operation"] == "rename_table"
    assert e.sql("SELECT count(*) AS n FROM u").head()["n"] == 1
    assert "id_pos" in e.specs["u"].constraints
    assert "t" not in e.specs
    # the renamed table stays fully mutable
    e.sql("INSERT INTO u SELECT 2, 'b'")
    assert e.table("u").count() == 2


def test_merge_with_schema_evolution(spark, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION (Delta autoMerge): source-only
    columns widen the target as NULLs before the merge, so INSERT * and
    UPDATE SET * carry them; without the flag extra source columns are
    silently dropped (the merge's schema contract is the target's)."""
    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id bigint, val double")
    e.create_table("ev", df, keys=["id"], versioned=True)
    spark.createDataFrame(
        [(1, 11.0, "x"), (3, 30.0, "y")], "id bigint, val double, note string"
    ).createOrReplaceTempView("ev_src")
    # without evolution: note dropped
    e.sql(
        "MERGE INTO ev USING ev_src AS s ON ev.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert "note" not in e.table("ev").columns
    # with evolution: note lands (NULL for untouched rows)
    e.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO ev USING ev_src AS s "
        "ON ev.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r.id: (r.val, r.note) for r in e.table("ev").collect()}
    assert got[1] == (11.0, "x")
    assert got[2] == (20.0, None)
    assert got[3] == (30.0, "y")
    # numeric widening: int source into bigint target stays bigint;
    # a LONG source col widens an INT target col
    e.create_table(
        "evw",
        spark.createDataFrame([(1, 5)], "id bigint, n int"),
        keys=["id"],
        versioned=True,
    )
    spark.createDataFrame(
        [(1, 6_000_000_000)], "id bigint, n bigint"
    ).createOrReplaceTempView("evw_src")
    e.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO evw USING evw_src AS s "
        "ON evw.id = s.id WHEN MATCHED THEN UPDATE SET *"
    )
    assert dict(e.table("evw").dtypes)["n"] == "bigint"
    assert e.table("evw").head().n == 6_000_000_000
    # refused on DV tables (honest gate)
    e.create_table(
        "evdv", df, keys=["id"], versioned=True, deletion_vectors=True
    )
    with pytest.raises(ValueError, match="not supported on"):
        e.sql(
            "MERGE WITH SCHEMA EVOLUTION INTO evdv USING ev_src AS s "
            "ON evdv.id = s.id WHEN MATCHED THEN UPDATE SET *"
        )


def test_rename_table_moves_companions(spark, tmp_path):
    """r13 review: companion side tables (quarantine, CDC tombstones/
    meta) rename WITH their base — orphaning them would silently reset
    CDC stale-filter state and quarantine history."""
    from polars_lake_spark.streaming.ingest import apply_changes_batch

    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame([(1, "a", 1.0)], "k bigint, s string, v double")
    e.create_table("t", df, keys=["k"], versioned=True)
    e.add_expectation("t", "pos", "v >= 0", action="quarantine")
    e.insert("t", spark.createDataFrame([(2, "b", -1.0)],
                                        "k bigint, s string, v double"))
    b = spark.createDataFrame(
        [(1, None, 5.0, "delete", 10)],
        "k bigint, s string, v double, _op string, seq bigint",
    )
    apply_changes_batch(e, "t", b, sequence_by="seq")
    assert "t_quarantine" in e.specs and "t_cdc_tombstones" in e.specs
    e.rename_table("t", "u")
    for suf in ("_quarantine", "_cdc_tombstones"):
        assert f"u{suf}" in e.specs, suf
        assert f"t{suf}" not in e.specs, suf
        assert e.specs[f"u{suf}"].side_table_of == "u"
    # the renamed family keeps working: a STALE change must still drop
    stale = spark.createDataFrame(
        [(1, "resurrect", 5.0, "upsert", 5)],
        "k bigint, s string, v double, _op string, seq bigint",
    )
    apply_changes_batch(e, "u", stale, sequence_by="seq")
    assert e.table("u").filter("k = 1").count() == 0  # tombstone held
    # quarantine log continues under the new name
    e.insert("u", spark.createDataFrame([(3, "c", -2.0)],
                                        "k bigint, s string, v double"))
    assert e.table("u_quarantine").count() == 2


def test_rename_table_validates_new_name_first(spark, tmp_path):
    """r13 review: an invalid new name must fail BEFORE the dir moves —
    otherwise the table is stranded under an unregistrable name."""
    e = Engine(spark, str(tmp_path / "w"))
    e.create_table("t", spark.createDataFrame([(1,)], "id bigint"))
    for bad in ("my__table", "a.b.c"):
        with pytest.raises(ValueError):
            e.rename_table("t", bad)
    assert e.table("t").count() == 1  # untouched and still addressable


def test_create_or_replace_refreshes_declared_order(spark, tmp_path):
    """r13 review: a same-layout replace re-declares the column order —
    positional INSERT INTO ... VALUES must map against the SELECT's
    order, not the original CREATE's."""
    e = Engine(spark, str(tmp_path / "w"))
    spark.createDataFrame(
        [(1.0, 2.0)], "a double, b double"
    ).createOrReplaceTempView("dc_src")
    e.sql("CREATE VERSIONED TABLE t AS SELECT a, b FROM dc_src")
    e.sql("CREATE OR REPLACE VERSIONED TABLE t AS SELECT b, a FROM dc_src")
    e.sql("INSERT INTO t VALUES (100.0, 200.0)")
    row = e.table("t").filter("b = 100.0").head()
    assert row is not None and row.a == 200.0


def test_side_table_legacy_manifest_adopted(spark, tmp_path):
    """r13 review: companions created before the side_table_of marker
    existed (manifest loads None) are ADOPTED when their schema matches
    the machinery's own shape — an upgrade must not brick working CDC/
    quarantine pipelines."""
    import json
    import os

    from polars_lake_spark.streaming.ingest import apply_changes_batch

    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame([(1, "a", 1.0)], "k bigint, s string, v double")
    e.create_table("t", df, keys=["k"], versioned=True)
    e.add_expectation("t", "pos", "v >= 0", action="quarantine")
    e.insert("t", spark.createDataFrame([(2, "b", -1.0)],
                                        "k bigint, s string, v double"))
    b = spark.createDataFrame(
        [(1, None, 5.0, "delete", 10)],
        "k bigint, s string, v double, _op string, seq bigint",
    )
    apply_changes_batch(e, "t", b, sequence_by="seq")
    # simulate pre-marker manifests: strip side_table_of on disk
    for side in ("t_quarantine", "t_cdc_tombstones", "t_cdc_meta"):
        if side not in e.specs:
            continue
        mp = os.path.join(str(tmp_path / "w"), side, "_manifest.json")
        if os.path.isfile(mp):
            man = json.load(open(mp))
            man.pop("side_table_of", None)
            json.dump(man, open(mp, "w"))
        e.specs[side].side_table_of = None
    # a fresh engine loads None markers; both machineries must adopt
    e2 = Engine(spark, str(tmp_path / "w"))
    e2.load_all()
    assert e2.specs["t_quarantine"].side_table_of is None
    e2.insert("t", spark.createDataFrame([(3, "c", -2.0)],
                                         "k bigint, s string, v double"))
    assert e2.table("t_quarantine").count() == 2       # adopted + appended
    assert e2.specs["t_quarantine"].side_table_of == "t"
    stale = spark.createDataFrame(
        [(1, "resurrect", 5.0, "upsert", 5)],
        "k bigint, s string, v double, _op string, seq bigint",
    )
    apply_changes_batch(e2, "t", stale, sequence_by="seq")
    assert e2.table("t").filter("k = 1").count() == 0  # tombstones adopted
    assert e2.specs["t_cdc_tombstones"].side_table_of == "t"


def test_merge_by_source_protect_only_fully_quarantined_keys(eng, spark):
    """r13 review: the BY SOURCE protection set is the QUARANTINED-only
    key set (bounded by violations), and a key with both a surviving
    and a violating source row still updates from the surviving row."""
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id bigint, val double"
    )
    eng.create_table("pq2", df, keys=["id"])
    eng.add_expectation("pq2", "pos_val", "val >= 0", action="drop")
    spark.createDataFrame(
        [(1, -5.0), (1, 11.0), (2, -1.0)], "id bigint, val double"
    ).createOrReplaceTempView("pq2_src")
    eng.sql(
        "MERGE INTO pq2 USING pq2_src AS s ON pq2.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    got = {r.id: r.val for r in eng.table("pq2").collect()}
    assert got[1] == 11.0   # surviving row updated its match
    assert got[2] == 20.0   # fully-quarantined key: target survives
    assert 3 not in got     # genuinely unmatched: deleted


def test_generated_columns(spark, tmp_path):
    """GENERATED ALWAYS AS analog: a missing generated column computes
    from its formula on EVERY write path; a provided value is validated
    by the auto CHECK (never silently diverges); the formula may define
    the partition layout."""
    from polars_lake_spark.engine import ConstraintViolationError

    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame(
        [(1, "2024-03-15"), (2, "2024-04-02")], "id bigint, d string"
    ).withColumn("d", F.to_date("d"))
    e.create_table(
        "g",
        df,
        keys=["id"],
        partition_by=["month"],
        generated={"month": "date_format(d, 'yyyy-MM')"},
    )
    got = {r.id: r.month for r in e.table("g").collect()}
    assert got == {1: "2024-03", 2: "2024-04"}
    # engine insert without the column computes it
    e.insert(
        "g",
        spark.createDataFrame([(3, "2024-05-09")], "id bigint, d string")
        .withColumn("d", F.to_date("d")),
    )
    assert e.table("g").filter("id = 3").head().month == "2024-05"
    # SQL INSERT omitting the generated column computes it too
    e.sql("INSERT INTO g (id, d) VALUES (4, DATE'2024-06-01')")
    assert e.table("g").filter("id = 4").head().month == "2024-06"
    # a WRONG provided value fails the auto CHECK loudly
    bad = spark.createDataFrame(
        [(5, "2024-07-01", "1999-01")], "id bigint, d string, month string"
    ).withColumn("d", F.to_date("d"))
    with pytest.raises(ConstraintViolationError):
        e.insert("g", bad)
    # a CORRECT provided value is accepted
    ok = bad.withColumn("month", F.date_format("d", "yyyy-MM"))
    e.insert("g", ok)
    assert e.table("g").filter("id = 5").head().month == "2024-07"
    # upsert recomputes for the incoming rows (NON-layout generated
    # column — like every upsert, a PARTITION column must stay stable
    # under updates, generated or not)
    e.create_table(
        "g_flat",
        df,
        keys=["id"],
        generated={"month": "date_format(d, 'yyyy-MM')"},
    )
    e.upsert(
        "g_flat",
        spark.createDataFrame([(1, "2024-08-20")], "id bigint, d string")
        .withColumn("d", F.to_date("d")),
    )
    assert e.table("g_flat").filter("id = 1").head().month == "2024-08"
    # generated expressions may not reference other generated columns
    with pytest.raises(ValueError, match="may not reference"):
        e.create_table(
            "g2", df, generated={"a": "id + 1", "b": "a + 1"}
        )


def test_generated_columns_show_create_roundtrip(spark, tmp_path):
    """SHOW CREATE TABLE emits generated.<col> (not the derived _gen_
    constraint) and the literal CREATE parser re-creates the formula."""
    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame([(1, 4.0)], "id bigint, v double")
    e.create_table("gr", df, generated={"v2": "v * 2"})
    ddl = e.sql("SHOW CREATE TABLE gr").head()[0]
    assert "generated.v2" in ddl and "constraint._gen_" not in ddl
    e.drop_table("gr", delete_files=True)
    st = e.sql(ddl).head()
    assert st["operation"] == "create_table"
    assert e.specs["gr"].generated == {"v2": "v * 2"}
    e.sql("INSERT INTO gr (id, v) VALUES (2, 10.0)")
    assert e.table("gr").filter("id = 2").head().v2 == 20.0


def test_update_recomputes_generated_columns(spark, tmp_path):
    """SQL UPDATE touching a generated column's source recomputes the
    formula over the NEW value (Delta's rule) — and the derived
    partition moves with it."""
    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame(
        [(1, "2024-03-15"), (2, "2024-04-02")], "id bigint, d string"
    ).withColumn("d", F.to_date("d"))
    e.create_table(
        "gu",
        df,
        keys=["id"],
        partition_by=["month"],
        generated={"month": "date_format(d, 'yyyy-MM')"},
    )
    st = e.sql("UPDATE gu SET d = DATE'2024-09-09' WHERE id = 1").head()
    assert st["n_affected"] == 1
    got = {r.id: (str(r.d), r.month) for r in e.table("gu").collect()}
    assert got[1] == ("2024-09-09", "2024-09")  # recomputed
    assert got[2] == ("2024-04-02", "2024-04")  # untouched
    # explicit SET of the generated column wins (validated by the CHECK)
    from polars_lake_spark.engine import ConstraintViolationError

    with pytest.raises(ConstraintViolationError):
        e.sql("UPDATE gu SET month = 'nope' WHERE id = 2")


def test_rename_companions_from_fresh_engine(spark, tmp_path):
    """r13 review #2: companions whose manifests were never loaded in
    THIS session must still rename with the base (disk probe, not just
    the in-memory specs dict)."""
    from polars_lake_spark.streaming.ingest import apply_changes_batch

    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame([(1, "a")], "k bigint, s string")
    e.create_table("t", df, keys=["k"], versioned=True)
    b = spark.createDataFrame(
        [(1, None, "delete", 10)], "k bigint, s string, _op string, seq bigint"
    )
    apply_changes_batch(e, "t", b, sequence_by="seq")
    assert "t_cdc_tombstones" in e.specs
    # FRESH engine: only the base manifest loads on demand
    e2 = Engine(spark, str(tmp_path / "w"))
    e2.rename_table("t", "u")
    assert "u_cdc_tombstones" in e2.specs
    import os

    assert not os.path.exists(str(tmp_path / "w" / "t_cdc_tombstones"))
    # stale change still drops under the travelled tombstone
    stale = spark.createDataFrame(
        [(1, "back", "upsert", 5)], "k bigint, s string, _op string, seq bigint"
    )
    apply_changes_batch(e2, "u", stale, sequence_by="seq")
    assert e2.table("u").filter("k = 1").count() == 0


def test_update_generated_simultaneous_substitution(spark, tmp_path):
    """r13 review #3/#4: cross-referencing SETs substitute
    SIMULTANEOUSLY (each sees pre-update values) and backslashes in SET
    expressions survive the substitution."""
    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame(
        [(1, 10, 3, "ab12cd")], "id bigint, a bigint, b bigint, s string"
    )
    e.create_table(
        "gx", df, keys=["id"], generated={"g": "a + b"}
    )
    # SET a = b + 1, b = 0: correct g = (b_old + 1) + 0 = 4; a sequential
    # substitution would compute ((0)+1)+(0) = 1 and fail the CHECK
    e.sql("UPDATE gx SET a = b + 1, b = 0 WHERE id = 1")
    row = e.table("gx").head()
    assert (row.a, row.b, row.g) == (4, 0, 4)
    # a regex SET expression with backslashes must not crash re.sub
    e.create_table(
        "gs",
        spark.createDataFrame([(1, "ab12cd")], "id bigint, s string"),
        keys=["id"],
        generated={"slen": "length(s)"},
    )
    e.sql("UPDATE gs SET s = regexp_replace(s, '\\\\d+', '') WHERE id = 1")
    row = e.table("gs").head()
    assert row.s == "abcd" and row.slen == 4


def test_generated_case_insensitive_sources(spark, tmp_path):
    """r13 review #6: SQL identifiers are case-insensitive — a formula
    spelling a source column in different case still recomputes."""
    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame([(1, 5)], "id bigint, val bigint")
    e.create_table("gc", df, keys=["id"], generated={"dbl": "VAL * 2"})
    assert e.table("gc").head().dbl == 10
    e.sql("UPDATE gc SET val = 7 WHERE id = 1")
    assert e.table("gc").head().dbl == 14


def test_create_or_replace_resets_generated(spark, tmp_path):
    """r13 review #5: the same-layout replace resets generated formulas
    with the other properties — the old formula must not keep firing
    (or crash when its source column vanished)."""
    e = Engine(spark, str(tmp_path / "w"))
    spark.createDataFrame(
        [(1, 5.0)], "id bigint, v double"
    ).createOrReplaceTempView("rg_src")
    e.create_table(
        "t",
        spark.sql("SELECT * FROM rg_src"),
        versioned=True,
        generated={"v2": "v * 2"},
    )
    # the replacing SELECT drops the formula's source column entirely
    e.sql("CREATE OR REPLACE VERSIONED TABLE t AS SELECT id FROM rg_src")
    assert e.specs["t"].generated == {}
    assert e.specs["t"].constraints == {}
    e.sql("INSERT INTO t VALUES (2)")
    assert e.table("t").count() == 2


def test_merge_recomputes_generated_columns(spark, tmp_path):
    """r13 review #7: MERGE recomputes generated columns over the
    merged values (Delta's rule) on BOTH write paths; explicitly
    assigning one is refused."""
    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame(
        [(1, "2024-03-15"), (2, "2024-04-02")], "id bigint, d string"
    ).withColumn("d", F.to_date("d"))
    e.create_table(
        "gm", df, keys=["id"],
        generated={"month": "date_format(d, 'yyyy-MM')"},
    )
    spark.createDataFrame(
        [(1, "2024-09-09"), (3, "2024-10-01")], "id bigint, d string"
    ).createOrReplaceTempView("gm_src_raw")
    spark.sql(
        "SELECT id, to_date(d) AS d FROM gm_src_raw"
    ).createOrReplaceTempView("gm_src")
    e.sql(
        "MERGE INTO gm USING gm_src AS s ON gm.id = s.id "
        "WHEN MATCHED THEN UPDATE SET d = s.d "
        "WHEN NOT MATCHED THEN INSERT (id, d) VALUES (s.id, s.d)"
    )
    got = {r.id: r.month for r in e.table("gm").collect()}
    assert got == {1: "2024-09", 2: "2024-04", 3: "2024-10"}
    with pytest.raises(ValueError, match="generated columns"):
        e.sql(
            "MERGE INTO gm USING gm_src AS s ON gm.id = s.id "
            "WHEN MATCHED THEN UPDATE SET month = 'x'"
        )
    # DV path
    e.create_table(
        "gmdv", df, keys=["id"], versioned=True, deletion_vectors=True,
        generated={"month": "date_format(d, 'yyyy-MM')"},
    )
    e.sql(
        "MERGE INTO gmdv USING gm_src AS s ON gmdv.id = s.id "
        "WHEN MATCHED THEN UPDATE SET d = s.d "
        "WHEN NOT MATCHED THEN INSERT (id, d) VALUES (s.id, s.d)"
    )
    got = {r.id: r.month for r in e.table("gmdv").collect()}
    assert got == {1: "2024-09", 2: "2024-04", 3: "2024-10"}


def test_insert_omits_generated_and_its_source(spark, tmp_path):
    """r13 review #8: an INSERT column list omitting BOTH a generated
    column and one of its source columns NULL-propagates instead of
    failing to resolve (fill order: non-generated first)."""
    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame(
        [("a b", "a", "b")], "full_name string, first string, last string"
    )
    e.create_table(
        "gi", df, generated={"full_name": "concat(first, ' ', last)"}
    )
    e.sql("INSERT INTO gi (first) VALUES ('solo')")
    row = e.table("gi").filter("first = 'solo'").head()
    assert row is not None and row.full_name is None and row.last is None


def test_upsert_partial_batch_recomputes_generated(spark, tmp_path):
    """Upsert with a partial batch (NULL = keep old) recomputes the
    formula over the MERGED values — previously the auto CHECK failed a
    legitimate partial update."""
    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame(
        [(1, 10, 3)], "id bigint, a bigint, b bigint"
    )
    e.create_table("gu2", df, keys=["id"], generated={"g": "a + b"})
    # batch updates a, leaves b NULL (keep old)
    e.upsert(
        "gu2",
        spark.createDataFrame([(1, 100, None)], "id bigint, a bigint, b bigint"),
    )
    row = e.table("gu2").head()
    assert (row.a, row.b, row.g) == (100, 3, 103)


def test_sql_merge_pins_only_nondeterministic_source(spark, monkeypatch):
    """VERDICT r13 perf-weak: the SQL MERGE / APPLY CHANGES paths must
    not eagerly localCheckpoint a DETERMINISTIC source (it would
    materialize an arbitrarily large SELECT into executor storage);
    non-deterministic sources still pin exactly once."""
    # patch the CONCRETE class: pyspark 4 implements localCheckpoint on
    # sql.classic.dataframe.DataFrame, not the abstract sql.DataFrame
    from pyspark.sql.classic.dataframe import DataFrame as _DF

    e = Engine(spark)  # in-memory tier: no write-staging checkpoints
    e.create_table(
        "pt",
        spark.createDataFrame([(1, 1.0)], "id bigint, v double"),
        keys=["id"],
        save=False,
    )
    spark.createDataFrame(
        [(1, 2.0), (2, 3.0)], "id bigint, v double"
    ).createOrReplaceTempView("pt_src")
    calls = {"n": 0}
    real = _DF.localCheckpoint

    def counting(self, *a, **k):
        calls["n"] += 1
        return real(self, *a, **k)

    monkeypatch.setattr(_DF, "localCheckpoint", counting)
    st = e.sql(
        "MERGE INTO pt USING pt_src s ON pt.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    ).head()
    assert st["n_affected"] == 2
    assert calls["n"] == 0, "deterministic MERGE source must not checkpoint"
    assert {r.id: r.v for r in e.table("pt").collect()} == {1: 2.0, 2: 3.0}
    # a rand()-gated source MUST pin (count and join see the same rows)
    e.sql(
        "MERGE INTO pt USING "
        "(SELECT id, v + rand() * 0 AS v FROM pt_src) s "
        "ON pt.id = s.id WHEN MATCHED THEN UPDATE SET *"
    )
    assert calls["n"] >= 1, "non-deterministic MERGE source must pin"
