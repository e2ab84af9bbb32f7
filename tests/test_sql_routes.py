"""Route parity for Engine.sql: each SELECT shape is pinned to the route
that answers it, and every answer equals a DataFrame-API read of
``eng.table(...)``.

Routes:

* ``metadata`` — a metadata fast path (footer / partition / sidecar
  counts): the returned plan scans no file;
* ``zonemap`` — the zone-map route (``scan_where`` / ``count_where``):
  ``last_scan_report["files_total"] > 0``;
* ``vanilla`` — neither: the plain Spark plan over the registered view.

A route that moves silently changes the job count of a statement (the
metadata paths run none, the zone-map path prunes before planning), so
a change to any row here is a deliberate routing change."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_lake_spark import Engine

T0 = "2024-01-01 00:00:00"


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    eng = Engine(spark, str(tmp_path_factory.mktemp("routes")))

    def batch(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id",
            "concat('g', CAST(id % 3 AS STRING)) AS p",
            "CAST(id AS DOUBLE) * 0.5 AS v",
            "concat('s', CAST(id AS STRING)) AS s",
            f"TIMESTAMP'{T0}' + make_interval(0, 0, 0, 0, CAST(id AS INT))"
            " AS ts",
        ).repartitionByRange(2, "id")

    eng.create_table(
        "rt", batch(0, 100), partition_by=["p"], keys=["id"], versioned=True
    )
    eng.insert("rt", batch(100, 200))
    return eng


def _v1_ts(eng):
    return max(
        r.timestamp for r in eng.sql("DESCRIBE HISTORY rt").collect()
        if r.version == 1
    )


def _route(eng, sql):
    eng.last_scan_report = None
    df = eng.sql(sql)
    rows = df.collect()
    rep = eng.last_scan_report
    if rep and rep.get("files_total", 0) > 0:
        return "zonemap", rows
    plan = df._jdf.queryExecution().executedPlan().toString()
    return ("vanilla" if "FileScan" in plan else "metadata"), rows


def _count(df, name="n"):
    return df.agg(F.count(F.lit(1)).alias(name))


TS_RANGE = (
    "ts >= TIMESTAMP '2024-01-01 01:00:00' "
    "AND ts < TIMESTAMP '2024-01-01 03:00:00'"
)

# (id, statement, route, expected frame from eng.table("rt") as t)
CASES = [
    # the benchmark's own shapes
    ("point", "SELECT id, v FROM rt WHERE id = 17", "zonemap",
     lambda t, e: t.filter("id = 17").select("id", "v")),
    ("count_all", "SELECT COUNT(*) AS n FROM rt", "metadata",
     lambda t, e: _count(t)),
    ("count_range", f"SELECT COUNT(*) AS n FROM rt WHERE {TS_RANGE}",
     "vanilla", lambda t, e: _count(t.filter(TS_RANGE))),
    ("rollup",
     "SELECT p, COUNT(*) AS n, SUM(v) AS sv, MAX(ts) AS last FROM rt "
     "GROUP BY p", "vanilla",
     lambda t, e: t.groupBy("p").agg(
         F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
         F.max("ts").alias("last"))),
    ("topk",
     "SELECT id, SUM(v) AS rev FROM rt GROUP BY id "
     "ORDER BY rev DESC, id LIMIT 10", "vanilla",
     lambda t, e: t.groupBy("id").agg(F.sum("v").alias("rev"))
     .orderBy(F.desc("rev"), "id").limit(10)),
    # the other metadata paths
    ("group_count", "SELECT p, COUNT(*) FROM rt GROUP BY p", "metadata",
     lambda t, e: t.groupBy("p").agg(F.count(F.lit(1)))),
    ("group_count_where",
     "SELECT p, COUNT(*) AS n FROM rt WHERE p <> 'g1' GROUP BY p",
     "metadata",
     lambda t, e: _count(t.filter("p <> 'g1'").groupBy("p"))),
    ("partition_count", "SELECT COUNT(*) FROM rt WHERE p = 'g0'",
     "metadata", lambda t, e: _count(t.filter("p = 'g0'"))),
    ("minmax", "SELECT MIN(id), MAX(v) AS hi FROM rt", "metadata",
     lambda t, e: t.agg(F.min("id"), F.max("v"))),
    ("minmax_partition", "SELECT MIN(id) FROM rt WHERE p = 'g2'",
     "metadata", lambda t, e: t.filter("p = 'g2'").agg(F.min("id"))),
    ("count_where", "SELECT COUNT(*) FROM rt WHERE id BETWEEN 10 AND 120",
     "zonemap", lambda t, e: _count(t.filter("id BETWEEN 10 AND 120"))),
    ("select_aggregate",
     "SELECT SUM(v) AS sv FROM rt WHERE id < 20 AND s <> 'x'", "zonemap",
     lambda t, e: t.filter("id < 20 AND s <> 'x'").agg(F.sum("v"))),
    # edge shapes
    ("trailing_semicolon", "SELECT id FROM rt WHERE id = 5;", "zonemap",
     lambda t, e: t.filter("id = 5").select("id")),
    ("count_all_semicolon", "SELECT COUNT(*) FROM rt ;", "metadata",
     lambda t, e: _count(t)),
    ("keyword_in_literal",
     "SELECT id FROM rt WHERE s = 'x JOIN y GROUP BY z' OR id = 3",
     "vanilla",
     lambda t, e: t.filter("id = 3").select("id")),
    ("keyword_in_literal_pruned",
     "SELECT id, s FROM rt WHERE id < 50 AND s <> 'a WHERE b ORDER BY c'",
     "zonemap", lambda t, e: t.filter("id < 50").select("id", "s")),
    ("table_alias", "SELECT a.id FROM rt a WHERE a.id = 5", "vanilla",
     lambda t, e: t.filter("id = 5").select("id")),
    ("count_alias", "SELECT COUNT(*) FROM rt AS a", "vanilla",
     lambda t, e: _count(t)),
    ("qualified", "SELECT rt.id FROM rt WHERE rt.id = 5 AND v >= 0",
     "zonemap", lambda t, e: t.filter("id = 5").select("id")),
    ("qualified_count", "SELECT COUNT(*) FROM rt WHERE rt.id < 7 AND v >= 0",
     "zonemap", lambda t, e: _count(t.filter("id < 7"))),
    ("join",
     "SELECT a.id FROM rt a JOIN rt b ON a.id = b.id WHERE a.id = 5",
     "vanilla", lambda t, e: t.filter("id = 5").select("id")),
    ("in_subquery",
     "SELECT id FROM rt WHERE id IN (SELECT id FROM rt WHERE id = 3)",
     "vanilla", lambda t, e: t.filter("id = 3").select("id")),
    ("from_subquery", "SELECT COUNT(*) FROM (SELECT * FROM rt) WHERE id = 3",
     "vanilla", lambda t, e: _count(t.filter("id = 3"))),
    ("window",
     "SELECT id, rank() OVER (ORDER BY v) AS r FROM rt WHERE id < 4",
     "vanilla",
     lambda t, e: t.filter("id < 4").select(
         "id", F.rank().over(Window.orderBy("v")).alias("r"))),
    ("group_by_bail", "SELECT s, COUNT(*) FROM rt WHERE id < 5 GROUP BY s",
     "vanilla", lambda t, e: t.filter("id < 5").groupBy("s").count()),
    ("version_as_of", "SELECT id FROM rt VERSION AS OF 1 WHERE id = 150",
     "zonemap", lambda t, e: t.filter("id = 150 AND id < 100").select("id")),
    ("version_as_of_count",
     "SELECT COUNT(*) FROM rt FOR VERSION AS OF 1 WHERE id >= 0", "zonemap",
     lambda t, e: _count(e.table("rt", version=1))),
    ("version_as_of_no_where", "SELECT COUNT(*) AS n FROM rt VERSION AS OF 1",
     "vanilla", lambda t, e: _count(e.table("rt", version=1))),
    ("timestamp_as_of",
     "SELECT id FROM rt FOR TIMESTAMP AS OF '{ts1}' WHERE id = 42",
     "zonemap", lambda t, e: t.filter("id = 42").select("id")),
]


@pytest.mark.parametrize(
    "sql,route,want", [c[1:] for c in CASES], ids=[c[0] for c in CASES]
)
def test_sql_route_parity(eng, sql, route, want):
    if "{ts1}" in sql:
        sql = sql.format(ts1=_v1_ts(eng))
    got_route, rows = _route(eng, sql)
    expected = want(eng.table("rt"), eng).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, expected)), sql
    assert got_route == route, sql


@pytest.mark.parametrize(
    "expr",
    [
        "a + 1",
        "(a + 1) * 2",
        "(a) IS NULL",
        "((a)) IN (1, 2)",
        "a BETWEEN 1 AND 3",
        "s LIKE 'a(%' ESCAPE '!'",
        "s = 'x, where y' AND t = 'it''s'",
        "s = 'x\\\\'",
        "NOT (a = 1)",
        "CASE WHEN a > 1 THEN 'x)' END",
        "true",
        "b = false",
        "a = 1 /* ( */ AND b > 0",
        "( /* ( */ a) IS NULL",
        "(a -- )\n) IS NULL",
    ],
)
def test_text_slices_reparse_identically(spark, expr):
    """sqltree.text cuts SET values and WHERE conditions out of the
    statement so that they parse back to the very same tree — through
    postfix operators whose origin starts at the operator, parentheses
    the parser dropped, literals holding commas, quotes, keywords and
    parentheses, and comments holding parentheses."""
    from polars_lake_spark import sqltree

    sql = f"UPDATE t SET c = {expr} WHERE {expr}"
    plan = sqltree.parse_plan(spark, sql)
    nodes = [a.value() for a in sqltree.seq(plan.assignments())]
    nodes += sqltree.seq(plan.condition().toList())
    for node in nodes:
        back = sqltree.parse_expression(spark, sqltree.text(sql, node))
        assert back.toString() == node.toString(), expr
