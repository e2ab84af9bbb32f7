"""r14 layout-soundness fixes (ADVICE r13→r14 findings).

1. MERGE touched-partition pruning is disabled whenever a SET can MOVE
   a row across physical write dirs — directly (partition/bucket-source
   columns) or transitively (a SET on the SOURCE column of a generated
   column the layout derives from): the post-merge recompute migrates
   the row, and a pruned 'replace' commit would remap the migrated-into
   partition and silently drop its pre-existing rows (ADVICE high).
2. UPDATE's generated-column recompute substitution is quote-aware: a
   SET column whose name appears inside a formula's string literal
   (SET mm with date_format(d, 'yyyy-MM')) must neither trigger a
   recompute nor corrupt the literal (ADVICE medium).
3. _with_layout raises a targeted error naming the missing formula
   source columns; MERGE sources may legitimately omit them (lax
   layout: skip + disable pruning).
4. rename_table refuses reserved companion destinations and rolls back
   a half-renamed family on failure (ADVICE lows).
"""

import pyspark.sql.functions as F
import pytest

from polars_lake_spark import Engine


def _dated(spark, rows):
    return spark.createDataFrame(rows, "id bigint, d string").withColumn(
        "d", F.to_date("d")
    )


def test_merge_set_on_generated_partition_source_disables_prune(spark, tmp_path):
    """The r13 judge's reproduced corruption: a MERGE that only SETs d
    on a 2024-03 row migrates it into 2024-04 at the post-merge
    recompute; the untouched pre-existing 2024-04 row must survive."""
    e = Engine(spark, str(tmp_path / "w"))
    e.create_table(
        "gp",
        _dated(spark, [(1, "2024-03-15"), (2, "2024-04-02")]),
        keys=["id"],
        partition_by=["month"],
        versioned=True,
        generated={"month": "date_format(d, 'yyyy-MM')"},
    )
    # source carries the OLD d (so the touched-partition estimate would
    # be 2024-03) while the SET moves the row to 2024-04
    src = _dated(spark, [(1, "2024-03-15")])
    e.merge(
        "gp", src, keys=["id"],
        set_exprs={"d": F.lit("2024-04-20").cast("date")},
        when_not_matched_insert=False,
    )
    got = {r.id: r.month for r in e.table("gp").collect()}
    assert got == {1: "2024-04", 2: "2024-04"}


def test_merge_set_on_bucket_source_disables_prune(spark, tmp_path):
    """Same unsoundness through the derived bucket: a SET on a bucket_by
    column migrates the row across bucket dirs; every untouched row
    must survive the 'replace' commit."""
    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 5), i * 10) for i in range(20)],
        "id bigint, grp string, v bigint",
    )
    e.create_table(
        "gb", df, keys=["id"], bucket_by=["grp"], n_buckets=4,
        versioned=True,
    )
    src = spark.createDataFrame([(3,)], "id bigint")
    e.merge(
        "gb", src, keys=["id"],
        set_exprs={"grp": F.lit("moved")},
        when_not_matched_insert=False,
    )
    got = {r.id: r.grp for r in e.table("gb").collect()}
    assert len(got) == 20
    assert got[3] == "moved"
    assert got[4] == "g4"


def test_merge_partial_source_on_generated_partition_table(spark, tmp_path):
    """A keys-only MERGE source on a generated-partition table works —
    the lax layout skips the uncomputable formula (pruning off) instead
    of failing analysis; the recompute runs over the merged values."""
    e = Engine(spark, str(tmp_path / "w"))
    e.create_table(
        "gpart",
        _dated(spark, [(1, "2024-03-15"), (2, "2024-04-02")]),
        keys=["id"],
        partition_by=["month"],
        versioned=True,
        generated={"month": "date_format(d, 'yyyy-MM')"},
    )
    src = spark.createDataFrame([(1,)], "id bigint")
    e.merge(
        "gpart", src, keys=["id"],
        set_exprs={"d": F.lit("2024-05-05").cast("date")},
        when_not_matched_insert=False,
    )
    got = {r.id: r.month for r in e.table("gpart").collect()}
    assert got == {1: "2024-05", 2: "2024-04"}


def test_update_set_column_named_inside_formula_literal(spark, tmp_path):
    """ADVICE medium: UPDATE SET mm=... with formula
    date_format(d, 'yyyy-MM') must not corrupt the 'yyyy-MM' literal
    (mm matches case-insensitively) nor trigger a spurious recompute."""
    e = Engine(spark, str(tmp_path / "w"))
    df = _dated(spark, [(1, "2024-03-15")]).withColumn(
        "mm", F.lit(0).cast("bigint")
    )
    e.create_table(
        "qa", df, keys=["id"],
        generated={"month": "date_format(d, 'yyyy-MM')"},
    )
    e.sql("UPDATE qa SET mm = 5")
    row = e.table("qa").head()
    assert (row.mm, row.month) == (5, "2024-03")


def test_update_still_recomputes_on_real_reference(spark, tmp_path):
    """The quote-aware scanner still detects a REAL formula reference
    (regression guard for the fix above)."""
    e = Engine(spark, str(tmp_path / "w"))
    e.create_table(
        "qb", _dated(spark, [(1, "2024-03-15")]), keys=["id"],
        generated={"month": "date_format(d, 'yyyy-MM')"},
    )
    e.sql("UPDATE qb SET d = DATE'2024-09-09'")
    assert e.table("qb").head().month == "2024-09"


def test_with_layout_missing_source_targeted_error(spark, tmp_path):
    """engine.insert with a frame omitting a formula source column
    raises a ValueError NAMING the missing column, not an opaque
    AnalysisException (ADVICE low)."""
    e = Engine(spark, str(tmp_path / "w"))
    e.create_table(
        "gl", _dated(spark, [(1, "2024-03-15")]), keys=["id"],
        generated={"month": "date_format(d, 'yyyy-MM')"},
    )
    with pytest.raises(ValueError, match="'d'"):
        e.insert("gl", spark.createDataFrame([(2,)], "id bigint"))


def test_rename_refuses_reserved_companion_destination(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame([(1, 1)], "id bigint, v bigint")
    e.create_table("base", df, keys=["id"])
    e.create_table("other", df, keys=["id"])
    with pytest.raises(ValueError, match="reserved"):
        e.rename_table("other", "base_quarantine")
    with pytest.raises(ValueError, match="reserved"):
        e.rename_table("other", "base_cdc_meta")
    # renaming to a companion name of a NON-existent base is fine
    e.rename_table("other", "ghost_quarantine")
    assert e.table("ghost_quarantine").count() == 1


def test_rename_rolls_back_half_renamed_family(spark, tmp_path, monkeypatch):
    """A rename failure mid-family (simulated on the companion's move)
    restores the base under its OLD name instead of leaving the
    companion orphaned."""
    import os as _os

    e = Engine(spark, str(tmp_path / "w"))
    df = spark.createDataFrame([(1, 50.0)], "id bigint, v double")
    e.create_table(
        "fam", df, keys=["id"],
        expectations={"v_ok": {"expr": "v < 100", "action": "quarantine"}},
    )
    # populate the quarantine companion
    e.insert("fam", spark.createDataFrame([(2, 500.0)], "id bigint, v double"))
    assert "fam_quarantine" in e.specs
    real_rename = _os.rename
    calls = {"n": 0}

    def flaky(a, b):
        calls["n"] += 1
        if calls["n"] == 2:  # base moves, first companion move fails
            raise OSError("simulated EXDEV")
        return real_rename(a, b)  # rollback's reverse moves succeed

    monkeypatch.setattr("polars_lake_spark.engine.os.rename", flaky)
    with pytest.raises(OSError, match="EXDEV"):
        e.rename_table("fam", "fam2")
    monkeypatch.setattr("polars_lake_spark.engine.os.rename", real_rename)
    # family intact under the OLD name, nothing under the new one
    assert "fam" in e.specs and "fam2" not in e.specs
    assert e.table("fam").count() == 1
    assert e.table("fam_quarantine").count() == 1


def test_formula_columns(spark):
    """Formula references come from the expression tree: literals,
    function names and keywords are not columns."""
    from polars_lake_spark import sqltree

    def referenced_columns(f, candidates=None):
        return sqltree.referenced_columns(spark, f, candidates)

    def substitute_columns(f, mapping):
        return sqltree.substitute_columns(spark, f, mapping)

    f = "date_format(d, 'yyyy-MM')"
    assert referenced_columns(f) == {"d"}
    assert referenced_columns(f, candidates=["mm", "d"]) == {"d"}
    # function identifiers and keywords are not columns
    assert referenced_columns(
        "CASE WHEN a > 1 THEN upper(b) ELSE 'c' END", candidates=["a", "b", "c", "upper"]
    ) == {"a", "b"}
    # substitution skips literals and function names
    assert (
        substitute_columns(f, {"mm": "x + 1"}) == f
    )
    assert (
        substitute_columns(f, {"d": "x + 1"})
        == "date_format((x + 1), 'yyyy-MM')"
    )
    # case-insensitive match, one pass (crossed SETs stay correct)
    assert (
        substitute_columns("A + b", {"a": "b", "b": "a"}) == "(b) + (a)"
    )


def test_keyword_named_set_column_substitutes_by_tree(spark):
    """A SET column named like a SQL keyword ('end') is a column only
    where the expression tree says so: CASE...END's keyword stays, a
    backticked `end` reference is substituted."""
    from polars_lake_spark.sqltree import substitute_columns

    case = "CASE WHEN a > 1 THEN 2 ELSE 3 END"
    assert substitute_columns(spark, case, {"end": "5"}) == case
    assert (
        substitute_columns(spark, "CASE WHEN `end` > 1 THEN 2 END", {"end": "5"})
        == "CASE WHEN (5) > 1 THEN 2 END"
    )
    # a non-keyword mapping over the same expression is substituted
    out = substitute_columns(spark, case, {"a": "9"})
    assert out == "CASE WHEN (9) > 1 THEN 2 ELSE 3 END"
