"""IDENTITY columns (Delta GENERATED ALWAYS AS IDENTITY analog, r14):
engine-assigned contiguous ids via one O(partitions) count job + a
per-partition window (no global shuffle), high-water mark carried
atomically in every snapshot commit's meta["identity"]."""

import pyspark.sql.functions as F
import pytest

from polars_lake_spark import Engine


def _texts(spark, n, prefix="d", parts=4):
    return spark.createDataFrame(
        [(f"{prefix}{i}",) for i in range(n)], "text string"
    ).repartition(parts)


def test_create_assigns_contiguous_ids(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "t", _texts(spark, 100), keys=["row_id"], versioned=True,
        identity={"row_id": {"start": 1, "step": 1}},
    )
    got = eng.table("t")
    assert got.schema["row_id"].dataType.simpleString() == "bigint"
    assert sorted(r.row_id for r in got.collect()) == list(range(1, 101))


def test_insert_continues_range_and_sql_insert_omits(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "t", _texts(spark, 20), keys=["row_id"], versioned=True,
        identity={"row_id": {"start": 1, "step": 1}},
    )
    eng.insert("t", _texts(spark, 10, "e", parts=3))
    eng.sql("INSERT INTO t (text) VALUES ('a'), ('b')")
    ids = sorted(r.row_id for r in eng.table("t").collect())
    assert ids == list(range(1, 33))
    # listing the identity column in SQL refuses; positional INSERT
    # expects only the assignable columns
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        eng.sql("INSERT INTO t (row_id, text) VALUES (99, 'x')")
    eng.sql("INSERT INTO t VALUES ('pos')")
    assert eng.table("t").count() == 33


def test_start_step_and_hwm_in_snapshot_meta(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "s", _texts(spark, 3), keys=["sid"], versioned=True,
        identity={"sid": {"start": 100, "step": 10}},
    )
    assert sorted(r.sid for r in eng.table("s").collect()) == [100, 110, 120]
    meta = eng._snapstore("s").load().meta
    assert meta["identity"] == {"sid": 130}
    eng.insert("s", _texts(spark, 1, "x"))
    assert max(r.sid for r in eng.table("s").collect()) == 130


def test_always_semantics_guards(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    # creating WITH the column present refuses
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        eng.create_table(
            "t",
            spark.createDataFrame([(1, "a")], "row_id bigint, text string"),
            keys=["row_id"], versioned=True,
            identity={"row_id": {"start": 1, "step": 1}},
        )
    eng.create_table(
        "t", _texts(spark, 5), keys=["row_id"], versioned=True,
        identity={"row_id": {"start": 1, "step": 1}},
    )
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        eng.insert(
            "t",
            spark.createDataFrame([(99, "x")], "row_id bigint, text string"),
        )
    # keyed merges REQUIRE the column (provided ids trusted)
    with pytest.raises(ValueError, match="must be present"):
        eng.upsert("t", _texts(spark, 1))
    eng.upsert(
        "t",
        spark.createDataFrame([(2, "updated")], "row_id bigint, text string"),
    )
    assert {r.text for r in eng.table("t").filter("row_id = 2").collect()} == {
        "updated"
    }
    # unversioned tables refuse identity
    with pytest.raises(ValueError, match="versioned"):
        eng.create_table(
            "u", _texts(spark, 1), keys=["i"], identity={"i": {}}
        )


def test_hwm_survives_upsert_rewrite_restart_restore(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "t", _texts(spark, 10), keys=["row_id"], versioned=True,
        identity={"row_id": {"start": 1, "step": 1}},
    )
    # an unpartitioned upsert commits as a REWRITE — the hwm must carry
    # or the next insert re-issues ids (r14: dupe id reproduced)
    eng.upsert(
        "t",
        spark.createDataFrame([(5, "up")], "row_id bigint, text string"),
    )
    eng.insert("t", _texts(spark, 1, "x"))
    ids = sorted(r.row_id for r in eng.table("t").collect())
    assert ids == list(range(1, 12)), ids
    # fresh engine reads the hwm from the snapshot
    eng2 = Engine(spark, eng.root)
    eng2.table("t")
    eng2.insert("t", _texts(spark, 1, "y"))
    assert sorted(r.row_id for r in eng2.table("t").collect()) == list(
        range(1, 13)
    )
    # RESTORE rolls the hwm back with the rows it described
    eng2.restore("t", 1)
    eng2.insert("t", _texts(spark, 1, "z"))
    assert sorted(r.row_id for r in eng2.table("t").collect()) == list(
        range(1, 12)
    )


def test_identity_rename_remaps_hwm_and_drop_refused(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "t", _texts(spark, 5), keys=["row_id"], versioned=True,
        identity={"row_id": {"start": 1, "step": 1}},
    )
    with pytest.raises(ValueError, match="IDENTITY"):
        eng.drop_columns("t", ["row_id"])
    eng.rename_column("t", "row_id", "rid")
    assert "rid" in eng.specs["t"].identity
    eng.insert("t", _texts(spark, 1, "x"))
    assert sorted(r.rid for r in eng.table("t").collect()) == list(range(1, 7))


def test_clone_carries_hwm(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "t", _texts(spark, 5), keys=["row_id"], versioned=True,
        identity={"row_id": {"start": 1, "step": 1}},
    )
    eng.clone("t", "t2")
    eng.insert("t2", _texts(spark, 2, "c"))
    assert sorted(r.row_id for r in eng.table("t2").collect()) == list(
        range(1, 8)
    )


def test_identity_with_partitioned_table(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(f"d{i}", f"p{i % 3}") for i in range(30)], "text string, p string"
    ).repartition(5)
    eng.create_table(
        "t", df, keys=["row_id"], versioned=True, partition_by=["p"],
        identity={"row_id": {"start": 1, "step": 1}},
    )
    eng.insert(
        "t",
        spark.createDataFrame(
            [(f"e{i}", f"p{i % 3}") for i in range(10)], "text string, p string"
        ),
    )
    ids = sorted(r.row_id for r in eng.table("t").collect())
    assert ids == list(range(1, 41))


def test_empty_batch_and_txn_replay(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "t", _texts(spark, 3), keys=["row_id"], versioned=True,
        identity={"row_id": {"start": 1, "step": 1}},
    )
    eng.insert("t", _texts(spark, 0))  # empty: hwm unchanged
    eng.insert("t", _texts(spark, 2, "a"), txn=("app", 1))
    eng.insert("t", _texts(spark, 2, "a"), txn=("app", 1))  # replay: skipped
    ids = sorted(r.row_id for r in eng.table("t").collect())
    assert ids == list(range(1, 6)), ids


def test_sql_create_table_identity_roundtrip(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql(
        "CREATE VERSIONED TABLE t (text STRING, row_id BIGINT) "
        "TBLPROPERTIES ('keys'='row_id', 'identity.row_id'='10,5')"
    )
    assert eng.specs["t"].identity == {"row_id": {"start": 10, "step": 5}}
    eng.sql("INSERT INTO t (text) VALUES ('a'), ('b'), ('c')")
    assert sorted(r.row_id for r in eng.table("t").collect()) == [10, 15, 20]
    stmt = eng.sql("SHOW CREATE TABLE t").collect()[0].createtab_stmt
    assert "'identity.row_id'='10,5'" in stmt
    # the emitted statement re-creates an equivalent table
    eng.sql(stmt.replace(" t ", " t2 ", 1))
    assert eng.specs["t2"].identity == {"row_id": {"start": 10, "step": 5}}
    # non-bigint identity declaration refuses
    with pytest.raises(ValueError, match="BIGINT"):
        eng.sql(
            "CREATE VERSIONED TABLE t3 (x STRING, i INT) "
            "TBLPROPERTIES ('keys'='i', 'identity.i'='1,1')"
        )


def test_insert_overwrite_assigns_and_refuses_provided(spark, tmp_path):
    """r14 review #1: INSERT OVERWRITE on an identity table assigns
    fresh ids (continuing the range) and refuses provided ones; direct
    overwrite with the column present only passes on the internal
    rewrite path (allow_drop=False)."""
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "t", _texts(spark, 5), keys=["row_id"], versioned=True,
        identity={"row_id": {"start": 1, "step": 1}},
    )
    eng.sql("CREATE TABLE src AS SELECT 'ov' AS text")
    eng.sql("INSERT OVERWRITE t (text) SELECT text FROM src")
    rows = [(r.row_id, r.text) for r in eng.table("t").collect()]
    assert rows == [(6, "ov")], rows  # range continues, never resets
    eng.insert("t", _texts(spark, 1, "x"))
    assert sorted(r.row_id for r in eng.table("t").collect()) == [6, 7]
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        eng.overwrite(
            "t",
            spark.createDataFrame([(99, "bad")], "row_id bigint, text string"),
        )


def test_explicit_merge_ids_bump_hwm(spark, tmp_path):
    """r14 review #2: an upsert that inserts a NEW explicit id above the
    high-water mark must advance it, or the next insert re-issues the
    same id (Delta's rule)."""
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "t", _texts(spark, 3), keys=["row_id"], versioned=True,
        identity={"row_id": {"start": 1, "step": 1}},
    )
    eng.upsert(
        "t",
        spark.createDataFrame([(15, "explicit")], "row_id bigint, text string"),
    )
    eng.insert("t", _texts(spark, 3, "x"))
    ids = sorted(r.row_id for r in eng.table("t").collect())
    assert ids == [1, 2, 3, 15, 16, 17, 18], ids
    assert len(ids) == len(set(ids))


def test_dv_merge_ids_bump_hwm(spark, tmp_path):
    """The merge-on-read MERGE of a deletion-vector table advances the
    high-water mark past a NEW explicit id too, as the rewrite path
    does — else the next insert re-issues it."""
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "t", _texts(spark, 3), keys=["row_id"], versioned=True,
        deletion_vectors=True,
        identity={"row_id": {"start": 1, "step": 1}},
    )
    eng.merge(
        "t",
        spark.createDataFrame([(15, "explicit")], "row_id bigint, text string"),
    )
    eng.insert("t", _texts(spark, 3, "x"))
    ids = sorted(r.row_id for r in eng.table("t").collect())
    assert ids == [1, 2, 3, 15, 16, 17, 18], ids


def test_copy_into_identity_table(spark, tmp_path):
    """r14 review #5: COPY INTO omits the identity column (the engine
    assigns) and refuses source files that carry it."""
    src_dir = tmp_path / "files"
    spark.createDataFrame([("f1",), ("f2",)], "text string").coalesce(
        1
    ).write.parquet(str(src_dir / "a"))
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "t", _texts(spark, 2), keys=["row_id"], versioned=True,
        identity={"row_id": {"start": 1, "step": 1}},
    )
    eng.sql(f"COPY INTO t FROM '{src_dir}/a' FILEFORMAT = parquet")
    ids = sorted(r.row_id for r in eng.table("t").collect())
    assert ids == [1, 2, 3, 4], ids
    bad_dir = tmp_path / "bad"
    spark.createDataFrame(
        [(9, "z")], "row_id bigint, text string"
    ).coalesce(1).write.parquet(str(bad_dir / "b"))
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        eng.sql(f"COPY INTO t FROM '{bad_dir}/b' FILEFORMAT = parquet")


def test_restore_past_identity_rename_resyncs_spec(spark, tmp_path):
    """r14 review #6: RESTORE past a rename of an identity/key column
    rolls the manifest's name-carrying fields back too, so later
    inserts find the restored high-water mark instead of re-issuing
    used ids under a phantom column."""
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "t", _texts(spark, 5), keys=["row_id"], versioned=True,
        identity={"row_id": {"start": 1, "step": 1}},
    )
    eng.rename_column("t", "row_id", "rid")
    eng.restore("t", 1)
    assert eng.specs["t"].keys == ["row_id"]
    assert "row_id" in eng.specs["t"].identity
    eng.insert("t", _texts(spark, 2, "x"))
    ids = sorted(r.row_id for r in eng.table("t").collect())
    assert ids == [1, 2, 3, 4, 5, 6, 7], ids


def test_create_with_constraint_on_identity_column(spark, tmp_path):
    """r14 review #7: a declared CHECK (or cluster_by) may reference the
    identity column — assignment happens before enforcement."""
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.create_table(
        "t", _texts(spark, 5), keys=["row_id"], versioned=True,
        identity={"row_id": {"start": 1, "step": 1}},
        constraints={"pos": "row_id > 0"},
        cluster_by=["row_id"],
    )
    assert sorted(r.row_id for r in eng.table("t").collect()) == [1, 2, 3, 4, 5]
    eng.insert("t", _texts(spark, 1, "x"))
    assert eng.table("t").count() == 6
