"""Streaming ingest: micro-batch buffer semantics + Structured Streaming
foreachBatch → upsert on the events fixture (SURVEY.md §2.e / M5)."""

import pyspark.sql.functions as F

from polars_lake_spark import Engine
from polars_lake_spark.sources import load_table
from polars_lake_spark.streaming import MicroBatchIngestor, stream_upsert


def test_micro_batch_ingestor_threshold(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    engine = Engine(spark, str(tmp_path / "store"))
    engine.create_table("ev", events.filter(F.col("event_id") < 100), keys=["event_id"])

    ing = MicroBatchIngestor(engine, "ev", flush_rows=150, mode="upsert")
    ing.add(events.filter((F.col("event_id") >= 100) & (F.col("event_id") < 200)))
    # 100 rows buffered < 150: not flushed yet
    assert engine.table("ev").count() == 100
    ing.add(events.filter((F.col("event_id") >= 200) & (F.col("event_id") < 300)))
    # 200 rows ≥ 150: auto-flush happened
    assert engine.table("ev").count() == 300
    ing.flush()  # idempotent on empty buffer
    assert engine.table("ev").count() == 300


def test_stream_upsert_foreach_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    total = events.count()
    engine = Engine(spark, str(tmp_path / "store"))
    # seed with first 100 events, values nulled — stream must fill them in
    seed = events.filter(F.col("event_id") < 100).withColumn(
        "value", F.lit(None).cast("double")
    )
    engine.create_table("ev", seed, keys=["event_id"])

    staging = str(tmp_path / "staging")
    events.repartition(3).write.parquet(staging)

    stream = spark.readStream.schema(events.schema).parquet(staging)
    q = stream_upsert(
        engine, "ev", stream, checkpoint_dir=str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    got = engine.table("ev")
    assert got.count() == total  # every event upserted exactly once
    # seeded NULL values were filled by the stream (coalesce(new, old))
    assert got.filter(F.col("value").isNull()).count() == 0


def test_stream_apply_changes(spark, tmp_path):
    """APPLY CHANGES INTO analog: a CDC stream with op + sequence
    columns applies per batch — latest-per-key wins (a delete followed
    by a reinsert in the same batch lands as the reinsert), upserts
    merge on keys, deletes remove every matching row (DV sidecar on DV
    tables)."""
    from polars_lake_spark import Engine
    from polars_lake_spark.streaming.ingest import stream_apply_changes

    eng = Engine(spark, str(tmp_path / "a"))
    seed = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id bigint, s string"
    )
    eng.create_table(
        "tgt", seed, keys=["id"], versioned=True, deletion_vectors=True
    )
    changes = spark.createDataFrame(
        [
            (1, None, "delete", 100),        # plain delete
            (2, "v2-new", "update", 101),    # update
            (20, "v20", "insert", 102),      # insert
            (3, None, "delete", 103),        # delete...
            (3, "v3-back", "upsert", 104),   # ...then reinsert (later seq)
            (4, "v4-stale", "update", 105),  # stale update...
            (4, None, "delete", 106),        # ...then delete (later seq)
        ],
        "id bigint, s string, _op string, seq bigint",
    )
    staging = str(tmp_path / "cdc_stream")
    changes.repartition(2).write.parquet(staging)
    stream = spark.readStream.schema(changes.schema).parquet(staging)
    q = stream_apply_changes(
        eng, "tgt", stream, sequence_by="seq",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {r.id: r.s for r in eng.table("tgt").collect()}
    assert 1 not in got and 4 not in got          # deleted
    assert got[2] == "v2-new"                     # updated
    assert got[20] == "v20"                       # inserted
    assert got[3] == "v3-back"                    # delete then reinsert
    assert len(got) == 9  # 10 - 2 deleted + 1 inserted
    # ambiguous same-key delete+upsert without sequence_by raises
    amb = spark.createDataFrame(
        [(5, None, "delete"), (5, "x", "upsert")],
        "id bigint, s string, _op string",
    )
    st2 = str(tmp_path / "amb")
    amb.write.parquet(st2)
    stream2 = spark.readStream.schema(amb.schema).parquet(st2)
    import pytest as _pt

    q2 = stream_apply_changes(
        eng, "tgt", stream2, checkpoint_dir=str(tmp_path / "ckpt2")
    )
    with _pt.raises(Exception, match="sequence_by"):
        q2.awaitTermination(120)
    # the failed batch applied nothing: key 5 keeps its seed value
    assert eng.table("tgt").filter("id = 5").head().s == "v5"


def test_stream_apply_changes_out_of_order_batches(spark, tmp_path):
    """VERDICT r10 #4: cross-batch ordering. Applied rows persist their
    sequence (__seq on the target), applied deletes persist tombstones —
    a LATE batch with strictly-older sequences must not clobber a newer
    update, resurrect a tombstoned key, or delete a newer insert; keys
    with no watermark still apply; a full replay of an old batch is a
    no-op."""
    from polars_lake_spark import Engine
    from polars_lake_spark.streaming.ingest import stream_apply_changes

    eng = Engine(spark, str(tmp_path / "a"))
    seed = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id bigint, s string"
    )
    eng.create_table(
        "tgt", seed, keys=["id"], versioned=True, deletion_vectors=True
    )
    schema = "id bigint, s string, _op string, seq bigint"

    def apply(rows, tag):
        staging = str(tmp_path / f"b_{tag}")
        spark.createDataFrame(rows, schema).write.parquet(staging)
        stream = spark.readStream.schema(
            spark.createDataFrame([], schema).schema
        ).parquet(staging)
        q = stream_apply_changes(
            eng, "tgt", stream, sequence_by="seq",
            checkpoint_dir=str(tmp_path / f"ck_{tag}"),
        )
        q.awaitTermination(120)

    batch1 = [
        (2, "v2-new", "update", 210),
        (6, None, "delete", 220),
        (30, "v30", "insert", 230),
    ]
    apply(batch1, "first")
    # a LATE batch: every change sequenced BELOW batch 1's watermarks
    apply(
        [
            (2, "v2-stale", "update", 150),   # older than applied 210
            (6, "v6-back", "upsert", 120),    # older than tombstone 220
            (30, None, "delete", 100),        # older than applied 230
            (7, "v7-late", "update", 140),    # no watermark -> applies
        ],
        "late",
    )
    got = {r.id: r.s for r in eng.table("tgt").collect()}
    assert got[2] == "v2-new"        # stale update dropped
    assert 6 not in got              # tombstone held
    assert got[30] == "v30"          # stale delete dropped
    assert got[7] == "v7-late"       # unwatermarked key applied
    # a NEWER change re-applies over each watermark kind
    apply(
        [
            (6, "v6-reborn", "upsert", 300),  # newer than tombstone
            (30, None, "delete", 310),        # newer than applied seq
        ],
        "newer",
    )
    got2 = {r.id: r.s for r in eng.table("tgt").collect()}
    assert got2[6] == "v6-reborn" and 30 not in got2
    # replaying batch 1 verbatim (fresh checkpoint) changes nothing:
    # equal-or-older sequences re-apply idempotently or drop
    apply(batch1, "replay")
    got3 = {r.id: r.s for r in eng.table("tgt").collect()}
    assert got3 == got2
    # the tombstone store exists and carries the doomed keys
    tombs = {
        r["id"]: r["__seq"]
        for r in eng.table("tgt_cdc_tombstones").collect()
    }
    assert tombs[30] == 310 and tombs[6] == 220


def test_apply_changes_stale_filter_plan_never_shuffles_target(
    spark, tmp_path
):
    """The stale-filter's stated 100 TB shape must be the real plan:
    the target scan reaches its semi-join against the BROADCAST batch
    keys with no exchange between them (map-side), and no sort-merge /
    shuffled join appears anywhere — per batch only batch-sized data
    moves."""
    from polars_lake_spark import Engine
    from polars_lake_spark.streaming.ingest import _drop_stale_changes

    eng = Engine(spark, str(tmp_path))
    seed = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.col("id").cast("string").alias("s"),
        F.col("id").alias("__seq"),
    )
    eng.create_table("tgt", seed, keys=["k"], versioned=True)
    batch = spark.createDataFrame(
        [(5, "x", "upsert", 2000), (2000, "y", "upsert", 2000)],
        "k bigint, s string, _op string, __seq bigint",
    )
    out = _drop_stale_changes(eng, "tgt", "tgt_cdc_tombstones", batch, ["k"])
    assert {r.k for r in out.collect()} == {5, 2000}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    lines = plan.splitlines()
    i_semi = next(i for i, l in enumerate(lines) if "LeftSemi" in l)
    i_scan = next(
        i for i, l in enumerate(lines) if i > i_semi and "FileScan" in l
    )
    between = lines[i_semi + 1 : i_scan]
    assert not any("Exchange" in l for l in between), between
    # a stale row (seq below the stored watermark) is dropped
    stale = spark.createDataFrame(
        [(5, "old", "upsert", 1)], "k bigint, s string, _op string, __seq bigint"
    )
    assert (
        _drop_stale_changes(
            eng, "tgt", "tgt_cdc_tombstones", stale, ["k"]
        ).count()
        == 0
    )


def test_stream_apply_changes_truncate_ops(spark, tmp_path):
    """DLT apply_as_truncates analog: a sequenced 'truncate' row clears
    everything applied strictly before it (seed rows included),
    same-batch later changes apply after it, a LATE batch's pre-truncate
    changes drop against the persisted watermark, and replays are
    idempotent. Unsequenced truncates raise."""
    from polars_lake_spark import Engine
    from polars_lake_spark.streaming.ingest import stream_apply_changes

    eng = Engine(spark, str(tmp_path / "a"))
    seed = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id bigint, s string"
    )
    eng.create_table(
        "tgt", seed, keys=["id"], versioned=True, deletion_vectors=True
    )
    schema = "id bigint, s string, _op string, seq bigint"

    def apply(rows, tag):
        staging = str(tmp_path / f"b_{tag}")
        spark.createDataFrame(rows, schema).write.parquet(staging)
        stream = spark.readStream.schema(
            spark.createDataFrame([], schema).schema
        ).parquet(staging)
        q = stream_apply_changes(
            eng, "tgt", stream, sequence_by="seq",
            checkpoint_dir=str(tmp_path / f"ck_{tag}"),
        )
        q.awaitTermination(120)

    # pre-truncate applied state + the full-refresh batch: a change at
    # seq 90 (before the truncate), the truncate at 100, new rows after
    apply([(1, "v1-early", "update", 90)], "pre")
    batch = [
        (2, "v2-pre", "update", 95),      # before the truncate: wiped
        (None, None, "truncate", 100),
        (50, "v50", "insert", 150),
        (51, "v51", "insert", 160),
    ]
    apply(batch, "refresh")
    got = {r.id: r.s for r in eng.table("tgt").collect()}
    assert got == {50: "v50", 51: "v51"}, got
    # LATE pre-truncate straggler: dropped for ANY key, even unseen ones
    apply([(7, "v7-stale", "upsert", 80), (52, "v52", "insert", 170)], "late")
    got2 = {r.id: r.s for r in eng.table("tgt").collect()}
    assert got2 == {50: "v50", 51: "v51", 52: "v52"}, got2
    # replaying the refresh batch verbatim changes nothing
    apply(batch, "replay")
    got3 = {r.id: r.s for r in eng.table("tgt").collect()}
    assert got3 == got2
    # a NEWER truncate wipes the post-truncate rows too
    apply([(None, None, "truncate", 500), (60, "v60", "insert", 510)], "t2")
    assert {r.id: r.s for r in eng.table("tgt").collect()} == {60: "v60"}
    # unsequenced truncate raises
    amb = spark.createDataFrame(
        [(None, None, "truncate")], "id bigint, s string, _op string"
    )
    st = str(tmp_path / "amb_tr")
    amb.write.parquet(st)
    stream = spark.readStream.schema(amb.schema).parquet(st)
    import pytest as _pt

    q = stream_apply_changes(
        eng, "tgt", stream, checkpoint_dir=str(tmp_path / "ck_amb")
    )
    with _pt.raises(Exception, match="sequence_by"):
        q.awaitTermination(120)


def test_stream_apply_changes_scd2(spark, tmp_path):
    """SCD TYPE 2 apply: every change is a version row — __start_seq /
    __end_seq chain per key (in-batch chains included), deletes close
    without reopening, scd2_current recovers the TYPE 1 view, as-of
    queries recover any historical state, late changes drop against the
    history-derived watermark, and verbatim replays are idempotent."""
    from polars_lake_spark import Engine
    from polars_lake_spark.streaming.ingest import (
        scd2_current,
        scd2_init,
        stream_apply_changes_scd2,
    )

    eng = Engine(spark, str(tmp_path / "a"))
    seed = spark.createDataFrame(
        [(1, "v1"), (2, "v2"), (3, "v3")], "id bigint, s string"
    )
    scd2_init(eng, "tgt", seed, keys=["id"], versioned=True)
    schema = "id bigint, s string, _op string, seq bigint"

    def apply(rows, tag):
        staging = str(tmp_path / f"b_{tag}")
        spark.createDataFrame(rows, schema).write.parquet(staging)
        stream = spark.readStream.schema(
            spark.createDataFrame([], schema).schema
        ).parquet(staging)
        q = stream_apply_changes_scd2(
            eng, "tgt", stream, sequence_by="seq",
            checkpoint_dir=str(tmp_path / f"ck_{tag}"),
        )
        q.awaitTermination(120)

    batch1 = [
        (1, "v1-a", "update", 100),   # chain on key 1...
        (1, "v1-b", "update", 200),   # ...two versions in ONE batch
        (2, None, "delete", 150),     # close key 2, no new version
        (4, "v4", "insert", 120),     # brand-new key
        (3, None, "delete", 110),     # delete-THEN-reinsert in one
        (3, "v3-back", "insert", 130),  # batch: gap [110, 130)
    ]
    apply(batch1, "one")

    def hist():
        return {
            (r.id, r["__start_seq"], r["__end_seq"]): r.s
            for r in eng.table("tgt").collect()
        }

    h = hist()
    assert h[(1, None, 100)] == "v1"       # seed closed by first change
    assert h[(1, 100, 200)] == "v1-a"      # mid-chain version closed
    assert h[(1, 200, None)] == "v1-b"     # current
    assert h[(2, None, 150)] == "v2"       # deleted: closed, not reopened
    assert h[(3, None, 110)] == "v3"       # seed closed by the delete
    assert h[(3, 130, None)] == "v3-back"  # reinsert after the gap
    assert h[(4, 120, None)] == "v4"
    assert len(h) == 7
    cur = {r.id: r.s for r in scd2_current(eng, "tgt").collect()}
    assert cur == {1: "v1-b", 3: "v3-back", 4: "v4"}
    # as-of sequence 160: key 1 at v1-a, key 2 deleted, key 4 present
    asof = {
        r.id: r.s
        for r in eng.table("tgt")
        .filter(
            (F.col("__start_seq").isNull() | (F.col("__start_seq") <= 160))
            & (F.col("__end_seq").isNull() | (F.col("__end_seq") > 160))
        )
        .collect()
    }
    assert asof == {1: "v1-a", 3: "v3-back", 4: "v4"}
    # late batch: stale update (below key 1's watermark) drops; a
    # post-delete change at a newer seq reopens key 2
    apply(
        [(1, "v1-stale", "update", 50), (2, "v2-back", "upsert", 300)],
        "late",
    )
    h2 = hist()
    assert (1, 50, 100) not in h2 and len(
        [k for k in h2 if k[0] == 1]
    ) == 3
    assert h2[(2, 300, None)] == "v2-back"
    # replaying batch 1 verbatim is a no-op
    apply(batch1, "replay")
    assert hist() == h2
    # an uninitialized target (plain keys) refuses
    eng.create_table(
        "plain", seed, keys=["id"], versioned=True
    )
    st = str(tmp_path / "b_refuse")
    spark.createDataFrame(
        [(1, "x", "update", 1)], schema
    ).write.parquet(st)
    stream = spark.readStream.schema(
        spark.createDataFrame([], schema).schema
    ).parquet(st)
    import pytest as _pt

    q = stream_apply_changes_scd2(
        eng, "plain", stream, sequence_by="seq",
        checkpoint_dir=str(tmp_path / "ck_refuse"),
    )
    with _pt.raises(Exception, match="scd2_init"):
        q.awaitTermination(120)


def test_apply_changes_composes_with_expectations(spark, tmp_path):
    """Quality expectations quarantine INCOMING change rows on the
    apply paths too: a 'drop' rule on the target filters violating
    upserts out of a sequenced batch (the key's old state survives),
    while clean rows in the same batch land — the DLT composition of
    APPLY CHANGES + expect_or_drop."""
    from polars_lake_spark import Engine
    from polars_lake_spark.streaming.ingest import stream_apply_changes

    eng = Engine(spark, str(tmp_path / "a"))
    seed = spark.createDataFrame(
        [(i, f"v{i}", 10) for i in range(5)],
        "id bigint, s string, score int",
    )
    eng.create_table(
        "tgt", seed, keys=["id"], versioned=True, deletion_vectors=True,
        expectations={
            "score_ok": {"expr": "score >= 0", "action": "drop"}
        },
    )
    changes = spark.createDataFrame(
        [
            (1, "v1-new", 50, "update", 100),    # clean: lands
            (2, "v2-bad", -5, "update", 110),    # violates: quarantined
            (9, "v9-bad", -1, "insert", 120),    # violating insert: out
            (10, "v10", 7, "insert", 130),       # clean insert: lands
        ],
        "id bigint, s string, score int, _op string, seq bigint",
    )
    staging = str(tmp_path / "st")
    changes.write.parquet(staging)
    stream = spark.readStream.schema(changes.schema).parquet(staging)
    q = stream_apply_changes(
        eng, "tgt", stream, sequence_by="seq",
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    got = {r.id: (r.s, r.score) for r in eng.table("tgt").collect()}
    assert got[1] == ("v1-new", 50)
    assert got[2] == ("v2", 10)      # violating update quarantined whole
    assert 9 not in got              # violating insert never landed
    assert got[10] == ("v10", 7)


def test_apply_changes_probe_prunes_target_files_by_key_range(
    spark, tmp_path
):
    """VERDICT r11 what's-wrong #2: the CDC watermark probes must not
    READ the whole target per micro-batch.  On a key-clustered versioned
    target the stale-filter probe derives BETWEEN conjuncts from the
    batch's key min/max and zone-map-prunes the scan — only files whose
    key range intersects the batch are read; results stay exact."""
    from polars_lake_spark.streaming.ingest import apply_changes_batch

    eng = Engine(spark, str(tmp_path / "root"))
    seed = spark.range(2000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )
    # AQE coalesces this tiny clustered write to one partition; cap
    # records per file so the sorted task still lands many narrow-range
    # files (what a 100 TB clustered table looks like)
    prev = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    eng.create_table("t", seed, keys=["k"], versioned=True, cluster_by=["k"])
    schema = "k bigint, s string, _op string, seq bigint"
    # batch 1 establishes __seq (schema evolution) and rewrites the
    # target clustered on k — many files, each a narrow k range
    b1 = spark.createDataFrame(
        [(i, f"b1-{i}", "update", 10) for i in range(0, 2000, 7)], schema
    )
    apply_changes_batch(eng, "t", b1, sequence_by="seq")
    # batch 2: six keys in one narrow range + one delete -> tombstones
    eng.cdc_probe_reports = []
    b2 = spark.createDataFrame(
        [(k, f"b2-{k}", "update", 20) for k in range(100, 106)]
        + [(200, None, "delete", 20)],
        schema,
    )
    apply_changes_batch(eng, "t", b2, sequence_by="seq")
    tgt_reports = [r for r in eng.cdc_probe_reports if r["table"] == "t"]
    assert tgt_reports, "target probe never went through the pruned scan"
    for r in tgt_reports:
        assert r["files_total"] > 4
        assert r["files_kept"] < r["files_total"], r
        assert r["files_kept"] <= 4, r
    # batch 3: tombstone table now exists -> its probe routes through the
    # pruned scan too (single tombstone file: kept == total is fine)
    eng.cdc_probe_reports = []
    b3 = spark.createDataFrame(
        [(k, f"b3-{k}", "update", 30) for k in range(300, 306)], schema
    )
    apply_changes_batch(eng, "t", b3, sequence_by="seq")
    tables = {r["table"] for r in eng.cdc_probe_reports}
    assert tables == {"t", "t_cdc_tombstones"}
    for r in eng.cdc_probe_reports:
        if r["table"] == "t":
            assert r["files_kept"] < r["files_total"], r
    # a SCATTERED small batch (keys at opposite ends) must prune just as
    # tightly: the small-batch IN-list conjuncts keep only the files
    # covering each key, where a min/max bounding box would keep ALL
    eng.cdc_probe_reports = []
    b4 = spark.createDataFrame(
        [(10, "b4-10", "update", 40), (1900, "b4-1900", "update", 40)],
        schema,
    )
    apply_changes_batch(eng, "t", b4, sequence_by="seq")
    for r in eng.cdc_probe_reports:
        if r["table"] == "t":
            assert r["files_total"] > 4
            assert r["files_kept"] <= 4, r
    # exactness: pruning never changed what applied
    got = {r.k: r.s for r in eng.table("t").collect()}
    assert got[100] == "b2-100" and got[105] == "b2-105"
    assert got[300] == "b3-300"
    assert got[10] == "b4-10" and got[1900] == "b4-1900"
    assert 200 not in got
    assert got[0] == "b1-0" and got[1] == "v1"
    assert len(got) == 1999
    spark.conf.set("spark.sql.files.maxRecordsPerFile", prev)


def test_apply_changes_scd2_probes_prune_target_files(spark, tmp_path):
    """The SCD2 watermark + closers probes key-range-prune the target
    scan the same way (VERDICT r11 #2): a six-key batch against a
    2000-key clustered SCD2 target reads a handful of files, and the
    version chains still land exactly."""
    from polars_lake_spark.streaming.ingest import (
        apply_changes_scd2_batch,
        scd2_current,
        scd2_init,
    )

    eng = Engine(spark, str(tmp_path / "root"))
    seed = spark.range(2000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )
    prev = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    scd2_init(eng, "t", seed, keys=["k"], versioned=True, cluster_by=["k"])
    schema = "k bigint, s string, _op string, seq bigint"
    eng.cdc_probe_reports = []
    b = spark.createDataFrame(
        [(k, f"n-{k}", "update", 10) for k in range(500, 506)], schema
    )
    apply_changes_scd2_batch(eng, "t", b, "seq")
    assert eng.cdc_probe_reports, "SCD2 probes never used the pruned scan"
    for r in eng.cdc_probe_reports:
        assert r["table"] == "t"
        assert r["files_total"] > 4
        assert r["files_kept"] < r["files_total"], r
    cur = {r.k: r.s for r in scd2_current(eng, "t").collect()}
    assert cur[500] == "n-500" and cur[505] == "n-505"
    assert cur[499] == "v499"
    assert len(cur) == 2000
    # closed seed versions for the six touched keys
    closed = eng.table("t").filter(F.col("__end_seq") == 10)
    assert closed.count() == 6
    spark.conf.set("spark.sql.files.maxRecordsPerFile", prev)


def test_vacuum_cdc_tombstones_retention(spark, tmp_path):
    """Tombstone retention (VERDICT r11 next-round #4): rows at or
    below the table-level truncate watermark vacuum for FREE (the stale
    filter's floor already covers every key), an explicit retain_below
    horizon drops older history, and stale filtering for sequences at
    or above the horizon is unchanged."""
    from polars_lake_spark.streaming.ingest import (
        apply_changes_batch,
        vacuum_cdc_tombstones,
    )

    eng = Engine(spark, str(tmp_path / "r"))
    seed = spark.createDataFrame(
        [(i, f"v{i}") for i in range(6)], "k bigint, s string"
    )
    eng.create_table("t", seed, keys=["k"], versioned=True)
    schema = "k bigint, s string, _op string, seq bigint"
    b1 = spark.createDataFrame(
        [
            (0, None, "delete", 10),
            (1, None, "delete", 20),
            (2, None, "delete", 30),
        ],
        schema,
    )
    apply_changes_batch(eng, "t", b1, sequence_by="seq")
    assert eng.table("t_cdc_tombstones").count() == 3
    # no truncate watermark, no horizon: nothing is provably redundant
    assert vacuum_cdc_tombstones(eng, "t") == 0
    # truncate at 25 -> floor covers the 10 and 20 tombstones
    b2 = spark.createDataFrame([(None, None, "truncate", 25)], schema)
    apply_changes_batch(eng, "t", b2, sequence_by="seq")
    assert vacuum_cdc_tombstones(eng, "t") == 2
    tombs = {
        (r["k"], r["__seq"]) for r in eng.table("t_cdc_tombstones").collect()
    }
    assert tombs == {(2, 30)}
    # stale filtering unchanged: a below-floor change drops via the
    # truncate watermark, a below-tombstone change via the kept tombstone
    b3 = spark.createDataFrame(
        [(0, "late0", "update", 24), (2, "late2", "update", 28)], schema
    )
    apply_changes_batch(eng, "t", b3, sequence_by="seq")
    got = {r.k: r.s for r in eng.table("t").collect()}
    assert 0 not in got and 2 not in got
    # explicit retention horizon drops the rest; at-or-above-horizon
    # sequences still apply normally afterwards
    assert vacuum_cdc_tombstones(eng, "t", retain_below=100) == 1
    assert eng.table("t_cdc_tombstones").count() == 0
    b4 = spark.createDataFrame([(2, "new2", "update", 150)], schema)
    apply_changes_batch(eng, "t", b4, sequence_by="seq")
    got = {r.k: r.s for r in eng.table("t").collect()}
    assert got[2] == "new2"


def test_scd2_cross_batch_tied_delete_loses(spark, tmp_path):
    """Pinned regression (found by the replay property test): a LATER
    batch's delete at exactly the current open version's start must lose
    the tie with the upsert that opened it — applying it would neither
    close nor merge anything, a same-batch later change would then open
    a SECOND current row, and a replay would land a different table."""
    from polars_lake_spark.streaming.ingest import (
        apply_changes_scd2_batch,
        scd2_init,
    )

    eng = Engine(spark, str(tmp_path / "r"))
    seed = spark.createDataFrame([(1, "seed1")], "k bigint, s string")
    scd2_init(eng, "t", seed, keys=["k"], versioned=True)
    schema = "k bigint, s string, _op string, seq bigint"
    apply_changes_scd2_batch(
        eng, "t",
        spark.createDataFrame([(1, "v10", "update", 10)], schema), "seq",
    )
    b2 = spark.createDataFrame(
        [(1, None, "delete", 10), (1, "v20", "update", 20)], schema
    )
    apply_changes_scd2_batch(eng, "t", b2, "seq")

    def state():
        return {
            (r["k"], r["__start_seq"], r["__end_seq"]): r["s"]
            for r in eng.table("t").collect()
        }

    st = state()
    assert st == {
        (1, None, 10): "seed1",
        (1, 10, 20): "v10",      # tied delete lost; the update closed it
        (1, 20, None): "v20",
    }
    # exactly one open row, and the replay repairs to the identical table
    assert sum(1 for k in st if k[2] is None) == 1
    apply_changes_scd2_batch(eng, "t", b2, "seq")
    assert state() == st


def test_type1_cross_batch_tied_delete_converges(spark, tmp_path):
    """A delete and an upsert at the SAME sequence arriving in separate
    batches must land the same table in either order (the tied delete
    loses to the upsert that wrote the live row; a delete tied with a
    TOMBSTONE still re-applies, which keeps delete replays idempotent)."""
    from polars_lake_spark.streaming.ingest import apply_changes_batch

    schema = "k bigint, s string, _op string, seq bigint"
    upsert_b = [(1, "v10", "update", 10)]
    delete_b = [(1, None, "delete", 10)]
    results = []
    for tag, order in (("ud", (upsert_b, delete_b)), ("du", (delete_b, upsert_b))):
        eng = Engine(spark, str(tmp_path / tag))
        seed = spark.createDataFrame([(1, "seed1"), (2, "seed2")], "k bigint, s string")
        eng.create_table("t", seed, keys=["k"], versioned=True)
        for b in order:
            apply_changes_batch(
                eng, "t", spark.createDataFrame(b, schema), sequence_by="seq"
            )
        results.append({r.k: r.s for r in eng.table("t").collect()})
        # a delete replay against its own tombstone stays a no-op
        apply_changes_batch(
            eng, "t", spark.createDataFrame(delete_b, schema), sequence_by="seq"
        )
        after = {r.k: r.s for r in eng.table("t").collect()}
        assert after == results[-1], tag
    assert results[0] == results[1] == {1: "v10", 2: "seed2"}


def test_apply_changes_map_payload_column(spark, tmp_path):
    """Map-typed payload columns must not crash the duplicate tiebreak
    (Spark's hash functions reject MapType): the tie hash simply
    excludes them, everything else stays deterministic."""
    from polars_lake_spark.streaming.ingest import apply_changes_batch

    eng = Engine(spark, str(tmp_path / "r"))
    seed = spark.createDataFrame(
        [(1, "a", {"x": 1})], "k bigint, s string, m map<string,int>"
    )
    eng.create_table("t", seed, keys=["k"], versioned=True)
    b = spark.createDataFrame(
        [
            (1, "b1", {"y": 2}, "update", 10),
            (1, "b2", {"y": 3}, "update", 10),  # dup (k, seq), diff payload
            (2, "c", {"z": 4}, "insert", 10),
        ],
        "k bigint, s string, m map<string,int>, _op string, seq bigint",
    )
    apply_changes_batch(eng, "t", b, sequence_by="seq")
    got = {r.k: r.s for r in eng.table("t").collect()}
    assert got[2] == "c" and got[1] in ("b1", "b2")
    # deterministic: re-applying lands the identical winner
    win = got[1]
    apply_changes_batch(eng, "t", b, sequence_by="seq")
    assert {r.k: r.s for r in eng.table("t").collect()}[1] == win


def test_scd2_truncate_full_refresh(spark, tmp_path):
    """SCD2 full refresh (r14 — previously refused): a 'truncate' op at
    sequence S CLOSES every open version below S (history preserved,
    live view empties), persists S as the cdc_meta floor, same-batch
    changes at/after S open fresh versions, pre-truncate stragglers
    drop — in the same batch AND in later batches — and replays
    no-op."""
    from polars_lake_spark.streaming.ingest import (
        apply_changes_scd2_batch,
        scd2_current,
        scd2_init,
    )

    eng = Engine(spark, str(tmp_path / "r"))
    seed = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k bigint, s string"
    )
    scd2_init(eng, "dim", seed, keys=["k"], versioned=True)
    schema = "k bigint, s string, _op string, seq bigint"
    b = spark.createDataFrame(
        [
            (None, None, "truncate", 50),
            (1, "straggler", "upsert", 40),  # pre-truncate: drops
            (2, "fresh", "upsert", 60),  # post-truncate: opens anew
        ],
        schema,
    )
    apply_changes_scd2_batch(eng, "dim", b, "seq")
    cur = {r.k: r.s for r in scd2_current(eng, "dim").collect()}
    assert cur == {2: "fresh"}, cur
    hist = {
        (r["k"], r["s"], r["__start_seq"], r["__end_seq"])
        for r in eng.table("dim").collect()
    }
    # both seeds closed AT the truncate seq; history preserved
    assert (1, "a", None, 50) in hist and (2, "b", None, 50) in hist
    assert (2, "fresh", 60, None) in hist
    assert len(hist) == 3, hist
    # the floor persists: a LATE batch below 50 drops for every key,
    # even one the history never saw
    late = spark.createDataFrame(
        [(1, "zombie", "upsert", 45), (9, "new-old", "upsert", 30)], schema
    )
    apply_changes_scd2_batch(eng, "dim", late, "seq")
    assert {r.k: r.s for r in scd2_current(eng, "dim").collect()} == {
        2: "fresh"
    }
    # at/after the floor applies normally
    ok = spark.createDataFrame([(1, "back", "upsert", 55)], schema)
    apply_changes_scd2_batch(eng, "dim", ok, "seq")
    assert {r.k: r.s for r in scd2_current(eng, "dim").collect()} == {
        1: "back",
        2: "fresh",
    }
    # replaying the original truncate batch repairs to the same table
    n_before = eng.table("dim").count()
    apply_changes_scd2_batch(eng, "dim", b, "seq")
    assert eng.table("dim").count() == n_before
    assert {r.k: r.s for r in scd2_current(eng, "dim").collect()} == {
        1: "back",
        2: "fresh",
    }


def test_apply_changes_reserved_batch_columns_refused(spark, tmp_path):
    """Batch columns colliding with the apply machinery's scratch names
    (__rn/__applied/__tomb/...) are refused, not silently overwritten;
    a batch carrying __seq is fine only when __seq IS the sequencing
    column."""
    import pytest

    from polars_lake_spark.streaming.ingest import (
        apply_changes_batch,
        apply_changes_scd2_batch,
        scd2_init,
    )

    eng = Engine(spark, str(tmp_path / "r"))
    seed = spark.createDataFrame([(1, "a")], "k bigint, s string")
    eng.create_table("t", seed, keys=["k"], versioned=True)
    scd2_init(eng, "dim", seed, keys=["k"], versioned=True)
    bad = spark.createDataFrame(
        [(1, "b", 0, "update", 10)],
        "k bigint, s string, __rn int, _op string, seq bigint",
    )
    with pytest.raises(ValueError, match="reserved"):
        apply_changes_batch(eng, "t", bad, sequence_by="seq")
    with pytest.raises(ValueError, match="reserved"):
        apply_changes_scd2_batch(eng, "dim", bad, "seq")
    stray = spark.createDataFrame(
        [(1, "b", 5, "update", 10)],
        "k bigint, s string, __seq bigint, _op string, seq bigint",
    )
    with pytest.raises(ValueError, match="__seq"):
        apply_changes_batch(eng, "t", stray, sequence_by="seq")
    # __seq AS the sequencing column is the legal re-feed shape
    ok = spark.createDataFrame(
        [(1, "b", "update", 10)],
        "k bigint, s string, _op string, __seq bigint",
    )
    apply_changes_batch(eng, "t", ok, sequence_by="__seq")
    assert eng.table("t").filter("k = 1").head().s == "b"


def test_apply_changes_composes_with_quarantine(spark, tmp_path):
    """DLT composition: APPLY CHANGES + a 'quarantine' expectation — a
    violating sequenced upsert is quarantined WHOLE (the key's old state
    survives, the bad row lands in {table}_quarantine with its rule
    tag), clean changes in the same batch apply, and deletes are
    unaffected."""
    from polars_lake_spark.streaming.ingest import apply_changes_batch

    eng = Engine(spark, str(tmp_path / "r"))
    seed = spark.createDataFrame(
        [(i, f"v{i}", 10) for i in range(4)],
        "id bigint, s string, score int",
    )
    eng.create_table(
        "tgt", seed, keys=["id"], versioned=True,
        expectations={
            "score_ok": {"expr": "score >= 0", "action": "quarantine"}
        },
    )
    b = spark.createDataFrame(
        [
            (1, "new1", 50, "update", 100),   # clean: lands
            (2, "bad2", -5, "update", 110),   # violates: quarantined
            (3, None, None, "delete", 120),   # delete: unaffected
        ],
        "id bigint, s string, score int, _op string, seq bigint",
    )
    apply_changes_batch(eng, "tgt", b, sequence_by="seq")
    got = {r.id: (r.s, r.score) for r in eng.table("tgt").collect()}
    assert got[1] == ("new1", 50)
    assert got[2] == ("v2", 10)          # old state survived
    assert 3 not in got
    quar = eng.table("tgt_quarantine").collect()
    assert len(quar) == 1 and quar[0].id == 2
    assert list(quar[0]["__rules"]) == ["score_ok"]


def test_batch_key_conjuncts_nan_poisons_in_list(spark):
    """VERDICT r12 what's-wrong #1: an unmappable NON-NULL batch key
    (NaN float) must disqualify the whole column's IN conjunct — Spark's
    join equality matches NaN=NaN, so an IN list silently missing the
    NaN could prune the very file holding the NaN watermark.  NULL keys
    poison too (r14): the probe joins are NULL-SAFE — the engine's key
    identity matches NULL=NULL — while min/max and IN-list stats ignore
    NULLs, so pruning on them could hide the NULL-keyed watermark."""
    from polars_lake_spark.zonemaps import batch_key_conjuncts

    nan = float("nan")
    b = spark.createDataFrame(
        [(nan, 7), (5.0, 9)], "k double, j bigint"
    )
    conj = batch_key_conjuncts(b, ["k", "j"])
    assert ("k", "in", [5.0]) not in conj
    assert all(c[0] != "k" for c in conj), conj
    assert ("j", "in", [7, 9]) in conj
    # NULL keys poison the column's conjunct the same way (null-safe
    # probe joins match them; stats can't see them)
    b2 = spark.createDataFrame(
        [(None, 7), (5.0, 9)], "k double, j bigint"
    )
    conj2 = batch_key_conjuncts(b2, ["k", "j"])
    assert all(c[0] != "k" for c in conj2), conj2
    assert ("j", "in", [7, 9]) in conj2
    # and in the BETWEEN (large-batch) path
    big = spark.range(100).selectExpr(
        "CASE WHEN id = 50 THEN NULL ELSE CAST(id AS DOUBLE) END AS k",
        "id AS j",
    )
    conj3 = batch_key_conjuncts(big, ["k", "j"])
    assert all(c[0] != "k" for c in conj3), conj3
    assert ("j", "between", 0, 99) in conj3


def test_apply_changes_nan_key_foreign_stats_stays_exact(spark, tmp_path):
    """End-to-end regression for the r12 NaN edge: a foreign-written
    sidecar (spec-compliant ignore-NaN float stats, no ``fnanproof``)
    records min=max=3 for a file holding the live (NaN, seq=10) row.
    A later stale batch with keys {NaN, 5.0} must NOT emit ``k IN
    (5.0)`` — that would prune the NaN file, lose the watermark, and
    let the stale NaN change apply."""
    import glob
    import json
    import math
    import os

    from polars_lake_spark.streaming.ingest import apply_changes_batch

    eng = Engine(spark, str(tmp_path / "root"))
    nan = float("nan")
    seed = spark.createDataFrame(
        [(3.0, "three"), (nan, "nan-seed")], "k double, s string"
    )
    eng.create_table(
        "t", seed, keys=["k"], versioned=True, cluster_by=["k"]
    )
    schema = "k double, s string, _op string, seq bigint"
    b1 = spark.createDataFrame([(nan, "new", "update", 10)], schema)
    apply_changes_batch(eng, "t", b1, sequence_by="seq")
    # emulate a foreign writer's sidecars everywhere: ignore-NaN float
    # stats (the file holds {3.0, NaN} -> min=max=3), no fnanproof
    poisoned = 0
    for zp in glob.glob(
        os.path.join(str(tmp_path / "root"), "t", "**", "_zonemap.json"),
        recursive=True,
    ):
        with open(zp) as fh:
            zm = json.load(fh)
        zm.pop("fnanproof", None)
        for st in zm.get("files", {}).values():
            st["k"] = {"min": 3.0, "max": 3.0, "null_count": 0}
            poisoned += 1
        with open(zp, "w") as fh:
            json.dump(zm, fh)
    assert poisoned > 0
    eng.cdc_probe_reports = []
    b2 = spark.createDataFrame(
        [(nan, "stale", "update", 5), (5.0, "five", "insert", 5)], schema
    )
    apply_changes_batch(eng, "t", b2, sequence_by="seq")
    rows = {
        ("nan" if math.isnan(r.k) else r.k): r.s
        for r in eng.table("t").collect()
    }
    assert rows["nan"] == "new", rows  # stale NaN change dropped
    assert rows[5.0] == "five" and rows[3.0] == "three"


def test_tie_hash_map_only_difference_is_deterministic(spark, tmp_path):
    """r12 residual closed: duplicate (key, seq) changes differing ONLY
    in a map-typed column now resolve deterministically (maps hash as
    key-sorted entry arrays instead of being excluded)."""
    from polars_lake_spark.streaming.ingest import apply_changes_batch

    eng = Engine(spark, str(tmp_path / "r"))
    seed = spark.createDataFrame(
        [(1, "a", {"x": 1})], "k bigint, s string, m map<string,int>"
    )
    eng.create_table("t", seed, keys=["k"], versioned=True)
    schema = "k bigint, s string, m map<string,int>, _op string, seq bigint"
    b = spark.createDataFrame(
        [
            (1, "same", {"y": 2}, "update", 10),
            (1, "same", {"y": 3}, "update", 10),  # differs ONLY in m
        ],
        schema,
    )
    apply_changes_batch(eng, "t", b, sequence_by="seq")
    win = {r.k: dict(r.m) for r in eng.table("t").collect()}[1]
    # replaying the same batch (and a reshuffled copy) lands the SAME map
    for replay in (b, b.repartition(7)):
        apply_changes_batch(eng, "t", replay, sequence_by="seq")
        assert {r.k: dict(r.m) for r in eng.table("t").collect()}[1] == win
    # nested: map inside struct inside array must hash too (no crash,
    # deterministic winner)
    seed2 = spark.createDataFrame(
        [(1, [{"inner": {"a": 1}}])],
        "k bigint, v array<struct<inner:map<string,int>>>",
    )
    eng.create_table("t2", seed2, keys=["k"], versioned=True)
    b2 = spark.createDataFrame(
        [
            (1, [{"inner": {"b": 2}}], "update", 10),
            (1, [{"inner": {"b": 3}}], "update", 10),
        ],
        "k bigint, v array<struct<inner:map<string,int>>>, "
        "_op string, seq bigint",
    )
    apply_changes_batch(eng, "t2", b2, sequence_by="seq")
    win2 = {r.k: r.v for r in eng.table("t2").collect()}[1]
    apply_changes_batch(eng, "t2", b2, sequence_by="seq")
    assert {r.k: r.v for r in eng.table("t2").collect()}[1] == win2


def _dv_cdc_target(spark, eng, **kw):
    """A deletion-vector target past its first sequenced batch (the one
    that adds ``__seq`` by schema evolution)."""
    from polars_lake_spark.streaming.ingest import apply_changes_batch

    seed = spark.range(0, 400).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
        (F.col("id") % 7).cast("int").alias("score"),
    )
    eng.create_table(
        "t", seed, keys=["k"], versioned=True, deletion_vectors=True,
        cluster_by=["k"], **kw,
    )
    schema = "k bigint, s string, score int, _op string, seq bigint"
    first = spark.createDataFrame([(1, "b1", 1, "update", 10)], schema)
    apply_changes_batch(eng, "t", first, sequence_by="seq")
    return schema


def test_apply_changes_dv_target_one_merge_on_read_commit(spark, tmp_path):
    """On a deletion-vector target a batch's upserts and deletes land as
    ONE target snapshot: an 'append' whose DV list grows by exactly one
    sidecar; no file from before the batch is rewritten (mtimes
    unchanged); the tombstone companion gets its own commit."""
    import os

    from polars_lake_spark.streaming.ingest import apply_changes_batch

    eng = Engine(spark, str(tmp_path / "r"))
    schema = _dv_cdc_target(spark, eng)
    store = eng._snapstore("t")
    before = store.load()
    data = os.path.join(str(tmp_path / "r"), "t", "data")
    mtimes = {
        os.path.join(cur, f): os.stat(os.path.join(cur, f)).st_mtime_ns
        for cur, _d, fs in os.walk(data)
        for f in fs
    }
    b = spark.createDataFrame(
        [
            (2, "u2", 3, "update", 20),    # matched: ref + append
            (3, None, None, "update", 20),  # NULLs keep old values
            (5, None, None, "delete", 20),  # matched delete: ref only
            (900, "n", 4, "insert", 20),   # unmatched: append
            (901, None, None, "delete", 20),  # absent key: tombstone
        ],
        schema,
    )
    apply_changes_batch(eng, "t", b, sequence_by="seq")
    after = store.load()
    assert after.version == before.version + 1
    assert after.op == "append"
    assert after.meta["dv"][:-1] == (before.meta or {}).get("dv", [])
    assert len(after.meta["dv"]) == len((before.meta or {}).get("dv", [])) + 1
    for path, ns in mtimes.items():
        assert os.stat(path).st_mtime_ns == ns, path
    got = {r.k: (r.s, r.score, r["__seq"]) for r in eng.table("t").collect()}
    assert got[2] == ("u2", 3, 20)
    assert got[3] == ("v3", 3, 20)
    assert 5 not in got
    assert got[900] == ("n", 4, 20)
    assert got[1] == ("b1", 1, 10) and got[4] == ("v4", 4, None)
    assert len(got) == 400
    tombs = {r.k for r in eng.table("t_cdc_tombstones").collect()}
    assert tombs == {5, 901}
    # a replay re-applies idempotently
    apply_changes_batch(eng, "t", b, sequence_by="seq")
    assert {
        r.k: (r.s, r.score, r["__seq"]) for r in eng.table("t").collect()
    } == got


def test_apply_changes_dv_delete_bypasses_expectations(spark, tmp_path):
    """Expectations judge upsert rows only: a delete whose payload breaks
    a 'drop' rule still deletes, while a violating upsert neither lands
    nor removes the row it matches."""
    from polars_lake_spark.streaming.ingest import apply_changes_batch

    eng = Engine(spark, str(tmp_path / "r"))
    schema = _dv_cdc_target(
        spark, eng,
        expectations={"score_ok": {"expr": "score >= 0", "action": "drop"}},
    )
    b = spark.createDataFrame(
        [
            (7, "gone", -1, "delete", 20),  # violating payload, deletes
            (8, "bad", -5, "update", 20),   # violating upsert: dropped
            (9, "ok", 2, "update", 20),
        ],
        schema,
    )
    apply_changes_batch(eng, "t", b, sequence_by="seq")
    got = {r.k: (r.s, r.score) for r in eng.table("t").collect()}
    assert 7 not in got
    assert got[8] == ("v8", 1)
    assert got[9] == ("ok", 2)
    assert len(got) == 399


def test_apply_changes_dv_probe_plan_never_shuffles_target(spark, tmp_path):
    """The fused DV apply's one target read reaches its semi-join
    against the BROADCAST batch keys with no exchange between them, and
    no sort-merge / shuffled join appears: per batch only batch-sized
    data moves."""
    from polars_lake_spark.streaming.ingest import _batch_keyset, _dv_probe

    eng = Engine(spark, str(tmp_path / "r"))
    schema = _dv_cdc_target(spark, eng)
    eng.sql("DELETE FROM t WHERE k = 11")  # a live DV sidecar
    b = spark.createDataFrame(
        [(5, "x", 1, "update", 20), (2000, "y", 1, "update", 20)], schema
    ).withColumnRenamed("seq", "__seq")
    store = eng._snapstore("t")
    probe = _dv_probe(eng, "t", ["k"], _batch_keyset(b, ["k"]), store.load())
    assert {r.k for r in probe.collect()} == {5}
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    lines = plan.splitlines()
    i_semi = next(i for i, l in enumerate(lines) if "LeftSemi" in l)
    i_scan = next(
        i for i, l in enumerate(lines) if i > i_semi and "FileScan" in l
    )
    between = lines[i_semi + 1 : i_scan]
    assert not any("Exchange" in l for l in between), between
