"""Row-level change data feed (the spec's ``cdc`` actions): DML
writers persist change-data files with exactly the mutated rows,
``read_changes`` prefers them over file-level add/remove derivation
(no passthrough churn from copy-on-write rewrites), vacuum retains
the retained window's change files, and checkpoints ignore cdc
actions (per-commit, never state).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cdc_pipe_line_spark import deltalog


@pytest.fixture()
def table_dir(tmp_path):
    return str(tmp_path / "tbl")


def _feed(spark, table_dir, lo=0, hi=None):
    kw = {"starting_version": lo}
    if hi is not None:
        kw["ending_version"] = hi
    return deltalog.read_changes(spark, table_dir, **kw)


def test_update_feed_has_pre_and_post_images_with_values(
    spark, table_dir
):
    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    deltalog.create_table(spark, df, table_dir)
    v = deltalog.update_where(spark, table_dir, "k < 4", {"v": "v + 10.0"})
    ch = _feed(spark, table_dir, v - 1, v)
    rows = {
        (r["_change_type"], r["k"]): r["v"] for r in ch.collect()
    }
    assert len(rows) == 8  # 4 pre + 4 post, nothing else
    assert rows[("update_preimage", 2)] == 2.0
    assert rows[("update_postimage", 2)] == 12.0


def test_merge_feed_reports_all_clause_kinds_row_level(
    spark, table_dir
):
    df = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    deltalog.create_table(spark, df, table_dir)
    src = spark.createDataFrame(
        [(1, "upd"), (2, "del"), (100, "ins")], "k bigint, act string"
    )
    v = deltalog.merge_into(
        spark,
        table_dir,
        src,
        "t.k = s.k",
        when_matched_update={"v": "t.v * 100"},
        when_matched_update_condition="s.act = 'upd'",
        when_matched_delete_condition="s.act = 'del'",
        when_not_matched_insert={"k": "s.k", "v": "0.0"},
        when_not_matched_insert_condition="s.act = 'ins'",
    )
    ch = _feed(spark, table_dir, v - 1, v)
    got = sorted(
        (r["_change_type"], r["k"], r["v"]) for r in ch.collect()
    )
    assert got == [
        ("delete", 2, 2.0),
        ("insert", 100, 0.0),
        ("update_postimage", 1, 100.0),
        ("update_preimage", 1, 1.0),
    ]
    # no passthrough churn: the 28 untouched rows of the rewritten
    # file never appear in the feed
    assert ch.count() == 4


def test_append_and_overwrite_still_file_level(spark, table_dir):
    deltalog.create_table(spark, spark.range(5), table_dir)
    deltalog.append(spark, spark.range(5, 8), table_dir)
    deltalog.overwrite(spark, spark.range(10, 12), table_dir)
    ch = _feed(spark, table_dir, 0)
    counts = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in ch.groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts[(1, "insert")] == 3
    assert counts[(2, "delete")] == 8  # 5 + 3 tombstoned
    assert counts[(2, "insert")] == 2


def test_vacuum_keeps_retained_change_files_drops_aged(
    spark, table_dir
):
    deltalog.create_table(spark, spark.range(30), table_dir)       # v0
    deltalog.delete_where(spark, table_dir, "id < 3")              # v1
    deltalog.update_where(spark, table_dir, "id = 5", {"id": "50"})  # v2
    deltalog.update_where(spark, table_dir, "id = 7", {"id": "70"})  # v3
    cd = os.path.join(table_dir, "_change_data")
    assert len(os.listdir(cd)) == 3
    deltalog.vacuum(spark, table_dir, retain_versions=1)
    # floor = v2: v2 and v3's change files stay, v1's ages out
    remaining = len(os.listdir(cd))
    assert remaining == 2
    ch = _feed(spark, table_dir, 1, 3)
    assert ch.count() == 4  # two updates x pre+post
    with pytest.raises(Exception):
        # v1's change file is gone; reading its range now fails at
        # scan time (same contract as vacuumed time travel)
        _feed(spark, table_dir, 0, 1).count()


def test_checkpoint_excludes_cdc_actions(spark, table_dir):
    deltalog.create_table(spark, spark.range(20), table_dir)
    deltalog.delete_where(spark, table_dir, "id < 2")
    ver = deltalog.write_checkpoint(spark, table_dir)
    import pyarrow.parquet as pq

    ck = pq.read_table(
        os.path.join(
            table_dir, "_delta_log", f"{ver:020d}.checkpoint.parquet"
        )
    ).to_pylist()
    assert all(r.get("cdc") is None for r in ck)
    # state reconstruction through the checkpoint unaffected
    assert deltalog.read_snapshot(spark, table_dir).count() == 18


def test_delta_stream_cdf_mode_row_level(spark, table_dir):
    """readChangeFeed=true: DML commits stream their change files
    row-level; appends stream as inserts; the append-only guard is
    lifted (the guard's error message points here)."""
    from cdc_pipe_line_spark.pydatasource import DeltaStreamDataSource

    df = spark.range(20).select(
        F.col("id"), (F.col("id") * 1.0).alias("v")
    )
    deltalog.create_table(spark, df, table_dir)                     # v0
    deltalog.append(
        spark,
        spark.range(20, 25).select(
            F.col("id"), (F.col("id") * 1.0).alias("v")
        ),
        table_dir,
    )                                                               # v1
    deltalog.delete_where(spark, table_dir, "id < 2")               # v2
    deltalog.update_where(spark, table_dir, "id = 24", {"v": "0.5"})  # v3
    try:
        spark.dataSource.register(DeltaStreamDataSource)
    except Exception:
        pass
    stream = (
        spark.readStream.format("delta_stream")
        .option("path", table_dir)
        .option("readChangeFeed", "true")
        .load()
    )
    q = (
        stream.groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
        .writeStream.format("memory")
        .queryName("t_cdf_src")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (int(r["_commit_version"]), r["_change_type"]): (
            int(r["n"]),
            int(r["s"]),
        )
        for r in spark.sql("select * from t_cdf_src").collect()
    }
    assert got == {
        (0, "insert"): (20, 190),
        (1, "insert"): (5, 110),
        (2, "delete"): (2, 1),
        (3, "update_preimage"): (1, 24),
        (3, "update_postimage"): (1, 24),
    }


def test_delta_stream_plain_mode_guard_still_raises(spark, table_dir):
    from cdc_pipe_line_spark.pydatasource import DeltaStreamDataSource

    deltalog.create_table(spark, spark.range(10), table_dir)
    deltalog.delete_where(spark, table_dir, "id < 2")
    try:
        spark.dataSource.register(DeltaStreamDataSource)
    except Exception:
        pass
    stream = (
        spark.readStream.format("delta_stream")
        .option("path", table_dir)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_guard_src")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="readChangeFeed|remove"):
        q.awaitTermination()


def test_delta_stream_plain_mode_streams_an_insert_only_merge(
    spark, table_dir
):
    """An insert-only MERGE removes nothing, so a plain stream carries
    its rows (served from the commit's change file, all inserts)."""
    from cdc_pipe_line_spark.pydatasource import DeltaStreamDataSource

    deltalog.create_table(spark, spark.range(3), table_dir)         # v0
    deltalog.merge_into(
        spark,
        table_dir,
        spark.range(2, 5),
        "t.id = s.id",
        when_not_matched_insert={"id": "s.id"},
    )                                                               # v1
    assert [
        leg[1] for leg in deltalog._change_legs(table_dir, 0, 1)
    ] == ["cdc"]
    try:
        spark.dataSource.register(DeltaStreamDataSource)
    except Exception:
        pass
    q = (
        spark.readStream.format("delta_stream")
        .option("path", table_dir)
        .load()
        .writeStream.format("memory")
        .queryName("t_merge_src")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (int(r["id"]), int(r["_commit_version"]))
        for r in spark.sql("select * from t_merge_src").collect()
    )
    assert got == [(0, 0), (1, 0), (2, 0), (3, 1), (4, 1)]


# ------------------------------------------------- CHECK constraints


def test_constraint_lifecycle_and_enforcement(spark, table_dir):
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    deltalog.create_table(spark, df, table_dir)
    deltalog.add_constraint(spark, table_dir, "v_ok", "v >= 0.0")
    assert deltalog.table_constraints(spark, table_dir) == {
        "v_ok": "v >= 0.0"
    }
    # protocol writer-feature gate bumped
    acts = deltalog.read_log_actions(spark, table_dir)
    wv = (
        acts.filter(F.col("protocol").isNotNull())
        .agg(F.max("protocol.minWriterVersion"))
        .first()[0]
    )
    assert wv == 3
    bad = spark.range(3).select(
        (F.col("id") + 100).alias("k"), F.lit(-1.0).alias("v")
    )
    with pytest.raises(ValueError, match="v_ok"):
        deltalog.append(spark, bad, table_dir)
    # a refused append commits nothing and leaves no orphans
    assert deltalog.read_snapshot(spark, table_dir).count() == 10
    with pytest.raises(ValueError, match="violated"):
        deltalog.update_where(spark, table_dir, "k = 1", {"v": "-5.0"})
    with pytest.raises(ValueError, match="violated"):
        deltalog.merge_into(
            spark,
            table_dir,
            spark.createDataFrame([(500, -2.0)], "k bigint, nv double"),
            "t.k = s.k",
            when_not_matched_insert={"k": "s.k", "v": "s.nv"},
        )
    # NULL passes (SQL-standard CHECK)
    deltalog.append(
        spark,
        spark.range(1).select(
            (F.col("id") + 200).alias("k"),
            F.lit(None).cast("double").alias("v"),
        ),
        table_dir,
    )
    deltalog.drop_constraint(spark, table_dir, "v_ok")
    deltalog.append(spark, bad, table_dir)
    assert deltalog.read_snapshot(spark, table_dir).count() == 14


def test_add_constraint_validates_existing_rows(spark, table_dir):
    deltalog.create_table(
        spark,
        spark.range(5).select((F.col("id") - 2).alias("x")),
        table_dir,
    )
    with pytest.raises(ValueError, match="existing rows"):
        deltalog.add_constraint(spark, table_dir, "pos", "x >= 0")
    assert deltalog.table_constraints(spark, table_dir) == {}


def test_constraints_survive_schema_evolution(spark, table_dir):
    deltalog.create_table(
        spark, spark.range(5).select(F.col("id").alias("k")), table_dir
    )
    deltalog.add_constraint(spark, table_dir, "k_pos", "k >= 0")
    wide = spark.range(5, 8).select(
        F.col("id").alias("k"), F.lit("x").alias("extra")
    )
    deltalog.append_evolve(spark, wide, table_dir)
    assert deltalog.table_constraints(spark, table_dir) == {
        "k_pos": "k >= 0"
    }
    with pytest.raises(ValueError, match="k_pos"):
        deltalog.append_evolve(
            spark,
            spark.range(1).select(
                (F.col("id") - 10).alias("k"), F.lit("y").alias("extra")
            ),
            table_dir,
        )


# ------------------------------------------------ generated columns


def test_generated_column_computed_validated_and_evolved(
    spark, table_dir
):
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("raw")
    )
    deltalog.create_table(
        spark, df, table_dir, generated={"twice": "raw * 2"}
    )
    assert deltalog.generation_expressions(spark, table_dir) == {
        "twice": "raw * 2"
    }
    # initial frame got the column computed
    snap = deltalog.read_snapshot(spark, table_dir)
    assert snap.filter("twice != raw * 2").count() == 0
    # append without the column: computed
    deltalog.append(
        spark,
        spark.range(10, 12).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("raw")
        ),
        table_dir,
    )
    # append with a wrong value: refused
    with pytest.raises(ValueError, match="generated column"):
        deltalog.append(
            spark,
            spark.range(20, 21).select(
                F.col("id").alias("k"),
                F.lit(1).cast("bigint").alias("raw"),
                F.lit(999).cast("bigint").alias("twice"),
            ),
            table_dir,
        )
    # UPDATE breaking the derivation: refused (the rewrite re-checks)
    with pytest.raises(ValueError, match="generated column"):
        deltalog.update_where(spark, table_dir, "k = 1", {"twice": "0"})
    # UPDATE of the SOURCE column with a matching regeneration: ok
    deltalog.update_where(
        spark, table_dir, "k = 1", {"raw": "100", "twice": "200"}
    )
    snap = deltalog.read_snapshot(spark, table_dir)
    assert snap.count() == 12
    assert snap.filter("twice != raw * 2").count() == 0
    # the generation metadata survives schema evolution
    deltalog.append_evolve(
        spark,
        spark.range(30, 31).select(
            F.col("id").alias("k"),
            F.lit(5).cast("bigint").alias("raw"),
            F.lit("x").alias("extra"),
        ),
        table_dir,
    )
    assert deltalog.generation_expressions(spark, table_dir) == {
        "twice": "raw * 2"
    }
    assert (
        deltalog.read_snapshot(spark, table_dir)
        .filter("twice != raw * 2")
        .count()
        == 0
    )


# --------------------------------------------------- column mapping


def test_column_mapping_rename_is_metadata_only(spark, table_dir):
    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    deltalog.create_table(spark, df, table_dir, n_files=2)
    before = {
        r.path
        for r in deltalog.live_files(
            deltalog.read_log_actions(spark, table_dir)
        ).collect()
    }
    deltalog.enable_column_mapping(spark, table_dir)
    deltalog.rename_column(spark, table_dir, "v", "amount")
    after = {
        r.path
        for r in deltalog.live_files(
            deltalog.read_log_actions(spark, table_dir)
        ).collect()
    }
    assert before == after  # not a byte rewritten
    snap = deltalog.read_snapshot(spark, table_dir)
    assert snap.columns == ["k", "amount"]
    assert snap.agg(F.sum("amount")).first()[0] == sum(
        i * 1.0 for i in range(40)
    )
    # writes after the rename use the new logical name, land under
    # the physical one, and read back logically
    deltalog.append(
        spark,
        spark.createDataFrame([(100, 5.0)], "k bigint, amount double"),
        table_dir,
    )
    assert (
        deltalog.read_snapshot(spark, table_dir)
        .filter("k = 100")
        .first()["amount"]
        == 5.0
    )
    # time travel BEFORE the rename serves the old logical name
    old = deltalog.read_snapshot(spark, table_dir, version_as_of=0)
    assert old.columns == ["k", "v"]


def test_column_mapping_gates_and_guards(spark, table_dir):
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    deltalog.create_table(spark, df, table_dir)
    with pytest.raises(ValueError, match="column mapping"):
        deltalog.rename_column(spark, table_dir, "v", "w")
    deltalog.add_constraint(spark, table_dir, "v_ok", "v >= 0.0")
    deltalog.enable_column_mapping(spark, table_dir)
    with pytest.raises(ValueError, match="constraint"):
        deltalog.rename_column(spark, table_dir, "v", "w")
    deltalog.drop_constraint(spark, table_dir, "v_ok")
    deltalog.rename_column(spark, table_dir, "v", "w")
    with pytest.raises(ValueError, match="already exists"):
        deltalog.rename_column(spark, table_dir, "k", "w")
    with pytest.raises(ValueError, match="no such column"):
        deltalog.rename_column(spark, table_dir, "v", "z")
    # double-enable refused; partitioned tables refused
    with pytest.raises(ValueError, match="already enabled"):
        deltalog.enable_column_mapping(spark, table_dir)


@pytest.mark.slow
def test_column_mapping_skipping_and_dml_logical(spark, table_dir):
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    deltalog.create_table(
        spark,
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        table_dir,
        n_files=4,
    )
    deltalog.enable_column_mapping(spark, table_dir)
    deltalog.rename_column(spark, table_dir, "k", "key_id")
    # skipping with the NEW logical name still prunes (stats keys
    # are physical)
    cand = deltalog.candidate_files(
        spark, table_dir, [("key_id", "<", 50)]
    )
    assert cand.count() == 1
    out = deltalog.read_snapshot(
        spark, table_dir, skipping=[("key_id", "<", 50)]
    )
    assert out.count() == 50
    deltalog.delete_where(
        spark, table_dir, "key_id < 10", skipping=[("key_id", "<", 10)]
    )
    assert deltalog.read_snapshot(spark, table_dir).count() == 190
    deltalog.update_where(spark, table_dir, "key_id = 50", {"v": "0.0"})
    ch = deltalog.read_changes(spark, table_dir, starting_version=2)
    assert "key_id" in ch.columns
    v = deltalog.merge_into(
        spark,
        table_dir,
        spark.createDataFrame([(500, 1.0)], "key_id bigint, nv double"),
        "t.key_id = s.key_id",
        when_not_matched_insert={"key_id": "s.key_id", "v": "s.nv"},
    )
    assert (
        deltalog.read_snapshot(spark, table_dir)
        .filter("key_id = 500")
        .count()
        == 1
    )


def test_table_detail_reflects_feature_registries(spark, table_dir):
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    deltalog.create_table(
        spark, df, table_dir, generated={"twice": "k * 2"}
    )
    deltalog.add_constraint(spark, table_dir, "k_ok", "k >= 0")
    deltalog.enable_column_mapping(spark, table_dir)
    d = deltalog.table_detail(spark, table_dir).first()
    assert d["num_files"] == 1
    assert d["num_constraints"] == 1
    assert d["num_generated_columns"] == 1
    assert d["column_mapping_mode"] == "name"
    assert (d["min_reader_version"], d["min_writer_version"]) == (2, 5)
    assert d["num_commits"] == 3
    assert d["partition_columns"] == ""


def test_history_carries_operation_parameters(spark, table_dir):
    deltalog.create_table(spark, spark.range(20), table_dir)
    deltalog.delete_where(spark, table_dir, "id < 3")
    deltalog.merge_into(
        spark,
        table_dir,
        spark.createDataFrame([(100,)], "id bigint"),
        "t.id = s.id",
        when_not_matched_insert={"id": "s.id"},
    )
    acts = deltalog.read_log_actions(spark, table_dir)
    params = {
        r["operation"]: r["p"]
        for r in acts.filter(F.col("commitInfo").isNotNull())
        .select(
            "commitInfo.operation",
            F.col("commitInfo.operationParameters").alias("p"),
        )
        .collect()
    }
    assert params["DELETE"]["predicate"] == "id < 3"
    assert params["MERGE"]["condition"] == "t.id = s.id"
    assert params["MERGE"]["notMatchedInsert"] == "true"
    assert params["MERGE"]["matchedDelete"] == "false"


# --------------------------------------------- TIMESTAMP AS OF


def test_timestamp_as_of_resolves_between_commits(spark, table_dir):
    import os as _os

    deltalog.create_table(spark, spark.range(5), table_dir)      # v0
    deltalog.append(spark, spark.range(5, 8), table_dir)         # v1
    deltalog.append(spark, spark.range(8, 9), table_dir)         # v2
    # non-ICT tables resolve by COMMIT-FILE MODIFICATION TIME (the
    # spec reader's default); pin distinct, known mtimes so the
    # probe is deterministic
    log = _os.path.join(table_dir, "_delta_log")
    for i, t in enumerate([1000, 2000, 3000]):
        _os.utime(
            _os.path.join(log, f"{i:020d}.json"), (t / 1000, t / 1000)
        )
    assert deltalog.resolve_timestamp(spark, table_dir, 1000) == 0
    assert deltalog.resolve_timestamp(spark, table_dir, 2500) == 1
    assert deltalog.resolve_timestamp(spark, table_dir, 9999) == 2
    snap = deltalog.read_snapshot(
        spark, table_dir, timestamp_as_of=2500
    )
    assert snap.count() == 8  # v1's state
    with pytest.raises(ValueError, match="precedes"):
        deltalog.resolve_timestamp(spark, table_dir, 500)
    with pytest.raises(ValueError, match="not both"):
        deltalog.read_snapshot(
            spark, table_dir, version_as_of=1, timestamp_as_of=2500
        )
    # history surfaces the stamps
    hist = {
        r["version"]: r["timestamp"]
        for r in deltalog.table_history(spark, table_dir).collect()
    }
    assert hist == {0: 1000, 1: 2000, 2: 3000}
