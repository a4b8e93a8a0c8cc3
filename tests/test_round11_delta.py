"""Round-11 native-Delta regressions (VERDICT r10 items 1/3/6 +
ADVICE r10): time travel served from the checkpoint after log
cleanup (and a clear error below it), partitionColumns threaded
through compact/overwrite/append_evolve, commit retry allocation,
exactly-once txn_append under a simulated version race, and staged
partition-directory cleanup after a lost race.

Reference parity: the reference's Delta history embodies the same
protocol retention contract (data/delta/123/balance/delta_table/
_delta_log/ — checkpointed logs stay readable at recent versions).
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from cdc_pipe_line_spark import deltalog


@pytest.fixture()
def table_dir(tmp_path):
    return str(tmp_path / "tbl")


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 4).alias("k")
    )


def _ids(spark, table_dir, **kw):
    return sorted(
        r["id"]
        for r in deltalog.read_snapshot(spark, table_dir, **kw).collect()
    )


def _parquet_on_disk(table_dir):
    return sorted(
        os.path.relpath(p, table_dir)
        for p in glob.glob(
            os.path.join(table_dir, "**", "*.parquet"), recursive=True
        )
        if "_delta_log" not in p
    )


# ---------------------------------------------------------------- time travel


def test_time_travel_from_checkpoint_after_cleanup(spark, table_dir):
    deltalog.create_table(spark, _mk(spark, 0, 5), table_dir)      # v0
    deltalog.append(spark, _mk(spark, 5, 10), table_dir)           # v1
    deltalog.append(spark, _mk(spark, 10, 15), table_dir)          # v2
    ck = deltalog.write_checkpoint(spark, table_dir)
    assert ck == 2
    deltalog.append(spark, _mk(spark, 15, 20), table_dir)          # v3
    removed = deltalog.cleanup_log_before_checkpoint(table_dir)
    assert removed == 3  # v0..v2 JSON gone

    # at/after the checkpoint: reconstructable from checkpoint + tail
    assert _ids(spark, table_dir, version_as_of=2) == list(range(15))
    assert _ids(spark, table_dir, version_as_of=3) == list(range(20))
    # below the checkpoint: a clear error, never a silent partial state
    with pytest.raises(ValueError, match="no longer reconstructable"):
        deltalog.read_snapshot(spark, table_dir, version_as_of=1)


def test_time_travel_below_checkpoint_before_cleanup(spark, table_dir):
    deltalog.create_table(spark, _mk(spark, 0, 5), table_dir)      # v0
    deltalog.append(spark, _mk(spark, 5, 10), table_dir)           # v1
    deltalog.write_checkpoint(spark, table_dir)
    # the raw JSON survives until cleanup: every version stays readable
    assert _ids(spark, table_dir, version_as_of=0) == list(range(5))
    assert _ids(spark, table_dir, version_as_of=1) == list(range(10))


# ------------------------------------------------- partitioning preservation


def test_partitioning_survives_compact_overwrite_evolve(spark, table_dir):
    deltalog.create_table(
        spark, _mk(spark, 0, 12), table_dir, partition_by=["k"]
    )
    deltalog.append(spark, _mk(spark, 12, 24), table_dir)

    # OPTIMIZE keeps the Hive layout and the partitionValues
    deltalog.compact(spark, table_dir)
    pruned = deltalog.read_snapshot(
        spark, table_dir, partition_filter={"k": "1"}
    )
    assert sorted(r["id"] for r in pruned.collect()) == [
        i for i in range(24) if i % 4 == 1
    ]
    live = deltalog.live_files(
        deltalog.read_log_actions(spark, table_dir)
    ).collect()
    assert all(r["partitionValues"] for r in live)

    # OVERWRITE keeps it too
    deltalog.overwrite(spark, _mk(spark, 100, 120), table_dir)
    pruned = deltalog.read_snapshot(
        spark, table_dir, partition_filter={"k": "2"}
    )
    assert sorted(r["id"] for r in pruned.collect()) == [
        i for i in range(100, 120) if i % 4 == 2
    ]

    # schema evolution keeps the declared partitionColumns AND the layout
    wide = _mk(spark, 120, 128).withColumn("extra", F.col("id") * 2)
    deltalog.append_evolve(spark, wide, table_dir)
    meta = deltalog.snapshot(table_dir).metaData
    assert list(meta["partitionColumns"]) == ["k"]
    pruned = deltalog.read_snapshot(
        spark, table_dir, partition_filter={"k": "0"}
    )
    assert sorted(r["id"] for r in pruned.collect()) == [
        i for i in range(100, 128) if i % 4 == 0
    ]


# --------------------------------------------------------- commit retry races


def test_blind_append_retries_past_precreated_version(spark, table_dir):
    deltalog.create_table(spark, _mk(spark, 0, 5), table_dir)  # v0
    # a "concurrent writer" grabs version 1 between our read and commit
    racer = os.path.join(
        table_dir, "_delta_log", f"{1:020d}.json"
    )
    with open(racer, "w") as fh:
        fh.write(json.dumps({"commitInfo": {"operation": "RACER"}}) + "\n")
    v = deltalog.append(spark, _mk(spark, 5, 10), table_dir)
    assert v == 2  # retried onto the next free version
    # history stays linear and the data all lands
    versions = sorted(
        r["version"]
        for r in deltalog.table_history(spark, table_dir).collect()
    )
    assert versions == [0, 1, 2]
    assert _ids(spark, table_dir) == list(range(10))


def test_lost_pinned_create_leaves_no_untracked_files(spark, table_dir):
    os.makedirs(os.path.join(table_dir, "_delta_log"))
    winner = os.path.join(table_dir, "_delta_log", f"{0:020d}.json")
    with open(winner, "w") as fh:
        fh.write(
            json.dumps(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
            + "\n"
        )
    with pytest.raises(FileExistsError):
        deltalog.create_table(
            spark, _mk(spark, 0, 8), table_dir, partition_by=["k"]
        )
    # the loser unstaged everything — no orphan parquet, no empty
    # partition directories
    assert _parquet_on_disk(table_dir) == []
    assert not [
        d for d in os.listdir(table_dir) if "=" in d
    ], "empty partition dirs left behind"


def test_txn_append_same_version_race_commits_once(spark, table_dir, monkeypatch):
    assert deltalog.txn_append(
        spark, _mk(spark, 0, 5), table_dir, app_id="app", version=1
    )
    real_next = deltalog._next_version
    raced = []

    def racing_next(td):
        v = real_next(td)
        if not raced:
            raced.append(v)
            # a racer lands the SAME (app_id, version) at our version
            deltalog.commit(
                td,
                [
                    {"txn": {"appId": "app", "version": 2}},
                    {"commitInfo": {"operation": "RACER"}},
                ],
                version=v,
            )
        return v

    monkeypatch.setattr(deltalog, "_next_version", racing_next)
    # the loser re-enters the exactly-once check, sees the winner's
    # SetTransaction, unstages, and reports the no-op
    assert not deltalog.txn_append(
        spark, _mk(spark, 5, 10), table_dir, app_id="app", version=2
    )
    monkeypatch.setattr(deltalog, "_next_version", real_next)
    assert raced  # the race actually fired
    # exactly one commit carries (app, 2); the loser's rows never landed
    assert deltalog.last_txn_version(spark, table_dir, "app") == 2
    assert _ids(spark, table_dir) == list(range(5))
    # and no untracked parquet files remain
    tracked = set(
        r["path"]
        for r in deltalog.read_log_actions(spark, table_dir)
        .select(
            F.coalesce(F.col("add.path"), F.col("remove.path")).alias("path")
        )
        .filter(F.col("path").isNotNull())
        .collect()
    )
    assert set(_parquet_on_disk(table_dir)) <= tracked


def test_txn_append_unrelated_race_re_commits(spark, table_dir, monkeypatch):
    assert deltalog.txn_append(
        spark, _mk(spark, 0, 5), table_dir, app_id="A", version=1
    )
    real_next = deltalog._next_version
    raced = []

    def racing_next(td):
        v = real_next(td)
        if not raced:
            raced.append(v)
            deltalog.commit(
                td,
                [
                    {"txn": {"appId": "A", "version": 2}},
                    {"commitInfo": {"operation": "RACER"}},
                ],
                version=v,
            )
        return v

    monkeypatch.setattr(deltalog, "_next_version", racing_next)
    # app B's batch is unrelated to A's transaction — the loser passes
    # the re-check and re-commits its staged files at the next version
    assert deltalog.txn_append(
        spark, _mk(spark, 5, 10), table_dir, app_id="B", version=1
    )
    monkeypatch.setattr(deltalog, "_next_version", real_next)
    assert deltalog.last_txn_version(spark, table_dir, "B") == 1
    assert _ids(spark, table_dir) == list(range(10))


def test_append_bootstraps_bare_log_without_metadata_lookup(spark, table_dir):
    # append to a table with NO _delta_log must not raise from the
    # metaData glob (ADVICE r10 low) — it bootstraps a bare v0 log
    v = deltalog.append(spark, _mk(spark, 0, 5), table_dir)
    assert v == 0
    assert _ids(spark, table_dir) == list(range(5))


def test_remove_staged_prunes_empty_partition_dirs(spark, table_dir):
    os.makedirs(table_dir, exist_ok=True)
    adds = deltalog._write_data_files(
        _mk(spark, 0, 8), table_dir, n_files=1, partition_by=["k"]
    )
    assert any("k=" in a["add"]["path"] for a in adds)
    deltalog._remove_staged(table_dir, adds)
    assert _parquet_on_disk(table_dir) == []
    assert not [d for d in os.listdir(table_dir) if "=" in d]


def _file_tree(table_dir):
    return sorted(
        os.path.relpath(os.path.join(d, f), table_dir)
        for d, _, files in os.walk(table_dir)
        for f in files
    )


@pytest.mark.parametrize("dv", [False, True], ids=["cow", "dv"])
def test_refused_dml_commit_removes_staged_files(spark, table_dir, dv):
    """A DML commit the log refuses (here: an append-only table) takes
    the data, change-data and deletion-vector files its statement
    staged with it, so the table's file tree is unchanged.  A third
    of 2000 rows makes each deletion vector a file, not inline."""
    deltalog.create_table(spark, _mk(spark, 0, 2000), table_dir)
    if dv:
        deltalog.enable_deletion_vectors(spark, table_dir)
    deltalog.set_table_properties(
        spark, table_dir, {"delta.appendOnly": "true"}
    )
    before = _file_tree(table_dir)
    # ids 0, 3, ..., 2007: 667 match a target row, 3 are new
    src = spark.range(0, 2010, 3).select("id", F.lit(9).cast("bigint").alias("k"))
    statements = {
        "delete": lambda: deltalog.delete_where(spark, table_dir, "id % 3 = 0"),
        "update": lambda: deltalog.update_where(
            spark, table_dir, "id % 3 = 0", {"k": "k + 10"}
        ),
        "merge": lambda: deltalog.merge_into(
            spark,
            table_dir,
            src,
            "t.id = s.id",
            when_matched_update={"k": "s.k"},
            when_not_matched_insert={"id": "s.id", "k": "s.k"},
        ),
    }
    for statement, run in statements.items():
        with pytest.raises(ValueError, match="append-only"):
            run()
        assert _file_tree(table_dir) == before, statement
    assert _ids(spark, table_dir) == list(range(2000))


# ------------------------------------------------- checkpoint at 10^4 actions


def test_checkpoint_scales_to_10k_add_actions(spark, table_dir):
    """The de-driver'd checkpoint path (VERDICT r10 item 6): state
    normalization is a schema-aligned select, never a collect() +
    createDataFrame round-trip, so a log carrying 10^4 add actions
    checkpoints without driver-side state proportional to the live
    file count.  The fixture writes the LOG directly (metadata-only —
    the checkpoint reads actions, not data files) and binds the
    reconstructed census."""
    deltalog.create_table(spark, _mk(spark, 0, 4), table_dir)  # v0
    n_adds, batch = 10_000, 2_000
    for b in range(n_adds // batch):
        deltalog.commit(
            table_dir,
            [
                {
                    "add": {
                        "path": f"synthetic-{b}-{i}.parquet",
                        "size": 1024 + i,
                        "dataChange": True,
                    }
                }
                for i in range(batch)
            ]
            + [{"commitInfo": {"operation": "WRITE"}}],
        )
    ver = deltalog.write_checkpoint(spark, table_dir)
    assert ver == n_adds // batch
    deltalog.cleanup_log_before_checkpoint(table_dir)
    live = deltalog.live_files(
        deltalog.read_log_actions(spark, table_dir)
    )
    # +1 for the create_table data file; all reconstructed from the
    # checkpoint parquet alone (the JSON history is gone)
    assert live.count() == n_adds + 1
    total = live.agg(F.sum("size").alias("s")).first()["s"]
    assert total == sum(1024 + i for i in range(batch)) * (
        n_adds // batch
    ) + os.path.getsize(
        os.path.join(table_dir, _parquet_on_disk(table_dir)[0])
    )


# ------------------------------------------------------------ vacuum / restore


def test_vacuum_removes_only_unreferenced_tombstones(spark, table_dir):
    deltalog.create_table(spark, _mk(spark, 0, 5), table_dir)      # v0
    deltalog.overwrite(spark, _mk(spark, 5, 10), table_dir)        # v1
    deltalog.overwrite(spark, _mk(spark, 10, 15), table_dir)       # v2
    before = _parquet_on_disk(table_dir)
    assert len(before) == 3  # tombstoned files stay until vacuum

    # retain_versions=1: v1's and v2's files survive, v0's file goes
    gone = deltalog.vacuum(spark, table_dir, retain_versions=1)
    assert len(gone) == 1
    assert _ids(spark, table_dir, version_as_of=1) == list(range(5, 10))
    with pytest.raises(Exception):
        deltalog.read_snapshot(spark, table_dir, version_as_of=0).collect()

    # retain_versions=0: only the current snapshot survives
    gone = deltalog.vacuum(spark, table_dir)
    assert len(gone) == 1
    assert _ids(spark, table_dir) == list(range(10, 15))
    assert len(_parquet_on_disk(table_dir)) == 1


def test_vacuum_collects_untracked_orphans(spark, table_dir):
    deltalog.create_table(spark, _mk(spark, 0, 5), table_dir)
    orphan = os.path.join(table_dir, "part-orphan.snappy.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")
    gone = deltalog.vacuum(spark, table_dir)
    assert gone == ["part-orphan.snappy.parquet"]
    assert _ids(spark, table_dir) == list(range(5))


def test_vacuum_partitioned_prunes_empty_dirs(spark, table_dir):
    deltalog.create_table(
        spark, _mk(spark, 0, 12), table_dir, partition_by=["k"]
    )
    deltalog.overwrite(
        spark, _mk(spark, 0, 12).filter(F.col("k") < 2), table_dir
    )
    deltalog.vacuum(spark, table_dir)
    # k=2 / k=3 partitions are fully tombstoned+vacuumed: dirs pruned
    dirs = {d for d in os.listdir(table_dir) if "=" in d}
    assert dirs == {"k=0", "k=1"}
    assert _ids(spark, table_dir) == [i for i in range(12) if i % 4 < 2]


def test_restore_is_pure_metadata_and_appends_history(spark, table_dir):
    deltalog.create_table(spark, _mk(spark, 0, 5), table_dir)      # v0
    deltalog.append(spark, _mk(spark, 5, 10), table_dir)           # v1
    deltalog.overwrite(spark, _mk(spark, 20, 24), table_dir)       # v2
    n_files_before = len(_parquet_on_disk(table_dir))
    v = deltalog.restore(spark, table_dir, 1)
    assert v == 3
    # current state equals v1; no data file was written or deleted
    assert _ids(spark, table_dir) == list(range(10))
    assert len(_parquet_on_disk(table_dir)) == n_files_before
    # history is append-only: the pre-restore state stays readable
    assert _ids(spark, table_dir, version_as_of=2) == list(range(20, 24))
    ops = {
        r["version"]: r["operation"]
        for r in deltalog.table_history(spark, table_dir).collect()
    }
    assert ops[3] == "RESTORE TO VERSION 1"


def test_restore_after_vacuum_raises_clearly(spark, table_dir):
    deltalog.create_table(spark, _mk(spark, 0, 5), table_dir)      # v0
    deltalog.overwrite(spark, _mk(spark, 5, 10), table_dir)        # v1
    deltalog.vacuum(spark, table_dir)  # v0's file is gone
    with pytest.raises(ValueError, match="was vacuumed"):
        deltalog.restore(spark, table_dir, 0)


def test_restore_partitioned_carries_partition_values(spark, table_dir):
    deltalog.create_table(
        spark, _mk(spark, 0, 12), table_dir, partition_by=["k"]
    )
    deltalog.overwrite(spark, _mk(spark, 100, 104), table_dir)     # v1
    deltalog.restore(spark, table_dir, 0)                          # v2
    pruned = deltalog.read_snapshot(
        spark, table_dir, partition_filter={"k": "3"}
    )
    assert sorted(r["id"] for r in pruned.collect()) == [3, 7, 11]


# ------------------------------------------------- change data feed / stream


def test_read_changes_insert_delete_and_optimize_invisible(spark, table_dir):
    deltalog.create_table(spark, _mk(spark, 0, 5), table_dir)      # v0
    deltalog.append(spark, _mk(spark, 5, 10), table_dir)           # v1
    deltalog.compact(spark, table_dir)                             # v2
    deltalog.overwrite(spark, _mk(spark, 100, 103), table_dir)     # v3

    ch = deltalog.read_changes(spark, table_dir, starting_version=0)
    got = sorted(
        (r["_change_type"], r["_commit_version"], r["id"])
        for r in ch.collect()
    )
    inserts = [g for g in got if g[0] == "insert"]
    deletes = [g for g in got if g[0] == "delete"]
    # v1's append inserts 5..9; the OPTIMIZE at v2 is INVISIBLE (pure
    # rewrite, dataChange=false both ways); v3's overwrite deletes the
    # compacted 0..9 and inserts 100..102
    assert [g[2] for g in inserts if g[1] == 1] == list(range(5, 10))
    assert not [g for g in got if g[1] == 2]
    assert sorted(g[2] for g in deletes) == list(range(10))
    assert all(g[1] == 3 for g in deletes)
    assert [g[2] for g in inserts if g[1] == 3] == [100, 101, 102]


def test_read_changes_bounded_range(spark, table_dir):
    deltalog.create_table(spark, _mk(spark, 0, 3), table_dir)      # v0
    deltalog.append(spark, _mk(spark, 3, 6), table_dir)            # v1
    deltalog.append(spark, _mk(spark, 6, 9), table_dir)            # v2
    ch = deltalog.read_changes(
        spark, table_dir, starting_version=0, ending_version=1
    )
    assert sorted(r["id"] for r in ch.collect()) == [3, 4, 5]


def test_read_changes_after_cleanup_raises(spark, table_dir):
    deltalog.create_table(spark, _mk(spark, 0, 3), table_dir)      # v0
    deltalog.append(spark, _mk(spark, 3, 6), table_dir)            # v1
    deltalog.write_checkpoint(spark, table_dir)
    deltalog.cleanup_log_before_checkpoint(table_dir)
    deltalog.append(spark, _mk(spark, 6, 9), table_dir)            # v2
    with pytest.raises(ValueError, match="no longer reconstructable"):
        deltalog.read_changes(spark, table_dir, starting_version=0)
    # the surviving tail is still a valid feed
    ch = deltalog.read_changes(spark, table_dir, starting_version=1)
    assert sorted(r["id"] for r in ch.collect()) == [6, 7, 8]


def test_delta_stream_source_versions_as_offsets(spark, table_dir):
    from cdc_pipe_line_spark.pydatasource import DeltaStreamDataSource

    deltalog.create_table(spark, _mk(spark, 0, 5), table_dir)      # v0
    deltalog.append(spark, _mk(spark, 5, 10), table_dir)           # v1
    deltalog.compact(spark, table_dir)                             # v2
    deltalog.append(spark, _mk(spark, 10, 15), table_dir)          # v3
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
        stream.groupBy("_commit_version")
        .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
        .writeStream.format("memory")
        .queryName("t_dsrc")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        int(r["_commit_version"]): (int(r["n"]), int(r["s"]))
        for r in spark.sql("select * from t_dsrc").collect()
    }
    # the OPTIMIZE version contributes nothing; appends carry their rows
    assert got == {0: (5, 10), 1: (5, 35), 3: (5, 60)}


def test_delta_stream_source_over_an_evolved_table(spark, table_dir):
    """A plain stream over a table ``append_evolve`` widened reads
    every file in the declared schema: the older file's rows stream
    with the new column null, as ``read_snapshot`` reads them."""
    from cdc_pipe_line_spark.pydatasource import DeltaStreamDataSource

    deltalog.create_table(spark, _mk(spark, 0, 3), table_dir)      # v0
    deltalog.append_evolve(
        spark,
        _mk(spark, 3, 5).withColumn("w", F.col("id") * 10),
        table_dir,
    )                                                              # v1
    try:
        spark.dataSource.register(DeltaStreamDataSource)
    except Exception:
        pass
    q = (
        spark.readStream.format("delta_stream")
        .option("path", table_dir)
        .load()
        .writeStream.format("memory")
        .queryName("t_dsrc_evolved")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["id"], r["w"], r["_commit_version"])
        for r in spark.sql("select * from t_dsrc_evolved").collect()
    )
    assert got == [(i, None, 0) for i in range(3)] + [(3, 30, 1), (4, 40, 1)]


def test_delta_stream_source_rejects_overwrite(spark, table_dir):
    from cdc_pipe_line_spark.pydatasource import DeltaStreamDataSource

    deltalog.create_table(spark, _mk(spark, 0, 5), table_dir)
    deltalog.overwrite(spark, _mk(spark, 5, 8), table_dir)
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
        .queryName("t_dsrc_bad")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="append-only|remove"):
        q.awaitTermination()


def test_delta_stream_source_on_a_cleaned_up_log(spark, table_dir):
    """With the metaData only in the checkpoint (log cleanup removed
    JSON v0-v1), the source still reads the schema; a stream starting
    before the checkpoint raises, as ``read_changes`` does, instead of
    silently skipping the rows the checkpoint holds, and one starting
    at the checkpoint streams the later commits."""
    from cdc_pipe_line_spark.pydatasource import DeltaStreamDataSource

    deltalog.create_table(spark, _mk(spark, 0, 5), table_dir)      # v0
    deltalog.append(spark, _mk(spark, 5, 10), table_dir)           # v1
    deltalog.write_checkpoint(spark, table_dir)
    assert deltalog.cleanup_log_before_checkpoint(table_dir) == 2
    deltalog.append(spark, _mk(spark, 10, 13), table_dir)          # v2
    try:
        spark.dataSource.register(DeltaStreamDataSource)
    except Exception:
        pass

    def run(name, **options):
        reader = spark.readStream.format("delta_stream").option("path", table_dir)
        for k, v in options.items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (int(r["id"]), int(r["_commit_version"]))
            for r in spark.sql(f"select * from {name}").collect()
        )

    with pytest.raises(Exception, match="no longer reconstructable"):
        run("t_dsrc_cleaned")
    assert run("t_dsrc_tail", startingVersion="1") == [(i, 2) for i in range(10, 13)]
