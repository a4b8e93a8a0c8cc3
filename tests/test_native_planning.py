"""Driver-side planning of the native Delta log: job budgets for reads
and the SCD2 MERGE, codegen classes reused across steady rounds, the
MERGE's single target-source join, declared-schema scans against
footer-inferred ones, change feeds across a schema evolution, and the
log listing behind ``read_log_actions``."""

from __future__ import annotations

import glob
import json
import os
import uuid
from contextlib import contextmanager
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from cdc_pipe_line_spark import deltalog, session
from cdc_pipe_line_spark.cdc.diff import snapshot_diff, to_cdc_events
from cdc_pipe_line_spark.delta_merge import apply_scd2_delta
from cdc_pipe_line_spark.timeseries import daily_counts, gap_fill_daily, rolling_zscore

#: jobs one steady SCD2 apply runs on a small unpartitioned table:
#: the source pin, the MERGE's locate job (which also checks
#: cardinality), the pin of its one target-source join and the data and
#: change-data writes.  Planning (live-file census, scan schemas,
#: metadata) runs none.
APPLY_JOB_BUDGET = 13

#: codegen classes a second steady round (apply, point read, change
#: feed, anomaly refresh) may compile.  The round's plans repeat the
#: first round's, so the cache (``session.CODEGEN_CACHE_ENTRIES``)
#: serves most classes; what is left are plans whose shape grows with
#: the log (the change feed gains a leg per version).  With Spark's
#: default 100-entry cache the round recompiled about 160.
STEADY_ROUND_COMPILE_BUDGET = 60


@contextmanager
def count_jobs(spark):
    """Yields a one-element list that holds, after the block, the number
    of Spark jobs the block launched."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    out: list[int] = []
    try:
        yield out
    finally:
        sc._jsc.clearJobGroup()
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def infer_like_before(monkeypatch):
    """Make the scans infer their schema from the file footers, the way
    they planned before they read in the declared schema."""
    monkeypatch.setattr(deltalog, "_read_schema", lambda *a, **k: None)


def same_as_inferred(monkeypatch, read):
    """``read()`` returns the same columns, types and rows whether the
    scans use the declared schema or infer it."""
    declared = read()
    got = (declared.schema.simpleString(), rows(declared))
    with monkeypatch.context() as m:
        infer_like_before(m)
        inferred = read()
        want = (inferred.schema.simpleString(), rows(inferred))
    assert got == want


def _table(spark, path, data=None, **kw):
    data = data or [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]
    deltalog.create_table(
        spark, spark.createDataFrame(data, "k int, s string, v double"), path, **kw
    )


# -- job budgets ---------------------------------------------------------


def test_point_reads_run_one_job(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path)
    deltalog.append(
        spark, spark.createDataFrame([(4, "d", 40.0)], "k int, s string, v double"), path
    )
    for version in (None, 0):
        with count_jobs(spark) as jobs:
            got = (
                deltalog.read_snapshot(spark, path, version_as_of=version)
                .filter(F.col("k") == 2)
                .collect()
            )
        assert [r.s for r in got] == ["b"]
        assert jobs == [1], f"version_as_of={version}"


def test_read_changes_plans_without_jobs(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path)
    deltalog.delete_where(spark, path, "k = 1")
    deltalog.append(
        spark, spark.createDataFrame([(4, "d", 40.0)], "k int, s string, v double"), path
    )
    with count_jobs(spark) as jobs:
        feed = deltalog.read_changes(spark, path, starting_version=-1)
    assert jobs == [0]
    counts = {r[0]: r[1] for r in feed.groupBy("_change_type").count().collect()}
    assert counts == {"insert": 4, "delete": 1}


def _land(spark, table, rows_, prev):
    new = spark.createDataFrame(rows_, "id long, status string, price double")
    events = to_cdc_events(
        snapshot_diff(new, prev, "id"),
        company_id="acme",
        table_name="orders",
        key_column="id",
        event_time=F.current_timestamp(),
    ).persist()
    events.count()
    with count_jobs(spark) as jobs:
        apply_scd2_delta(spark, table, events)
    events.unpersist()
    return new, jobs[0]


def compiled_classes(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_steady_round_reuses_compiled_classes(spark, tmp_path):
    table = str(tmp_path / "scd2")
    base = [(i, "O", float(i)) for i in range(200)]

    def steady_round(rows_, prev):
        prev, _ = _land(spark, table, rows_, prev)
        deltalog.read_snapshot(spark, table).filter(
            (F.col("key_value") == "7") & F.col("is_current")
        ).collect()
        v = deltalog._next_version(table) - 1
        deltalog.read_changes(
            spark, table, starting_version=v - 1, ending_version=v
        ).groupBy("_change_type").count().collect()
        feed = deltalog.read_changes(spark, table, starting_version=-1)
        daily = daily_counts(feed, ts_col="valid_from", group_cols=["_change_type"])
        filled = gap_fill_daily(daily, group_cols=["_change_type"])
        rolling_zscore(filled, group_cols=["_change_type"]).collect()
        return prev

    prev, _ = _land(spark, table, base, None)
    changed = [(i, "F" if i % 50 == 0 else s, p) for i, s, p in base]
    prev = steady_round(changed, prev)
    changed = [(i, s, p + 1.0 if i % 40 == 0 else p) for i, s, p in changed]
    before = compiled_classes(spark)
    steady_round(changed, prev)
    assert compiled_classes(spark) - before <= STEADY_ROUND_COMPILE_BUDGET


def test_session_has_the_codegen_cache_and_warns_when_it_is_ignored(spark):
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == str(session.CODEGEN_CACHE_ENTRIES)
    launched_elsewhere = SimpleNamespace(
        sparkContext=SimpleNamespace(
            getConf=lambda: {
                "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
            }
        )
    )
    with pytest.warns(RuntimeWarning, match=f"{key} is '100'"):
        session._warn_if_launch_conf_ignored(launched_elsewhere)


def test_steady_scd2_apply_job_budget(spark, tmp_path):
    table = str(tmp_path / "scd2")
    base = [(i, "O", float(i)) for i in range(200)]
    prev, _ = _land(spark, table, base, None)
    changed = [(i, "F" if i % 50 == 0 else s, p) for i, s, p in base]
    prev, _ = _land(spark, table, changed, prev)
    changed = [(i, s, p + 1.0 if i % 40 == 0 else p) for i, s, p in changed]
    _prev, jobs = _land(spark, table, changed, prev)
    assert jobs <= APPLY_JOB_BUDGET
    current = deltalog.read_snapshot(spark, table).filter("is_current")
    assert current.count() == 200


# -- declared-schema scans return what inferred scans did ----------------


def test_declared_scan_column_mapping_rename(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    _table(spark, path)
    deltalog.enable_column_mapping(spark, path)
    deltalog.rename_column(spark, path, "s", "label")
    deltalog.append(
        spark, spark.createDataFrame([(4, "d", 40.0)], "k int, label string, v double"), path
    )
    snap = deltalog.read_snapshot(spark, path)
    assert snap.columns == ["k", "label", "v"]
    assert rows(snap.select("label")) == [("a",), ("b",), ("c",), ("d",)]
    same_as_inferred(monkeypatch, lambda: deltalog.read_snapshot(spark, path))


def test_declared_scan_partitioned(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    data = [(1, "x", 1.0), (2, "y", 2.0), (3, "x", 3.0)]
    _table(spark, path, data, partition_by=["s"])
    deltalog.append(
        spark, spark.createDataFrame([(4, "z", 4.0)], "k int, s string, v double"), path
    )
    same_as_inferred(monkeypatch, lambda: deltalog.read_snapshot(spark, path))
    same_as_inferred(
        monkeypatch,
        lambda: deltalog.read_snapshot(spark, path, partition_filter={"s": "x"}),
    )


def test_declared_scan_schema_evolution(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    _table(spark, path)
    deltalog.append_evolve(
        spark,
        spark.createDataFrame([(4, "d", 40.0, 7)], "k int, s string, v double, x int"),
        path,
    )
    now = deltalog.read_snapshot(spark, path)
    assert rows(now.select("k", "x")) == [(1, None), (2, None), (3, None), (4, 7)]
    same_as_inferred(monkeypatch, lambda: deltalog.read_snapshot(spark, path))
    before = deltalog.read_snapshot(spark, path, version_as_of=0)
    assert before.columns == ["k", "s", "v"]
    same_as_inferred(
        monkeypatch, lambda: deltalog.read_snapshot(spark, path, version_as_of=0)
    )


def test_declared_scan_deletion_vectors(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    _table(spark, path)
    deltalog.enable_deletion_vectors(spark, path)
    deltalog.delete_where(spark, path, "k = 2", use_dv=True)
    live = deltalog._replay_log_driver(path)["adds"]
    assert any(a.get("deletionVector") for a in live)
    assert rows(deltalog.read_snapshot(spark, path).select("k")) == [(1,), (3,)]
    same_as_inferred(monkeypatch, lambda: deltalog.read_snapshot(spark, path))


def test_declared_change_feed_mixes_cdc_and_file_legs(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    _table(spark, path)
    deltalog.append(
        spark, spark.createDataFrame([(4, "d", 40.0)], "k int, s string, v double"), path
    )
    deltalog.update_where(spark, path, "k = 1", {"v": "v + 1"})
    deltalog.merge_into(
        spark,
        path,
        spark.createDataFrame([(2, 99.0), (5, 50.0)], "k int, v double"),
        "t.k = s.k",
        when_matched_update={"v": "s.v"},
        when_not_matched_insert={"k": "s.k", "s": "'e'", "v": "s.v"},
    )
    deltalog.overwrite(
        spark, spark.createDataFrame([(9, "z", 9.0)], "k int, s string, v double"), path
    )

    def feed():
        return deltalog.read_changes(spark, path, starting_version=-1)

    kinds = {r[0] for r in feed().select("_change_type").distinct().collect()}
    assert kinds == {"insert", "delete", "update_preimage", "update_postimage"}
    same_as_inferred(monkeypatch, feed)


def test_read_changes_partitioned_legs_carry_partition_columns(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path, [(1, "x", 1.0), (2, "y", 2.0)], partition_by=["s"])
    deltalog.delete_where(spark, path, "k = 1")
    feed = deltalog.read_changes(spark, path, starting_version=-1)
    assert rows(feed.select("_change_type", "k", "s", "_commit_version")) == [
        ("delete", 1, "x", 1), ("insert", 1, "x", 0), ("insert", 2, "y", 0)
    ]


def test_change_feed_routes_agree(spark, tmp_path, monkeypatch):
    """The driver-side log walk and the distributed log scan past the
    byte budget plan the same feed, deletion-vector masking included."""
    path = str(tmp_path / "t")
    _table(spark, path)
    deltalog.enable_deletion_vectors(spark, path)
    deltalog.delete_where(spark, path, "k = 2", use_dv=True)
    deltalog.overwrite(
        spark, spark.createDataFrame([(9, "z", 9.0)], "k int, s string, v double"), path
    )

    def feed():
        return rows(
            deltalog.read_changes(spark, path, starting_version=-1).select(
                "_change_type", "k", "_commit_version"
            )
        )

    driver = feed()
    # the overwrite's delete leg masks the row the DV delete reported
    assert [r for r in driver if r[0] == "delete"] == [
        ("delete", 1, 3), ("delete", 2, 2), ("delete", 3, 3)
    ]
    with monkeypatch.context() as m:
        m.setattr(deltalog, "DRIVER_REPLAY_MAX_BYTES", 0)
        assert feed() == driver


def test_writes_land_the_declared_types(spark, tmp_path):
    """A blind append and a MERGE whose ``k`` is bigint on an ``int``
    table write ``int`` files, which the declared-schema scans read."""
    path = str(tmp_path / "t")
    _table(spark, path)
    deltalog.append(
        spark, spark.createDataFrame([(4, "d", 40.0)], "k bigint, s string, v double"), path
    )
    deltalog.merge_into(
        spark,
        path,
        spark.createDataFrame([(1, 11.0), (5, 50.0)], "k bigint, v double"),
        "t.k = s.k",
        when_matched_update={"v": "s.v"},
        when_not_matched_insert={"k": "s.k", "s": "'e'", "v": "s.v"},
    )
    snap = deltalog.read_snapshot(spark, path)
    assert snap.schema["k"].dataType.simpleString() == "int"
    assert rows(snap) == [
        (1, "a", 11.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0), (5, "e", 50.0)
    ]
    feed = deltalog.read_changes(spark, path, starting_version=0)
    assert feed.schema["k"].dataType.simpleString() == "int"
    assert rows(feed.select("_change_type", "k", "v")) == [
        ("insert", 4, 40.0), ("insert", 5, 50.0),
        ("update_postimage", 1, 11.0), ("update_preimage", 1, 10.0),
    ]


# -- change feeds across a schema evolution ------------------------------


def test_read_changes_across_schema_evolution(spark, tmp_path):
    path = str(tmp_path / "t")
    deltalog.create_table(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"), path
    )
    deltalog.append_evolve(
        spark, spark.createDataFrame([(3, "c", 30)], "id int, v string, x int"), path
    )
    feed = deltalog.read_changes(spark, path, starting_version=-1)
    assert feed.columns == ["id", "v", "x", "_change_type", "_commit_version"]
    assert rows(feed.select("id", "x", "_commit_version")) == [
        (1, None, 0), (2, None, 0), (3, 30, 1)
    ]
    deltalog.merge_into(
        spark,
        path,
        spark.createDataFrame([(1, "a2", 10), (4, "d", 40)], "id int, v string, x int"),
        "t.id = s.id",
        when_matched_update={"v": "s.v", "x": "s.x"},
        when_not_matched_insert={"id": "s.id", "v": "s.v", "x": "s.x"},
    )
    feed = deltalog.read_changes(spark, path, starting_version=-1)
    got = rows(feed.select("_change_type", "id", "v", "x"))
    assert got == sorted(
        [
            ("insert", 1, "a", None),
            ("insert", 2, "b", None),
            ("insert", 3, "c", 30),
            ("update_preimage", 1, "a", None),
            ("update_postimage", 1, "a2", 10),
            ("insert", 4, "d", 40),
        ],
        key=repr,
    )
    # a range that ends before the evolution keeps the old schema
    old = deltalog.read_changes(spark, path, starting_version=-1, ending_version=0)
    assert old.columns == ["id", "v", "_change_type", "_commit_version"]


# -- the log listing ------------------------------------------------------


def test_read_log_actions_reads_the_listed_commits(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path)
    deltalog.delete_where(spark, path, "k = 1")
    log_dir = os.path.join(path, "_delta_log")
    # what the glob read returned: every action of every file the
    # glob matched
    by_glob = (
        spark.read.schema(deltalog.LOG_SCHEMA)
        .json(sorted(glob.glob(os.path.join(log_dir, "*.json"))))
        .withColumn(
            "version",
            F.regexp_extract(F.input_file_name(), r"(\d+)\.json$", 1).cast("bigint"),
        )
    )
    want = rows(by_glob.select(F.to_json(F.struct("*"))))
    # a JSON file that is not a commit is not read as one
    with open(os.path.join(log_dir, "notes.json"), "w") as fh:
        fh.write('{"commitInfo": {"operation": "NOT A COMMIT"}}\n')
    acts = deltalog.read_log_actions(spark, path)
    assert sorted(os.path.basename(f) for f in acts.inputFiles()) == [
        f"{v:020d}.json" for v in range(2)
    ]
    assert rows(acts.select(F.to_json(F.struct("*")))) == want


def test_log_cleanup_keeps_a_json_checkpoint_manifest(spark, tmp_path):
    """Only ``{version}.json`` files are commits: log cleanup keeps the
    JSON manifest of a V2 checkpoint, and replay does not read it as a
    commit."""
    path = str(tmp_path / "t")
    _table(spark, path)
    deltalog.append(
        spark, spark.createDataFrame([(4, "d", 40.0)], "k int, s string, v double"), path
    )
    deltalog.write_checkpoint(spark, path)
    manifest = deltalog.convert_checkpoint_to_v2(path, fmt="json")
    assert deltalog.cleanup_log_before_checkpoint(path) == 2
    assert os.path.exists(manifest)
    deltalog.delete_where(spark, path, "k = 1")
    assert rows(deltalog.read_snapshot(spark, path).select("k")) == [(2,), (3,), (4,)]


# -- the MERGE's single target-source join -------------------------------


def _commit_actions(path, version):
    with open(os.path.join(path, "_delta_log", f"{version:020d}.json")) as fh:
        return [next(iter(json.loads(line))) for line in fh if line.strip()]


def test_insert_only_merge_appends_without_rewriting(spark, tmp_path):
    """With no matched clause a source row matching a target row is
    simply not inserted: the target rows stay as they are, however many
    source rows match them, and no file is rewritten."""
    path = str(tmp_path / "t")
    deltalog.create_table(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path
    )
    src = spark.createDataFrame([(1, "x"), (1, "y"), (3, "z")], "k int, v string")
    v = deltalog.merge_into(
        spark, path, src, "t.k = s.k", when_not_matched_insert={"k": "s.k", "v": "s.v"}
    )
    assert rows(deltalog.read_snapshot(spark, path)) == [(1, "a"), (2, "b"), (3, "z")]
    assert "remove" not in _commit_actions(path, v)
    feed = deltalog.read_changes(spark, path, starting_version=v - 1)
    assert rows(feed.select("k", "v", "_change_type")) == [(3, "z", "insert")]


def test_dv_merge_matches_copy_on_write(spark, tmp_path):
    """A merge-on-read MERGE (deletion vectors) lands the same rows and
    the same change feed as the copy-on-write MERGE of the same
    statement: update, delete and insert clauses read one pinned join."""
    data = [(k, f"v{k}", float(k)) for k in range(1, 9)]
    src = spark.createDataFrame(
        [(2, "up", 1.5), (3, "DEL", 0.0), (5, "up", 2.5), (6, "skip", 0.0), (11, "new", 9.0)],
        "k int, s string, v double",
    )
    got = {}
    for mode in ("cow", "dv"):
        path = str(tmp_path / mode)
        _table(spark, path, data)
        if mode == "dv":
            deltalog.enable_deletion_vectors(spark, path)
        v = deltalog.merge_into(
            spark,
            path,
            src,
            "t.k = s.k",
            when_matched_update={"s": "s.s", "v": "t.v + s.v"},
            when_matched_update_condition="s.s = 'up'",
            when_matched_delete_condition="s.s = 'DEL'",
            when_not_matched_insert={"k": "s.k", "s": "s.s", "v": "s.v"},
            use_dv=mode == "dv",
        )
        feed = deltalog.read_changes(spark, path, starting_version=v - 1)
        got[mode] = (
            rows(deltalog.read_snapshot(spark, path)),
            rows(feed.select("k", "s", "v", "_change_type")),
        )
        adds = [
            json.loads(line)["add"]
            for line in open(os.path.join(path, "_delta_log", f"{v:020d}.json"))
            if '"add"' in line
        ]
        assert any("deletionVector" in a for a in adds) == (mode == "dv")
    assert got["dv"] == got["cow"]
    snapshot, feed = got["cow"]
    assert (2, "up", 3.5) in snapshot and (11, "new", 9.0) in snapshot
    assert not [r for r in snapshot if r[0] == 3]
    assert feed == sorted(
        [
            (2, "up", 3.5, "update_postimage"),
            (2, "v2", 2.0, "update_preimage"),
            (3, "v3", 3.0, "delete"),
            (5, "up", 7.5, "update_postimage"),
            (5, "v5", 5.0, "update_preimage"),
            (11, "new", 9.0, "insert"),
        ],
        key=repr,
    )
