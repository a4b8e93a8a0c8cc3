"""Spec-conformant in-commit timestamps (VERDICT r13 next-item 1).

Delta's ``inCommitTimestamp`` writer feature, public PROTOCOL.md
semantics: when ``delta.enableInCommitTimestamps`` is on, every
commit's ``commitInfo`` — the FIRST action of its file — carries
``inCommitTimestamp`` (strictly monotonic); TIMESTAMP AS OF resolves
by that field at and past the enablement boundary and by commit-file
modification time before it (and everywhere on non-ICT tables).
Reference parity: the reference's Delta 2.4 pipeline
(app/docker-compose.yml pins delta-spark 2.4) implies mtime-based
time travel; this is the Delta 3.x upgrade path.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from cdc_pipe_line_spark import deltalog

BASE = "/tmp/cdc_r14_ict"


def _fresh(leaf: str) -> str:
    path = os.path.join(BASE, leaf)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def _first_action(table_dir: str, v: int) -> dict:
    p = os.path.join(table_dir, "_delta_log", f"{v:020d}.json")
    with open(p) as fh:
        return json.loads(fh.readline())


def _commit_infos(table_dir: str, v: int) -> list[dict]:
    p = os.path.join(table_dir, "_delta_log", f"{v:020d}.json")
    out = []
    with open(p) as fh:
        for line in fh:
            a = json.loads(line)
            if "commitInfo" in a:
                out.append(a["commitInfo"])
    return out


def test_enable_mid_history_boundary(spark):
    path = _fresh("boundary")
    deltalog.create_table(spark, spark.range(5), path)       # v0
    deltalog.append(spark, spark.range(5, 8), path)          # v1
    v = deltalog.enable_in_commit_timestamps(spark, path)    # v2
    assert v == 2
    deltalog.append(spark, spark.range(8, 10), path)         # v3

    cfg = deltalog.snapshot(path).configuration
    assert cfg["delta.enableInCommitTimestamps"] == "true"
    assert cfg["delta.inCommitTimestampEnablementVersion"] == "2"
    ict2 = deltalog._read_commit_ict(path, 2)
    assert cfg["delta.inCommitTimestampEnablementTimestamp"] == str(ict2)

    proto = deltalog.snapshot(path).protocol
    assert proto["minWriterVersion"] == 7
    assert "inCommitTimestamp" in proto["writerFeatures"]
    # legacy-implied features carried across the upgrade
    assert "invariants" in proto["writerFeatures"]

    # pre-boundary commits carry no ICT; post-boundary commits do,
    # with the commitInfo as the FIRST action of the file
    for pre_v in (0, 1):
        assert all(
            "inCommitTimestamp" not in ci
            for ci in _commit_infos(path, pre_v)
        )
    for post_v in (2, 3):
        first = _first_action(path, post_v)
        assert "commitInfo" in first
        assert first["commitInfo"]["inCommitTimestamp"] is not None

    # resolution: ICT at/past the boundary, mtime before it
    ict3 = deltalog._read_commit_ict(path, 3)
    assert ict2 < ict3
    assert deltalog.resolve_timestamp(spark, path, ict2) == 2
    assert deltalog.resolve_timestamp(spark, path, ict3) == 3
    assert deltalog.resolve_timestamp(spark, path, ict3 - 1) == 2
    # pin pre-boundary mtimes so the mtime leg is deterministic
    log = os.path.join(path, "_delta_log")
    os.utime(os.path.join(log, f"{0:020d}.json"), (1.0, 1.0))
    os.utime(os.path.join(log, f"{1:020d}.json"), (2.0, 2.0))
    assert deltalog.resolve_timestamp(spark, path, 1000) == 0
    assert deltalog.resolve_timestamp(spark, path, 2500) == 1
    with pytest.raises(ValueError, match="precedes"):
        deltalog.resolve_timestamp(spark, path, 500)
    # and the time-travelled snapshots match the resolved versions
    assert deltalog.read_snapshot(
        spark, path, timestamp_as_of=2500
    ).count() == 8
    assert deltalog.read_snapshot(
        spark, path, timestamp_as_of=ict3
    ).count() == 10


def test_ict_from_birth(spark):
    path = _fresh("birth")
    deltalog.create_table(
        spark,
        spark.range(4),
        path,
        properties={"delta.enableInCommitTimestamps": "true"},
    )
    deltalog.append(spark, spark.range(4, 6), path)
    first0 = _first_action(path, 0)
    assert "commitInfo" in first0
    assert first0["commitInfo"]["inCommitTimestamp"] is not None
    cfg = deltalog.snapshot(path).configuration
    # enabled at version 0: the spec omits the enablement-boundary
    # properties (the whole history is ICT)
    assert "delta.inCommitTimestampEnablementVersion" not in cfg
    proto = deltalog.snapshot(path).protocol
    assert proto["minWriterVersion"] == 7
    assert "inCommitTimestamp" in proto["writerFeatures"]
    i0 = deltalog._read_commit_ict(path, 0)
    i1 = deltalog._read_commit_ict(path, 1)
    assert i0 < i1
    assert deltalog.resolve_timestamp(spark, path, i0) == 0
    assert deltalog.resolve_timestamp(spark, path, i1) == 1
    assert deltalog.read_snapshot(
        spark, path, timestamp_as_of=i0
    ).count() == 4


def test_ict_strictly_monotonic_under_clock_step(spark, monkeypatch):
    path = _fresh("clock")
    deltalog.create_table(
        spark,
        spark.range(3),
        path,
        properties={"delta.enableInCommitTimestamps": "true"},
    )
    import time as _time

    real = _time.time()
    monkeypatch.setattr(_time, "time", lambda: real - 600.0)
    deltalog.append(spark, spark.range(3, 5), path)
    monkeypatch.undo()
    deltalog.append(spark, spark.range(5, 6), path)
    icts = [deltalog._read_commit_ict(path, v) for v in range(3)]
    assert all(i is not None for i in icts)
    assert icts == sorted(icts)
    assert len(set(icts)) == 3  # strictly increasing


def test_commit_without_commitinfo_synthesizes_one(spark):
    path = _fresh("synth")
    deltalog.create_table(
        spark,
        spark.range(3),
        path,
        properties={"delta.enableInCommitTimestamps": "true"},
    )
    # a bare txn commit (no caller commitInfo) must still carry the
    # spec field, first in the file
    deltalog.commit(path, [{"txn": {"appId": "a", "version": 1}}])
    first = _first_action(path, 1)
    assert "commitInfo" in first
    assert first["commitInfo"]["inCommitTimestamp"] is not None


def test_double_enable_raises(spark):
    path = _fresh("double")
    deltalog.create_table(spark, spark.range(3), path)
    deltalog.enable_in_commit_timestamps(spark, path)
    with pytest.raises(ValueError, match="already enabled"):
        deltalog.enable_in_commit_timestamps(spark, path)


def test_mtime_resolution_monotonic_adjustment(spark):
    # a copy/restore that rewrote mtimes OUT OF VERSION ORDER must
    # still resolve version-ordered (spec: adjusted timestamps)
    path = _fresh("mtime_adj")
    deltalog.create_table(spark, spark.range(3), path)   # v0
    deltalog.append(spark, spark.range(3, 5), path)      # v1
    deltalog.append(spark, spark.range(5, 6), path)      # v2
    log = os.path.join(path, "_delta_log")
    os.utime(os.path.join(log, f"{0:020d}.json"), (5.0, 5.0))
    os.utime(os.path.join(log, f"{1:020d}.json"), (2.0, 2.0))  # earlier!
    os.utime(os.path.join(log, f"{2:020d}.json"), (9.0, 9.0))
    # adjusted timeline: v0=5000, v1=5001, v2=9000
    assert deltalog.resolve_timestamp(spark, path, 5000) == 0
    assert deltalog.resolve_timestamp(spark, path, 5001) == 1
    assert deltalog.resolve_timestamp(spark, path, 8999) == 1
    assert deltalog.resolve_timestamp(spark, path, 9000) == 2


def test_history_surfaces_ict(spark):
    path = _fresh("hist")
    deltalog.create_table(spark, spark.range(3), path)
    deltalog.enable_in_commit_timestamps(spark, path)
    deltalog.append(spark, spark.range(3, 5), path)
    rows = {
        r.version: r
        for r in deltalog.table_history(spark, path).collect()
    }
    assert rows[0].inCommitTimestamp is None
    assert rows[1].inCommitTimestamp is not None
    assert rows[2].inCommitTimestamp is not None
    # the surfaced timestamp IS the spec field on ICT commits
    assert rows[2].timestamp == rows[2].inCommitTimestamp


def test_dml_on_ict_table(spark):
    # the whole DML surface keeps stamping through the ICT path
    path = _fresh("dml")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k int, v double"
    )
    deltalog.create_table(
        spark, df, path,
        properties={"delta.enableInCommitTimestamps": "true"},
    )
    deltalog.delete_where(spark, path, "k % 5 = 0")
    deltalog.update_where(spark, path, "k = 1", {"v": "100.0"})
    src = spark.createDataFrame([(2, 50.0), (99, 1.0)], "k int, nv double")
    deltalog.merge_into(
        spark, path, src, "t.k = s.k",
        when_matched_update={"v": "s.nv"},
        when_not_matched_insert={"k": "s.k", "v": "s.nv"},
    )
    got = {r.k: r.v for r in deltalog.read_snapshot(spark, path).collect()}
    assert 0 not in got and 5 not in got
    assert got[1] == 100.0 and got[2] == 50.0 and got[99] == 1.0
    icts = [
        deltalog._read_commit_ict(path, v) for v in range(4)
    ]
    assert all(i is not None for i in icts)
    assert icts == sorted(icts) and len(set(icts)) == 4
    # time travel to each DML step by its ICT
    assert deltalog.read_snapshot(
        spark, path, timestamp_as_of=icts[1]
    ).count() == 16
