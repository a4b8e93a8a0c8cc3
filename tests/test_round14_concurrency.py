"""Multi-process concurrent writers (VERDICT r13 next-item 3).

Small-N pytest twin of ``tools/concurrent_soak.py`` — N real child
processes blind-appending through the put-if-absent commit path —
plus deterministic forged-race probes of the spec's conflict
resolution: a lost version race retries through concurrent ADDS but
RAISES on a concurrent metaData/protocol change.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from cdc_pipe_line_spark import deltalog

BASE = "/tmp/cdc_r14_conc"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOAK = os.path.join(REPO, "tools", "concurrent_soak.py")


def _fresh(leaf: str) -> str:
    path = os.path.join(BASE, leaf)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def test_multiprocess_appends_serialize(spark):
    n_writers, m_commits = 3, 5
    path = _fresh("soak_small")
    deltalog.create_table(
        spark,
        spark.createDataFrame([(-1, -1.0)], "k bigint, v double"),
        path,
        properties={"delta.enableInCommitTimestamps": "true"},
    )
    procs = [
        subprocess.Popen(
            [sys.executable, SOAK, "--child", path, str(w), str(m_commits)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for w in range(n_writers)
    ]
    claimed = []
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err[-2000:]
        claimed += json.loads(out.strip().splitlines()[-1])["versions"]

    expect_n = 1 + n_writers * m_commits
    log_dir = os.path.join(path, "_delta_log")
    versions = sorted(
        int(f.split(".")[0])
        for f in os.listdir(log_dir)
        if f.endswith(".json")
    )
    assert versions == list(range(expect_n))  # contiguous, no forks
    assert sorted(claimed) == list(range(1, expect_n))
    # cross-process strictly monotonic in-commit timestamps
    icts = [deltalog._read_commit_ict(path, v) for v in range(expect_n)]
    assert all(i is not None for i in icts)
    assert icts == sorted(icts) and len(set(icts)) == expect_n
    # no lost rows
    keys = sorted(r.k for r in deltalog.read_snapshot(spark, path).collect())
    assert keys == sorted(
        [-1]
        + [
            w * 1_000_000 + j
            for w in range(n_writers)
            for j in range(m_commits)
        ]
    )


def _racing_next_version(path, racer_actions):
    """A ``_next_version`` stand-in that forges the interleave: the
    first call returns the true next version AND a concurrent writer
    wins that exact version before our commit's exclusive create."""
    real = deltalog._next_version
    state = {"fired": False}

    def fake(table_dir):
        v = real(table_dir)
        if table_dir == path and not state["fired"]:
            state["fired"] = True
            with open(
                os.path.join(table_dir, "_delta_log", f"{v:020d}.json"),
                "w",
            ) as fh:
                for a in racer_actions:
                    fh.write(json.dumps(a) + "\n")
        return v

    return fake


def test_lost_race_retries_through_concurrent_adds(spark, monkeypatch):
    path = _fresh("race_adds")
    deltalog.create_table(
        spark, spark.createDataFrame([(0, 0.0)], "k bigint, v double"), path
    )
    monkeypatch.setattr(
        deltalog,
        "_next_version",
        _racing_next_version(
            path,
            [
                {
                    "add": {
                        "path": "racer.parquet",
                        "size": 1,
                        "dataChange": True,
                        "partitionValues": {},
                    }
                },
                {"commitInfo": {"operation": "RACER WRITE"}},
            ],
        ),
    )
    v = deltalog.commit(
        path,
        [{"txn": {"appId": "probe", "version": 1}}],
        retries=3,
    )
    assert v == 2  # lost v1 to the racer's add, retried cleanly


def test_lost_race_raises_on_concurrent_metadata_change(
    spark, monkeypatch
):
    path = _fresh("race_meta")
    deltalog.create_table(
        spark, spark.createDataFrame([(0, 0.0)], "k bigint, v double"), path
    )
    meta = deltalog.snapshot(path).metaData
    racer_meta = {
        "metaData": {
            "id": meta["id"],
            "format": {"provider": "parquet"},
            "schemaString": meta["schemaString"],
            "partitionColumns": [],
            "configuration": {"delta.appendOnly": "true"},
        }
    }
    monkeypatch.setattr(
        deltalog,
        "_next_version",
        _racing_next_version(path, [racer_meta]),
    )
    with pytest.raises(ValueError, match="concurrent metadata"):
        deltalog.commit(
            path,
            [{"txn": {"appId": "probe", "version": 1}}],
            retries=3,
        )


def test_lost_race_raises_on_concurrent_protocol_change(
    spark, monkeypatch
):
    path = _fresh("race_proto")
    deltalog.create_table(
        spark, spark.createDataFrame([(0, 0.0)], "k bigint, v double"), path
    )
    monkeypatch.setattr(
        deltalog,
        "_next_version",
        _racing_next_version(
            path,
            [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}}],
        ),
    )
    with pytest.raises(ValueError, match="concurrent metadata"):
        deltalog.commit(
            path,
            [{"txn": {"appId": "probe", "version": 1}}],
            retries=3,
        )
