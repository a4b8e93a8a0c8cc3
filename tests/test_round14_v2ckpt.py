"""Read-side V2 checkpoints (VERDICT r13 next-item 2).

Public Delta PROTOCOL.md "V2 Checkpoint" shape: a UUID-named manifest
``{v}.checkpoint.{uniqueId}.{parquet|json}`` holding the non-file
actions plus a ``checkpointMetadata`` action and ``sidecar`` pointers
to ``_delta_log/_sidecars/*.parquet`` files that hold the add/remove
actions.  Fixtures are built to that shape from a classic checkpoint
this engine wrote (``deltalog.convert_checkpoint_to_v2`` — pure
pyarrow/file I/O, no v2 library anywhere in the container), then the
classic file is deleted — so a passing read provably reconstructs
through the v2 route on every path (Spark scan, driver replay,
metadata walks, distributed manifest scan).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from cdc_pipe_line_spark import deltalog, manifest_scan

BASE = "/tmp/cdc_r14_v2ckpt"


def _fresh(leaf: str) -> str:
    path = os.path.join(BASE, leaf)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def _stage(spark, path):
    """create → append → checkpoint → cleanup → append: the same
    lifecycle io_delta_checkpoint pins, so the read provably goes
    through the checkpoint."""
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", float(i)) for i in range(40)],
        "k int, s string, v double",
    )
    deltalog.create_table(spark, df.filter("k < 15"), path)
    deltalog.append(spark, df.filter("k >= 15 and k < 30"), path)
    deltalog.write_checkpoint(spark, path)
    deltalog.cleanup_log_before_checkpoint(path)
    deltalog.append(spark, df.filter("k >= 30"), path)


@pytest.mark.parametrize("fmt", ["parquet", "json"])
def test_v2_checkpoint_reads_identical_to_classic(spark, fmt, monkeypatch):
    path = _fresh(f"roundtrip_{fmt}")
    _stage(spark, path)
    before = sorted(
        (r.k, r.s, r.v)
        for r in deltalog.read_snapshot(spark, path).collect()
    )
    schema_before = deltalog.snapshot(path).schema_string
    ck = deltalog._checkpoint_version(path)
    deltalog.convert_checkpoint_to_v2(path, fmt=fmt)
    # the classic checkpoint is GONE and pre-checkpoint JSON was
    # cleaned — state must reconstruct through the v2 manifest
    log_dir = os.path.join(path, "_delta_log")
    assert not os.path.exists(
        os.path.join(log_dir, f"{ck:020d}.checkpoint.parquet")
    )
    after = sorted(
        (r.k, r.s, r.v)
        for r in deltalog.read_snapshot(spark, path).collect()
    )
    assert after == before
    # driver-side metadata walks ride the same route
    assert deltalog.snapshot(path).schema_string == schema_before
    assert deltalog.snapshot(path).metaData["schemaString"] == (
        schema_before
    )
    assert deltalog.snapshot(path).protocol["minWriterVersion"] >= 2
    # distributed replay too (bypass the driver fast path)
    monkeypatch.setattr(manifest_scan, "DEFAULT_THRESHOLD", 1)
    n = deltalog.read_snapshot(spark, path).count()
    assert n == len(before)


@pytest.mark.slow
def test_v2_checkpoint_single_sidecar_and_dml(spark):
    path = _fresh("dml")
    _stage(spark, path)
    deltalog.convert_checkpoint_to_v2(path, fmt="parquet", n_sidecars=1)
    # post-conversion commits still work (protocol not v2-gated) and
    # replay checkpoint + tail correctly
    deltalog.delete_where(spark, path, "k % 10 = 0")
    got = sorted(
        r.k for r in deltalog.read_snapshot(spark, path).collect()
    )
    assert got == [k for k in range(40) if k % 10 != 0]


def test_v2_checkpoint_missing_sidecar_raises(spark):
    path = _fresh("missing_sidecar")
    _stage(spark, path)
    manifest = deltalog.convert_checkpoint_to_v2(path, fmt="parquet")
    side_dir = os.path.join(path, "_delta_log", "_sidecars")
    victim = os.listdir(side_dir)[0]
    os.remove(os.path.join(side_dir, victim))
    with pytest.raises(FileNotFoundError, match="missing"):
        deltalog.read_snapshot(spark, path).count()
    assert os.path.exists(manifest)  # the manifest itself is intact


def test_v2_checkpoint_version_mismatch_raises(spark):
    path = _fresh("bad_meta_version")
    _stage(spark, path)
    manifest = deltalog.convert_checkpoint_to_v2(path, fmt="json")
    # forge the embedded checkpointMetadata to a different version
    lines = open(manifest).read().splitlines()
    forged = []
    for line in lines:
        a = json.loads(line)
        if "checkpointMetadata" in a:
            a["checkpointMetadata"]["version"] = 99
        forged.append(json.dumps(a))
    with open(manifest, "w") as fh:
        fh.write("\n".join(forged) + "\n")
    with pytest.raises(ValueError, match="does not match"):
        deltalog.read_snapshot(spark, path).count()


def test_v2_reader_feature_gate(spark):
    # a v2Checkpoint-featured protocol is ACCEPTED by the reader and
    # REFUSED by the writer (read-side support only)
    path = _fresh("gate")
    _stage(spark, path)
    deltalog.commit(
        path,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["v2Checkpoint"],
                    "writerFeatures": ["v2Checkpoint"],
                }
            },
            {"commitInfo": {"operation": "UPGRADE PROTOCOL"}},
        ],
    )
    deltalog.convert_checkpoint_to_v2(path, fmt="parquet")
    assert deltalog.read_snapshot(spark, path).count() == 40
    with pytest.raises(ValueError, match="writer features"):
        deltalog.append(
            spark,
            spark.createDataFrame(
                [(99, "x", 9.0)], "k int, s string, v double"
            ),
            path,
        )


def test_classic_preferred_when_both_exist(spark):
    path = _fresh("both")
    _stage(spark, path)
    log_dir = os.path.join(path, "_delta_log")
    ck = deltalog._checkpoint_version(path)
    classic = deltalog._checkpoint_parts(log_dir, ck)
    keep = [(p, open(p, "rb").read()) for p in classic]
    deltalog.convert_checkpoint_to_v2(path, fmt="parquet")
    for p, blob in keep:  # restore the classic file alongside the v2
        with open(p, "wb") as fh:
            fh.write(blob)
    src = deltalog._checkpoint_sources(log_dir, ck)
    assert src["parquet"] == [p for p, _ in keep]
    assert deltalog.read_snapshot(spark, path).count() == 40


def test_v2_time_travel_and_history(spark):
    # version_as_of at and past the checkpoint reconstructs through
    # the v2 manifest; history still censuses every commit
    path = _fresh("tt")
    _stage(spark, path)
    deltalog.convert_checkpoint_to_v2(path, fmt="parquet")
    ck = deltalog._checkpoint_version(path)
    assert deltalog.read_snapshot(
        spark, path, version_as_of=ck
    ).count() == 30
    hist = {
        r.version: r.operation
        for r in deltalog.table_history(spark, path).collect()
    }
    assert set(hist) == {ck, ck + 1}
