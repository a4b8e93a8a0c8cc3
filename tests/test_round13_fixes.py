"""Round-13 fixes: vectorized change-type census (VERDICT r12
what's-wrong 2), checkpoint stale-part consistency (ADVICE r12 low),
deterministic bin-pack salt (ADVICE r12 low), and legacy feature names
at table-features protocol versions (ADVICE r12 medium)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cdc_pipe_line_spark import deltalog

BASE = "/tmp/cdc_r13_fixes"


def _fresh(leaf: str) -> str:
    import shutil

    path = os.path.join(BASE, leaf)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


# ---------------------------------------------------------------- census


def test_change_counts_vectorized_matches(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table_dir = str(tmp_path)
    os.makedirs(os.path.join(table_dir, "_change_data"))
    types = (
        ["insert"] * 7
        + ["delete"] * 3
        + ["update_preimage"] * 5
        + ["update_postimage"] * 5
    )
    rel = os.path.join("_change_data", "cdc-x.parquet")
    pq.write_table(
        pa.table({"_change_type": pa.array(types)}),
        os.path.join(table_dir, rel),
    )
    counts = deltalog._change_counts(table_dir, [{"cdc": {"path": rel}}])
    assert counts == {
        "insert": 7,
        "delete": 3,
        "update_preimage": 5,
        "update_postimage": 5,
    }


def test_change_counts_feeds_dml_metrics(spark):
    path = _fresh("census_metrics")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "k int, v double"
    )
    deltalog.create_table(spark, df, path)
    deltalog.delete_where(spark, path, "k < 15")
    hist = {
        r["version"]: r
        for r in deltalog.table_history(spark, path).collect()
    }
    m = hist[1]["operationMetrics"]
    assert int(m["numDeletedRows"]) == 15


# ------------------------------------------------------- checkpoint parts


def test_checkpoint_rerun_leaves_one_consistent_part_set(spark):
    path = _fresh("ckpt_rerun")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(30)], "k int, v double"
    )
    deltalog.create_table(spark, df.filter("k < 10"), path)
    deltalog.append(spark, df.filter("k >= 10 and k < 20"), path)
    deltalog.append(spark, df.filter("k >= 20"), path)
    ver = deltalog.write_checkpoint(spark, path, parts=3)
    log_dir = os.path.join(path, "_delta_log")
    first = deltalog._checkpoint_parts(log_dir, ver)
    assert len(first) == 3
    # re-run at the SAME version with a different part count: stale
    # parts must be gone, readers must see exactly the new set
    deltalog.write_checkpoint(spark, path, parts=2)
    on_disk = [
        f
        for f in os.listdir(log_dir)
        if ".checkpoint." in f and f.endswith(".parquet")
    ]
    assert len(on_disk) == 2
    assert len(deltalog._checkpoint_parts(log_dir, ver)) == 2
    # no duplicated state: snapshot row count unchanged
    assert deltalog.read_snapshot(spark, path).count() == 30
    # log-scan action counts at the checkpoint are not inflated
    acts = deltalog.read_log_actions(spark, path)
    n_adds = acts.filter(F.col("add").isNotNull()).count()
    assert n_adds == 3


def test_checkpoint_parts_ignores_stale_incomplete_set(spark):
    path = _fresh("ckpt_stale")
    df = spark.createDataFrame([(i,) for i in range(10)], "k int")
    deltalog.create_table(spark, df, path)
    ver = deltalog.write_checkpoint(spark, path, parts=2)
    log_dir = os.path.join(path, "_delta_log")
    good = deltalog._checkpoint_parts(log_dir, ver)
    assert len(good) == 2
    # a crashed retry left ONE part of a would-be 3-part set: the
    # incomplete set must never be unioned in
    stale = os.path.join(
        log_dir, f"{ver:020d}.checkpoint.{1:010d}.{3:010d}.parquet"
    )
    import shutil

    shutil.copyfile(good[0], stale)
    chosen = deltalog._checkpoint_parts(log_dir, ver)
    assert len(chosen) == 2
    assert stale not in chosen
    assert deltalog.read_snapshot(spark, path).count() == 10


# ------------------------------------------------------------- salt


def test_partition_bins_salt_is_deterministic_and_packs(spark):
    path = _fresh("salt_bins")
    df = spark.createDataFrame(
        [(i % 2, i, "p" * 200) for i in range(2000)],
        "part int, k int, pad string",
    )
    deltalog.create_table(spark, df, path, partition_by=["part"])
    one = [
        r.size
        for r in deltalog.live_files(
            deltalog.read_log_actions(spark, path)
        ).collect()
    ]
    target = max(one) // 3
    deltalog.compact(spark, path, target_file_bytes=target)
    lf = deltalog.live_files(
        deltalog.read_log_actions(spark, path)
    ).collect()
    # per-partition bin-packing honored the target (> 1 file per part)
    by_part: dict = {}
    for r in lf:
        by_part.setdefault(r.partitionValues["part"], []).append(r)
    assert all(len(v) > 1 for v in by_part.values())
    # deterministic: rows are intact and unduplicated after the rewrite
    assert deltalog.read_snapshot(spark, path).count() == 2000
    assert (
        deltalog.read_snapshot(spark, path).select("k").distinct().count()
        == 2000
    )


# ---------------------------------------------------- protocol features


def test_legacy_versions_imply_features_on_upgrade(spark):
    path = _fresh("proto_imply")
    df = spark.createDataFrame(
        [(i, "x") for i in range(10)], "k int, s string"
    )
    deltalog.create_table(spark, df, path)
    deltalog.enable_column_mapping(spark, path)
    proto = deltalog.snapshot(path).protocol
    # below table-features versions the pair encodes the capability;
    # feature lists must NOT appear
    assert proto["minReaderVersion"] == 2
    assert proto["minWriterVersion"] == 5
    assert "readerFeatures" not in proto
    assert "writerFeatures" not in proto
    # crossing into (3,7) for DVs must carry the legacy implications
    deltalog.enable_deletion_vectors(spark, path)
    proto = deltalog.snapshot(path).protocol
    assert set(proto["readerFeatures"]) >= {
        "columnMapping",
        "deletionVectors",
    }
    assert set(proto["writerFeatures"]) >= {
        "deletionVectors",
        "columnMapping",
        "checkConstraints",
        "generatedColumns",
        "changeDataFeed",
        "appendOnly",
        "invariants",
    }


def test_feature_ops_on_table_features_protocol_record_names(spark):
    path = _fresh("proto_names")
    df = spark.createDataFrame(
        [(i, "x") for i in range(10)], "k int, s string"
    )
    deltalog.create_table(spark, df, path)
    deltalog.enable_deletion_vectors(spark, path)
    base = deltalog.snapshot(path).protocol
    assert base["minReaderVersion"] == 3 and base["minWriterVersion"] == 7
    # enable_column_mapping on an already-(3,7) table: the version bump
    # is a no-op, so the FEATURE NAME is the whole upgrade
    deltalog.enable_column_mapping(spark, path)
    proto = deltalog.snapshot(path).protocol
    assert "columnMapping" in proto["readerFeatures"]
    assert "columnMapping" in proto["writerFeatures"]
    deltalog.add_constraint(spark, path, "k_pos", "k >= 0")
    proto = deltalog.snapshot(path).protocol
    assert "checkConstraints" in proto["writerFeatures"]
    # the table still reads and writes fine under our own gates
    assert deltalog.read_snapshot(spark, path).count() == 10
    deltalog.append(
        spark, df.select((F.col("k") + 100).alias("k"), "s"), path
    )
    assert deltalog.read_snapshot(spark, path).count() == 20
