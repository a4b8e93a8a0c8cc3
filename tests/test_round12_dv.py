"""Deletion vectors (merge-on-read DML) — VERDICT r11 missing-item 3
/ next-item 2: DELETE/UPDATE/MERGE write row-position sidecars
instead of rewriting files, readers mask on both scan routes, CDF
stays row-exact, OPTIMIZE absorbs, vacuum respects references, and
RESTORE carries descriptors."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cdc_pipe_line_spark import deltalog, manifest_scan

BASE = "/tmp/cdc_r12_dv"


def _fresh(leaf: str) -> str:
    import shutil

    path = os.path.join(BASE, leaf)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def _stage(spark, path, n=20, files=2):
    df = spark.createDataFrame(
        [(i, "x", float(i)) for i in range(n)], "k int, s string, v double"
    )
    per = n // files
    deltalog.create_table(spark, df.filter(F.col("k") < per), path)
    for j in range(1, files):
        deltalog.append(
            spark,
            df.filter(
                (F.col("k") >= j * per) & (F.col("k") < (j + 1) * per)
            ),
            path,
        )
    deltalog.enable_deletion_vectors(spark, path)
    return df


def _copy_on_write(spark, path):
    """Switch the table's DML to copy-on-write; its files keep their
    vectors and the protocol keeps the deletionVectors feature."""
    deltalog.set_table_properties(
        spark, path, {"delta.enableDeletionVectors": "false"}
    )


def test_enable_sets_feature_protocol(spark):
    path = _fresh("gate")
    _stage(spark, path)
    proto = deltalog.snapshot(path).protocol
    assert proto["minReaderVersion"] == 3
    assert proto["minWriterVersion"] == 7
    assert "deletionVectors" in proto["readerFeatures"]
    assert "deletionVectors" in proto["writerFeatures"]
    with pytest.raises(ValueError, match="already enabled"):
        deltalog.enable_deletion_vectors(spark, path)


def test_dv_delete_touches_no_data_file(spark):
    path = _fresh("del_bytes")
    _stage(spark, path)
    before = {
        f: os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    v = deltalog.delete_where(spark, path, "k % 5 = 0")
    after = {
        f: os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    # every original data file byte-identical in place
    assert before == {f: after[f] for f in before}
    assert sorted(
        r.k for r in deltalog.read_snapshot(spark, path).collect()
    ) == [k for k in range(20) if k % 5]
    m = dict(
        deltalog.table_history(spark, path)
        .filter(F.col("version") == v)
        .first()
        .operationMetrics
    )
    assert m["numAddedFiles"] == "0"  # merge-on-read: nothing rewritten
    assert m["numDeletedRows"] == "4"
    assert int(m["numDeletionVectorsAdded"]) == 2


@pytest.mark.slow
def test_dv_merge_and_sequential_dvs(spark):
    path = _fresh("merge")
    _stage(spark, path)
    deltalog.delete_where(spark, path, "k = 4")
    src = spark.createDataFrame(
        [
            (3, 33.0, "upd"),
            (4, 44.0, "ins"),   # was DV-deleted: must re-insert
            (12, 0.0, "del"),
            (99, 9.9, "ins"),
        ],
        "k int, nv double, what string",
    )
    deltalog.merge_into(
        spark, path, src, "t.k = s.k",
        when_matched_update={"v": "s.nv"},
        when_matched_update_condition="s.what = 'upd'",
        when_matched_delete_condition="s.what = 'del'",
        when_not_matched_insert={"k": "s.k", "s": "s.what", "v": "s.nv"},
    )
    got = {r.k: r.v for r in deltalog.read_snapshot(spark, path).collect()}
    assert got[3] == 33.0
    assert got[4] == 44.0
    assert 12 not in got
    assert got[99] == 9.9
    assert len(got) == 20  # 20 - del(4) - del(12) + ins(4) + ins(99)


def test_dv_cdf_row_exact(spark):
    path = _fresh("cdf")
    _stage(spark, path)
    v = deltalog.update_where(spark, path, "k = 11", {"v": "v + 100.0"})
    ch = deltalog.read_changes(spark, path, starting_version=v - 1)
    rows = sorted((r.k, r._change_type, r.v) for r in ch.collect())
    assert rows == [
        (11, "update_postimage", 111.0),
        (11, "update_preimage", 11.0),
    ]


def test_dv_time_travel_and_checkpoint(spark):
    path = _fresh("tt_ckpt")
    _stage(spark, path)                                    # v0,v1,v2
    deltalog.delete_where(spark, path, "k < 3")            # v3
    deltalog.delete_where(spark, path, "k >= 17")          # v4
    assert deltalog.read_snapshot(spark, path, version_as_of=2).count() == 20
    assert deltalog.read_snapshot(spark, path, version_as_of=3).count() == 17
    assert deltalog.read_snapshot(spark, path).count() == 14
    # the checkpoint carries the DV descriptors; masks survive cleanup
    deltalog.write_checkpoint(spark, path)
    deltalog.cleanup_log_before_checkpoint(path)
    assert deltalog.read_snapshot(spark, path).count() == 14
    lf = deltalog.live_files(
        deltalog.read_log_actions(spark, path)
    ).collect()
    assert sum(
        r.deletionVector["cardinality"]
        for r in lf
        if r.deletionVector is not None
    ) == 6


@pytest.mark.slow
def test_optimize_absorbs_dvs(spark):
    path = _fresh("absorb")
    _stage(spark, path)
    deltalog.delete_where(spark, path, "k % 4 = 0")
    deltalog.compact(spark, path)
    lf = deltalog.live_files(
        deltalog.read_log_actions(spark, path)
    ).collect()
    assert all(r.deletionVector is None for r in lf)
    assert len(lf) == 1
    assert sorted(
        r.k for r in deltalog.read_snapshot(spark, path).collect()
    ) == [k for k in range(20) if k % 4]


def test_lone_dv_file_still_compacts(spark):
    path = _fresh("absorb_lone")
    df = spark.createDataFrame(
        [(i, "x", float(i)) for i in range(10)], "k int, s string, v double"
    )
    deltalog.create_table(spark, df, path)
    deltalog.enable_deletion_vectors(spark, path)
    deltalog.delete_where(spark, path, "k = 5")
    v = deltalog.compact(spark, path)
    lf = deltalog.live_files(
        deltalog.read_log_actions(spark, path)
    ).collect()
    assert len(lf) == 1 and lf[0].deletionVector is None
    assert deltalog.read_snapshot(spark, path).count() == 9
    assert v == 3


def test_vacuum_keeps_referenced_dv_files(spark):
    # big enough that the vector exceeds the inline budget and lands
    # as an on-disk deletion_vector_*.bin (the spec's "u" storage)
    path = _fresh("vacuum")
    _stage(spark, path, n=2000, files=2)
    deltalog.delete_where(spark, path, "k % 3 = 0")        # v3: DVs
    dv_bins = [
        f for f in os.listdir(path) if f.startswith("deletion_vector_")
    ]
    assert dv_bins, "fixture should have produced on-disk vectors"
    victims = deltalog.vacuum(spark, path, retain_versions=0)
    # current snapshot still reads correctly: its DV files survive
    assert deltalog.read_snapshot(spark, path).count() == sum(
        1 for k in range(2000) if k % 3
    )
    assert all("deletion_vector_" not in v for v in victims)
    # absorb, then vacuum: the orphaned vector files go
    deltalog.compact(spark, path)
    victims2 = deltalog.vacuum(spark, path, retain_versions=0)
    assert any("deletion_vector_" in v for v in victims2)
    assert not any(
        f.startswith("deletion_vector_") for f in os.listdir(path)
    )


def test_restore_carries_dv_descriptors(spark):
    path = _fresh("restore")
    _stage(spark, path)                                    # v2 = clean
    v3 = deltalog.delete_where(spark, path, "k % 5 = 0")   # DV state
    deltalog.compact(spark, path)                          # v4: absorbed
    deltalog.restore(spark, path, v3)
    assert sorted(
        r.k for r in deltalog.read_snapshot(spark, path).collect()
    ) == [k for k in range(20) if k % 5]
    lf = deltalog.live_files(
        deltalog.read_log_actions(spark, path)
    ).collect()
    assert any(r.deletionVector is not None for r in lf)
    # and restoring to the pre-DML version clears the masks
    deltalog.restore(spark, path, 2)
    assert deltalog.read_snapshot(spark, path).count() == 20


def test_dv_via_manifest_route(spark, monkeypatch):
    path = _fresh("manifest")
    _stage(spark, path, n=40, files=4)
    with monkeypatch.context() as m:
        m.setattr(manifest_scan, "DEFAULT_THRESHOLD", 1)
        deltalog.delete_where(spark, path, "k % 3 = 0")
    native = sorted(
        r.k for r in deltalog.read_snapshot(spark, path).collect()
    )
    monkeypatch.setattr(manifest_scan, "DEFAULT_THRESHOLD", 1)
    man = sorted(
        r.k for r in deltalog.read_snapshot(spark, path).collect()
    )
    assert native == man == [k for k in range(40) if k % 3]


def test_dv_update_partitioned_keeps_layout(spark):
    path = _fresh("part_upd")
    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(20)],
        "k int, part int, v double",
    )
    deltalog.create_table(spark, df, path, partition_by=["part"])
    deltalog.enable_deletion_vectors(spark, path)
    deltalog.update_where(spark, path, "k = 6", {"v": "v * 10.0"})
    got = {r.k: (r.part, r.v) for r in deltalog.read_snapshot(spark, path).collect()}
    assert got[6] == (0, 60.0)
    assert len(got) == 20
    # post-image landed in the Hive layout
    lf = deltalog.live_files(deltalog.read_log_actions(spark, path)).collect()
    for r in lf:
        assert r.partitionValues and "part" in r.partitionValues


def test_cow_statement_on_dv_table_does_not_resurrect(spark):
    """A copy-on-write statement (deletion vectors switched off by the
    table property) over files carrying deletion vectors must NOT
    re-emit the masked rows into its replacement files — the rewrite
    absorbs the DV instead."""
    path = _fresh("cow_no_resurrect")
    _stage(spark, path)
    deltalog.delete_where(spark, path, "k = 3")            # DV on file 0
    # copy-on-write for an overlapping mutation of file 0
    _copy_on_write(spark, path)
    deltalog.delete_where(spark, path, "k = 5")
    left = sorted(
        r.k for r in deltalog.read_snapshot(spark, path).collect()
    )
    assert left == [k for k in range(20) if k not in (3, 5)]
    # the COW rewrite absorbed file 0's DV: no live file keeps one
    lf = deltalog.live_files(deltalog.read_log_actions(spark, path)).collect()
    assert sum(1 for r in lf if r.deletionVector is not None) == 0


def test_cow_merge_on_dv_table_does_not_resurrect(spark):
    path = _fresh("cow_merge_no_resurrect")
    _stage(spark, path)
    deltalog.delete_where(spark, path, "k = 2")            # DV on file 0
    src = spark.createDataFrame([(4, 40.0), (2, 20.0)], "k int, nv double")
    _copy_on_write(spark, path)
    deltalog.merge_into(
        spark, path, src, "t.k = s.k",
        when_matched_update={"v": "s.nv"},
        when_not_matched_insert={"k": "s.k", "s": "'new'", "v": "s.nv"},
    )
    got = {(r.k, r.s): r.v for r in deltalog.read_snapshot(spark, path).collect()}
    assert got[(4, "x")] == 40.0
    assert (2, "x") not in got          # stayed deleted
    assert got[(2, "new")] == 20.0      # re-inserted as NOT MATCHED


@pytest.mark.slow
def test_reorg_purge_rewrites_only_dv_files(spark):
    """REORG (PURGE): dv_only compaction rewrites exactly the DV'd
    files (absorbing their masks); clean files keep their bytes."""
    path = _fresh("reorg")
    _stage(spark, path, n=20, files=2)
    deltalog.delete_where(spark, path, "k = 3")  # DV on file 0 only
    lf0 = {
        r.path: r.deletionVector
        for r in deltalog.live_files(
            deltalog.read_log_actions(spark, path)
        ).collect()
    }
    clean_before = {p for p, dv in lf0.items() if dv is None}
    v = deltalog.compact(spark, path, dv_only=True)
    lf1 = deltalog.live_files(
        deltalog.read_log_actions(spark, path)
    ).collect()
    assert all(r.deletionVector is None for r in lf1)
    # the clean file survives untouched; the DV'd one was replaced
    paths_after = {r.path for r in lf1}
    assert clean_before <= paths_after
    assert deltalog.read_snapshot(spark, path).count() == 19
    hist = deltalog.table_history(spark, path).filter(
        F.col("version") == v
    ).first()
    assert hist.operation == "REORG (PURGE)"


def test_reorg_purge_noop_without_dvs(spark):
    path = _fresh("reorg_noop")
    _stage(spark, path)
    v_before = deltalog._next_version(path) - 1
    assert deltalog.compact(spark, path, dv_only=True) == v_before


def test_reader_feature_gate_refuses_unknown_features(spark):
    # v2Checkpoint moved into SUPPORTED_READER_FEATURES in round 14
    # (read-side v2 checkpoints), so the gate probe uses a feature
    # that stays genuinely unknown — the test's intent is that an
    # UNRECOGNIZED reader feature refuses, not any particular name.
    path = _fresh("gate_unknown")
    _stage(spark, path)
    deltalog.commit(
        path,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors", "futureMagicFeature"],
                    "writerFeatures": ["deletionVectors", "futureMagicFeature"],
                }
            },
            {"commitInfo": {"operation": "UPGRADE"}},
        ],
    )
    with pytest.raises(ValueError, match="futureMagicFeature"):
        deltalog.read_snapshot(spark, path)


def test_reader_version_gate(spark):
    path = _fresh("gate_version")
    _stage(spark, path)
    deltalog.commit(
        path,
        [
            {"protocol": {"minReaderVersion": 9, "minWriterVersion": 9}},
            {"commitInfo": {"operation": "UPGRADE"}},
        ],
    )
    with pytest.raises(ValueError, match="minReaderVersion 9"):
        deltalog.read_snapshot(spark, path)
    # time travel to BEFORE the upgrade still reads (per-snapshot gate)
    assert deltalog.read_snapshot(spark, path, version_as_of=2).count() == 20


def test_writer_feature_gate_refuses_unknown_features(spark):
    path = _fresh("wgate_unknown")
    _stage(spark, path)
    deltalog.commit(
        path,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors", "identityColumns"],
                }
            },
            {"commitInfo": {"operation": "UPGRADE"}},
        ],
    )
    with pytest.raises(ValueError, match="identityColumns"):
        deltalog.append(
            spark,
            spark.createDataFrame([(99, "z", 0.0)], "k int, s string, v double"),
            path,
        )
    # reads stay fine (reader features are all supported)
    assert deltalog.read_snapshot(spark, path).count() == 20


def test_append_only_property_enforced(spark):
    path = _fresh("append_only")
    _stage(spark, path)
    deltalog.set_table_properties(spark, path, {"delta.appendOnly": "true"})
    deltalog.append(
        spark,
        spark.createDataFrame([(99, "z", 0.0)], "k int, s string, v double"),
        path,
    )
    with pytest.raises(ValueError, match="append-only"):
        deltalog.delete_where(spark, path, "k = 1")
    with pytest.raises(ValueError, match="append-only"):
        deltalog.overwrite(
            spark,
            spark.createDataFrame([(1, "a", 1.0)], "k int, s string, v double"),
            path,
        )
    # dataChange=false rewrites (OPTIMIZE) stay legal
    deltalog.compact(spark, path)
    assert deltalog.read_snapshot(spark, path).count() == 21


def test_dv_with_skipping_and_partition_filter(spark, monkeypatch):
    """Stats skipping, partition pruning, and DV masking compose on
    one read: pruning narrows candidate files, the DV mask drops
    deleted positions, the row filter keeps exactness."""
    path = _fresh("combo")
    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(40)],
        "k int, part int, v double",
    )
    deltalog.create_table(spark, df, path, partition_by=["part"])
    deltalog.enable_deletion_vectors(spark, path)
    deltalog.delete_where(spark, path, "k % 4 = 0")
    got = sorted(
        r.k
        for r in deltalog.read_snapshot(
            spark,
            path,
            partition_filter={"part": "0"},
            skipping=[("k", "<", 20)],
        ).collect()
    )
    assert got == [k for k in range(20) if k % 2 == 0 and k % 4 != 0]
    # same through the manifest route
    monkeypatch.setattr(manifest_scan, "DEFAULT_THRESHOLD", 0)
    got2 = sorted(
        r.k
        for r in deltalog.read_snapshot(
            spark,
            path,
            partition_filter={"part": "0"},
            skipping=[("k", "<", 20)],
        ).collect()
    )
    assert got2 == got


def test_streaming_cdf_over_dv_table(spark):
    """The streaming change feed serves DV-mode DML row-level: a DV
    DELETE commit streams exactly the deleted rows (from its cdc
    file), never the re-added file's surviving rows.  An OVERWRITE
    over the DV'd files and a RESTORE back to the DV'd state stream
    the same rows ``read_changes`` reports: the delete legs and the
    restored inserts stay masked by the vectors."""
    from cdc_pipe_line_spark.pydatasource import DeltaStreamDataSource

    path = _fresh("stream_cdf")
    df = _stage(spark, path)
    deltalog.delete_where(spark, path, "k % 7 = 0")  # v3, DV + cdc
    deltalog.overwrite(spark, df.filter("k >= 15"), path)  # v4
    deltalog.restore(spark, path, 3)  # v5
    try:
        spark.dataSource.register(DeltaStreamDataSource)
    except Exception:
        pass
    stream = (
        spark.readStream.format("delta_stream")
        .option("path", path)
        .option("readChangeFeed", "true")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("r12_dv_cdf")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT k, _change_type, _commit_version FROM r12_dv_cdf"
    ).collect()
    assert sorted(
        (r.k, r._change_type) for r in rows if r._commit_version == 3
    ) == [(0, "delete"), (7, "delete"), (14, "delete")]
    batch = deltalog.read_changes(spark, path, starting_version=-1)
    key = lambda r: (r.k, r._change_type, r._commit_version)  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, batch.collect()))
    # the masked keys are reported once, by the DV delete
    assert sorted(r.k for r in rows if r._commit_version >= 4) == sorted(
        ([k for k in range(20) if k % 7] + list(range(15, 20))) * 2
    )


def test_dv_merge_with_schema_evolution(spark):
    """Merge-on-read MERGE + withSchemaEvolution: the evolved column
    appends to the declared schema, DV'd originals null-fill it, and
    post-images/inserts carry it."""
    path = _fresh("evolve")
    _stage(spark, path)
    src = spark.createDataFrame(
        [(3, 33.0, "eu"), (99, 9.9, "us")], "k int, nv double, region string"
    )
    deltalog.merge_into(
        spark, path, src, "t.k = s.k",
        when_matched_update={"v": "s.nv"},
        when_not_matched_insert={
            "k": "s.k", "s": "'new'", "v": "s.nv", "region": "s.region"
        },
        schema_evolution=True,
    )
    snap = deltalog.read_snapshot(spark, path)
    assert "region" in snap.columns
    got = {r.k: (r.v, r.region) for r in snap.collect()}
    assert got[3] == (33.0, None)     # updated post-image (no region bound)
    assert got[99] == (9.9, "us")     # evolved insert
    assert got[5] == (5.0, None)      # untouched original null-fills
    assert len(got) == 21
    # and the masked originals still carry their DV through the scan
    lf = deltalog.live_files(deltalog.read_log_actions(spark, path)).collect()
    assert any(r.deletionVector is not None for r in lf)
