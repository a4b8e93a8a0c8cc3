"""Round-12 Delta protocol fixes: NULL merge-clause gates (ADVICE
r11 high), protocol-upgrade-never-downgrade (medium), skipping
conjuncts as part of DML/MERGE semantics (medium), monotonic
in-commit timestamps (VERDICT wrong-item 1), post-cleanup TIMESTAMP
AS OF wording (wrong-item 2), zorder NULL-bounds diagnostics (low),
per-partition bin-packed compaction (low), and multi-part
distributed checkpoints (next-item 1a)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cdc_pipe_line_spark import deltalog, manifest_scan

BASE = "/tmp/cdc_r12_delta"


def _fresh(leaf: str) -> str:
    import shutil

    path = os.path.join(BASE, leaf)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def _mk(spark, path, rows=None, **kw):
    rows = rows or [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]
    df = spark.createDataFrame(rows, "k int, s string, v double")
    deltalog.create_table(spark, df, path, **kw)
    return df


# ---------------------------------------------------- NULL clause gates


def test_merge_null_delete_condition_keeps_row(spark):
    """A matched row whose DELETE condition evaluates to NULL must be
    left untouched (three-valued semantics), not silently dropped."""
    path = _fresh("merge_null_del")
    _mk(spark, path)
    src = spark.createDataFrame([(1, None), (2, 5.0)], "k int, thr double")
    deltalog.merge_into(
        spark,
        path,
        src,
        "t.k = s.k",
        # NULL for k=1 (thr is NULL) -> clause must NOT apply
        when_matched_delete_condition="s.thr > 1.0",
    )
    out = {
        r.k for r in deltalog.read_snapshot(spark, path).collect()
    }
    assert out == {1, 3}  # k=2 deleted (5.0 > 1), k=1 KEPT, k=3 untouched


def test_merge_null_delete_condition_change_feed(spark):
    """The change feed sees exactly the really-deleted row."""
    path = _fresh("merge_null_del_cdf")
    _mk(spark, path)
    src = spark.createDataFrame([(1, None), (2, 5.0)], "k int, thr double")
    v = deltalog.merge_into(
        spark, path, src, "t.k = s.k",
        when_matched_delete_condition="s.thr > 1.0",
    )
    ch = deltalog.read_changes(spark, path, starting_version=v - 1)
    rows = [(r.k, r._change_type) for r in ch.collect()]
    assert rows == [(2, "delete")]


def test_merge_null_update_condition_no_update(spark):
    path = _fresh("merge_null_upd")
    _mk(spark, path)
    src = spark.createDataFrame([(1, None), (2, 5.0)], "k int, thr double")
    deltalog.merge_into(
        spark, path, src, "t.k = s.k",
        when_matched_update={"v": "t.v + 100.0"},
        when_matched_update_condition="s.thr > 1.0",
    )
    got = {
        r.k: r.v for r in deltalog.read_snapshot(spark, path).collect()
    }
    assert got == {1: 10.0, 2: 120.0, 3: 30.0}


# ------------------------------------------------- protocol no-downgrade


def test_add_constraint_keeps_column_mapping_protocol(spark):
    """ADD CONSTRAINT on a column-mapped (2,5) table must not commit
    the constraint feature's literal (1,3) — latest-protocol-wins
    reconstruction would persist the downgrade."""
    path = _fresh("proto_no_downgrade")
    _mk(spark, path)
    deltalog.enable_column_mapping(spark, path)
    deltalog.add_constraint(spark, path, "v_pos", "v > 0")
    proto = deltalog.snapshot(path).protocol
    assert proto["minReaderVersion"] == 2
    assert proto["minWriterVersion"] == 5
    # and the checkpointed state persists the kept gate
    deltalog.write_checkpoint(spark, path)
    deltalog.cleanup_log_before_checkpoint(path)
    proto2 = deltalog.snapshot(path).protocol
    assert (proto2["minReaderVersion"], proto2["minWriterVersion"]) == (2, 5)


def test_add_constraint_upgrades_from_base(spark):
    path = _fresh("proto_upgrade")
    _mk(spark, path)
    deltalog.add_constraint(spark, path, "v_pos", "v > 0")
    proto = deltalog.snapshot(path).protocol
    assert proto["minWriterVersion"] == 3


def test_redundant_upgrade_commits_no_protocol_action(spark):
    path = _fresh("proto_noop")
    _mk(spark, path, generated={"s2": "upper(s)"})  # writer 4 already
    assert deltalog._protocol_upgrade(path, 1, 3) == []


# --------------------------------------- skipping = part of the predicate


def test_delete_skipping_not_implied_is_exact(spark):
    """A skipping conjunct NOT implied by the condition narrows the
    DELETE exactly: condition AND conjunct, at file AND row level."""
    path = _fresh("skip_exact")
    df = spark.createDataFrame(
        [(i, "x", float(i)) for i in range(1, 9)], "k int, s string, v double"
    )
    deltalog.create_table(spark, df.filter("k <= 4"), path)
    deltalog.append(spark, df.filter("k > 4"), path)
    # condition matches every even k; conjunct restricts to k <= 4
    deltalog.delete_where(
        spark, path, "k % 2 = 0", skipping=[("k", "<=", 4)]
    )
    left = sorted(
        r.k for r in deltalog.read_snapshot(spark, path).collect()
    )
    # evens <= 4 deleted; evens > 4 SURVIVE (they are outside the
    # statement's slice — stated semantics, not silent divergence)
    assert left == [1, 3, 5, 6, 7, 8]


def test_delete_keeps_rows_whose_skipping_conjunct_is_null(spark):
    """A row whose skipping conjunct is NULL does not match the DELETE,
    so the rewrite of its file keeps it."""
    path = _fresh("skip_null")
    deltalog.create_table(
        spark,
        spark.createDataFrame(
            [(1, 5), (2, None), (3, -1), (4, 7)], "k int, x int"
        ),
        path,
    )
    deltalog.delete_where(spark, path, "k >= 2", skipping=[("x", ">", 0)])
    assert sorted(
        tuple(r) for r in deltalog.read_snapshot(spark, path).collect()
    ) == [(1, 5), (2, None), (3, -1)]


def test_merge_skipping_scopes_the_on_clause(spark):
    """Skipping conjuncts scope the MERGE: target rows outside the
    slice are NOT MATCHED, so the source row inserts — deterministic
    partition-scoped semantics."""
    path = _fresh("skip_merge")
    df = spark.createDataFrame(
        [(i, "x", float(i)) for i in range(1, 9)], "k int, s string, v double"
    )
    deltalog.create_table(spark, df.filter("k <= 4"), path)
    deltalog.append(spark, df.filter("k > 4"), path)
    src = spark.createDataFrame(
        [(2, 100.0), (6, 100.0)], "k int, nv double"
    )
    deltalog.merge_into(
        spark, path, src, "t.k = s.k",
        when_matched_update={"v": "s.nv"},
        when_not_matched_insert={"k": "s.k", "s": "'new'", "v": "s.nv"},
        skipping=[("k", "<=", 4)],
    )
    got = {(r.k, r.s): r.v for r in deltalog.read_snapshot(spark, path).collect()}
    assert got[(2, "x")] == 100.0      # in-slice match updated
    assert got[(6, "x")] == 6.0        # out-of-slice target untouched
    assert got[(6, "new")] == 100.0    # source row inserted (not matched)


# ------------------------------------------------- monotonic timestamps


def test_in_commit_timestamps_clamped_monotonic(spark, monkeypatch):
    path = _fresh("ict_clamp")
    _mk(spark, path)
    import time as _time

    real = _time.time()
    # forge a 10-minute backwards NTP step
    monkeypatch.setattr(_time, "time", lambda: real - 600.0)
    deltalog.append(
        spark, spark.createDataFrame([(9, "z", 9.0)], "k int, s string, v double"), path
    )
    monkeypatch.undo()
    stamps = []
    log = os.path.join(path, "_delta_log")
    for f in sorted(os.listdir(log)):
        if not f.endswith(".json"):
            continue
        with open(os.path.join(log, f)) as fh:
            for line in fh:
                a = json.loads(line)
                if "commitInfo" in a and "timestamp" in a["commitInfo"]:
                    stamps.append(a["commitInfo"]["timestamp"])
    assert stamps == sorted(stamps)
    assert len(set(stamps)) == len(stamps)  # strictly increasing
    # and TIMESTAMP AS OF resolution stays version-ordered: a future
    # timestamp resolves to the latest version (resolution is
    # mtime-based on this non-ICT table — spec reader semantics)
    future = int((real + 3600) * 1000)
    assert deltalog.resolve_timestamp(spark, path, future) == 1


def test_resolve_timestamp_post_cleanup_wording(spark):
    path = _fresh("ict_cleanup_msg")
    _mk(spark, path)
    import time

    time.sleep(0.01)
    deltalog.append(
        spark,
        spark.createDataFrame([(9, "z", 9.0)], "k int, s string, v double"),
        path,
    )
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{0:020d}.json")) as fh:
        first_ts = next(
            json.loads(line)["commitInfo"]["timestamp"]
            for line in fh
            if "commitInfo" in json.loads(line)
        )
    deltalog.write_checkpoint(spark, path)
    deltalog.cleanup_log_before_checkpoint(path)
    deltalog.append(
        spark,
        spark.createDataFrame([(10, "w", 1.0)], "k int, s string, v double"),
        path,
    )
    with pytest.raises(ValueError, match="no longer reconstructable"):
        deltalog.resolve_timestamp(spark, path, first_ts - 1)


# ----------------------------------------------------- zorder diagnostics


def test_zorder_string_column_raises_named_error(spark):
    path = _fresh("zorder_str")
    _mk(spark, path)
    with pytest.raises(ValueError, match="'s' has no numeric range"):
        deltalog.optimize_zorder(spark, path, ["s"])


# ----------------------------------------- per-partition bin-packing


def test_compact_partitioned_honors_target_bytes(spark):
    path = _fresh("compact_bins")
    df = spark.createDataFrame(
        [(i, "p%d" % (i % 2), float(i)) for i in range(4000)],
        "k int, part string, v double",
    )
    deltalog.create_table(spark, df, path, partition_by=["part"])
    # fragment each partition so compaction has work
    for j in range(3):
        deltalog.append(
            spark,
            spark.createDataFrame(
                [(10000 + 1000 * j + i, "p%d" % (i % 2), 1.0) for i in range(1000)],
                "k int, part string, v double",
            ),
            path,
        )
    lf0 = deltalog.live_files(deltalog.read_log_actions(spark, path))
    sizes = lf0.groupBy(
        F.col("partitionValues").getItem("part").alias("p")
    ).agg(F.sum("size").alias("b")).collect()
    per_part = {r.p: r.b for r in sizes}
    target = max(per_part.values()) // 3
    deltalog.compact(spark, path, target_file_bytes=target)
    lf = deltalog.live_files(
        deltalog.read_log_actions(spark, path)
    ).collect()
    by_part: dict = {}
    for r in lf:
        by_part.setdefault(r.partitionValues["part"], []).append(r.size)
    # each partition got MULTIPLE files (the old shape: exactly one)
    for p, files in by_part.items():
        assert len(files) >= 2, (p, files)
    # and the content survived
    assert deltalog.read_snapshot(spark, path).count() == 7000


# -------------------------------------------------- multi-part checkpoint


def test_multipart_checkpoint_roundtrip(spark):
    path = _fresh("ckpt_multi")
    _mk(spark, path)
    for i in range(4):
        deltalog.append(
            spark,
            spark.createDataFrame(
                [(100 + i, "m", float(i))], "k int, s string, v double"
            ),
            path,
        )
    ver = deltalog.write_checkpoint(spark, path, actions_per_part=3)
    log = os.path.join(path, "_delta_log")
    parts = [
        f for f in os.listdir(log)
        if ".checkpoint." in f and f.endswith(".parquet")
    ]
    assert len(parts) > 1
    with open(os.path.join(log, "_last_checkpoint")) as fh:
        ptr = json.load(fh)
    assert ptr["parts"] == len(parts)
    assert ptr["version"] == ver
    # spec naming: {v}.checkpoint.{i}.{n}.parquet
    for f in parts:
        bits = f.split(".")
        assert bits[0] == f"{ver:020d}" and bits[1] == "checkpoint"
        assert int(bits[3]) == len(parts)
    # reconstruction from the multi-part state after log cleanup
    deltalog.cleanup_log_before_checkpoint(path)
    snap = deltalog.read_snapshot(spark, path)
    assert snap.count() == 7
    # driver-side metadata lookups also serve from the parts
    assert deltalog.snapshot(path).schema_string is not None
    assert deltalog.snapshot(path).protocol["minWriterVersion"] >= 2
    # and the table keeps writing/reading past the checkpoint
    deltalog.append(
        spark,
        spark.createDataFrame([(999, "t", 0.0)], "k int, s string, v double"),
        path,
    )
    assert deltalog.read_snapshot(spark, path).count() == 8


def test_explicit_parts_override(spark):
    path = _fresh("ckpt_parts_arg")
    _mk(spark, path)
    deltalog.write_checkpoint(spark, path, parts=2)
    log = os.path.join(path, "_delta_log")
    parts = [f for f in os.listdir(log) if ".checkpoint." in f]
    assert len(parts) == 2
    assert deltalog.read_snapshot(spark, path).count() == 3


# ---------------------------------------------- manifest-fed scans


@pytest.mark.slow
def test_manifest_scan_matches_native(spark, monkeypatch):
    path = _fresh("manifest_eq")
    df = spark.createDataFrame(
        [(i, "s%d" % i, float(i)) for i in range(60)],
        "k int, s string, v double",
    )
    deltalog.create_table(spark, df.filter("k < 10"), path)
    for lo in range(10, 60, 10):
        deltalog.append(
            spark, df.filter(f"k >= {lo} and k < {lo + 10}"), path
        )
    native = deltalog.read_snapshot(spark, path).orderBy("k").collect()
    monkeypatch.setattr(manifest_scan, "DEFAULT_THRESHOLD", 2)
    man = deltalog.read_snapshot(spark, path).orderBy("k").collect()
    assert native == man
    assert len(man) == 60


def test_manifest_scan_partitioned_evolved(spark, monkeypatch):
    path = _fresh("manifest_part")
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)],
        "k int, part int, v double",
    )
    deltalog.create_table(
        spark, df.filter("k < 15"), path, partition_by=["part"]
    )
    deltalog.append(spark, df.filter("k >= 15"), path)
    deltalog.append_evolve(
        spark,
        spark.createDataFrame(
            [(100, 1, 1.0, "x")], "k int, part int, v double, extra string"
        ),
        path,
    )
    native = deltalog.read_snapshot(spark, path).orderBy("k").collect()
    monkeypatch.setattr(manifest_scan, "DEFAULT_THRESHOLD", 1)
    man = deltalog.read_snapshot(spark, path).orderBy("k").collect()
    assert native == man
    got = deltalog.read_snapshot(spark, path)
    # declared types survive the manifest route (partition col re-typed)
    assert dict(got.dtypes)["part"] == "int"


@pytest.mark.slow
def test_dml_through_manifest_census(spark, monkeypatch):
    """DELETE/UPDATE/MERGE locate their touched files through the
    manifest route when the candidate census passes the threshold —
    results identical to the driver-list path."""
    path = _fresh("manifest_dml")
    df = spark.createDataFrame(
        [(i, "x", float(i)) for i in range(40)], "k int, s string, v double"
    )
    deltalog.create_table(spark, df.filter("k < 10"), path)
    for lo in range(10, 40, 10):
        deltalog.append(
            spark, df.filter(f"k >= {lo} and k < {lo + 10}"), path
        )
    src = spark.createDataFrame([(7, 7.7), (99, 9.9)], "k int, nv double")
    with monkeypatch.context() as m:
        m.setattr(manifest_scan, "DEFAULT_THRESHOLD", 1)
        deltalog.delete_where(spark, path, "k % 10 = 3")
        deltalog.update_where(
            spark, path, "k % 10 = 5", {"v": "v + 1000.0"}
        )
        deltalog.merge_into(
            spark, path, src, "t.k = s.k",
            when_matched_update={"v": "s.nv"},
            when_not_matched_insert={"k": "s.k", "s": "'new'", "v": "s.nv"},
        )
    got = {r.k: r.v for r in deltalog.read_snapshot(spark, path).collect()}
    assert set(got) == (set(range(40)) - {3, 13, 23, 33}) | {99}
    assert got[5] == 1005.0 and got[15] == 1015.0
    assert got[7] == 7.7 and got[99] == 9.9


# ------------------------------------------------- vacuum retention


def test_vacuum_keeps_versions_retained_below_a_checkpoint(spark):
    """Every version ``retain_versions`` retains keeps its files when a
    checkpoint sits above the oldest of them; once log cleanup removed
    the JSON below the checkpoint, the retained floor is the
    checkpoint."""
    path = _fresh("vacuum_below_ckpt")

    def one(k):
        return spark.createDataFrame([(k, "x", float(k))], "k int, s string, v double")

    _mk(spark, path)  # v0: k 1, 2, 3
    deltalog.overwrite(spark, one(10), path)  # v1
    deltalog.append(spark, one(11), path)  # v2
    assert deltalog.write_checkpoint(spark, path) == 2
    deltalog.append(spark, one(12), path)  # v3

    def keys(v):
        return sorted(
            r.k for r in deltalog.read_snapshot(spark, path, version_as_of=v).collect()
        )

    want = {v: keys(v) for v in range(4)}
    v0_files = sorted(a["path"] for a in deltalog.snapshot(path, version_as_of=0).adds)
    assert deltalog.vacuum(spark, path, retain_versions=3) == []
    assert {v: keys(v) for v in range(4)} == want
    feed = deltalog.read_changes(spark, path, starting_version=-1)
    counts = {r[0]: r[1] for r in feed.groupBy("_change_type").count().collect()}
    assert counts == {"insert": 6, "delete": 3}

    deltalog.cleanup_log_before_checkpoint(path)
    assert deltalog.vacuum(spark, path, retain_versions=3) == v0_files
    assert keys(2) == want[2] and keys(3) == want[3]
    assert deltalog.vacuum(spark, path, retain_versions=3) == []
