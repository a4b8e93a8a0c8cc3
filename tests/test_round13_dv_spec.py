"""Spec-encoded deletion vectors wired through the native Delta layer
(VERDICT r12 next-items 2+3): DML writes inline / z85-named roaring
vectors, sequential mutations merge, corrupt vectors RAISE on both
scan routes, legacy parquet sidecars stay readable, and checkpoints
carry the full descriptor."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from cdc_pipe_line_spark import deltalog, dvbitmap, manifest_scan

BASE = "/tmp/cdc_r13_dvspec"


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


def _live_dvs(spark, path):
    return {
        r.path: {
            k: v for k, v in r.deletionVector.asDict().items()
            if v is not None
        }
        for r in deltalog.live_files(
            deltalog.read_log_actions(spark, path)
        ).collect()
        if r.deletionVector is not None
    }


def test_tiny_dml_inlines_vector(spark):
    path = _fresh("inline")
    _stage(spark, path)
    deltalog.delete_where(spark, path, "k % 5 = 0")
    dvs = _live_dvs(spark, path)
    assert len(dvs) == 2
    for d in dvs.values():
        assert d["storageType"] == "i"
        assert "offset" not in d
        # inline payload decodes through the z85 + roaring codec
        idx = dvbitmap.read_dv(path, d)
        assert idx.size == d["cardinality"]
    # nothing on disk: no .bin, no legacy sidecar dir
    assert not any(
        f.startswith("deletion_vector_") for f in os.listdir(path)
    )
    assert not os.path.isdir(os.path.join(path, "_deletion_vectors"))
    assert sorted(
        r.k for r in deltalog.read_snapshot(spark, path).collect()
    ) == [k for k in range(20) if k % 5]


def test_large_dml_writes_z85_named_bin(spark):
    path = _fresh("bin")
    _stage(spark, path, n=4000, files=2)
    deltalog.delete_where(spark, path, "k % 3 = 0")
    dvs = _live_dvs(spark, path)
    assert len(dvs) == 2
    for d in dvs.values():
        assert d["storageType"] == "u"
        assert d["offset"] == 1
        assert len(d["pathOrInlineDv"]) == 20  # bare z85 uuid
        rel = dvbitmap.dv_file_relpath(d)
        assert os.path.basename(rel).startswith("deletion_vector_")
        assert rel.endswith(".bin")
        assert os.path.exists(os.path.join(path, rel))
        idx = dvbitmap.read_dv(path, d)
        assert idx.size == d["cardinality"]
    assert deltalog.read_snapshot(spark, path).count() == sum(
        1 for k in range(4000) if k % 3
    )


def test_sequential_dml_merges_vectors(spark):
    path = _fresh("merge_seq")
    _stage(spark, path)
    deltalog.delete_where(spark, path, "k = 4")
    deltalog.delete_where(spark, path, "k = 8")
    deltalog.delete_where(spark, path, "k in (2, 16)")
    dvs = _live_dvs(spark, path)
    total = sum(d["cardinality"] for d in dvs.values())
    assert total == 4
    assert sorted(
        r.k for r in deltalog.read_snapshot(spark, path).collect()
    ) == [k for k in range(20) if k not in (2, 4, 8, 16)]


def test_inline_grows_into_bin_on_merge(spark):
    path = _fresh("grow")
    _stage(spark, path, n=4000, files=1)
    deltalog.delete_where(spark, path, "k = 7")  # tiny → inline
    (d0,) = _live_dvs(spark, path).values()
    assert d0["storageType"] == "i"
    deltalog.delete_where(spark, path, "k % 3 = 0")  # big → .bin
    (d1,) = _live_dvs(spark, path).values()
    assert d1["storageType"] == "u"
    assert d1["cardinality"] == 1 + sum(
        1 for k in range(4000) if k % 3 == 0 and k != 7
    )
    assert deltalog.read_snapshot(spark, path).count() == 4000 - d1[
        "cardinality"
    ]


def test_corrupt_bin_raises_on_both_routes(spark, monkeypatch):
    path = _fresh("corrupt")
    _stage(spark, path, n=4000, files=2)
    deltalog.delete_where(spark, path, "k % 3 = 0")
    dvs = _live_dvs(spark, path)
    rel = dvbitmap.dv_file_relpath(next(iter(dvs.values())))
    full = os.path.join(path, rel)
    raw = bytearray(open(full, "rb").read())
    raw[60] ^= 0xFF
    open(full, "wb").write(bytes(raw))
    with pytest.raises(Exception, match="CRC|corrupt"):
        deltalog.read_snapshot(spark, path).count()
    monkeypatch.setattr(manifest_scan, "DEFAULT_THRESHOLD", 1)
    with pytest.raises(Exception, match="CRC|corrupt"):
        deltalog.read_snapshot(spark, path).count()


def test_out_of_range_index_raises_on_both_routes(spark, monkeypatch):
    path = _fresh("oob")
    _stage(spark, path, n=20, files=1)
    # hand-commit a descriptor whose vector points past the file's end
    lf = deltalog.live_files(
        deltalog.read_log_actions(spark, path)
    ).collect()
    (row,) = lf
    bad = dvbitmap.make_descriptor(path, np.array([999], dtype=np.uint64))
    deltalog.commit(
        path,
        [
            {"remove": {"path": row.path, "dataChange": True}},
            {
                "add": {
                    "path": row.path,
                    "size": row.size,
                    "dataChange": True,
                    "stats": row.stats,
                    "deletionVector": bad,
                }
            },
            {"commitInfo": {"operation": "TEST OOB"}},
        ],
    )
    with pytest.raises(Exception, match="out of range"):
        deltalog.read_snapshot(spark, path).count()
    monkeypatch.setattr(manifest_scan, "DEFAULT_THRESHOLD", 0)
    with pytest.raises(Exception, match="out of range"):
        deltalog.read_snapshot(spark, path).count()


def test_wrong_cardinality_raises(spark):
    path = _fresh("badcard")
    _stage(spark, path, n=20, files=1)
    lf = deltalog.live_files(
        deltalog.read_log_actions(spark, path)
    ).collect()
    (row,) = lf
    d = dvbitmap.make_descriptor(path, np.array([1, 3], dtype=np.uint64))
    d["cardinality"] = 5  # lies about the vector's size
    deltalog.commit(
        path,
        [
            {"remove": {"path": row.path, "dataChange": True}},
            {
                "add": {
                    "path": row.path,
                    "size": row.size,
                    "dataChange": True,
                    "stats": row.stats,
                    "deletionVector": d,
                }
            },
            {"commitInfo": {"operation": "TEST BADCARD"}},
        ],
    )
    with pytest.raises(Exception, match="cardinality"):
        deltalog.read_snapshot(spark, path).count()


def test_legacy_parquet_sidecar_table_reads(spark):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _fresh("legacy")
    _stage(spark, path, n=20, files=1)
    lf = deltalog.live_files(
        deltalog.read_log_actions(spark, path)
    ).collect()
    (row,) = lf
    os.makedirs(os.path.join(path, "_deletion_vectors"))
    rel = os.path.join("_deletion_vectors", "dv-legacy.parquet")
    pq.write_table(
        pa.table({"row_index": pa.array([0, 5], type=pa.int64())}),
        os.path.join(path, rel),
    )
    legacy = {
        "storageType": "u",
        "pathOrInlineDv": rel,
        "sizeInBytes": os.path.getsize(os.path.join(path, rel)),
        "cardinality": 2,
    }
    deltalog.commit(
        path,
        [
            {"remove": {"path": row.path, "dataChange": True}},
            {
                "add": {
                    "path": row.path,
                    "size": row.size,
                    "dataChange": True,
                    "stats": row.stats,
                    "deletionVector": legacy,
                }
            },
            {"commitInfo": {"operation": "TEST LEGACY"}},
        ],
    )
    got = sorted(
        r.k for r in deltalog.read_snapshot(spark, path).collect()
    )
    assert got == [k for k in range(20) if k not in (0, 5)]
    # a FURTHER mutation merges the legacy rows into a spec vector
    deltalog.delete_where(spark, path, "k = 9")
    (d,) = _live_dvs(spark, path).values()
    assert d["cardinality"] == 3
    assert not d["pathOrInlineDv"].endswith(".parquet")
    assert deltalog.read_snapshot(spark, path).count() == 17


def test_checkpoint_and_restore_carry_spec_descriptors(spark):
    path = _fresh("ckpt")
    _stage(spark, path, n=4000, files=2)
    v = deltalog.delete_where(spark, path, "k % 3 = 0")
    expect = sum(1 for k in range(4000) if k % 3)
    deltalog.write_checkpoint(spark, path)
    deltalog.cleanup_log_before_checkpoint(path)
    assert deltalog.read_snapshot(spark, path).count() == expect
    dvs = _live_dvs(spark, path)
    assert all(
        d["storageType"] == "u" and d["offset"] == 1 for d in dvs.values()
    )
    # restore on top of the checkpointed state keeps descriptors exact
    deltalog.append(
        spark,
        spark.createDataFrame(
            [(9999, "z", 1.0)], "k int, s string, v double"
        ),
        path,
    )
    deltalog.restore(spark, path, v)
    assert deltalog.read_snapshot(spark, path).count() == expect


def test_cdf_masks_restored_dv_file_insert_leg(spark):
    # RESTORE re-adds a DV-carrying file in a commit WITHOUT cdc
    # actions: the insert leg must mask the vector's rows, not
    # re-emit them (ADVICE r12 medium)
    path = _fresh("cdf_restore")
    _stage(spark, path, n=20, files=1)                     # v0..v2
    v_dml = deltalog.delete_where(spark, path, "k < 5")    # v3: DV
    big = spark.createDataFrame(
        [(100 + i, "o", 0.0) for i in range(3)],
        "k int, s string, v double",
    )
    deltalog.overwrite(spark, big, path)                   # v4
    v_restore = deltalog.restore(spark, path, v_dml)       # v5: re-add
    ch = deltalog.read_changes(spark, path, starting_version=v_restore - 1)
    ins = sorted(
        r.k for r in ch.filter("_change_type = 'insert'").collect()
    )
    assert ins == list(range(5, 20))  # masked rows never re-emitted
    assert deltalog.read_snapshot(spark, path).count() == 15


def test_cdf_masks_overwrite_delete_leg_over_dv_file(spark):
    # OVERWRITE tombstones a file that was live WITH a vector: the
    # delete leg reports only the rows live at the predecessor
    # version — the DV'd rows' deletion was already surfaced by the
    # DV-DML commit's cdc file
    path = _fresh("cdf_ow")
    _stage(spark, path, n=20, files=1)                     # v0..v2
    deltalog.delete_where(spark, path, "k < 5")            # v3: DV
    big = spark.createDataFrame(
        [(200, "o", 0.0)], "k int, s string, v double"
    )
    v_ow = deltalog.overwrite(spark, big, path)            # v4
    ch = deltalog.read_changes(
        spark, path, starting_version=v_ow - 1, ending_version=v_ow
    )
    dels = sorted(
        r.k for r in ch.filter("_change_type = 'delete'").collect()
    )
    assert dels == list(range(5, 20))
    ins = [r.k for r in ch.filter("_change_type = 'insert'").collect()]
    assert ins == [200]


@pytest.mark.slow
def test_manifest_lifecycle_no_orphans_after_dml(spark, monkeypatch):
    # over-threshold DML censuses plan manifests; the statement must
    # release them on return — success AND failure (VERDICT r12
    # what's-wrong 4)
    from cdc_pipe_line_spark import manifest_scan as ms

    path = _fresh("man_life")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "k int, v double"
    )
    deltalog.create_table(spark, df.filter("k < 20"), path)
    deltalog.append(spark, df.filter("k >= 20"), path)
    before = set(os.listdir(ms.MANIFEST_ROOT)) if os.path.isdir(
        ms.MANIFEST_ROOT
    ) else set()
    with monkeypatch.context() as m:
        m.setattr(ms, "DEFAULT_THRESHOLD", 1)
        deltalog.delete_where(spark, path, "k % 4 = 0")
    after = set(os.listdir(ms.MANIFEST_ROOT)) if os.path.isdir(
        ms.MANIFEST_ROOT
    ) else set()
    assert after - before == set()
    assert deltalog.read_snapshot(spark, path).count() == 30
    # failure path: a constraint violation aborts the statement
    # mid-flight; the finally still releases its manifests
    deltalog.add_constraint(spark, path, "v_cap", "v < 1000")
    monkeypatch.setattr(ms, "DEFAULT_THRESHOLD", 1)
    with pytest.raises(ValueError, match="v_cap"):
        deltalog.update_where(spark, path, "k = 1", {"v": "9999.0"})
    after2 = set(os.listdir(ms.MANIFEST_ROOT)) if os.path.isdir(
        ms.MANIFEST_ROOT
    ) else set()
    assert after2 - before == set()


@pytest.mark.slow
def test_manifest_ttl_sweep_and_session_cleanup(spark, monkeypatch):
    from cdc_pipe_line_spark import manifest_scan as ms

    path = _fresh("man_ttl")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "k int, v double"
    )
    deltalog.create_table(spark, df.filter("k < 20"), path)
    deltalog.append(spark, df.filter("k >= 20"), path)
    mark = ms.manifest_mark()
    monkeypatch.setattr(ms, "DEFAULT_THRESHOLD", 1)
    snap = deltalog.read_snapshot(spark, path)
    assert snap.count() == 40
    created = ms._SESSION_MANIFESTS[mark:]
    assert created and all(os.path.isdir(d) for d in created)
    # an aged dir is swept by the NEXT scan (TTL route)
    old = os.path.join(ms.MANIFEST_ROOT, "aged-fixture")
    os.makedirs(old, exist_ok=True)
    os.utime(old, (1, 1))
    deltalog.read_snapshot(spark, path).count()
    assert not os.path.isdir(old)
    # session cleanup removes everything this process registered
    ms._cleanup_session()
    assert not any(os.path.isdir(d) for d in created)
    assert ms.manifest_mark() == 0


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("delete"),
            st.integers(min_value=2, max_value=7),
            st.integers(min_value=0, max_value=6),
        ),
        st.tuples(
            st.just("update"),
            st.integers(min_value=2, max_value=7),
            st.integers(min_value=0, max_value=6),
        ),
        st.tuples(st.just("compact"), st.just(0), st.just(0)),
    ),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_ops)
@pytest.mark.slow
def test_random_dv_dml_sequences_match_pandas_model(spark, ops):
    """Randomized DELETE/UPDATE/OPTIMIZE sequences on a DV-enabled
    table must equal a pandas replay — final snapshot AND time travel
    to every committed version (the merge-on-read layer's masks,
    merged vectors, and absorb-on-compact all under one oracle)."""
    import pandas as pd

    path = _fresh("prop_seq")
    n = 60
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(n)], "k int, v double"
    )
    deltalog.create_table(spark, df.filter(F.col("k") < n // 2), path)
    deltalog.append(spark, df.filter(F.col("k") >= n // 2), path)
    deltalog.enable_deletion_vectors(spark, path)
    state = pd.DataFrame({"k": range(n), "v": [float(i) for i in range(n)]})
    snapshots = {}
    for op, m, r in ops:
        if op == "delete":
            ver = deltalog.delete_where(spark, path, f"k % {m} = {r}")
            state = state[(state.k % m) != r]
        elif op == "update":
            ver = deltalog.update_where(
                spark, path, f"k % {m} = {r}", {"v": "v + 100.0"}
            )
            state = state.copy()
            state.loc[(state.k % m) == r, "v"] += 100.0
        else:
            ver = deltalog.compact(spark, path)
        snapshots[ver] = state.copy()

    def _check(got_df, want: pd.DataFrame):
        got = sorted((r.k, r.v) for r in got_df.collect())
        want_rows = sorted(zip(want.k.tolist(), want.v.tolist()))
        assert got == want_rows

    _check(deltalog.read_snapshot(spark, path), state)
    for ver, snap in snapshots.items():
        _check(
            deltalog.read_snapshot(spark, path, version_as_of=ver), snap
        )
