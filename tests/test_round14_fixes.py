"""Round-14 robustness fixes.

Manifest sweep ownership guard (VERDICT r13 what's-wrong 1): the TTL
sweep must never delete a manifest dir owned by a DIFFERENT
still-running process — its lazy snapshot frames may not have
materialized yet.  Dead-owner, ownerless (pre-r14), and own-process
dirs keep the plain TTL backstop.
"""

from __future__ import annotations

import os
import subprocess
import sys

from cdc_pipe_line_spark import manifest_scan as ms


def _forge_aged(leaf: str, owner: int | None) -> str:
    d = os.path.join(ms.MANIFEST_ROOT, leaf)
    os.makedirs(d, exist_ok=True)
    if owner is not None:
        with open(os.path.join(d, ms.OWNER_PID_FILE), "w") as fh:
            fh.write(str(owner))
    os.utime(d, (1, 1))
    return d


def test_sweep_spares_live_foreign_owner_and_reaps_the_rest():
    # a live FOREIGN process: a real child that outlives the sweep
    child = subprocess.Popen(
        [sys.executable, "-c", "import time; time.sleep(60)"]
    )
    try:
        live_foreign = _forge_aged("aged-live-owner", child.pid)
        # a DEAD owner: a child that has already exited
        dead = subprocess.Popen([sys.executable, "-c", "pass"])
        dead.wait()
        dead_owner = _forge_aged("aged-dead-owner", dead.pid)
        ownerless = _forge_aged("aged-no-owner", None)
        own = _forge_aged("aged-own-pid", os.getpid())
        garbled = _forge_aged("aged-garbled-owner", None)
        with open(os.path.join(garbled, ms.OWNER_PID_FILE), "w") as fh:
            fh.write("not-a-pid")
        os.utime(garbled, (1, 1))  # creating the file bumped dir mtime

        ms._sweep_aged()

        assert os.path.isdir(live_foreign), (
            "sweep deleted a manifest owned by a live foreign process"
        )
        assert not os.path.isdir(dead_owner)
        assert not os.path.isdir(ownerless)
        assert not os.path.isdir(own)
        assert not os.path.isdir(garbled)

        # once the foreign owner dies, the TTL backstop reaps its dir
        child.kill()
        child.wait()
        ms._sweep_aged()
        assert not os.path.isdir(live_foreign)
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()


def test_sweep_keeps_fresh_dirs_regardless_of_owner():
    d = os.path.join(ms.MANIFEST_ROOT, "fresh-foreign")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, ms.OWNER_PID_FILE), "w") as fh:
        fh.write("999999999")  # dead / impossible pid, but dir is young
    try:
        ms._sweep_aged()
        assert os.path.isdir(d)
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


def test_scan_writes_owner_pid(spark, monkeypatch):
    import shutil

    from cdc_pipe_line_spark import deltalog

    path = "/tmp/cdc_r14_owner_pid"
    shutil.rmtree(path, ignore_errors=True)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k int, v double"
    )
    deltalog.create_table(spark, df.filter("k < 5"), path)
    deltalog.append(spark, df.filter("k >= 5"), path)
    mark = ms.manifest_mark()
    monkeypatch.setattr(ms, "DEFAULT_THRESHOLD", 1)
    snap = deltalog.read_snapshot(spark, path)
    assert snap.count() == 10
    created = ms._SESSION_MANIFESTS[mark:]
    assert created
    for d in created:
        pid_file = os.path.join(d, ms.OWNER_PID_FILE)
        assert os.path.isfile(pid_file)
        assert int(open(pid_file).read()) == os.getpid()
    ms.release_after(mark)
