"""Soak for the round-12 driver-boundedness work (VERDICT r11
next-item 1): (a) a 10⁵-add-action log checkpoints DISTRIBUTED
(multi-part, no single-task funnel) and reconstructs; (b) a
2000-file table reads through the manifest-fed DataSource with a
driver census bounded by the threshold, matching the native scan's
checksum.  Prints one JSON line per leg; wall times land in
BENCH_NOTES.

Usage: python tools/ckpt_soak.py [n_fake_adds] [n_real_files]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ADDS = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
N_FILES = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000


def main() -> None:
    from pyspark.sql import SparkSession

    from cdc_pipe_line_spark import deltalog, manifest_scan

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )

    # ---- leg 1: 10^5-add-action checkpoint, written distributed ----
    base = "/tmp/cdc_r12_soak/ckpt"
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    df = spark.createDataFrame([(1, 1.0)], "k int, v double")
    deltalog.create_table(spark, df, base)
    stats = json.dumps(
        {"numRecords": 10, "minValues": {"k": 0}, "maxValues": {"k": 9},
         "nullCount": {"k": 0}}
    )
    per_commit = 10_000
    t0 = time.time()
    for c in range(N_ADDS // per_commit):
        adds = [
            {
                "add": {
                    "path": f"part-fake-{c:04d}-{i:06d}.parquet",
                    "size": 1000,
                    "dataChange": True,
                    "stats": stats,
                }
            }
            for i in range(per_commit)
        ]
        deltalog.commit(
            base, [*adds, {"commitInfo": {"operation": "WRITE"}}]
        )
    t_log = time.time() - t0

    t0 = time.time()
    ver = deltalog.write_checkpoint(spark, base, actions_per_part=10_000)
    t_ckpt = time.time() - t0
    log_dir = os.path.join(base, "_delta_log")
    parts = [
        f for f in os.listdir(log_dir)
        if ".checkpoint." in f and f.endswith(".parquet")
    ]
    deltalog.cleanup_log_before_checkpoint(base)
    t0 = time.time()
    n_live = deltalog.live_files(
        deltalog.read_log_actions(spark, base)
    ).count()
    t_replay = time.time() - t0
    print(json.dumps({
        "leg": "checkpoint",
        "n_adds": N_ADDS,
        "ckpt_version": ver,
        "ckpt_parts": len(parts),
        "n_live_after_cleanup": n_live,
        "log_write_sec": round(t_log, 2),
        "ckpt_write_sec": round(t_ckpt, 2),
        "replay_sec": round(t_replay, 2),
    }))
    assert len(parts) >= 10, parts
    assert n_live == N_ADDS + 1, n_live

    # ---- leg 2: manifest-fed scan over N_FILES real files ----
    base2 = "/tmp/cdc_r12_soak/manifest"
    shutil.rmtree(base2, ignore_errors=True)
    os.makedirs(base2, exist_ok=True)
    rows_per_file = 50
    per_append = 200
    t0 = time.time()
    from pyspark.sql import functions as F

    n_appends = N_FILES // per_append
    for a in range(n_appends):
        chunk = (
            spark.range(
                a * per_append * rows_per_file,
                (a + 1) * per_append * rows_per_file,
            )
            .select(
                F.col("id").cast("bigint").alias("k"),
                (F.col("id") % 97).cast("double").alias("v"),
            )
        )
        if a == 0:
            deltalog.create_table(spark, chunk, base2, n_files=per_append)
        else:
            deltalog.append(spark, chunk, base2, n_files=per_append)
    t_stage = time.time() - t0

    t0 = time.time()
    native = deltalog.read_snapshot(spark, base2).agg(
        F.count("*").alias("n"), F.sum("k").alias("s")
    ).first()
    t_native = time.time() - t0
    t0 = time.time()
    manifest_scan.DEFAULT_THRESHOLD = 100
    man = deltalog.read_snapshot(spark, base2).agg(
        F.count("*").alias("n"), F.sum("k").alias("s")
    ).first()
    t_manifest = time.time() - t0
    print(json.dumps({
        "leg": "manifest_scan",
        "n_files": N_FILES,
        "stage_sec": round(t_stage, 2),
        "native_scan_sec": round(t_native, 2),
        "manifest_scan_sec": round(t_manifest, 2),
        "rows": man["n"],
        "checksum_equal": (native["n"], native["s"]) == (man["n"], man["s"]),
    }))
    assert (native["n"], native["s"]) == (man["n"], man["s"])
    spark.stop()


if __name__ == "__main__":
    main()
