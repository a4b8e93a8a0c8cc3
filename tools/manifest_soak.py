"""Manifest-route soak at a REAL over-threshold live-file count
(VERDICT r12 next-item 7): stage a table whose live set crosses
manifest_scan.DEFAULT_THRESHOLD (50k), then

  (a) read the snapshot through the DEFAULT gate (manifest route) and
      through a forced driver-list path, comparing wall clock and
      driver max-RSS;
  (b) run a DML whose candidate census crosses the threshold (the
      over-threshold LOCATE shape) and verify the mutation.

Prints one JSON line per leg.  Usage:
    python tools/manifest_soak.py [n_files] [rows_per_file]
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_FILES = int(sys.argv[1]) if len(sys.argv) > 1 else 60_000
ROWS_PER_FILE = int(sys.argv[2]) if len(sys.argv) > 2 else 20
PER_APPEND = 500


def rss_mb() -> float:
    return round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1)


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from cdc_pipe_line_spark import deltalog, manifest_scan

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", os.environ.get("SIM_DRIVER_MEM", "4g"))
        .getOrCreate()
    )
    base = "/tmp/cdc_r13_soak/manifest_big"
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)

    t0 = time.time()
    n_appends = N_FILES // PER_APPEND
    for a in range(n_appends):
        chunk = spark.range(
            a * PER_APPEND * ROWS_PER_FILE,
            (a + 1) * PER_APPEND * ROWS_PER_FILE,
        ).select(
            F.col("id").cast("bigint").alias("k"),
            (F.col("id") % 97).cast("double").alias("v"),
        )
        if a == 0:
            deltalog.create_table(spark, chunk, base, n_files=PER_APPEND)
        else:
            deltalog.append(spark, chunk, base, n_files=PER_APPEND)
    t_stage = time.time() - t0
    print(
        json.dumps(
            {
                "leg": "stage",
                "n_files": N_FILES,
                "rows": N_FILES * ROWS_PER_FILE,
                "stage_sec": round(t_stage, 1),
                "rss_mb": rss_mb(),
            }
        ),
        flush=True,
    )
    # at/over 50k files the DEFAULT gate crosses into the manifest
    # route; a smaller smoke run forces the gate down instead
    default = manifest_scan.DEFAULT_THRESHOLD
    thr = default if N_FILES > default else N_FILES // 2

    # (a) snapshot read: manifest route
    rss_before = rss_mb()
    t0 = time.time()
    manifest_scan.DEFAULT_THRESHOLD = thr
    man = (
        deltalog.read_snapshot(spark, base)
        .agg(F.count("*").alias("n"), F.sum("k").alias("s"))
        .first()
    )
    t_man = time.time() - t0
    rss_man = rss_mb()
    # forced driver-list path for comparison
    t0 = time.time()
    manifest_scan.DEFAULT_THRESHOLD = 10**9
    nat = (
        deltalog.read_snapshot(spark, base)
        .agg(F.count("*").alias("n"), F.sum("k").alias("s"))
        .first()
    )
    t_nat = time.time() - t0
    rss_nat = rss_mb()
    print(
        json.dumps(
            {
                "leg": "read",
                "manifest_sec": round(t_man, 1),
                "driver_list_sec": round(t_nat, 1),
                "checksum_equal": (man["n"], man["s"]) == (nat["n"], nat["s"]),
                "rss_mb_before": rss_before,
                "rss_mb_after_manifest": rss_man,
                "rss_mb_after_driver_list": rss_nat,
            }
        ),
        flush=True,
    )
    assert (man["n"], man["s"]) == (nat["n"], nat["s"])

    # (b) DML census over the threshold: the LOCATE scan runs through
    # the manifest route; only the matched files rewrite
    def _man_dirs() -> set:
        if not os.path.isdir(manifest_scan.MANIFEST_ROOT):
            return set()
        return set(os.listdir(manifest_scan.MANIFEST_ROOT))

    dirs_before = _man_dirs()
    t0 = time.time()
    manifest_scan.DEFAULT_THRESHOLD = thr
    deltalog.delete_where(spark, base, f"k < {ROWS_PER_FILE * 20}")
    manifest_scan.DEFAULT_THRESHOLD = default
    t_dml = time.time() - t0
    n_after = deltalog.read_snapshot(spark, base).count()
    orphans = len(_man_dirs() - dirs_before)
    print(
        json.dumps(
            {
                "leg": "dml",
                "delete_sec": round(t_dml, 1),
                "rows_after": n_after,
                "rows_expected": N_FILES * ROWS_PER_FILE
                - ROWS_PER_FILE * 20,
                "manifest_dirs_left": orphans,
                "rss_mb": rss_mb(),
            }
        ),
        flush=True,
    )
    assert n_after == N_FILES * ROWS_PER_FILE - ROWS_PER_FILE * 20
    spark.stop()
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
