"""Write-amplification A/B: the same small mutation applied
copy-on-write vs merge-on-read (deletion vectors), measuring BYTES
WRITTEN and wall time — the quantified form of the round-12 claim
that DVs remove the COW amplification behind the reference's
1.4-19.3 s single-row UPDATEs (BASELINE.md).

Two identical tables are staged from the sf events table (one file
per day bucket); each takes the same ~0.1%-selectivity UPDATE; bytes
written = sum of all NEW files the commit added (data + sidecars +
change data).  Prints one JSON line.

Usage: python tools/dv_amp_soak.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def _tree_bytes(path: str) -> dict[str, int]:
    out = {}
    for root, _d, files in os.walk(path):
        if "_delta_log" in root:
            continue
        for f in files:
            # data files + deletion-vector payloads (spec .bin since
            # r13; inline vectors live in the log and cost ~0 bytes)
            if f.endswith(".parquet") or (
                f.startswith("deletion_vector_") and f.endswith(".bin")
            ):
                full = os.path.join(root, f)
                out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from cdc_pipe_line_spark import deltalog

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    ev = spark.read.parquet(os.path.join(SF, "events.parquet")).select(
        "event_id", "user_id", "ts", "value"
    )
    n = ev.count()
    # ~0.1% of rows, spread across every file
    sel = max(1, round(n * 0.001))
    cond = f"event_id % {n // sel} = 0"
    results = {}
    for mode in ("cow", "dv"):
        base = f"/tmp/cdc_r12_amp/{mode}"
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        deltalog.create_table(spark, ev, base, n_files=16)
        if mode == "dv":
            deltalog.enable_deletion_vectors(spark, base)
        before = _tree_bytes(base)
        t0 = time.time()
        deltalog.update_where(spark, base, cond, {"value": "value + 1.0"})
        wall = time.time() - t0
        after = _tree_bytes(base)
        new_bytes = sum(
            v for k, v in after.items() if k not in before
        )
        table_bytes = sum(before.values())
        rows = deltalog.read_snapshot(spark, base).count()
        results[mode] = {
            "update_sec": round(wall, 2),
            "bytes_written": new_bytes,
            "table_bytes": table_bytes,
            "write_amp_pct": round(100.0 * new_bytes / table_bytes, 2),
            "rows_after": rows,
        }
    out = {
        "n_rows": n,
        "approx_rows_mutated": sel,
        "cow": results["cow"],
        "dv": results["dv"],
        "amp_ratio_cow_over_dv": round(
            results["cow"]["bytes_written"]
            / max(1, results["dv"]["bytes_written"]),
            1,
        ),
    }
    print(json.dumps(out))
    assert results["cow"]["rows_after"] == results["dv"]["rows_after"] == n
    spark.stop()


if __name__ == "__main__":
    main()
