"""Spark jobs, codegen compiles and wall time per native-Delta call site.

    python tools/job_census.py [--seed 1]

Run from the repository root.  The tool replays one steady operation of
the ``snapshot_sync`` benchmark workload (``perfbench/``) with the same
input generator (``perfbench/gen.py`` ``OrdersSnapshots``), the same
warm-up and the same reads: the seeded orders uploads land on a native
Delta SCD2 table through the public functions (``snapshot_diff`` →
``to_cdc_events`` → ``apply_scd2_delta``), first the full load, then the
workload's warm-up uploads, then one censused round of an upload, the
current point reads, one as-of point read, the commit's one-version
``read_changes`` and the anomaly refresh over the whole change feed.

The census wraps the pyspark entry points that can launch jobs (actions,
writes, schema-inferring reads, ``createDataFrame``) from outside the
engine.  Each wrapped call runs under its own job group; its jobs and
seconds are charged to the innermost ``deltalog.py`` or
``delta_merge.py`` frame on the Python stack (other frames of the
package when neither is on it).  Jobs a phase launched outside every
wrapped call are listed as ``(unattributed)``.  Next to jobs, every phase
and call site shows its codegen compiles: the classes Spark's code
generator compiled meanwhile (the count of ``CodegenMetrics``'
compilation-time histogram), which shows whether the codegen cache
(``spark.sql.codegen.cache.maxEntries``) holds the round's classes or
recompiles them.  The engine itself is not modified; the scratch table
lives in a temporary directory that is removed at exit.
"""

from __future__ import annotations

import argparse
import functools
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the benchmark's modules import each other by bare name, as run.py
# puts its own directory on the path
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

PKG = os.path.join(ROOT, "cdc_pipe_line_spark") + os.sep
FOCUS = ("deltalog.py", "delta_merge.py")


class Census:
    """Per-phase, per-call-site job, compile and time totals."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.st = self.sc.statusTracker()
        self.phase: str | None = None
        self.group: str | None = None
        self.n = 0
        self.depth = 0
        # phase -> site -> [calls, jobs, compiles, seconds]
        self.sites: dict = defaultdict(lambda: defaultdict(lambda: [0, 0, 0, 0.0]))
        self.phase_s: dict[str, float] = {}
        self.phase_c: dict[str, int] = {}
        # local mode: the executors compile in the driver JVM too
        self._codegen = (
            spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME()
        )

    def compiles(self) -> int:
        return self._codegen.getCount()

    def _new_group(self) -> str:
        self.n += 1
        return f"job-census-{self.n}"

    def _jobs(self, group: str) -> int:
        return len(self.st.getJobIdsForGroup(group))

    def run_phase(self, name: str, fn):
        self.phase, self.group = name, self._new_group()
        self.sc.setJobGroup(self.group, name)
        t0, c0 = time.perf_counter(), self.compiles()
        try:
            return fn()
        finally:
            self.phase_s[name] = time.perf_counter() - t0
            self.phase_c[name] = self.compiles() - c0
            self.sc._jsc.clearJobGroup()
            stray = self._jobs(self.group)
            stray_c = self.phase_c[name] - sum(
                r[2] for r in self.sites[name].values()
            )
            if stray or stray_c:
                rec = self.sites[name]["(unattributed)"]
                rec[1] += stray
                rec[2] += stray_c
            self.phase = self.group = None

    @staticmethod
    def site() -> str:
        """The innermost deltalog/delta_merge frame, else the innermost
        package frame, else ``(caller)``."""
        f = sys._getframe(2)
        fallback = None
        while f is not None:
            path = f.f_code.co_filename
            if path.startswith(PKG):
                rel = os.path.relpath(path, PKG)
                label = f"{rel}:{f.f_lineno} {f.f_code.co_name}"
                if os.path.basename(path) in FOCUS:
                    return label
                fallback = fallback or label
            f = f.f_back
        return fallback or "(caller)"

    def wrap(self, owner, name: str) -> None:
        orig = getattr(owner, name)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if self.phase is None or self.depth:
                return orig(*args, **kwargs)
            site = self.site()
            group = self._new_group()
            self.depth += 1
            self.sc.setJobGroup(group, site)
            t0, c0 = time.perf_counter(), self.compiles()
            try:
                return orig(*args, **kwargs)
            finally:
                elapsed = time.perf_counter() - t0
                self.depth -= 1
                self.sc.setJobGroup(self.group, self.phase)
                rec = self.sites[self.phase][f"{name:<16} {site}"]
                rec[0] += 1
                rec[1] += self._jobs(group)
                rec[2] += self.compiles() - c0
                rec[3] += elapsed

        setattr(owner, name, wrapper)

    def install(self, spark) -> None:
        # the concrete classes the session hands out (the classic
        # DataFrame overrides the methods of pyspark.sql.DataFrame)
        df = spark.range(1)
        for n in ("collect", "count", "first", "head", "take", "toPandas",
                  "toLocalIterator", "localCheckpoint", "checkpoint"):
            self.wrap(type(df), n)
        for n in ("save", "parquet", "json", "csv", "saveAsTable", "insertInto"):
            self.wrap(type(df.write), n)
        for n in ("load", "parquet", "json", "csv", "table"):
            self.wrap(type(spark.read), n)
        self.wrap(type(spark), "createDataFrame")

    def report(self) -> None:
        total_jobs = 0
        for phase, sites in self.sites.items():
            jobs = sum(r[1] for r in sites.values())
            total_jobs += jobs
            print(
                f"\n== {phase}: {jobs} jobs, {self.phase_c[phase]} compiles, "
                f"{self.phase_s[phase]:.3f} s"
            )
            print(f"{'calls':>5} {'jobs':>5} {'compiles':>8} {'seconds':>8}  call")
            for site, (calls, j, c, s) in sorted(
                sites.items(), key=lambda kv: (-kv[1][1], -kv[1][3])
            ):
                print(f"{calls:>5} {j:>5} {c:>8} {s:>8.3f}  {site}")
        wall = sum(self.phase_s.values())
        compiles = sum(self.phase_c.values())
        print(f"\ntotal: {total_jobs} jobs, {compiles} compiles, {wall:.3f} s")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from cdc_pipe_line_spark import deltalog
    from cdc_pipe_line_spark.cdc.diff import snapshot_diff, to_cdc_events
    from cdc_pipe_line_spark.delta_merge import apply_scd2_delta
    from cdc_pipe_line_spark.session import get_spark
    from cdc_pipe_line_spark.timeseries import (
        daily_counts,
        gap_fill_daily,
        rolling_zscore,
    )
    from gen import OrdersSnapshots
    from workloads import SnapshotSync

    key = OrdersSnapshots.KEY
    work = tempfile.mkdtemp(prefix="job-census-")
    spark = get_spark(app_name="job-census")
    spark.sparkContext.setLogLevel("ERROR")
    table = os.path.join(work, "orders_scd2")
    gen = OrdersSnapshots(args.seed)
    rng = np.random.default_rng(args.seed + 7)
    prev = None

    def land() -> None:
        nonlocal prev
        path = os.path.join(work, f"u{gen.uploads:05d}.parquet")
        gen.write(path)
        new = spark.read.parquet(path)
        old = spark.read.parquet(prev) if prev else None
        events = to_cdc_events(
            snapshot_diff(new, old, key),
            company_id="acme",
            table_name="orders",
            key_column=key,
            event_time=F.lit(gen.event_time(gen.uploads)).cast("timestamp"),
        )
        apply_scd2_delta(spark, table, events)
        prev = path

    def point(k: str, version_as_of=None):
        return (
            deltalog.read_snapshot(spark, table, version_as_of=version_as_of)
            .filter((F.col("key_value") == k) & F.col("is_current"))
            .select(F.to_json("data").alias("data"))
            .collect()
        )

    def anomaly():
        feed = deltalog.read_changes(spark, table, starting_version=-1)
        daily = daily_counts(feed, ts_col="valid_from", group_cols=["_change_type"])
        filled = gap_fill_daily(daily, group_cols=["_change_type"])
        return rolling_zscore(filled, group_cols=["_change_type"]).collect()

    try:
        land()
        for _ in range(SnapshotSync.warmup_ops):
            gen.next_upload()
            land()
        census = Census(spark)
        census.install(spark)
        gen.next_upload()
        v = gen.uploads
        live = gen.cols[key]
        keys = [str(live[i]) for i in rng.integers(len(live), size=SnapshotSync.point_reads)]
        asof_v = int(rng.integers(0, v))
        old = pq.read_table(
            os.path.join(work, f"u{asof_v:05d}.parquet"), columns=[key]
        )
        asof_key = str(old.column(0)[int(rng.integers(old.num_rows))].as_py())
        census.run_phase("apply_scd2_delta", land)
        census.run_phase("read_point", lambda: [point(k) for k in keys])
        census.run_phase("read_asof", lambda: point(asof_key, version_as_of=asof_v))
        census.run_phase(
            "read_changes",
            lambda: deltalog.read_changes(
                spark, table, starting_version=v - 1, ending_version=v
            ).groupBy("_change_type").count().collect(),
        )
        census.run_phase("anomaly", anomaly)
        census.report()
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
