"""The two CDC workloads: snapshot_sync and stream_apply.

Each workload is a closed loop with one client.  ``setup`` builds the
state and runs the untimed warm-up operations, ``op`` runs one timed
operation and returns its latencies, and ``check`` compares the engine's
results with the generator's ground truth after timing.  Every call
into the engine goes through a public function and sits inside a
tracer span.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import time
from time import perf_counter as clock

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_pipe_line_spark import deltalog, streaming
from cdc_pipe_line_spark.cdc.diff import snapshot_diff, to_cdc_events
from cdc_pipe_line_spark.delta_merge import apply_scd2_delta
from cdc_pipe_line_spark.timeseries import (
    MIN_POINTS,
    daily_counts,
    gap_fill_daily,
    rolling_zscore,
)

from gen import EventBatches, OrdersSnapshots


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def log_state(table: str) -> dict:
    """Latest version and live data files of a native Delta table, replayed
    from its JSON commits (the engine writes no checkpoints on this path)."""
    live: set[str] = set()
    commits = sorted(glob.glob(os.path.join(table, "_delta_log", "*.json")))
    for path in commits:
        with open(path) as f:
            for line in f:
                action = json.loads(line)
                if "add" in action:
                    live.add(action["add"]["path"])
                elif "remove" in action:
                    live.discard(action["remove"]["path"])
    return {"version": len(commits) - 1, "live_files": len(live)}


def commit_added_rows(table: str, version: int) -> int:
    """Rows in the data files that commit ``version`` added."""
    rows = 0
    with open(os.path.join(table, "_delta_log", f"{version:020d}.json")) as f:
        for line in f:
            action = json.loads(line)
            if "add" in action:
                rows += pq.read_metadata(os.path.join(table, action["add"]["path"])).num_rows
    return rows


def chain_violations(history) -> int:
    """Versions whose validity interval overlaps the key's next version,
    or that are open (``valid_to`` null) but not the last version."""
    w = Window.partitionBy("key_value").orderBy("valid_from", "_event_id")
    nxt = history.withColumn("__next_from", F.lead("valid_from").over(w))
    bad = nxt.filter(
        F.col("__next_from").isNotNull()
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("__next_from")))
    )
    return bad.count()


class SnapshotSync:
    """Each operation is one upload and one round of reads.  The upload is
    read, diffed against the previous upload and landed as CDC events on
    a native Delta SCD2 table.  The reads then serve that table: current
    and as-of point lookups, the commit's change feed and the anomaly
    refresh over the whole history."""

    name = "snapshot_sync"
    warmup_ops = 1
    # the median of three timed operations leaves out one slow one: the
    # first still ran 10-25% slower than the second in most runs
    min_ops = 3
    point_reads = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.gen = OrdersSnapshots(ctx.seed)
        self.rng = np.random.default_rng(ctx.seed + 7)
        self.table = os.path.join(ctx.work, "orders_scd2")
        self.uploads = os.path.join(ctx.work, "uploads")
        os.makedirs(self.uploads)
        self.prev_path = None
        self.prev_rows = 0
        self.timed_from_version = None
        self.timed_counts = {"insert": 0, "update_preimage": 0, "update_postimage": 0}
        self.lookups: list[tuple[str, int, list]] = []  # (key, version, rows read)
        self.read_fails = 0
        self.reads = 0

    def _upload_path(self, upload: int | None = None) -> str:
        upload = self.gen.uploads if upload is None else upload
        return os.path.join(self.uploads, f"u{upload:05d}.parquet")

    def _land(self, path: str, upload: int) -> None:
        """Diff the upload at ``path`` against the previous one and apply it."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("diff") as sp:
            new = spark.read.parquet(path)
            prev = spark.read.parquet(self.prev_path) if self.prev_path else None
            diff = snapshot_diff(new, prev, OrdersSnapshots.KEY)
            events = to_cdc_events(
                diff,
                company_id="acme",
                table_name="orders",
                key_column=OrdersSnapshots.KEY,
                event_time=F.lit(self.gen.event_time(upload)).cast("timestamp"),
            )
            if sp is not None:
                # traced run: materialize the diff so diff and apply get
                # separate spans
                events = events.persist()
                sp.attrs["events_out"] = events.count()
                sp.attrs["rows_in"] = self.gen.n_live + self.prev_rows
        try:
            with tr.span("apply_scd2_delta"):
                apply_scd2_delta(spark, self.table, events)
        finally:
            if sp is not None:
                events.unpersist()

    def setup(self) -> None:
        path = self._upload_path()
        self.gen.write(path)
        with self.ctx.tracer.span("first_load"):
            self._land(path, 0)
        self.prev_path, self.prev_rows = path, self.gen.n_live
        for _ in range(self.warmup_ops):
            self.op()
        self.timed_from_version = log_state(self.table)["version"]
        self.table_bytes = dir_bytes(self.table)

    # -- the read round -------------------------------------------------------
    def _lookup(self, span: str, key: str, version: int, as_of: int | None) -> float:
        """Current (``as_of`` None) or time-travel lookup of ``key``; the rows
        are checked against upload ``version`` after timing."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        t0 = clock()
        with tr.span(span):
            with tr.span("read_snapshot"):
                df = deltalog.read_snapshot(spark, self.table, version_as_of=as_of)
            with tr.span("collect"):
                rows = (
                    df.filter((F.col("key_value") == key) & F.col("is_current"))
                    .select(F.to_json("data").alias("data"))
                    .collect()
                )
        elapsed = clock() - t0
        self.lookups.append((key, version, [json.loads(r.data) for r in rows]))
        return elapsed

    def _reads(self, version: int, out: dict) -> None:
        """One round of reads on the table as upload ``version`` left it."""
        spark, tr, rng, c = self.ctx.spark, self.ctx.tracer, self.rng, self.gen.last_counts
        live = self.gen.cols[OrdersSnapshots.KEY]
        keys = [str(live[i]) for i in rng.integers(len(live), size=self.point_reads)]
        asof_v = int(rng.integers(0, version))
        old = pq.read_table(self._upload_path(asof_v), columns=[OrdersSnapshots.KEY])
        asof_key = str(old.column(0)[int(rng.integers(old.num_rows))].as_py())
        for key in keys:
            out["read_point_s"].append(self._lookup("read_point", key, version, None))
        out["read_asof_s"].append(self._lookup("read_asof", asof_key, asof_v, asof_v))
        t0 = clock()
        with tr.span("read_feed"):
            with tr.span("read_changes"):
                feed = deltalog.read_changes(
                    spark, self.table, starting_version=version - 1, ending_version=version
                )
            with tr.span("collect"):
                got = {r[0]: r[1] for r in feed.groupBy("_change_type").count().collect()}
        out["read_feed_s"].append(clock() - t0)
        self.reads += 1
        closed = c["update"] + c["delete"]
        want = {"insert": c["update"] + c["insert"], "update_preimage": closed,
                "update_postimage": closed}
        if got != want:
            self.read_fails += 1
        t0 = clock()
        with tr.span("anomaly"):
            with tr.span("anomaly_feed"):
                feed = deltalog.read_changes(spark, self.table, starting_version=-1)
            with tr.span("anomaly_series"):
                daily = daily_counts(feed, ts_col="valid_from", group_cols=["_change_type"])
                filled = gap_fill_daily(daily, group_cols=["_change_type"])
                rows = rolling_zscore(filled, group_cols=["_change_type"]).collect()
        out["read_anomaly_s"].append(clock() - t0)
        self.reads += 1
        # one series per change type, each over every day from the first
        # load to this upload; shorter series are not scored
        days = self.gen.day_of(version) + 1
        if len(rows) != (3 * days if days >= MIN_POINTS else 0):
            self.read_fails += 1

    def op(self) -> dict:
        self.gen.next_upload()
        version = self.gen.uploads
        path = self._upload_path()
        self.gen.write(path)
        tr = self.ctx.tracer
        tr.new_op()
        bytes_before = dir_bytes(self.table) if tr.enabled else 0
        version_before = log_state(self.table)["version"] if tr.enabled else 0
        out = {"read_point_s": [], "read_asof_s": [], "read_feed_s": [], "read_anomaly_s": []}
        t0 = clock()
        with tr.span("upload"):
            self._land(path, version)
        t_write = clock()
        self._reads(version, out)
        t1 = clock()
        # one operation is the upload plus its reads; the upload alone is
        # commit_p50_s
        out["op_s"], out["write_s"] = t1 - t0, t_write - t0
        self.prev_path, self.prev_rows = path, self.gen.n_live
        c = self.gen.last_counts
        changes = c["update"] + c["insert"] + c["delete"]
        out["changes"] = changes
        if self.timed_from_version is not None:
            self.timed_counts["insert"] += c["update"] + c["insert"]
            self.timed_counts["update_preimage"] += c["update"] + c["delete"]
            self.timed_counts["update_postimage"] += c["update"] + c["delete"]
        if tr.enabled:
            st = log_state(self.table)
            out["layer"] = {
                "log.versions": st["version"] - version_before,
                "apply.bytes_written": dir_bytes(self.table) - bytes_before,
                "apply.rewrite_ratio": commit_added_rows(self.table, st["version"]) / changes,
                "log.bytes": os.path.getsize(os.path.join(
                    self.table, "_delta_log", f"{st['version']:020d}.json")),
                "table.live_files": st["live_files"],
            }
        return out

    def check(self) -> list[str]:
        spark = self.ctx.spark
        fails = []
        cols = list(self.gen.cols)
        if self.read_fails:
            fails.append(f"{self.read_fails}/{self.reads} feed and anomaly reads differ "
                         "from ground truth")
        # each lookup must return exactly its key's row of the upload that
        # made the version it read
        by_version: dict[int, set[str]] = {}
        for key, version, _ in self.lookups:
            by_version.setdefault(version, set()).add(key)
        want = {}
        for version, keys in by_version.items():
            rows = spark.read.parquet(self._upload_path(version)).filter(
                F.col(OrdersSnapshots.KEY).cast("string").isin(sorted(keys))
            ).select(
                F.col(OrdersSnapshots.KEY).cast("string").alias("k"),
                F.to_json(F.struct(*[F.col(c).cast("string").alias(c) for c in cols])).alias("j"),
            ).collect()
            want.update({(version, r.k): json.loads(r.j) for r in rows})
        bad = sum(1 for key, version, got in self.lookups
                  if (version, key) not in want or got != [want[(version, key)]])
        if bad:
            fails.append(f"{bad}/{len(self.lookups)} point lookups differ from the uploads")
        if (last := log_state(self.table)["version"]) != self.gen.uploads:
            fails.append(f"table at version {last} after {self.gen.uploads} uploads")
        hist = deltalog.read_snapshot(spark, self.table)
        actual = hist.filter("is_current").select(
            "key_value", F.struct(*[F.col("data")[c].alias(c) for c in cols]).alias("a")
        )
        expected = spark.read.parquet(self.prev_path).select(
            F.col(OrdersSnapshots.KEY).cast("string").alias("key_value"),
            F.struct(*[F.col(c).cast("string").alias(c) for c in cols]).alias("e"),
        )
        # one job: a duplicated current key adds a joined row, a missing,
        # extra or different row adds a mismatch
        rows, miss = actual.join(expected, "key_value", "full_outer").agg(
            F.count("*"),
            F.sum((~F.col("a").eqNullSafe(F.col("e"))).cast("int")),
        ).first()
        if rows != self.gen.n_live or miss:
            fails.append(
                f"current view: {rows} joined rows for {self.gen.n_live} live keys, "
                f"{miss} rows differ from the last upload"
            )
        if (v := chain_violations(hist)):
            fails.append(f"{v} overlapping validity intervals")
        feed = deltalog.read_changes(
            spark, self.table, starting_version=self.timed_from_version, ending_version=last
        )
        got = {r[0]: r[1] for r in feed.groupBy("_change_type").count().collect()}
        if got != {k: v for k, v in self.timed_counts.items() if v}:
            fails.append(f"change feed counts {got} != generated {self.timed_counts}")
        return fails


class StreamApply:
    """Each operation lands one event batch as a JSON file, runs
    ``run_scd2_stream`` to termination (availableNow, same checkpoint)
    and then does point reads through ``read_scd2_history``."""

    name = "stream_apply"
    # Each batch appends one segment to every bucket it touches, so
    # batch k (1-based) compacts when k > 1 and k % max_segments == 1,
    # as long as every batch touches every bucket.  A batch versions
    # about 170 distinct keys: with the default 32 buckets some bucket
    # was left untouched in about one batch in seven, which put it out
    # of phase and made later batches compact a varying number of
    # buckets; with 8 buckets the chance is about 1e-10 per bucket.
    # After the two warm-up batches, every timed cycle of max_segments
    # batches holds one compaction.  The default of 16 makes a cycle
    # longer than a run.  After a single warm-up batch, the next batches
    # still got 10-25% faster.
    n_buckets = 8
    max_segments = 2
    warmup_ops = 2
    cycle = max_segments
    # two whole cycles: over one cycle, ten seeds spread 0.093
    min_ops = 2 * cycle
    reads_per_op = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.gen = EventBatches(ctx.seed)
        self.src = os.path.join(ctx.work, "events")
        self.hist = os.path.join(ctx.work, "history")
        self.ckpt = os.path.join(ctx.work, "checkpoint")
        os.makedirs(self.src)
        self.read_fails = 0
        self.reads = 0
        self.segments_max = 0

    def setup(self) -> None:
        for _ in range(self.warmup_ops):
            self.op()

    def _segments(self) -> int:
        return max(
            (len(glob.glob(os.path.join(b, "*.parquet")))
             for b in glob.glob(os.path.join(self.hist, "data", "__bucket=*"))),
            default=0,
        )

    def _land(self, lines: list[str]):
        """Write ``lines`` as the next source file and run the stream over it."""
        path = os.path.join(self.src, f"b{self.gen.batches:05d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        q = streaming.run_scd2_stream(
            streaming.read_event_stream(self.ctx.spark, self.src),
            self.hist,
            checkpoint_dir=self.ckpt,
            n_buckets=self.n_buckets,
            max_segments=self.max_segments,
        )
        q.awaitTermination()
        return q

    def op(self) -> dict:
        spark, tr = self.ctx.spark, self.ctx.tracer
        tr.new_op()
        lines = self.gen.next_batch()
        seg_before = self._segments()
        t0 = clock()
        with tr.span("stream_batch") as sp:
            started = time.time()
            q = self._land(lines)
            if sp is not None:
                sp.attrs["extra_groups"] = [str(q.runId)]
        t_write = clock()
        out = {"changes": len(lines), "read_point_s": []}
        for key in self.gen.sample_keys(self.reads_per_op):
            r0 = clock()
            with tr.span("read_scd2_history"):
                rows = (
                    streaming.read_scd2_history(spark, self.hist)
                    .filter((F.col("key_value") == key) & F.col("is_current"))
                    .select(F.to_json("data").alias("data"))
                    .collect()
                )
            out["read_point_s"].append(clock() - r0)
            self.reads += 1
            want = self.gen.latest.get(key)
            if [json.loads(r.data) for r in rows] != ([want] if want is not None else []):
                self.read_fails += 1
        t1 = clock()
        # one operation is the batch plus its reads; the write alone is
        # commit_p50_s
        out["op_s"], out["write_s"] = t1 - t0, t_write - t0
        segs = self._segments()
        self.segments_max = max(self.segments_max, segs)
        out["compacted"] = segs <= seg_before
        if tr.enabled:
            progress = q.recentProgress
            data = [p for p in progress if p.get("numInputRows", 0) > 0]
            dur = lambda k: sum(p["durationMs"].get(k, 0) for p in progress)  # noqa: E731
            state = [s for p in data for s in p.get("stateOperators", [])]
            first_ts = progress[0]["timestamp"] if progress else None
            out["layer"] = {
                "stream.start_s": _iso_epoch(first_ts) - started if first_ts else 0.0,
                "stream.add_batch_ms": dur("addBatch"),
                "stream.query_planning_ms": dur("queryPlanning"),
                "stream.wal_commit_ms": dur("walCommit"),
                "stream.state_rows": state[-1]["numRowsTotal"] if state else 0,
                "stream.dedup_ratio": (
                    sum(s["numRowsUpdated"] for s in state) / len(lines)
                ),
            }
        return out

    def check(self) -> list[str]:
        spark, gen = self.ctx.spark, self.gen
        fails = []
        if self.read_fails:
            fails.append(f"{self.read_fails}/{self.reads} point reads differ from ground truth")
        hist = streaming.read_scd2_history(spark, self.hist)
        n, ids = hist.agg(F.count("*"), F.countDistinct("_event_id")).first()
        if n != gen.versions or ids != n:
            fails.append(
                f"{n} versions ({ids} distinct ids) != {gen.versions} unique insert/update events"
            )
        current = gen.current()
        path = os.path.join(self.ctx.work, "expected.parquet")
        pq.write_table(pa.table({
            "key_value": list(current),
            "data": pa.array([list(p.items()) for p in current.values()],
                             pa.map_(pa.string(), pa.string())),
        }), path)
        entries = F.array_sort(F.map_entries("data"))
        actual = hist.filter("is_current").select("key_value", entries.alias("a"))
        expected = spark.read.parquet(path).select("key_value", entries.alias("e"))
        # a duplicated current key adds a joined row, a missing, extra or
        # different row adds a mismatch
        rows, miss = actual.join(expected, "key_value", "full_outer").agg(
            F.count("*"),
            F.sum((~F.col("a").eqNullSafe(F.col("e"))).cast("int")),
        ).first()
        if rows != len(current) or miss:
            fails.append(
                f"current view: {rows} joined rows for {len(current)} live keys, "
                f"{miss} rows differ from the latest events"
            )
        if (v := chain_violations(hist)):
            fails.append(f"{v} overlapping validity intervals")
        return fails


def _iso_epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


WORKLOADS = {w.name: w for w in (SnapshotSync, StreamApply)}
