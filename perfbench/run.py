"""CDC engine benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload snapshot_sync --seed 1 --seconds 1 --trace 0

Run from the repository root.  The run builds its inputs from ``--seed``,
starts Spark with at most ``nproc`` task slots, runs untimed warm-up
operations, times operations for ``--seconds`` seconds (finishing the
workload's cycle), checks every result against the generator's ground
truth and prints one line per metric, then a JSON summary as the last
line of standard output.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` records spans around every engine call and reports the
per-layer metrics.  All scratch state lives under ``.perfbench/`` in the
repository and is removed at exit; a JSON sidecar with every metric and
span is kept in ``.perfbench/sidecar/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("snapshot_sync", "stream_apply")
# a run never measures longer than this past --seconds, even mid-cycle,
# so it stays within its time limit
OVERRUN_CAP_S = 45.0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_between(a: list[int], b: list[int]) -> float:
    total = sum(b[:8]) - sum(a[:8])
    return (b[7] - a[7]) / total if total > 0 and len(a) > 7 else 0.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def p50(xs):
    return statistics.median(xs) if xs else None


def drift(xs, cycle=1):
    """Median of the second half of ``xs`` over the median of the first.

    None unless each half holds at least two samples and whole cycles, so
    a ratio of two single samples, or of a plain batch to a compacting
    one, is never reported as drift."""
    h = len(xs) // 2
    if h < 2 or h % cycle:
        return None
    return statistics.median(xs[len(xs) - h:]) / statistics.median(xs[:h])


# timed latency series that may get a ``<metric>.drift``
DRIFT_SERIES = ("op_s", "read_point_s", "read_asof_s", "read_feed_s", "read_anomaly_s")


def drift_name(series: str) -> str:
    return ("op_p50_s" if series == "op_s" else series[:-2] + "_p50_s") + ".drift"


def start_spark(work: str, slots: int):
    """The engine's own session factory, pointed at this run's scratch dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '{java_opts}' pyspark-shell"
        ),
    })
    from cdc_pipe_line_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class Context:
    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed


def end_to_end(ops: list[dict], setup_s: float) -> dict:
    """The metrics BENCHMARK.json declares as end to end."""
    op_s = [o["op_s"] for o in ops]
    return {"setup_s": setup_s, "op_p50_s": p50(op_s)}


def workload_metrics(ops: list[dict], attempted: int, failed: int) -> dict:
    """The workload-specific end-to-end metrics, printed but not declared in
    BENCHMARK.json: name -> (value, unit, samples).  Metrics a workload
    does not have are left out."""
    out = {}
    commit = [o.get("write_s", o["op_s"]) for o in ops if "changes" in o]
    if commit:
        out["commit_p50_s"] = (p50(commit), "s", len(commit))
        out["changes_per_s"] = (sum(o["changes"] for o in ops) / sum(commit), "1/s", len(commit))
    for kind in ("point", "asof", "feed", "anomaly"):
        xs = [x for o in ops for x in o.get(f"read_{kind}_s", ())]
        if xs:
            out[f"read_{kind}_p50_s"] = (p50(xs), "s", len(xs))
            if kind == "point":
                q = statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else xs[0]
                above = sum(1 for x in xs if x > q)
                out["read_point_p90_s"] = (q, "s", len(xs), above)
    out["ops_failed"] = (failed / attempted, "share", attempted)
    return out


def layer_metrics(wl, ops: list[dict], tracer, host: dict) -> dict:
    """Per-layer metrics from the traced run; 0 for layers the workload
    does not use (the prediction there is no change)."""
    spans = tracer.spans
    timed_ops = {o["op_id"] for o in ops}

    def pick(name):
        return [s for s in spans if s.name == name and s.op in timed_ops]

    def med(xs, default=0.0):
        return statistics.median(xs) if xs else default

    def op_layer(key):
        return med([o["layer"][key] for o in ops if key in o.get("layer", {})])

    m = {}
    diff = pick("diff")
    m["diff.s"] = med([s.seconds for s in diff])
    m["diff.jobs"] = med([tracer.totals(s)[0] for s in diff])
    rows_in = med([s.attrs["rows_in"] for s in diff])
    events_out = med([s.attrs["events_out"] for s in diff])
    m["diff.rows_in"] = rows_in
    m["diff.events_out"] = events_out
    m["diff.useful_ratio"] = events_out / rows_in if rows_in else 0.0
    apply = pick("apply_scd2_delta")
    m["apply.s"] = med([s.seconds for s in apply])
    for i, key in enumerate(("apply.jobs", "apply.stages", "apply.tasks")):
        m[key] = med([tracer.totals(s)[i] for s in apply])
    m["apply.jvm_cpu_s"] = med([s.jvm_cpu_s for s in apply])
    m["apply.gc_s"] = med([s.gc_s for s in apply])
    for key in ("apply.bytes_written", "apply.rewrite_ratio", "log.versions", "log.bytes",
                "table.live_files"):
        m[key] = op_layer(key)
    m["table.bytes_on_disk"] = getattr(wl, "table_bytes", 0)

    m["read_snapshot.plan_s"] = med([s.seconds for s in pick("read_snapshot")])
    point = pick("read_point")
    m["read_point.exec_s"] = med([c.seconds for s in point for c in tracer.children(s)
                                  if c.name == "collect"])
    m["read_point.jobs"] = med([tracer.totals(s)[0] for s in point])
    asof = pick("read_asof")
    m["read_asof.plan_s"] = med([c.seconds for s in asof for c in tracer.children(s)
                                 if c.name == "read_snapshot"])
    m["read_asof.jobs"] = med([tracer.totals(s)[0] for s in asof])
    m["read_changes.plan_s"] = med([s.seconds for s in pick("read_changes")])
    m["read_changes.jobs"] = med([tracer.totals(s)[0] for s in pick("read_feed")])
    m["anomaly.feed_s"] = med([s.seconds for s in pick("anomaly_feed")])
    m["anomaly.series_s"] = med([s.seconds for s in pick("anomaly_series")])
    m["anomaly.jobs"] = med([tracer.totals(s)[0] for s in pick("anomaly")])

    batch = pick("stream_batch")
    m["stream.batch_s"] = med([s.seconds for s in batch])
    for key in ("stream.start_s", "stream.add_batch_ms", "stream.query_planning_ms",
                "stream.wal_commit_ms", "stream.state_rows", "stream.dedup_ratio"):
        m[key] = op_layer(key)
    m["stream.jobs"] = med([tracer.totals(s)[0] for s in batch])
    compacted = [o["compacted"] for o in ops if "compacted" in o]
    m["stream.compactions"] = sum(compacted) / len(compacted) if compacted else 0.0
    m["stream.segments_max"] = getattr(wl, "segments_max", 0)
    hist = pick("read_scd2_history")
    m["read_history.s"] = med([s.seconds for s in hist])
    m["read_history.jobs"] = med([tracer.totals(s)[0] for s in hist])

    cpu_by_op: dict[int, float] = {}
    for s in spans:
        if s.parent is None and s.op in timed_ops:
            cpu_by_op[s.op] = cpu_by_op.get(s.op, 0.0) + s.jvm_cpu_s
    m["op.jvm_cpu_s"] = med(list(cpu_by_op.values()))

    m.update(host)
    return m


def declared_units() -> tuple[dict, dict]:
    """Units of the end-to-end and per-layer metrics BENCHMARK.json declares.

    The declared per-layer metrics are the ones every workload measures
    for real: counts, bytes, ratios and per-operation times.  A layer's
    own times (``diff.s``, ``stream.add_batch_ms``, ...) are 0 on the
    workloads that skip the layer, so they go to stdout and the sidecar
    only."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    try:
        import cdc_pipe_line_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine package from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from spans import Tracer
    from workloads import WORKLOADS

    e2e_units, layer_units = declared_units()

    slots = max(1, min(4, os.cpu_count() or 1, len(os.sched_getaffinity(0))))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    sidecar_dir = os.path.join(base, "sidecar")
    os.makedirs(work)
    os.makedirs(sidecar_dir, exist_ok=True)
    cpu0, load0 = cpu_times(), loadavg_1m()
    spark = None
    cycle = getattr(WORKLOADS[args.workload], "cycle", 1)
    min_ops = WORKLOADS[args.workload].min_ops
    ops: list[dict] = []
    errors: list[str] = []
    setup_s = timed_s = check_s = heap_peak = load1 = 0.0
    cpu1 = cpu2 = cpu0
    load2 = load0
    try:
        spark = start_spark(work, slots)
        tracer = Tracer(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](Context(spark, tracer, work, args.seed))
        wl.setup()
        t_first = time.perf_counter()
        setup_s = t_first - T_START
        cpu1, load1 = cpu_times(), loadavg_1m()
        while True:
            try:
                r = wl.op()
            except Exception:
                errors.append(traceback.format_exc())
                break
            r["op_id"] = tracer.op_id
            ops.append(r)
            elapsed = time.perf_counter() - t_first
            if elapsed > args.seconds + OVERRUN_CAP_S:
                break
            if elapsed >= args.seconds and len(ops) >= min_ops and len(ops) % cycle == 0:
                break
        timed_s = time.perf_counter() - t_first
        cpu2, load2 = cpu_times(), loadavg_1m()
        heap_peak = tracer.heap_peak_bytes()
        if not errors:
            t_check = time.perf_counter()
            errors += wl.check()
            check_s = time.perf_counter() - t_check
    except Exception:
        errors.append(traceback.format_exc())
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = max(1, len(ops) + (1 if errors and not ops else 0))
    failed = min(attempted, len(errors))
    correct = not errors
    for e in errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)

    e2e = end_to_end(ops, setup_s) if ops else {}
    named = workload_metrics(ops, attempted, failed) if ops else {}
    host = {
        "host.steal_share.start": steal_between(cpu0, cpu1),
        "host.steal_share.end": steal_between(cpu1, cpu2),
        "host.loadavg_1m.start": load0,
        "host.loadavg_1m.end": load2,
        "jvm.heap_peak_bytes": heap_peak,
    }
    drifts = {}
    for key in DRIFT_SERIES:
        xs = [x for o in ops for x in (o[key] if isinstance(o.get(key), list) else
                                       [o[key]] if key in o else [])]
        # a compaction cycle of operations holds cycle * len(xs) // len(ops)
        # samples; without one, any split into halves will do
        unit = cycle * (len(xs) // len(ops)) if cycle > 1 else 1
        if xs and (d := drift(xs, unit)) is not None:
            drifts[drift_name(key)] = d

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"task_slots={slots} nproc={os.cpu_count()} timed_ops={len(ops)} "
          f"timed_s={timed_s:.3f} check_s={check_s:.3f} warmup_ops={WORKLOADS[args.workload].warmup_ops}")
    print(f"host steal_share start={host['host.steal_share.start']:.4f} "
          f"end={host['host.steal_share.end']:.4f} loadavg_1m start={load0} "
          f"end={load2} (after setup {load1})")
    for name, value in e2e.items():
        n = len(ops) if name != "setup_s" else 1
        print(f"metric {name} = {value} {e2e_units[name]} (samples={n})")
    for name, (value, unit, n, *rest) in named.items():
        extra = ""
        if name == "read_point_p90_s":
            extra = f" samples_above={rest[0]}" + ("" if rest[0] >= 10 else
                                                  " (fewer than 10 above: indicative only)")
        print(f"metric {name} = {value} {unit} (samples={n}){extra}")
    for name, value in drifts.items():
        print(f"metric {name} = {value} ratio")

    metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()} if ops else {}
    layer = {}
    if args.trace and ops:
        no_drift = {drift_name(k): 0.0 for k in DRIFT_SERIES}
        layer = layer_metrics(wl, ops, tracer, {**host, **no_drift, **drifts})
        layer["traced.op_p50_s"] = e2e["op_p50_s"]
        for name, value in layer.items():
            unit = layer_units.get(name) or ("ms" if name.endswith("_ms") else "s")
            print(f"layer {name} = {value} {unit}")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in layer_units.items()}

    stem = os.path.join(sidecar_dir, f"{args.workload}-seed{args.seed}")
    sidecar = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "task_slots": slots, "seconds": args.seconds, "timed_s": timed_s, "check_s": check_s,
        "end_to_end": e2e,
        "workload_metrics": {k: v[0] for k, v in named.items()},
        "drift": drifts, "host": host, "layer": layer, "ops": ops, "errors": errors,
        "spans": tracer.to_json() if args.trace and spark is not None else [],
    }
    if args.trace and os.path.exists(f"{stem}-trace0.json"):
        with open(f"{stem}-trace0.json") as f:
            untraced = json.load(f)["end_to_end"]
        sidecar["tracing_overhead"] = {
            k: sidecar["end_to_end"][k] - v for k, v in untraced.items()
            if k in sidecar["end_to_end"]
        }
        for k, v in sidecar["tracing_overhead"].items():
            print(f"tracing_overhead {k} = {v}")
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(sidecar, f, indent=1, default=str)

    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
