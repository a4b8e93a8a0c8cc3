"""Streaming (T1-T8) tests at sf0.001: oracle parity for the
registered queries plus SCD2 invariants on the streamed history."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_pipe_line_spark.queries import streaming_q
from tests.conftest import SF_DIR, assert_matches_oracle


@pytest.mark.parametrize("name", sorted(streaming_q.QUERIES))
def test_streaming_query_matches_oracle(spark, duck, name):
    df = streaming_q.QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, duck, streaming_q.ORACLE[name])


@pytest.mark.slow
def test_stream_restart_resumes_exactly_once(spark, tmp_path):
    """Kill the SCD2 stream after its first micro-batch, restart from
    the same checkpoint: committed batches must NOT re-apply (no
    duplicate versions) and the final state must equal an uninterrupted
    run (T2 exactly-once via checkpointed offsets + transactional
    foreachBatch)."""
    import os

    from cdc_pipe_line_spark import streaming as st
    from cdc_pipe_line_spark.queries import streaming_q

    base = streaming_q._stage(spark, SF_DIR, "cdc")

    def make_stream():
        return (
            spark.readStream.schema(st.EVENT_SCHEMA)
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.json")
            .option("timestampFormat", streaming_q._TS_FMT)
            .option("maxFilesPerTrigger", "1")
            .json(base)
        )

    hist_dir = os.path.join(str(tmp_path), "history")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    seen: list[int] = []

    def stop_after_first(batch_df, batch_id):
        seen.append(batch_id)
        if len(seen) == 1:
            raise RuntimeError("injected crash after first commit")

    q = st.run_scd2_stream(
        make_stream(), hist_dir, checkpoint_dir=ckpt, on_batch=stop_after_first
    )
    try:
        q.awaitTermination()
    except Exception:
        pass  # the injected crash surfaces here
    assert seen, "first batch never ran"

    # restart with the SAME checkpoint -> remaining batches only
    seen.clear()
    q2 = st.run_scd2_stream(make_stream(), hist_dir, checkpoint_dir=ckpt)
    q2.awaitTermination()
    resumed = st.read_scd2_history(spark, hist_dir).cache()

    # exactly-once: every event applied once -> no duplicate versions
    dup_versions = (
        resumed.groupBy("_event_id").count().filter(F.col("count") > 1).count()
    )
    assert dup_versions == 0

    # equals an uninterrupted run
    import uuid

    clean_dir = f"/tmp/cdc_stream_run/{uuid.uuid4().hex}"
    q3 = st.run_scd2_stream(
        make_stream(),
        os.path.join(clean_dir, "history"),
        checkpoint_dir=os.path.join(clean_dir, "ckpt"),
    )
    q3.awaitTermination()
    clean = st.read_scd2_history(spark, os.path.join(clean_dir, "history"))
    cols = ["key_value", "valid_from", "valid_to", "is_current", "_event_id"]
    assert sorted(map(tuple, resumed.select(cols).collect())) == sorted(
        map(tuple, clean.select(cols).collect())
    )
    resumed.unpersist()
    import shutil

    shutil.rmtree(clean_dir, ignore_errors=True)


def test_load_table_normalizes_ts_and_staging_parses(spark, tmp_path):
    """Round-4 regression guard: the driver regenerated testdata with
    `events.ts` as parquet TIMESTAMP(MICROS) isAdjustedToUTC=false,
    which Spark 4 infers as timestamp_ntz — and the JSON writer
    silently IGNORES its `timestampFormat` option for ntz columns, so
    freshly staged stream fixtures parsed to all-null ts and four
    stream_* queries returned partial/empty results.  Pin both layers:
    load_table must hand every consumer a plain `timestamp`, and a
    fresh staging round-trip must lose zero timestamps."""
    import os

    from cdc_pipe_line_spark.queries import load_table, streaming_q

    ev = load_table(spark, SF_DIR, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp", ev.dtypes

    # fresh staging (never reuse the shared /tmp cache for this)
    raw = ev.select("event_id", "ts", "user_id", "event_type", "value")
    dst = os.path.join(str(tmp_path), "staged")
    (
        raw.repartition(2)
        .write.mode("overwrite")
        .option("timestampFormat", streaming_q._TS_FMT)
        .json(dst)
    )
    back = (
        spark.read.schema(streaming_q.RAW_SCHEMA)
        .option("timestampFormat", streaming_q._TS_FMT)
        .json(dst)
    )
    n = raw.count()
    assert back.filter("ts is not null").count() == n
    # microsecond fidelity end-to-end (the format carries SSSSSS)
    a = {(r.event_id, r.ts) for r in raw.limit(50).collect()}
    ids = [i for i, _ in a]
    b = {
        (r.event_id, r.ts)
        for r in back.filter(F.col("event_id").isin(ids)).collect()
    }
    assert a == b


@pytest.mark.slow
def test_stream_torn_between_data_and_marker(spark, tmp_path, monkeypatch):
    """Fault injection at the sink's NON-atomic seam (T2/T5): crash
    AFTER a batch's bucket data is appended but BEFORE its
    ``_COMMITTED_BATCH`` marker is written — the exact window the
    docstring says Delta's transaction would close.  On restart the
    checkpoint re-delivers that batch (its offset never committed),
    the stale marker cannot skip it, and exactly-once must come from
    the event-id anti-join + latest-wins resolution: the re-applied
    batch's duplicate rows must resolve away, leaving the history
    hash-identical to an uninterrupted run."""
    import os

    from cdc_pipe_line_spark import streaming as st
    from cdc_pipe_line_spark.queries import streaming_q

    base = streaming_q._stage(spark, SF_DIR, "cdc")

    def make_stream():
        return (
            spark.readStream.schema(st.EVENT_SCHEMA)
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.json")
            .option("timestampFormat", streaming_q._TS_FMT)
            .option("maxFilesPerTrigger", "1")
            .json(base)
        )

    hist_dir = os.path.join(str(tmp_path), "history")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    real_write = st._fs_write_text
    torn = {"done": False}

    def tearing_write(s, path, text):
        # tear exactly once, on the SECOND batch's marker (batch 0
        # commits cleanly so the replayed batch must merge against
        # real pre-existing history, not an empty dir)
        if path.endswith("_COMMITTED_BATCH") and '"batch_id": 1' in text and not torn["done"]:
            torn["done"] = True
            raise RuntimeError("injected crash before marker write")
        real_write(s, path, text)

    monkeypatch.setattr(st, "_fs_write_text", tearing_write)
    q = st.run_scd2_stream(make_stream(), hist_dir, checkpoint_dir=ckpt)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    assert torn["done"], "tear never happened"
    monkeypatch.setattr(st, "_fs_write_text", real_write)

    # the torn state is real: batch 1's data IS on disk, marker says 0
    import json as _json

    marker = _json.loads(open(os.path.join(hist_dir, "_COMMITTED_BATCH")).read())
    assert marker["batch_id"] == 0, marker
    raw_seqs = {
        r["__seq"]
        for r in spark.read.parquet(os.path.join(hist_dir, "data"))
        .select("__seq").distinct().collect()
    }
    assert 1 in raw_seqs, f"batch 1 data missing from torn state: {raw_seqs}"

    # restart: checkpoint re-delivers batch 1; anti-join must no-op it
    q2 = st.run_scd2_stream(make_stream(), hist_dir, checkpoint_dir=ckpt)
    q2.awaitTermination()
    resumed = st.read_scd2_history(spark, hist_dir).cache()

    dup_versions = (
        resumed.groupBy("_event_id").count().filter(F.col("count") > 1).count()
    )
    assert dup_versions == 0

    import shutil
    import uuid

    clean_dir = f"/tmp/cdc_stream_run/{uuid.uuid4().hex}"
    q3 = st.run_scd2_stream(
        make_stream(),
        os.path.join(clean_dir, "history"),
        checkpoint_dir=os.path.join(clean_dir, "ckpt"),
    )
    q3.awaitTermination()
    clean = st.read_scd2_history(spark, os.path.join(clean_dir, "history"))
    cols = ["key_value", "valid_from", "valid_to", "is_current", "_event_id"]
    assert sorted(map(tuple, resumed.select(cols).collect())) == sorted(
        map(tuple, clean.select(cols).collect())
    )
    resumed.unpersist()
    shutil.rmtree(clean_dir, ignore_errors=True)


def test_watermark_drops_late_duplicates_only(spark, tmp_path):
    """Watermark semantics (T3/T8): a duplicate arriving WITHIN the
    watermark in a later batch is dropped as a duplicate; the same
    event_id arriving AFTER the watermark has passed is dropped as
    late — either way at-least-once replay never double-counts."""
    import json
    import os
    import time

    from cdc_pipe_line_spark import streaming as st

    src = tmp_path / "src"
    src.mkdir()

    def write_batch(name, events):
        p = src / name
        with open(p, "w") as fh:
            for e in events:
                fh.write(json.dumps(e) + "\n")
        time.sleep(0.05)  # distinct mtimes -> deterministic batch order

    def ev(eid, ts):
        return {
            "event_id": eid,
            "event_type": "update",
            "timestamp": ts,
            "key_value": eid,
        }

    # batch 1: two events far apart (watermark advances past t1+1d)
    write_batch("b1.json", [ev("a", "2024-01-01 00:00:00"), ev("z", "2024-01-10 00:00:00")])
    # batch 2: duplicate of 'a' (event-time now far below watermark ->
    # late, dropped) plus duplicate of 'z' (within watermark -> dedup)
    # plus one genuinely new event
    write_batch(
        "b2.json",
        [ev("a", "2024-01-01 00:00:00"), ev("z", "2024-01-10 00:00:00"), ev("n", "2024-01-10 01:00:00")],
    )

    stream = (
        spark.readStream.schema(st.EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    deduped = st.dedup_within_watermark(stream, watermark="1 day")
    out = st.run_to_memory(
        deduped,
        output_mode="append",
        checkpoint_dir=os.path.join(str(tmp_path), "ckpt"),
    )
    ids = sorted(r.event_id for r in out.select("event_id").collect())
    assert ids == ["a", "n", "z"], ids


def test_kafka_codec_roundtrip(spark):
    """to_kafka_sink_frame -> parse_kafka_events is lossless (S8/S9/T4)
    and the Kafka key carries the reference's partition affinity
    ``{company}_{table}_{event_type}`` (app/app.py:275)."""
    from cdc_pipe_line_spark import streaming as st
    from cdc_pipe_line_spark.cdc.diff import snapshot_diff, to_cdc_events
    from cdc_pipe_line_spark.queries import load_table

    from cdc_pipe_line_spark import fixtures

    orders = load_table(spark, SF_DIR, "orders")
    diff = snapshot_diff(
        fixtures.orders_snapshot_v2(orders),
        fixtures.orders_snapshot_v1(orders),
        "o_orderkey",
    )
    events = to_cdc_events(
        diff,
        company_id="c1",
        table_name="orders",
        key_column="o_orderkey",
        event_time=F.lit("2024-01-01 00:00:00").cast("timestamp"),
    ).drop("partition_key")

    wire = st.to_kafka_sink_frame(events).select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
    )
    back = st.parse_kafka_events(wire)

    keys = {r.partition_key for r in back.select("partition_key").distinct().collect()}
    assert keys == {"c1_orders_insert", "c1_orders_update", "c1_orders_delete"}
    orig = events.select(
        "event_id", "event_type", "key_value", "new_values"
    ).orderBy("event_id")
    rt = back.select("event_id", "event_type", "key_value", "new_values").orderBy(
        "event_id"
    )
    assert [r.asDict() for r in orig.collect()] == [r.asDict() for r in rt.collect()]


def test_stream_scd2_invariants(spark):
    """Golden SCD2 invariants (SURVEY.md §5) hold on the *streamed*
    history: at most one current row per key; every expired row has a
    valid_to; version intervals never overlap."""
    import os
    import shutil
    import uuid

    from cdc_pipe_line_spark import streaming as st

    base = streaming_q._stage(spark, SF_DIR, "cdc")
    run_dir = f"/tmp/cdc_stream_run/{uuid.uuid4().hex}"
    stream = (
        spark.readStream.schema(st.EVENT_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .option("timestampFormat", streaming_q._TS_FMT)
        .option("maxFilesPerTrigger", "1")
        .json(base)
    )
    q = st.run_scd2_stream(
        stream,
        os.path.join(run_dir, "history"),
        checkpoint_dir=os.path.join(run_dir, "ckpt"),
    )
    q.awaitTermination()
    h = st.read_scd2_history(spark, os.path.join(run_dir, "history")).cache()

    multi_current = (
        h.filter("is_current")
        .groupBy("key_value")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert multi_current == 0

    assert h.filter(~F.col("is_current") & F.col("valid_to").isNull()).count() == 0

    overlaps = (
        h.alias("a")
        .join(h.alias("b"), "key_value")
        .filter(F.col("a._event_id") < F.col("b._event_id"))
        .filter(
            (F.col("a.valid_from") < F.coalesce(F.col("b.valid_to"), F.lit("9999-01-01").cast("timestamp")))
            & (F.col("b.valid_from") < F.coalesce(F.col("a.valid_to"), F.lit("9999-01-01").cast("timestamp")))
        )
        .count()
    )
    assert overlaps == 0
    h.unpersist()
    shutil.rmtree(run_dir, ignore_errors=True)


def test_kafka_wiring_raises_clear_error_without_connector(spark, tmp_path):
    """S8/S9 production wiring: the canonical option set is built, and
    the missing connector jar surfaces as an actionable error (this
    container ships no spark-sql-kafka jar and no broker)."""
    import os

    import pytest

    from cdc_pipe_line_spark import streaming as st

    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        st.read_kafka_stream(spark, "broker:9092", "cdc-events")

    batch = spark.createDataFrame(
        [("e1", "update", "c1", "t1")],
        "event_id string, event_type string, company_id string, table_name string",
    )
    with pytest.raises(ValueError, match="streaming DataFrame"):
        st.write_kafka_stream(
            batch, "broker:9092", "cdc-events",
            checkpoint_dir=os.path.join(str(tmp_path), "ckpt"),
        )

    streaming_ev = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .selectExpr(
            "CAST(value AS STRING) AS event_id",
            "'update' AS event_type",
            "'c1' AS company_id",
            "'t1' AS table_name",
        )
    )
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        st.write_kafka_stream(
            streaming_ev, "broker:9092", "cdc-events",
            checkpoint_dir=os.path.join(str(tmp_path), "ckpt"),
        )


def test_scd2_append_log_compaction_bounds_segments(spark, tmp_path):
    """The SCD2 sink appends O(batch) rows per trigger and compacts a
    bucket once its segment count exceeds max_segments — segment files
    stay bounded and the resolved history is identical to an
    uncompacted run."""
    import os

    from cdc_pipe_line_spark import streaming as st
    from cdc_pipe_line_spark.queries import streaming_q
    from tests.conftest import SF_DIR

    base = streaming_q._stage(spark, SF_DIR, "cdc")

    def make_stream():
        return (
            spark.readStream.schema(st.EVENT_SCHEMA)
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.json")
            .option("timestampFormat", streaming_q._TS_FMT)
            .option("maxFilesPerTrigger", "1")
            .json(base)
        )

    compact_dir = os.path.join(str(tmp_path), "compact")
    q = st.run_scd2_stream(
        make_stream(),
        os.path.join(compact_dir, "history"),
        checkpoint_dir=os.path.join(compact_dir, "ckpt"),
        n_buckets=4,
        max_segments=2,  # force compaction across the 4 micro-batches
    )
    q.awaitTermination()

    data_dir = os.path.join(compact_dir, "history", "data")
    for b in os.listdir(data_dir):
        if not b.startswith("__bucket="):
            continue
        nseg = sum(
            1 for f in os.listdir(os.path.join(data_dir, b))
            if f.endswith(".parquet")
        )
        assert nseg <= 3, f"{b} has {nseg} segments (compaction not bounding)"

    plain_dir = os.path.join(str(tmp_path), "plain")
    q2 = st.run_scd2_stream(
        make_stream(),
        os.path.join(plain_dir, "history"),
        checkpoint_dir=os.path.join(plain_dir, "ckpt"),
        n_buckets=4,
        max_segments=1000,  # never compact
    )
    q2.awaitTermination()

    cols = ["key_value", "valid_from", "valid_to", "is_current", "_event_id"]
    a = sorted(map(tuple, st.read_scd2_history(
        spark, os.path.join(compact_dir, "history")).select(cols).collect()))
    b = sorted(map(tuple, st.read_scd2_history(
        spark, os.path.join(plain_dir, "history")).select(cols).collect()))
    assert a == b


def test_scd2_stream_keeps_the_callers_overwrite_mode(spark, tmp_path):
    """The sink's compaction asks for dynamic partition overwrite on
    its own write; the caller's session keeps its overwrite mode, so a
    later static overwrite still replaces every partition."""
    import json
    import os

    from cdc_pipe_line_spark import streaming as st

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        src = tmp_path / "src"
        src.mkdir()
        # one file per micro-batch (in mtime order), every batch over
        # the same keys: the buckets gain a second segment in batch 1
        # and compact
        for b in range(3):
            path = src / f"b{b}.json"
            with open(path, "w") as fh:
                for i in range(4):
                    fh.write(json.dumps({
                        "event_id": f"e{b}-{i}",
                        "event_type": "insert" if b == 0 else "update",
                        "timestamp": f"2024-01-01 0{b}:0{i}:00",
                        "key_value": f"k{i}",
                        "new_values": {"v": str(b)},
                    }) + "\n")
            os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
        stream = (
            spark.readStream.schema(st.EVENT_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )
        hist = str(tmp_path / "history")
        st.run_scd2_stream(
            stream, hist, checkpoint_dir=str(tmp_path / "ckpt"),
            n_buckets=2, max_segments=1,
        ).awaitTermination()
        assert spark.conf.get(key) == "STATIC"
        data_dir = os.path.join(hist, "data")
        for b in os.listdir(data_dir):
            if b.startswith("__bucket="):
                segs = [f for f in os.listdir(os.path.join(data_dir, b))
                        if f.endswith(".parquet")]
                assert len(segs) <= 2, (b, segs)
        h = st.read_scd2_history(spark, hist)
        assert h.count() == 12
        assert sorted(
            (r.key_value, r.data["v"]) for r in h.filter("is_current").collect()
        ) == [(f"k{i}", "2") for i in range(4)]

        out = str(tmp_path / "out")
        spark.createDataFrame([(1, "a"), (2, "b")], "v int, p string").write.partitionBy(
            "p"
        ).parquet(out)
        spark.createDataFrame([(3, "a")], "v int, p string").write.mode(
            "overwrite"
        ).partitionBy("p").parquet(out)
        assert [tuple(r) for r in spark.read.parquet(out).collect()] == [(3, "a")]
    finally:
        spark.conf.set(key, before)


def _write_event_file(path, events, mtime):
    """One JSON-lines source file of CDC events, stamped ``mtime`` so
    the file source streams files in that order."""
    import json
    import os

    with open(path, "w") as fh:
        for eid, etype, key, ts, v in events:
            row = {"event_id": eid, "event_type": etype, "key_value": key,
                   "timestamp": ts}
            if v is not None:
                row["new_values"] = {"v": v}
            fh.write(json.dumps(row) + "\n")
    os.utime(path, (mtime, mtime))


def test_scd2_stream_batch_job_budget_and_key_pushdown(spark, tmp_path):
    """A steady, plain micro-batch (history present, no compaction)
    runs its apply as one shuffle: at most 8 jobs inside foreachBatch
    (census, key broadcast, the shuffle, the append), and no empty
    micro-batch follows it.  A compacting batch adds only the
    overwrite of its buckets: at most 6 jobs.  A key lookup through read_scd2_history
    reads in the marker's schema (no inference job) and pushes the key
    into the parquet scan, so it takes at most 2 jobs; a truncated
    marker still reads, by inference."""
    import glob
    import os
    import re

    from cdc_pipe_line_spark import streaming as st

    src, hist = tmp_path / "src", str(tmp_path / "history")
    src.mkdir()
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    callers = spark.conf.get(no_data)
    jobs, batches = [], []
    for b in range(4):
        _write_event_file(
            src / f"b{b}.json",
            [(f"e{b}-{i}", "insert" if b == 0 else "update", f"k{i}",
              f"2024-01-01 0{b}:{i:02d}:00", f"{b}.{i}") for i in range(40)],
            1_700_000_000 + b,
        )
        q = st.run_scd2_stream(
            spark.readStream.schema(st.EVENT_SCHEMA).json(str(src)),
            hist, checkpoint_dir=str(tmp_path / "ckpt"),
            n_buckets=4, max_segments=100,
        )
        q.awaitTermination()
        jobs.append(len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))))
        batches.append(len(q.recentProgress))
    assert max(jobs[1:]) <= 8, jobs
    assert batches == [1, 1, 1, 1]
    assert spark.conf.get(no_data) == callers

    # a compacting batch: every bucket it touches holds more than
    # max_segments segments, and the compaction overwrites those
    # buckets straight from its plan (no persist and count first)
    _write_event_file(
        src / "b4.json",
        [(f"e4-{i}", "update", f"k{i}", f"2024-01-01 04:{i:02d}:00", f"4.{i}")
         for i in range(20, 40)],
        1_700_000_004,
    )
    q = st.run_scd2_stream(
        spark.readStream.schema(st.EVENT_SCHEMA).json(str(src)),
        hist, checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=4, max_segments=1,
    )
    q.awaitTermination()
    compacting = len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))
    assert compacting <= 6, compacting
    for bucket in glob.glob(os.path.join(hist, "data", "__bucket=*")):
        assert len(glob.glob(os.path.join(bucket, "*.parquet"))) == 1, bucket

    def lookup():
        return (
            st.read_scd2_history(spark, hist)
            .filter((F.col("key_value") == "k7") & F.col("is_current"))
            .select("_event_id", F.col("data")["v"].alias("v"))
        )

    sc = spark.sparkContext
    sc.setJobGroup("scd2-point-read", "point read")
    try:
        got = [tuple(r) for r in lookup().collect()]
    finally:
        sc._jsc.clearJobGroup()
    assert got == [("e3-7", "3.7")]
    assert len(sc.statusTracker().getJobIdsForGroup("scd2-point-read")) <= 2
    plan = lookup()._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("key_value" in p for p in pushed), plan

    marker = tmp_path / "history" / "_COMMITTED_BATCH"
    text = marker.read_text()
    assert '"schema"' in text
    marker.write_text(text[: len(text) // 2])
    assert [tuple(r) for r in lookup().collect()] == [("e3-7", "3.7")]


def test_scd2_stream_matches_batch_apply(spark, tmp_path):
    """Differential check: the streamed history equals
    ``cdc.scd2.apply_scd2`` folded over the same time-ordered batches
    — same-key chains within a batch, deletes, timestamps shuffled
    within a batch, duplicate deliveries inside a batch, a
    checkpoint-less rerun that replays the first batches before
    applying a new one, and a run over a new source whose batch ids
    restart at 0, below the ``__seq`` of the rows it expires."""
    import random

    from cdc_pipe_line_spark import streaming as st
    from cdc_pipe_line_spark.cdc.scd2 import apply_scd2

    rng = random.Random(7)
    batches = [
        # inserts; k0 chains three versions in one batch
        [("a0", "insert", "k0", "00:00"), ("a1", "update", "k0", "00:05"),
         ("a2", "update", "k0", "00:09"), ("a3", "insert", "k1", "00:01"),
         ("a4", "insert", "k2", "00:02"), ("a5", "insert", "k3", "00:03")],
        # updates, a delete, a chain on a key with history
        [("b0", "update", "k1", "01:00"), ("b1", "delete", "k2", "01:01"),
         ("b2", "update", "k0", "01:02"), ("b3", "insert", "k4", "01:04"),
         ("b4", "update", "k0", "01:06")],
        # chains on keys with history, a key deleted for good
        [("c0", "update", "k1", "02:00"), ("c1", "update", "k1", "02:04"),
         ("c2", "delete", "k4", "02:01"), ("c3", "update", "k3", "02:02"),
         ("c4", "update", "k0", "02:03")],
        # after the rerun: re-insert a deleted key, a delete then
        # re-insert chain
        [("d0", "insert", "k2", "03:00"), ("d1", "update", "k0", "03:01"),
         ("d2", "delete", "k1", "03:02"), ("d3", "update", "k3", "03:03"),
         ("d4", "delete", "k3", "03:04"), ("d5", "insert", "k3", "03:06")],
        # a new source: expires rows written under batch id 3
        [("f0", "update", "k0", "04:00"), ("f1", "update", "k2", "04:01"),
         ("f2", "delete", "k3", "04:02"), ("f3", "insert", "k5", "04:03")],
    ]
    events = []
    for batch in batches:
        rows = [(eid, t, k, f"2024-01-01 {hm}:00", None if t == "delete" else eid)
                for eid, t, k, hm in batch]
        rows += [rows[0], rows[2]]  # duplicate deliveries
        rng.shuffle(rows)
        events.append(rows)

    src, src2, hist = tmp_path / "src", tmp_path / "src2", str(tmp_path / "history")
    src.mkdir()
    src2.mkdir()
    files = [str(src / f"b{b}.json") for b in range(4)] + [str(src2 / "b4.json")]

    def run(source):
        stream = (
            spark.readStream.schema(st.EVENT_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .json(str(source))
        )
        st.run_scd2_stream(stream, hist, n_buckets=2, max_segments=2).awaitTermination()

    for b in range(3):
        _write_event_file(files[b], events[b], 1_700_000_000 + b)
    run(src)
    _write_event_file(files[3], events[3], 1_700_000_003)
    run(src)  # checkpoint-less: replays batches 0-2, then applies batch 3
    _write_event_file(files[4], events[4], 1_700_000_004)
    run(src2)  # batch id 0 again

    expected = None
    for b in [0, 1, 2, 0, 1, 2, 3, 4]:
        batch = spark.read.schema(st.EVENT_SCHEMA).json(files[b])
        expected = apply_scd2(expected, batch).localCheckpoint()

    cols = ["key_value", "valid_from", "valid_to", "is_current", "_event_id", "_event_type"]

    def rows(df):
        return sorted(
            [(*r[:-1], None if r[-1] is None else sorted(r[-1].items()))
             for r in df.select(*cols, "data").collect()],
            key=repr,
        )

    got = rows(st.read_scd2_history(spark, hist))
    assert got == rows(expected)
    assert len(got) == 21  # one row per insert/update event


def test_scd2_stream_replayed_delete_keeps_later_versions(spark, tmp_path):
    """A delete opens no version, so the event-id guard cannot see it
    replayed.  Replayed after the versions that followed it (a
    checkpoint-less rerun here; a crash between the append and the
    marker re-delivers the same way), it must not close the key's
    current version at a time before that version began."""
    import datetime as dt

    from cdc_pipe_line_spark import streaming as st

    src, hist = tmp_path / "src", str(tmp_path / "history")
    src.mkdir()
    _write_event_file(src / "b0.json", [
        ("e1", "insert", "k1", "2024-01-01 00:00:00", "1"),
    ], 1_700_000_000)
    _write_event_file(src / "b1.json", [
        ("e2", "insert", "k1", "2024-01-01 02:00:00", "2"),
        ("d1", "delete", "k1", "2024-01-01 01:00:00", None),
        ("d2", "delete", "k2", "2024-01-01 01:30:00", None),
        ("e3", "insert", "k2", "2024-01-01 01:45:00", "3"),
    ], 1_700_000_001)

    def run():
        stream = (
            spark.readStream.schema(st.EVENT_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )
        st.run_scd2_stream(stream, hist, n_buckets=2).awaitTermination()

    def rows():
        return sorted(
            tuple(r) for r in st.read_scd2_history(spark, hist)
            .select("_event_id", "valid_from", "valid_to", "is_current").collect()
        )

    run()
    first = rows()
    jan1, hour = dt.datetime(2024, 1, 1), dt.timedelta(hours=1)
    assert first == [
        ("e1", jan1, jan1 + hour, False),
        ("e2", jan1 + 2 * hour, None, True),
        ("e3", jan1 + 1.75 * hour, None, True),
    ]
    run()  # replays both batches
    assert rows() == first


@pytest.mark.slow
def test_stream_crash_between_append_and_marker(spark, tmp_path, monkeypatch):
    """The NASTIER replay window (VERDICT r6 item 5): crash after the
    data append but BEFORE the committed-batch marker.  On restart the
    batch is re-delivered and its rows are appended a SECOND time
    (the marker never existed), so correctness rests on the reader's
    latest-wins resolution over ``_event_id`` — not on the marker,
    which only saves re-work.  The resolved history must be
    row-identical to an uninterrupted run."""
    import os
    import uuid

    from cdc_pipe_line_spark import streaming as st
    from cdc_pipe_line_spark.queries import streaming_q

    base = streaming_q._stage(spark, SF_DIR, "cdc")

    def make_stream():
        return (
            spark.readStream.schema(st.EVENT_SCHEMA)
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.json")
            .option("timestampFormat", streaming_q._TS_FMT)
            .option("maxFilesPerTrigger", "1")
            .json(base)
        )

    hist_dir = os.path.join(str(tmp_path), "history")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    real_write = st._fs_write_text
    crashed = []

    def crash_on_first_marker(sp, path, payload):
        if "_COMMITTED_BATCH" in path and not crashed:
            crashed.append(path)
            raise RuntimeError("injected crash before marker write")
        return real_write(sp, path, payload)

    monkeypatch.setattr(st, "_fs_write_text", crash_on_first_marker)
    q = st.run_scd2_stream(make_stream(), hist_dir, checkpoint_dir=ckpt)
    try:
        q.awaitTermination()
    except Exception:
        pass  # injected crash surfaces here
    assert crashed, "marker write was never attempted"

    monkeypatch.setattr(st, "_fs_write_text", real_write)
    q2 = st.run_scd2_stream(make_stream(), hist_dir, checkpoint_dir=ckpt)
    q2.awaitTermination()
    resumed = st.read_scd2_history(spark, hist_dir).cache()

    # the re-delivered batch really did double-append: raw segment rows
    # for batch 0's events exceed the resolved count, and resolution
    # dedups them away
    dup_versions = (
        resumed.groupBy("_event_id").count().filter(F.col("count") > 1).count()
    )
    assert dup_versions == 0

    clean_dir = f"/tmp/cdc_stream_run/{uuid.uuid4().hex}"
    q3 = st.run_scd2_stream(
        make_stream(),
        os.path.join(clean_dir, "history"),
        checkpoint_dir=os.path.join(clean_dir, "ckpt"),
    )
    q3.awaitTermination()
    clean = st.read_scd2_history(spark, os.path.join(clean_dir, "history"))
    cols = ["key_value", "valid_from", "valid_to", "is_current", "_event_id"]
    assert sorted(map(tuple, resumed.select(cols).collect())) == sorted(
        map(tuple, clean.select(cols).collect())
    )
    resumed.unpersist()
    import shutil

    shutil.rmtree(clean_dir, ignore_errors=True)


def test_rocksdb_state_store_scope(spark):
    """The transformWithState provider context must be a no-op on the
    fallback path (no protobuf here) and must restore the session conf
    either way."""
    from cdc_pipe_line_spark import streaming as st

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    with st.rocksdb_state_store(spark):
        inside = spark.conf.get(key, None)
        if st._tws_available():
            assert inside == st.ROCKSDB_PROVIDER
        else:
            assert inside == before  # no-op on the fallback path
    assert spark.conf.get(key, None) == before


def test_inactivity_monitor_fires_only_quiet_users(spark, tmp_path):
    """Event-time-timer semantics of st.inactivity_monitor: a user
    whose last event sits > gap before the final watermark fires
    exactly once with their last-activity state; a user active
    within the gap stays silent (no guessed emission at end of
    stream)."""
    import pandas as pd

    from cdc_pipe_line_spark import streaming as st

    rows = [
        (1, "2024-01-01 00:00:00", 1),
        (2, "2024-01-01 00:00:00", 2),
        (3, "2024-01-01 01:00:00", 3),
        (1, "2024-01-01 00:10:00", 4),
        (2, "2024-01-01 02:00:00", 5),
        (2, "2024-01-01 02:25:00", 6),
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id"])
    src = str(tmp_path / "feed")
    (
        spark.createDataFrame(pdf)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
        .write.json(src)
    )
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp, event_id bigint")
        .json(src)
        .withWatermark("ts", "0 seconds")
    )
    mon = st.inactivity_monitor(stream, gap_minutes=30)
    with st.rocksdb_state_store(spark):
        out = st.run_to_memory(mon, output_mode="append")
    got = {
        (r.user_id, r.last_us, r.n_events)
        for r in out.collect()
    }
    jan1 = 1704067200_000000
    assert got == {
        (1, jan1 + 10 * 60_000_000, 2),   # quiet since 00:10
        (3, jan1 + 3600_000_000, 1),      # quiet since 01:00
        # user 2: last event 02:25, watermark 02:25 -> timer not passed
    }


def test_state_introspect_matches_batch_counts(spark, tmp_path):
    """The statestore reader must see EXACTLY the per-key aggregation
    state the stream committed: per-user counts equal to the batch
    aggregate, every configured store partition addressable."""
    import os

    from pyspark.sql import functions as F

    from cdc_pipe_line_spark import streaming as st

    src_dir = os.path.join(str(tmp_path), "in")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "event_type"
    )
    ev.coalesce(2).write.mode("overwrite").json(src_dir)
    stream = spark.readStream.schema("user_id bigint, event_type string").json(
        src_dir
    )
    counts = stream.groupBy("user_id").agg(F.count("*").alias("n"))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q, _ = st.start_to_memory(counts, output_mode="update", checkpoint_dir=ckpt)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()

    state = spark.read.format("statestore").load(ckpt)
    got = {
        r["user_id"]: r["n"]
        for r in state.select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.count").alias("n"),
        ).collect()
    }
    want = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want
    # all 4 configured store partitions exist and are addressable
    n_parts = state.select("partition_id").distinct().count()
    meta = spark.read.format("state-metadata").load(ckpt).first()
    assert meta["numPartitions"] == 4
    assert n_parts <= 4 and len(got) == len(want)


def test_full_outer_eviction_legs_pinned(spark, tmp_path):
    """Pins BOTH watermark-eviction contracts the full-outer oracle
    replays, on crafted boundary data (the fixture's random
    microsecond data never lands near a boundary, so only this test
    notices a Spark upgrade changing the rule):

    with W = min(max view_ts, max purchase_ts) - 1 day,
    - an unmatched VIEW emits null-padded iff view_ts + 4h < W;
    - an unmatched PURCHASE emits null-padded iff purchase_ts < W;
    - rows past their cutoff stay in state and never emit.
    """
    import datetime as dt
    import os

    from cdc_pipe_line_spark import streaming as st
    from cdc_pipe_line_spark.queries.streaming_q import RAW_SCHEMA, _TS_FMT

    t0 = dt.datetime(2024, 1, 1)
    h, d = dt.timedelta(hours=1), dt.timedelta(days=1)
    rows = [
        # (event_id, ts, user_id, event_type): W = t0 + 9d
        (1, t0, 1, "view"),            # matched with 2
        (2, t0 + h, 1, "purchase"),
        (3, t0, 2, "view"),            # unmatched, +4h < W -> emits
        (4, t0 + 9 * d - 2 * h, 3, "view"),  # +4h > W -> held
        (5, t0 + d, 4, "purchase"),    # unmatched, ts < W -> emits
        (6, t0 + 9 * d + h, 5, "purchase"),  # ts > W -> held
        (7, t0 + 10 * d, 98, "view"),  # view clock; +4h > W -> held
        (8, t0 + 10 * d, 99, "purchase"),  # purchase clock; > W -> held
    ]
    df = spark.createDataFrame(
        [(i, ts, u, et, 1.0) for i, ts, u, et in rows], RAW_SCHEMA
    )
    base = str(tmp_path / "fo")
    df.coalesce(1).write.option("timestampFormat", _TS_FMT).json(base)
    stream = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("timestampFormat", _TS_FMT)
        .json(base)
    )
    l = stream.filter(F.col("event_type") == "view").withWatermark(
        "ts", "1 day"
    ).alias("l")
    r = stream.filter(F.col("event_type") == "purchase").withWatermark(
        "ts", "1 day"
    ).alias("r")
    cond = (
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 4 HOURS"))
    )
    joined = l.join(r, cond, "full_outer").select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q, out = st.start_to_memory(joined, output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    got = {
        (r.view_id, r.purchase_id) for r in out.collect()
    }
    assert got == {(1, 2), (3, None), (None, 5)}, got
