"""Structured Streaming surface (SURVEY.md §2.9 T1-T8).

The reference consumed Kafka with a blocking ``for message in
consumer`` loop (consumer.py:377-397), at-least-once with sink-side
dedup (consumer.py:133), fire-and-forget daemon threads for the Delta
write (consumer.py:209-220), and a Redis every-10th-event trigger
(utils.py:73-98).  Spark-first replacements:

- T1/T2: ``readStream`` (file source here, Kafka in production) +
  checkpointed offsets -> exactly-once into the sink.
- T3: ``dropDuplicatesWithinWatermark("event_id")`` -> bounded-state
  dedup instead of an unbounded Postgres conflict table.
- T5: side-effects folded into ``foreachBatch`` (transactional,
  ordered) instead of daemon threads.
- T6: every-N trigger as keyed state (``transformWithStateInPandas``,
  Spark 4's arbitrary-stateful API) instead of Redis INCR.
- T8: event-time watermark + tumbling window replaces the reference's
  processing-time daily batch, so late data lands in its true day.

Scale notes: state stores (dedup, windows, every-N) are per-key and
partitioned by the shuffle, so they scale horizontally; watermarks
bound their size.  The foreachBatch SCD2 apply does constant work per
micro-batch (scd2.apply_scd2 — one window + one broadcast join), not
per event like the reference's 1.4-19 s/row UPDATE loop.
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: CDC event envelope (reference CDCEvent, app/app.py:80-89) as a
#: streaming schema; payloads are map<string,string> (SURVEY.md §1.1).
EVENT_SCHEMA = StructType(
    [
        StructField("event_id", StringType(), False),
        StructField("event_type", StringType(), False),
        StructField("company_id", StringType(), True),
        StructField("table_name", StringType(), True),
        StructField("timestamp", TimestampType(), False),
        StructField("key_column", StringType(), True),
        StructField("key_value", StringType(), True),
        StructField("old_values", MapType(StringType(), StringType()), True),
        StructField("new_values", MapType(StringType(), StringType()), True),
    ]
)


def read_event_stream(
    spark: SparkSession,
    path: str,
    *,
    schema: StructType = EVENT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of JSON-lines CDC events (T1).

    The file source is the local stand-in for Kafka: same JSON value
    shape, same replay semantics (checkpoint = consumer offsets, T2).
    """
    reader = spark.readStream.schema(schema).option("recursiveFileLookup", "true")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


def parse_kafka_events(
    raw: DataFrame, *, schema: StructType = EVENT_SCHEMA
) -> DataFrame:
    """Decode a Kafka source DataFrame (key/value binary) into typed
    events (S9; consumer.py:383 ``json.loads``).

    Use with ``spark.readStream.format("kafka")...``; kept separate so
    it is unit-testable without a broker.
    """
    return raw.select(
        F.col("key").cast("string").alias("partition_key"),
        F.from_json(F.col("value").cast("string"), schema).alias("e"),
    ).select("partition_key", "e.*")


def to_kafka_sink_frame(events: DataFrame) -> DataFrame:
    """Encode events for the Kafka sink (S8; app/app.py:266-287):
    string key ``{company}_{table}_{event_type}`` (T4 partition
    affinity), JSON value."""
    return events.select(
        F.concat_ws(
            "_", F.col("company_id"), F.col("table_name"), F.col("event_type")
        ).alias("key"),
        F.to_json(F.struct(*events.columns)).alias("value"),
    )


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    *,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
    max_offsets_per_trigger: int | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """The production Kafka source (S9; reference consumer.py:377-397
    poll loop): ``readStream.format("kafka")`` with the canonical
    option set, composed with :func:`parse_kafka_events` for decoding.

    ``startingOffsets`` + checkpointed commits give T2 replay
    semantics; ``maxOffsetsPerTrigger`` bounds micro-batch size
    (backpressure).  Requires the spark-sql-kafka connector jar on the
    session classpath — this container ships none and no broker, so
    the call raises a clear error here; the file-source stand-in
    (:func:`read_event_stream`) covers the same decode/replay surface
    in tests.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    try:
        return reader.load()
    except Exception as exc:
        if not _is_missing_kafka_source(exc):
            raise  # real connector error (auth, bad option, broker) — keep it
        raise RuntimeError(
            "Kafka source unavailable: the spark-sql-kafka connector jar "
            "is not on the session classpath (add "
            "org.apache.spark:spark-sql-kafka-0-10_2.13 via "
            "spark.jars.packages on a real cluster). Use "
            "read_event_stream() as the file-backed stand-in."
        ) from exc


def write_kafka_stream(
    events: DataFrame,
    bootstrap_servers: str,
    topic: str,
    *,
    checkpoint_dir: str,
    options: dict[str, str] | None = None,
):
    """The production Kafka sink (S8; reference app/app.py:266-287
    producer.send): events pass through :func:`to_kafka_sink_frame`
    (key = ``{company}_{table}_{event_type}`` for T4 partition
    affinity, JSON value) into ``writeStream.format("kafka")``.
    Checkpointed offsets make delivery at-least-once; consumers dedup
    on event_id (J8).  Same container caveat as
    :func:`read_kafka_stream`.
    """
    if not events.isStreaming:
        raise ValueError(
            "write_kafka_stream expects a streaming DataFrame; for a "
            'batch frame use to_kafka_sink_frame(df).write.format("kafka")'
        )
    writer = (
        to_kafka_sink_frame(events)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
    )
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    try:
        return writer.start()
    except Exception as exc:
        if not _is_missing_kafka_source(exc):
            raise  # real connector error (auth, bad option, broker) — keep it
        raise RuntimeError(
            "Kafka sink unavailable: the spark-sql-kafka connector jar "
            "is not on the session classpath (add "
            "org.apache.spark:spark-sql-kafka-0-10_2.13 via "
            "spark.jars.packages on a real cluster)."
        ) from exc


def _is_missing_kafka_source(exc: Exception) -> bool:
    """True only when the failure is the kafka data source itself being
    absent from the classpath — any other error (bad option, auth/SSL,
    unreachable broker at plan time) must propagate unmangled so
    operators are not sent hunting for a jar that is already there."""
    msg = str(exc)
    return (
        "DATA_SOURCE_NOT_FOUND" in msg
        or "Failed to find data source: kafka" in msg
        or "Failed to find the data source: kafka" in msg
    )


def dedup_within_watermark(
    stream: DataFrame,
    *,
    ts_col: str = "timestamp",
    id_col: str = "event_id",
    watermark: str = "1 day",
) -> DataFrame:
    """At-least-once -> effectively-once (T3; consumer.py:133).

    State is bounded by the watermark, unlike the reference's
    ever-growing ``cdc_events`` conflict table.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )


def daily_counts_stream(
    stream: DataFrame,
    *,
    ts_col: str = "ts",
    group_cols: list[str] | None = None,
    watermark: str = "1 day",
) -> DataFrame:
    """Event-time daily counts (T8 + A2).

    The reference aggregated by *processing-time* calendar day
    (automl_anomaly_detection.py:190-213) so late events silently
    landed on the wrong day; the watermark + tumbling window is the
    principled replacement.
    """
    group_cols = group_cols or []
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 day").alias("__w"), *group_cols)
        .agg(F.count("*").alias("n_events"))
        .select(F.col("__w.start").cast("date").alias("day"), *group_cols, "n_events")
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    *,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "4 hours",
    watermark: str = "1 day",
) -> DataFrame:
    """Stream-stream inner join on a key within an event-time interval
    (T-family extension: the funnel/conversion join the reference could
    only do by re-querying its conflict table per event,
    consumer.py:312-340).

    Right-side rows must land in ``[left_ts, left_ts + within]``.  Both
    sides carry the watermark so Spark bounds join state: a buffered
    left row is dropped once the right watermark passes
    ``left_ts + within`` — state is O(watermark window), not O(stream).
    Columns come back prefixed via the ``l``/``r`` aliases.
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}")
        )
    )
    return l.join(r, cond, "inner")


def run_to_memory(
    df: DataFrame,
    *,
    output_mode: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run a bounded stream to a memory sink and return the result.

    Uses ``availableNow`` so the query drains everything currently in
    the source and stops — the batch-parity harness for every
    streaming query in this repo (memory sink is driver-resident:
    test/driver scale only, never a production sink).
    """
    q, table = start_to_memory(
        df, output_mode=output_mode, checkpoint_dir=checkpoint_dir
    )
    q.awaitTermination()
    return table


def start_to_memory(
    df: DataFrame,
    *,
    output_mode: str,
    checkpoint_dir: str | None = None,
):
    """Start (without awaiting) a bounded memory-sink stream; returns
    ``(query, result_df)``.  Lets independent bounded streams run
    CONCURRENTLY — each StreamingQuery runs on its own scheduler
    thread, so two ~N-second drains overlap instead of serializing;
    await both, then read the tables."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start(), df.sparkSession.table(name)


# --- Hadoop FileSystem helpers -------------------------------------
#
# The SCD2 sink's driver-side bookkeeping (idempotency marker, segment
# census for compaction, checkpoint-identity read) must work wherever
# the history lives — local disk here, HDFS/S3/ABFS at 100 TB.  Python
# ``open``/``os.listdir`` only speak the local FS, so these route
# through the JVM's ``org.apache.hadoop.fs.FileSystem``, which resolves
# the scheme (``file:``, ``hdfs:``, ``s3a:``, ``abfss:``) per path.


def _hfs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path``, scheme-resolved."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _child(base: str, *parts: str) -> str:
    """URI-safe path join (``os.path.join`` breaks on ``s3a://...``)."""
    return "/".join([base.rstrip("/"), *parts])


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hfs(spark, path)
    return fs.exists(hpath)


def _fs_mkdirs(spark: SparkSession, path: str) -> None:
    fs, hpath = _hfs(spark, path)
    fs.mkdirs(hpath)


def _fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Full contents of a small text file, or None if absent."""
    fs, hpath = _hfs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Overwrite a small text file (create(..., overwrite=True))."""
    fs, hpath = _hfs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_count_suffix(spark: SparkSession, path: str, suffix: str) -> int:
    """Number of direct children of ``path`` ending in ``suffix``
    (0 if the directory does not exist)."""
    fs, hpath = _hfs(spark, path)
    if not fs.exists(hpath):
        return 0
    return sum(
        1
        for st in fs.listStatus(hpath)
        if st.getPath().getName().endswith(suffix)
    )


def run_scd2_stream(
    events_stream: DataFrame,
    history_base_dir: str,
    *,
    ts_col: str = "timestamp",
    watermark: str = "1 day",
    checkpoint_dir: str | None = None,
    n_buckets: int = 32,
    max_segments: int = 16,
    on_batch: Callable[[DataFrame, int], None] | None = None,
):
    """Streaming SCD2 apply (T1+T3+T5): watermark-deduped events ->
    ``foreachBatch`` -> APPEND-ONLY delta log over a
    **hash-bucket-partitioned** parquet history.

    Scale design (the parquet approximation of a Delta ``MERGE``;
    with delta-spark installed this collapses to the canonical
    two-phase MERGE):

    - history is partitioned by ``__bucket = pmod(xxhash64(key_value),
      n_buckets)``; a micro-batch reads ONLY the buckets containing
      its keys (partition pruning).
    - each batch APPENDS just its changed rows — the new versions it
      opens plus re-emitted copies of the rows it expires (same
      ``_event_id``, updated ``valid_to``/``is_current``) — stamped
      with a monotonically increasing ``__seq``.  Write amplification
      is O(batch), not O(touched-bucket history): the wholesale
      bucket rewrite this replaces re-wrote a key-uniform batch's
      ENTIRE history every trigger.
    - readers resolve latest-wins per version: ``row_number() over
      (partition by _event_id order by __seq desc)`` — one window
      over the pruned slice (:func:`read_scd2_history`).
    - a bucket whose segment-file count exceeds ``max_segments`` is
      COMPACTED: its resolved rows are rewritten as one segment via
      dynamic partition overwrite, bounding read-side merge fan-in.

    Because resolution dedups on ``_event_id``, a crash between the
    data append and the marker write is harmless: the re-delivered
    batch appends identical rows and the reader picks one — the
    marker only saves re-work, correctness no longer depends on it.
    At 100 TB, ``n_buckets`` scales with the key space (e.g. 16k) and
    the same pruning + compaction math holds.  Driver-side cost of the
    per-batch bucket census (``select(__bucket).distinct().collect()``)
    and the compaction segment count is O(``n_buckets``) smallints —
    negligible to ~1M buckets, far beyond the useful range (buckets
    should stay >= ~100 MB each, so even 100 TB wants ~1M at most).

    Returns the StreamingQuery; read back with
    :func:`read_scd2_history`.

    Exactly-once: ``foreachBatch`` re-delivers a batch when the sink
    committed but the crash hit before the offset commit.  The sink is
    made idempotent with a committed-batch marker — the parquet analog
    of Delta's ``txnAppId``/``txnVersion``: the marker records BOTH the
    streaming query's identity (the ``id`` Spark persists in the
    checkpoint's ``metadata`` file) and the batch id, and a re-delivered
    batch is skipped only when both match.  Batch ids are scoped to a
    checkpoint: a new/cleared checkpoint restarts at 0, so a bare
    ``batch_id <= marker`` check would silently drop the first N
    legitimate micro-batches.  A marker from a *different* query
    identity fails fast instead — replaying a fresh stream onto an
    existing history would duplicate versions.  (The data-write/
    marker-write pair is not atomic — Delta's transaction closes that
    residual window.)
    """
    from cdc_pipe_line_spark.cdc.scd2 import (
        chain_new_versions,
        dedup_events,
        filter_applied_events,
        first_event_ts,
    )

    spark = events_stream.sparkSession
    data_dir = _child(history_base_dir, "data")
    committed = _child(history_base_dir, "_COMMITTED_BATCH")
    _fs_mkdirs(spark, history_base_dir)
    bucket_of = F.pmod(F.xxhash64(F.col("key_value")), F.lit(n_buckets))

    def _query_identity() -> str | None:
        """The stream's durable identity: checkpoint metadata ``id``.

        Stable across restarts on the same checkpoint; a cleared or
        relocated checkpoint gets a fresh id (exactly the cases where
        batch ids restart).  ``None`` when running checkpoint-less —
        then no replay protection is possible and none is claimed.
        """
        if not checkpoint_dir:
            return None
        try:
            raw = _fs_read_text(spark, _child(checkpoint_dir, "metadata"))
            return json.loads(raw).get("id") if raw else None
        except (OSError, ValueError):
            return None

    def _read_marker() -> tuple[str | None, int] | None:
        raw = _fs_read_text(spark, committed)
        if raw is None:
            return None
        raw = raw.strip()
        corrupt = ValueError(
            f"corrupt _COMMITTED_BATCH marker at {committed!r}: {raw!r}. "
            "Expected {\"query_id\": ..., \"batch_id\": <int>} (or a bare "
            "int from the pre-identity format). Delete the marker after "
            "verifying the history state to proceed."
        )
        try:
            obj = json.loads(raw)
        except ValueError:
            obj = None
        if isinstance(obj, dict):
            try:
                return obj.get("query_id"), int(obj["batch_id"])
            except (KeyError, TypeError, ValueError):
                raise corrupt from None
        # pre-identity marker format: bare int, unknown provenance
        try:
            return None, int(raw)
        except ValueError:
            raise corrupt from None

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        marker = _read_marker()
        if marker is not None:
            marker_qid, marker_batch = marker
            qid = _query_identity()
            if marker_qid is not None and qid is not None and marker_qid != qid:
                raise ValueError(
                    f"history at {history_base_dir!r} was committed by "
                    f"streaming query {marker_qid} but this stream is "
                    f"{qid} (new or cleared checkpoint): its batch ids "
                    "restart at 0, so the marker cannot distinguish "
                    "replays from new data. Resume with the original "
                    "checkpoint, or point at a fresh history dir, or "
                    "delete the _COMMITTED_BATCH marker after verifying "
                    "the history state."
                )
            # Skip only under a PROVEN identity match: with no
            # checkpoint both ids are None and a bare == would silently
            # drop the first marker_batch+1 micro-batches of a fresh
            # run.  Without identity, fall through — the event-id
            # anti-join (filter_applied_events) makes re-application a
            # no-op anyway; the marker only saves re-work.
            if marker_qid is not None and marker_qid == qid and (
                batch_id <= marker_batch
            ):
                # Re-delivered after a crash; already applied.  Still
                # drain every partition so the upstream stateful
                # dedup commits its state stores (Spark validates
                # per-partition commits in foreachBatch).
                batch_df.count()
                return
        # Materialize the micro-batch once: it feeds TWO actions (the
        # bucket census and the main dedup/chain/append pipeline), and
        # without this each action re-parses the batch's source files
        # — at 250k-row batches that is a full extra decode per
        # trigger.  persist(MEMORY_AND_DISK)+count rather than an eager
        # localCheckpoint: lineage is retained, so on a real cluster an
        # executor loss recomputes the lost blocks transparently (a
        # localCheckpoint stores unreplicated blocks with NO lineage —
        # the micro-batch would fail and force a stream restart), and
        # the blocks are freed deterministically in the finally below
        # instead of pinning executor storage until driver-side GC.
        batch_df = batch_df.withColumn("__bucket", bucket_of).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            _apply_materialized(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    def _apply_materialized(batch_df: DataFrame, batch_id: int) -> None:
        # one census job: it drains the stateful dedup upstream and
        # fills the persisted batch while it lists the touched buckets
        touched = [r[0] for r in batch_df.groupBy("__bucket").count().collect()]
        if not touched:
            return
        resolved = None
        if _fs_exists(spark, _child(data_dir, "_SUCCESS")):
            # NOT materialized, deliberately: resolved feeds both the
            # replay anti-join and the expiry re-emit, but the history
            # slice is wide (map payloads) and measured twice — an
            # eager localCheckpoint here costs MORE than the second
            # scan+window (uniform-key 1M-event soak: 18.3 -> 20.2 s).
            resolved = resolve_scd2_segments(
                spark.read.parquet(data_dir).filter(F.col("__bucket").isin(touched))
            ).drop("__bucket")
        ev = filter_applied_events(
            dedup_events(batch_df.drop("__bucket"), order_cols=[ts_col]), resolved
        )
        new_versions = chain_new_versions(ev, ts_col=ts_col)
        if resolved is not None:
            # re-emit expired rows: same _event_id, closed valid_to —
            # latest __seq wins at read time
            expired = (
                resolved.filter(F.col("is_current"))
                .join(F.broadcast(first_event_ts(ev, ts_col=ts_col)), "key_value")
                .withColumn("valid_to", F.col("__first_ts"))
                .withColumn("is_current", F.lit(False))
                .drop("__first_ts")
            )
            delta = expired.unionByName(new_versions)
        else:
            delta = new_versions
        # co-locate each bucket in one task before partitionBy, else
        # every shuffle partition writes a sliver of every bucket
        # (num_tasks x num_buckets small files — the reference's
        # file-per-event anti-pattern reborn).  persist+count decouples
        # the append from the scan of the directory it extends: every
        # partition is materialized before the write starts, and a
        # recompute after block loss re-reads only COMMITTED files
        # (in-flight task output lives under _temporary, which the
        # file index excludes) so lineage-based recovery stays correct.
        out = (
            delta.withColumn("__bucket", bucket_of)
            .withColumn("__seq", F.lit(batch_id).cast("bigint"))
            .repartition(len(touched), "__bucket")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            out.count()
            out.write.mode("append").partitionBy("__bucket").parquet(data_dir)
        finally:
            out.unpersist()
        _compact_if_needed(touched, batch_id)
        _fs_write_text(
            spark,
            committed,
            json.dumps({"query_id": _query_identity(), "batch_id": batch_id}),
        )
        if on_batch is not None:
            on_batch(batch_df, batch_id)

    def _compact_if_needed(touched: list[int], batch_id: int) -> None:
        """Rewrite any touched bucket whose segment-file count exceeds
        ``max_segments`` down to one resolved segment (dynamic
        partition overwrite replaces only those bucket partitions).
        Amortized cost: each row is rewritten O(1) times per
        ``max_segments`` appends."""
        heavy = []
        for b in touched:
            bdir = _child(data_dir, f"__bucket={b}")
            nseg = _fs_count_suffix(spark, bdir, ".parquet")
            if nseg > max_segments:
                heavy.append(b)
        if not heavy:
            return
        compacted = resolve_scd2_segments(
            spark.read.parquet(data_dir).filter(F.col("__bucket").isin(heavy))
        )
        out = (
            compacted.withColumn("__seq", F.lit(batch_id).cast("bigint"))
            .repartition(len(heavy), "__bucket")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            # materialize fully BEFORE the overwrite touches the
            # directory being compacted (same recovery argument as the
            # append above: staged output is invisible to a recompute)
            out.count()
            # a write option, not the session conf: the caller's own
            # overwrites keep their partitionOverwriteMode
            out.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("__bucket").parquet(data_dir)
        finally:
            out.unpersist()

    deduped = dedup_within_watermark(
        events_stream, ts_col=ts_col, watermark=watermark
    )
    writer = (
        deduped.writeStream.foreachBatch(_apply)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def resolve_scd2_segments(df: DataFrame) -> DataFrame:
    """Latest-wins resolution over the append-only SCD2 segment log:
    one row per ``_event_id`` (the version identity — a version's
    ``valid_from`` never changes; only expiry re-emits it), picking
    the highest ``__seq``.  One window over the (pruned) slice; the
    partition column ``__bucket`` is preserved when present."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("_event_id").orderBy(F.col("__seq").desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__seq")
    )


def read_scd2_history(spark: SparkSession, history_base_dir: str) -> DataFrame:
    """Read the bucket-partitioned history written by
    :func:`run_scd2_stream`, resolving the append-only segment log to
    the latest version rows."""
    df = spark.read.parquet(_child(history_base_dir, "data"))
    if "__seq" in df.columns:
        df = resolve_scd2_segments(df)
    return df.drop("__bucket")


def with_quarantine(
    raw_lines: DataFrame,
    schema: StructType,
    *,
    value_col: str = "value",
    options: dict[str, str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Poison-message handling (T7; consumer.py:394-397).

    The reference slept 1 s on a bad Kafka message and skipped it.
    Here raw message strings are parsed with ``from_json`` (PERMISSIVE:
    unparseable -> null struct) and split into (good, quarantined) —
    the quarantine keeps the raw payload for replay after a fix, and
    the good stream never stalls.  Works identically on batch and
    streaming DataFrames (one narrow projection, no shuffle).
    """
    parsed = raw_lines.withColumn(
        "__e", F.from_json(F.col(value_col), schema, options or {})
    )
    required = [f.name for f in schema.fields if not f.nullable]
    ok = F.col("__e").isNotNull()
    for name in required:
        ok = ok & F.col(f"__e.{name}").isNotNull()
    good = parsed.filter(ok).select("__e.*")
    bad = parsed.filter(~ok).select(
        F.col(value_col).alias("raw"),
        F.current_timestamp().alias("quarantined_at"),
    )
    return good, bad


#: Output of the every-N trigger: cumulative counts at each firing.
TRIGGER_SCHEMA = StructType(
    [
        StructField("group_key", StringType(), False),
        StructField("events_seen", LongType(), False),
        StructField("triggers_fired", LongType(), False),
    ]
)

_TRIGGER_STATE = StructType(
    [
        StructField("events_seen", LongType(), False),
        StructField("triggers_fired", LongType(), False),
    ]
)


def _tws_available() -> bool:
    """Whether Spark 4's ``transformWithStateInPandas`` can run here.

    The API's Python<->JVM state server speaks protobuf
    (``pyspark/sql/streaming/proto/StateMessage_pb2``), so it needs
    ``google.protobuf`` in the worker environment — absent from this
    container (installs prohibited; same environment gate as
    delta-spark / the Kafka connector jar).  On a real cluster with
    ``protobuf`` installed the new API is used automatically.

    Gates on BOTH the protobuf wire dependency and pyspark actually
    exposing the method (ADVICE r7: protobuf present + older pyspark
    would otherwise raise AttributeError instead of falling back to
    ``applyInPandasWithState``)."""
    from importlib.util import find_spec

    try:
        if find_spec("google.protobuf") is None:
            return False
    except ModuleNotFoundError:  # no `google` namespace package at all
        return False
    from pyspark.sql.group import GroupedData

    return hasattr(GroupedData, "transformWithStateInPandas")


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


@contextmanager
def rocksdb_state_store(spark: SparkSession):
    """Scope the RocksDB state-store provider to one query start.

    ``transformWithState`` refuses the default HDFS-backed provider;
    a streaming query snapshots session confs at ``start()``, so
    set-before-start / restore-after-start pins RocksDB to exactly the
    queries that need it without changing the provider for the rest of
    a (possibly vanilla, driver-owned) session.  A no-op when the
    operators run on the ``applyInPandasWithState`` fallback (no
    protobuf in the environment): the fallback has no provider
    requirement, and silently flipping its provider would change its
    performance profile for nothing."""
    if not _tws_available():
        yield
        return
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def every_n_trigger(
    stream: DataFrame,
    *,
    group_col: str,
    n: int = 10,
) -> DataFrame:
    """Keyed every-``n``-events trigger (T6; utils.py:73-98).

    The reference used Redis ``INCR`` with a 24 h TTL to fire an
    anomaly run every 10th event per (company, table).  Here the
    counter is keyed state inside the stream — partitioned with the
    shuffle, checkpointed with the query, no external service.  Emits
    one row per (group, batch) with the cumulative count and how many
    triggers have fired (``floor(events_seen / n)``).

    Implemented on Spark 4's ``transformWithStateInPandas`` (the
    supported successor of ``applyInPandasWithState``: typed state
    variables, timers, TTL, initial state); state is one ``ValueState``
    tuple per key in the RocksDB store — start the query under
    :func:`rocksdb_state_store`.  When the environment lacks
    ``google.protobuf`` (the new API's state-server wire format; this
    container — see :func:`_tws_available`), the SAME per-key recurrence
    runs on the ``applyInPandasWithState`` fallback, so both paths emit
    identical rows and share one oracle.
    """
    keyed = stream.withColumn(
        "group_key", F.col(group_col).cast("string")
    ).groupBy("group_key")

    if _tws_available():
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class _EveryN(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._st = handle.getValueState("counts", _TRIGGER_STATE)

            def handleInputRows(self, key, rows, timerValues):
                prev = self._st.get() if self._st.exists() else (0, 0)
                seen = int(prev[0])
                for pdf in rows:
                    seen += len(pdf)
                fired = seen // n
                self._st.update((seen, fired))
                yield pd.DataFrame(
                    {
                        "group_key": [str(key[0])],
                        "events_seen": [seen],
                        "triggers_fired": [fired],
                    }
                )

            def close(self) -> None:
                pass

        return keyed.transformWithStateInPandas(
            statefulProcessor=_EveryN(),
            outputStructType=TRIGGER_SCHEMA,
            outputMode="update",
            timeMode="none",
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _fn(
        key: tuple,
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        seen, fired = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            seen += len(pdf)
        fired = seen // n
        state.update((seen, fired))
        yield pd.DataFrame(
            {
                "group_key": [str(key[0])],
                "events_seen": [seen],
                "triggers_fired": [fired],
            }
        )

    return keyed.applyInPandasWithState(
        _fn,
        outputStructType=TRIGGER_SCHEMA,
        stateStructType=_TRIGGER_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: Output of the stateful session assembler: one row per CLOSED session.
SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("session_start_us", LongType(), False),
        StructField("session_end_us", LongType(), False),
        StructField("n_events", LongType(), False),
    ]
)

_SESSION_STATE = StructType(
    [
        StructField("start_us", LongType(), False),
        StructField("last_us", LongType(), False),
        StructField("n", LongType(), False),
    ]
)


def session_assembler(
    stream: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Custom stateful sessionization (T6-family; the second
    ``transformWithStateInPandas`` operator next to
    :func:`every_n_trigger` — same RocksDB-provider requirement):
    per-user 30-min-gap sessions assembled in keyed state, emitting a
    row the moment a session CLOSES — i.e. when a LATER event from
    the same user arrives beyond the gap.  The still-open tail
    session stays in state (emitted by a later batch if its closer
    arrives; never guessed).

    Closure-by-data makes the emitted set independent of micro-batch
    boundaries: a session is closed iff a later same-user event
    exists past the gap, which is a property of the DATA, not of
    watermark timing — so the bounded-drain run equals the batch
    replay minus each user's final (open) session, and the oracle
    binds exactly.  Timestamps fold as integer microseconds end to
    end (the cross-engine epoch rule).

    Scale shape: state is one (start, last, n) triple per user —
    bounded by key cardinality, partitioned with the shuffle,
    checkpointed with the query; each batch's per-key work is a sort
    of that key's batch slice.
    """

    gap_us = gap_minutes * 60_000_000

    def _fold(key, start, last, n, us_sorted):
        """Shared per-key session fold: one pass over this batch's
        sorted timestamps; returns (closed rows, new open state)."""
        out = []
        for t in us_sorted:
            t = int(t)
            if start is None:
                start = last = t
                n = 1
            elif t - last > gap_us:
                out.append((int(key), start, last, n))
                start = last = t
                n = 1
            else:
                last = t
                n += 1
        return out, (start, last, n)

    keyed = stream.select(
        F.col(user_col).cast("bigint").alias("user_id"),
        F.unix_micros(F.col(ts_col)).alias("us"),
    ).groupBy("user_id")
    cols = ["user_id", "session_start_us", "session_end_us", "n_events"]

    if _tws_available():
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class _Sessions(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._st = handle.getValueState(
                    "open_session", _SESSION_STATE
                )

            def handleInputRows(self, key, rows, timerValues):
                if self._st.exists():
                    start, last, n = (int(v) for v in self._st.get())
                else:
                    start, last, n = None, None, 0
                chunks = list(rows)
                us_sorted = (
                    pd.concat(chunks)["us"].sort_values().tolist()
                    if chunks
                    else []
                )
                out, new_state = _fold(key[0], start, last, n, us_sorted)
                if new_state[0] is not None:
                    self._st.update(new_state)
                yield pd.DataFrame(out, columns=cols)

            def close(self) -> None:
                pass

        return keyed.transformWithStateInPandas(
            statefulProcessor=_Sessions(),
            outputStructType=SESSION_SCHEMA,
            outputMode="append",
            timeMode="none",
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _fn(
        key: tuple,
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        chunks = [pdf for pdf in pdf_iter]
        us_sorted = (
            pd.concat(chunks)["us"].sort_values().tolist() if chunks else []
        )
        out, new_state = _fold(key[0], start, last, n, us_sorted)
        if new_state[0] is not None:
            state.update(new_state)
        yield pd.DataFrame(out, columns=cols)

    return keyed.applyInPandasWithState(
        _fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ABANDON_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("last_us", LongType(), False),
        StructField("n_events", LongType(), False),
    ]
)

_ABANDON_STATE = StructType(
    [
        StructField("last_us", LongType(), False),
        StructField("n", LongType(), False),
    ]
)


def inactivity_monitor(
    stream: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Inactivity-timeout alerting — the TIMER leg of the stateful
    API that :func:`session_assembler` (closure-by-data) deliberately
    avoids: a key that goes quiet EMITS WITHOUT ANY FURTHER INPUT,
    the abandoned-cart / dead-sensor / stalled-feed alert shape.

    Per key, state holds (last activity, event count); every batch
    re-arms an EVENT-TIME timer at ``last + gap``.  When the
    watermark passes that mark the key fires once — (user, last
    activity, count) — and its state clears.  Event-time (not
    processing-time) timers make the alert a property of the DATA
    CLOCK: a key fires iff the watermark — driven by other keys'
    progress — moves ``gap`` past its last event, so a bounded
    ``availableNow`` drain (one data batch + the no-data timeout
    batch) fires exactly the keys with
    ``last_us + gap < max(event time)``, which is what the oracle
    replays.  Under incremental multi-batch delivery the SAME rule
    holds per batch — a key can fire, return, and fire again; the
    alert history then depends on delivery timing, which is inherent
    to any alerting operator, not to this implementation.

    On Spark 4's ``transformWithStateInPandas`` this is
    ``timeMode="eventTime"`` + ``registerTimer`` /
    ``handleExpiredTimer`` (stale timers deleted on re-arm); without
    worker protobuf (this container — :func:`_tws_available`) the
    SAME semantics run on ``applyInPandasWithState`` with
    ``EventTimeTimeout``, whose single implicit timer re-arms via
    ``setTimeoutTimestamp``.  Both paths emit identical rows and
    share one oracle.

    Scale shape: one (last_us, n) pair per key, partitioned with the
    shuffle; the timeout sweep touches only keys whose timer falls
    below the new watermark (RocksDB range scan on the tws path).
    ``stream`` must already carry a watermark on ``ts_col``.
    """
    gap_us = gap_minutes * 60_000_000

    keyed = stream.select(
        F.col(user_col).cast("bigint").alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.unix_micros(F.col(ts_col)).alias("us"),
    ).groupBy("user_id")

    if _tws_available():
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class _Monitor(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._h = handle
                self._st = handle.getValueState("activity", _ABANDON_STATE)

            def handleInputRows(self, key, rows, timerValues):
                last_us, n = (
                    (int(v) for v in self._st.get())
                    if self._st.exists()
                    else (0, 0)
                )
                if self._st.exists():
                    # re-arm: drop the stale timer or it fires early
                    self._h.deleteTimer((last_us + gap_us) // 1000)
                for pdf in rows:
                    if len(pdf):
                        last_us = max(last_us, int(pdf["us"].max()))
                        n += len(pdf)
                self._st.update((last_us, n))
                self._h.registerTimer((last_us + gap_us) // 1000)
                yield pd.DataFrame(
                    {"user_id": [], "last_us": [], "n_events": []}
                )

            def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
                if self._st.exists():
                    last_us, n = (int(v) for v in self._st.get())
                    self._st.clear()
                    yield pd.DataFrame(
                        {
                            "user_id": [int(key[0])],
                            "last_us": [last_us],
                            "n_events": [n],
                        }
                    )

            def close(self) -> None:
                pass

        return keyed.transformWithStateInPandas(
            statefulProcessor=_Monitor(),
            outputStructType=ABANDON_SCHEMA,
            outputMode="append",
            timeMode="eventTime",
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _fn(
        key: tuple,
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "last_us": [int(last_us)],
                    "n_events": [int(n)],
                }
            )
        else:
            last_us, n = state.get if state.exists else (0, 0)
            for pdf in pdf_iter:
                if len(pdf):
                    last_us = max(last_us, int(pdf["us"].max()))
                    n += len(pdf)
            state.update((int(last_us), int(n)))
            state.setTimeoutTimestamp((last_us + gap_us) // 1000)
            yield pd.DataFrame({"user_id": [], "last_us": [], "n_events": []})

    return keyed.applyInPandasWithState(
        _fn,
        outputStructType=ABANDON_SCHEMA,
        stateStructType=_ABANDON_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
