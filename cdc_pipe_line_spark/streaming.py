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
bound their size.  The foreachBatch SCD2 apply (``run_scd2_stream``)
does work proportional to the micro-batch — one shuffle of the batch's
events and its keys' history rows, then an append to a bucketed
segment log — not per event like the reference's 1.4-19 s/row UPDATE
loop.
"""

from __future__ import annotations

import json
import uuid
from collections import Counter
from collections.abc import Callable, Iterator
from contextlib import contextmanager

import pandas as pd
from py4j.protocol import Py4JJavaError
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


def _fs_segment_counts(
    spark: SparkSession, data_dir: str, buckets: list[int]
) -> Counter:
    """Parquet segment files per ``__bucket`` value, over the given
    buckets only, from ONE ``globStatus`` call (``__bucket={b1,b2,..}``)
    instead of one listing call per bucket.  Not a recursive
    ``listFiles``: it lists every bucket, and its located statuses load
    each file's owner and permissions, which without native Hadoop
    libraries is a forked ``ls`` per file (about 4 ms each on a local
    disk)."""
    fs, hpath = _hfs(spark, data_dir)
    jvm = spark._jvm
    alternatives = ",".join(str(b) for b in buckets)
    found = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(hpath, f"__bucket={{{alternatives}}}/*.parquet")
    )
    if found is None:  # what some file systems return for no match
        return Counter()
    # ".../__bucket=<b>/<file>.parquet" -> "<b>"
    return Counter(
        p.toString().rsplit("/", 2)[1].partition("=")[2]
        for p in jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(found)
    )


#: Committed-batch marker of an SCD2 history dir (see run_scd2_stream).
_MARKER = "_COMMITTED_BATCH"


def _marker_schema(raw: str | None) -> StructType | None:
    """The segment schema a committed-batch marker records, or None
    when the marker is absent, truncated or from a format without one
    — the reader then infers the schema from the files instead."""
    try:
        return StructType.fromJson(json.loads(raw)["schema"])
    except (AttributeError, KeyError, TypeError, ValueError):
        return None


def _read_segments(
    spark: SparkSession, data_dir: str, schema: StructType | None
) -> DataFrame:
    """The raw segment log; a known schema skips the footer-inference
    job that ``spark.read.parquet`` launches."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(data_dir)


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
      its keys (partition pruning), and within them only its keys'
      rows (a broadcast semi-join on ``key_value``).
    - each batch APPENDS just its changed rows — the new versions it
      opens plus re-emitted copies of the rows it expires (same
      ``_event_id``, updated ``valid_to``/``is_current``) — stamped
      with ``__seq``: the batch id, and for a re-emit at least one more
      than the row it replaces, because batch ids restart with a new
      checkpoint.  Write amplification is O(batch), not
      O(touched-bucket history).
    - ONE shuffle per micro-batch: the batch's events and its keys'
      history rows are unioned in one row shape tagged ``__src`` and
      repartitioned by ``__bucket`` (one write task per touched
      bucket).  Every window's keys include ``__bucket`` and
      ``key_value``, so that one exchange satisfies all of them:
      ``row_number`` over (bucket, key, ``_event_id``) keeps the
      latest row of each version and drops an event whose id the key's
      history already holds (the replay guard); ``min(ts)`` over
      (bucket, key) is the expiry boundary; ``lead(ts)`` chains the
      batch's new versions.
    - readers resolve latest-wins per version with the same
      (bucket, key, ``_event_id``) window (:func:`read_scd2_history`),
      so a key filter pushes into the parquet scan.
    - a bucket whose segment-file count exceeds ``max_segments`` is
      COMPACTED: its resolved rows are rewritten as one segment via
      dynamic partition overwrite, bounding read-side merge fan-in.

    A crash between the data append and the marker write is harmless:
    the re-delivered batch finds its insert/update events in the
    history by id, and its deletes are older than the versions the
    first attempt left current, so it appends nothing — the marker
    only saves re-work, correctness does not depend on it.  A delete
    older than its key's current version is always ignored: applied,
    it would close that version before the version began.
    At 100 TB, ``n_buckets`` scales with the key space (e.g. 16k) and
    the same pruning + compaction math holds.  Driver-side cost per
    batch is one census job (``groupBy(__bucket).count()``, which also
    drains the stateful dedup) and one ``globStatus`` over the touched
    buckets for the compaction check — O(touched buckets) smallints.
    The query runs without Spark's empty (no-data) micro-batches: the
    sink has nothing to apply in one, and the dedup evicts expired
    state with the next data batch instead.

    The marker also records the segment schema, so the batch's history
    read, the compaction read and :func:`read_scd2_history` skip
    parquet footer inference (a marker without one falls back to it).

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
    residual window.)  Without the marker's protection (checkpoint-less
    runs, a torn write) the replay guard absorbs re-applied events; it
    checks the event's own key, which is enough because an
    ``event_id`` names one event of one key.
    """
    from pyspark.sql.window import Window

    spark = events_stream.sparkSession
    data_dir = _child(history_base_dir, "data")
    committed = _child(history_base_dir, _MARKER)
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

    def _parse_marker(raw: str) -> tuple[str | None, int]:
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
        raw = _fs_read_text(spark, committed)
        qid = _query_identity()
        if raw is not None:
            marker_qid, marker_batch = _parse_marker(raw)
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
            # run.  Without identity, fall through — the replay guard
            # makes re-application a no-op anyway; the marker only
            # saves re-work.
            if marker_qid is not None and marker_qid == qid and (
                batch_id <= marker_batch
            ):
                # Re-delivered after a crash; already applied.  Still
                # drain every partition so the upstream stateful
                # dedup commits its state stores (Spark validates
                # per-partition commits in foreachBatch).
                batch_df.count()
                return
        # Materialize the micro-batch once: it feeds the bucket census,
        # the key broadcast and the apply, and without this each re-parses
        # the batch's source files.  persist(MEMORY_AND_DISK) rather
        # than an eager localCheckpoint: lineage is retained, so on a
        # real cluster an executor loss recomputes the lost blocks
        # transparently (a localCheckpoint stores unreplicated blocks
        # with NO lineage — the micro-batch would fail and force a
        # stream restart), and the blocks are freed deterministically
        # in the finally below instead of pinning executor storage
        # until driver-side GC.
        batch_df = batch_df.withColumn("__bucket", bucket_of).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            _apply_materialized(batch_df, batch_id, _marker_schema(raw), qid)
        finally:
            batch_df.unpersist()

    def _apply_materialized(
        batch_df: DataFrame,
        batch_id: int,
        schema: StructType | None,
        qid: str | None,
    ) -> None:
        # one census job: it drains the stateful dedup upstream and
        # fills the persisted batch while it lists the touched buckets
        touched = [r[0] for r in batch_df.groupBy("__bucket").count().collect()]
        if not touched:
            return
        ts_type = batch_df.schema[ts_col].dataType
        rows = batch_df.select(
            "key_value",
            F.col("new_values").alias("data"),
            F.col(ts_col).alias("valid_from"),
            F.lit(None).cast(ts_type).alias("valid_to"),
            F.lit(True).alias("is_current"),
            F.col("event_id").alias("_event_id"),
            F.col("event_type").alias("_event_type"),
            F.lit(batch_id).cast("bigint").alias("__seq"),
            "__bucket",
            F.lit(1).alias("__src"),
        )
        if _fs_exists(spark, _child(data_dir, "_SUCCESS")):
            history = (
                _read_segments(spark, data_dir, schema)
                .filter(F.col("__bucket").isin(touched))
                .join(F.broadcast(batch_df.select("key_value")), "key_value", "left_semi")
                .withColumn("__src", F.lit(0))
            )
            rows = history.unionByName(rows)
        # the one exchange: each bucket lands in one task (one write
        # task per bucket, not num_tasks x num_buckets small files),
        # and every window below has __bucket among its keys
        rows = rows.repartition(len(touched), "__bucket")
        # latest row per version; an event whose id its key's history
        # holds sorts after that history row and drops out.  Only the
        # key's current row goes on (events carry is_current too).  The id leads the keys because the sort
        # compares a prefix of the first one: a bucket number ties.
        version = Window.partitionBy("_event_id", "key_value", "__bucket").orderBy(
            "__src", F.col("__seq").desc(), F.col("valid_from").asc_nulls_last()
        )
        rows = rows.withColumn("__rn", F.row_number().over(version)).filter(
            (F.col("__rn") == 1) & F.col("is_current")
        )
        # history sorts before events, so lead() of an event row is the
        # key's next event
        event = F.col("__src") == 1
        key = Window.partitionBy("__bucket", "key_value").orderBy("__src", "valid_from")
        whole_key = key.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        # a delete opens no version, so the id guard cannot see it
        # replayed; one older than its key's current version is stale
        # (re-applied, it would close that version before it began)
        current_from = F.max(F.when(~event, F.col("valid_from")))
        stale = event & (F.col("_event_type") == "delete") & F.coalesce(
            F.col("valid_from") < F.col("__current_from"), F.lit(False)
        )
        rows = rows.withColumn("__current_from", current_from.over(whole_key)).filter(~stale)
        rows = rows.select(
            "*",
            F.lead("valid_from").over(key).alias("__next_ts"),
            F.max("__src").over(whole_key).alias("__touched"),
            F.min(F.when(event, F.col("valid_from"))).over(whole_key).alias("__first_ts"),
        )
        opens = event & F.col("_event_type").isin("insert", "update")
        expires = ~event & (F.col("__touched") == 1)
        out = rows.filter(opens | expires).select(
            "key_value",
            "data",
            "valid_from",
            F.when(opens, F.col("__next_ts")).otherwise(F.col("__first_ts")).alias("valid_to"),
            (opens & F.col("__next_ts").isNull()).alias("is_current"),
            "_event_id",
            "_event_type",
            # a re-emit must outrank the row it expires even when batch
            # ids restarted (a new checkpoint, a checkpoint-less run)
            F.when(opens, F.col("__seq"))
            .otherwise(F.greatest(F.col("__seq") + 1, F.lit(batch_id).cast("bigint")))
            .alias("__seq"),
            "__bucket",
        )
        # No persist before the append: the history's file list is fixed
        # when the read is planned and in-flight output lives under
        # _temporary, so a recompute after block loss re-reads only the
        # files this batch started from.
        out.write.mode("append").partitionBy("__bucket").parquet(data_dir)
        _compact_if_needed(touched, batch_id, out.schema)
        _fs_write_text(
            spark,
            committed,
            json.dumps({
                "query_id": qid,
                "batch_id": batch_id,
                "schema": out.schema.jsonValue(),
            }),
        )
        if on_batch is not None:
            on_batch(batch_df, batch_id)

    def _compact_if_needed(
        touched: list[int], batch_id: int, schema: StructType
    ) -> None:
        """Rewrite any touched bucket whose segment-file count exceeds
        ``max_segments`` down to one resolved segment (dynamic
        partition overwrite replaces only those bucket partitions).
        Amortized cost: each row is rewritten O(1) times per
        ``max_segments`` appends."""
        counts = _fs_segment_counts(spark, data_dir, touched)
        heavy = [b for b in touched if counts[str(b)] > max_segments]
        if not heavy:
            return
        segments = (
            _read_segments(spark, data_dir, schema)
            .filter(F.col("__bucket").isin(heavy))
            .repartition(len(heavy), "__bucket")
        )
        # Straight from the plan: dynamic partition overwrite replaces
        # the bucket directories only at job commit, after every task
        # has read its input.  A write option, not the session conf:
        # the caller's own overwrites keep their partitionOverwriteMode.
        resolve_scd2_segments(segments).withColumn(
            "__seq", F.lit(batch_id).cast("bigint")
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("__bucket").parquet(data_dir)

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
    # No empty micro-batch after each data batch: the sink has nothing
    # to apply in one (it only lets the dedup evict expired state, which
    # the next data batch does too), yet it cost a census job and a
    # planning round per trigger.
    with _session_conf(spark, "spark.sql.streaming.noDataMicroBatches.enabled", "false"):
        return writer.start()


def resolve_scd2_segments(df: DataFrame) -> DataFrame:
    """Latest-wins resolution over the append-only SCD2 segment log:
    one row per version (the ``_event_id`` — a version's
    ``valid_from`` never changes; only expiry re-emits it), picking
    the highest ``__seq``.  One window keyed on ``__bucket`` (when
    present), ``key_value`` and ``_event_id``: an exchange by bucket
    already satisfies it, and a filter on the key pushes below it into
    the scan.  The partition column ``__bucket`` is preserved."""
    from pyspark.sql.window import Window

    bucket = ["__bucket"] if "__bucket" in df.columns else []
    w = Window.partitionBy("_event_id", "key_value", *bucket).orderBy(
        F.col("__seq").desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__seq")
    )


def read_scd2_history(spark: SparkSession, history_base_dir: str) -> DataFrame:
    """Read the bucket-partitioned history written by
    :func:`run_scd2_stream`, resolving the append-only segment log to
    the latest version rows.  Reads in the schema the committed-batch
    marker records (inference when it has none); a filter on
    ``key_value`` prunes the scan."""
    try:
        raw = _fs_read_text(spark, _child(history_base_dir, _MARKER))
    except Py4JJavaError:  # unreadable, e.g. torn under a stale checksum
        raw = None
    df = _read_segments(spark, _child(history_base_dir, "data"), _marker_schema(raw))
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
def _session_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the block, then restore the caller's
    value (or unset it).  A streaming query snapshots the session's
    confs at ``start()``, so wrapping only the start scopes the setting
    to that one query."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


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
    with _session_conf(
        spark, "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    ):
        yield


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
