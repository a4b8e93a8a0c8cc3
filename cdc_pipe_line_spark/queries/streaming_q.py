"""Streaming queries (SURVEY.md §2.9 T1-T8) run as bounded
``availableNow`` streams so the DuckDB oracle can check them like any
batch query.

Each query stages a deterministic JSON-lines copy of the ``events``
table under ``/tmp/cdc_stream_cache`` (the file source is the local
stand-in for Kafka — same value shape, same replay semantics), runs a
real Structured Streaming query (watermarks, stateful dedup, keyed
state, foreachBatch SCD2), and returns the drained result.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cdc_pipe_line_spark import streaming as st
from cdc_pipe_line_spark.cdc.scd2 import current_view

#: JSON timestamp format carrying full microseconds — the Spark default
#: truncates to milliseconds, which would break value-hash parity with
#: the parquet-fed oracle.
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), False),
        StructField("ts", TimestampType(), False),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
    ]
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from cdc_pipe_line_spark.queries import load_table

    return load_table(spark, sf_dir, name)


def _stage(spark: SparkSession, sf_dir: str, variant: str) -> str:
    """Write the deterministic JSON staging for ``variant`` once.

    - ``raw``: one dir of raw events.
    - ``raw_dup``: the same events twice (at-least-once replay shape).
    - ``cdc``: CDC-enveloped events in four event-id-quartile buckets
      (event_id order == time order in this table), one file each, so
      ``maxFilesPerTrigger=1`` yields four time-ordered micro-batches.
    """
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = f"/tmp/cdc_stream_cache/{sf_name}/{variant}"
    marker = os.path.join(base, "_READY")
    if os.path.exists(marker):
        return base
    shutil.rmtree(base, ignore_errors=True)

    events = _t(spark, sf_dir, "events")
    raw = events.select("event_id", "ts", "user_id", "event_type", "value")

    def _write(df: DataFrame, sub: str, files: int = 1) -> None:
        (
            df.repartition(files)
            .write.mode("overwrite")
            .option("timestampFormat", _TS_FMT)
            .json(os.path.join(base, sub))
        )

    if variant == "raw":
        # 8 files -> 8 input splits: a single JSON-lines file parses in
        # ONE task (json text is split by file here), serializing the
        # whole read.  Order never matters to these queries (one
        # availableNow batch, order-insensitive aggregates).
        _write(raw, "d0", files=8)
    elif variant == "raw_dup":
        _write(raw, "d0", files=8)
        _write(raw, "d1", files=8)
    elif variant == "raw_corrupt":
        # every 97th event's payload is mangled — the poison-message
        # shape the reference slept-and-skipped on (consumer.py:394)
        payload = F.to_json(
            F.struct(*[F.col(c) for c in raw.columns]),
            {"timestampFormat": _TS_FMT},
        )
        lines = raw.select(
            F.when(F.col("event_id") % 97 == 0, F.concat(F.lit("!!"), payload))
            .otherwise(payload)
            .alias("value")
        )
        lines.repartition(8).write.mode("overwrite").text(os.path.join(base, "d0"))
    elif variant == "cdc":
        max_id = events.agg(F.max("event_id")).first()[0]
        cdc = events.select(
            F.col("event_id").cast("string").alias("event_id"),
            F.when(F.col("event_type") == "error", F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("event_type"),
            F.lit("c1").alias("company_id"),
            F.lit("events").alias("table_name"),
            F.col("ts").alias("timestamp"),
            F.lit("user_id").alias("key_column"),
            F.col("user_id").cast("string").alias("key_value"),
            F.when(
                F.col("event_type") != "error",
                F.create_map(
                    F.lit("value"),
                    F.col("value").cast("string"),
                    F.lit("props"),
                    F.col("props"),
                ),
            ).alias("new_values"),
            F.col("event_id").alias("__id"),
        )
        for i in range(4):
            lo, hi = i * (max_id + 1) // 4, (i + 1) * (max_id + 1) // 4
            _write(
                cdc.filter((F.col("__id") >= lo) & (F.col("__id") < hi)).drop("__id"),
                f"b{i}",
            )
    elif variant == "wmsplit":
        # three time-ordered single-file batches for watermark-lag
        # observability: evens first (establishes the high watermark),
        # then two odd quartiles — the THIRD batch's old-day rows are
        # the ones the watermark filter drops (the filter watermark
        # for batch N is computed from data through batch N-2, pinned
        # by probe in q_stream_watermark_metrics).
        _write(raw.filter(F.col("event_id") % 2 == 0), "b0")
        _write(raw.filter(F.col("event_id") % 4 == 1), "b1")
        _write(raw.filter(F.col("event_id") % 4 == 3), "b2")
    elif variant == "docs":
        # the documents table as a JSON doc stream (the "ingest feed"
        # of an LLM data pipeline: crawler output arriving as files)
        docs = _t(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source"
        )
        docs.repartition(8).write.mode("overwrite").json(
            os.path.join(base, "d0")
        )
    else:  # pragma: no cover
        raise ValueError(variant)
    with open(marker, "w") as fh:
        fh.write("ok")
    return base


def _read_raw(spark: SparkSession, base: str, **kw) -> DataFrame:
    return (
        spark.readStream.schema(RAW_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .option("timestampFormat", _TS_FMT)
        .json(base, **kw)
    )


def q_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed aggregation family (T8) probe-tagged:

    - ``tumbling``: daily tumbling-window counts per type (+A2);
    - ``session``: 30-minute-gap ``session_window`` sessions per user
      — the stateful streaming twin of the batch lag-gap sessionize,
      checked against the SAME oracle semantics.

    Two bounded streams share one staged source and run CONCURRENTLY
    (each on its own scheduler thread with its own watermark + state
    store); both are awaited before the union is returned.
    """
    base = _stage(spark, sf_dir, "raw")
    counts = st.daily_counts_stream(
        _read_raw(spark, base), ts_col="ts", group_cols=["event_type"]
    )
    sessions = (
        _read_raw(spark, base)
        .withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    # Right-size state partitions for a bounded drain: the partition
    # count is baked into each query's state store at start, and 32
    # stores per agg is pure setup overhead at this volume (at
    # production volume the session default applies).  Restored
    # immediately after start — batch plans are unaffected.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q1, counts_out = st.start_to_memory(counts, output_mode="complete")
        q2, sessions_out = st.start_to_memory(sessions, output_mode="complete")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    q1.awaitTermination()
    q2.awaitTermination()
    tumbling = counts_out.select(
        F.lit("tumbling").alias("probe"),
        F.date_format("day", "yyyy-MM-dd").alias("grp"),
        "event_type",
        "n_events",
        F.lit(None).cast("bigint").alias("n_sessions"),
    )
    session = (
        sessions_out.groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.count("*").alias("n_sessions"),
        )
        .select(
            F.lit("session").alias("probe"),
            F.col("user_id").cast("string").alias("grp"),
            F.lit(None).cast("string").alias("event_type"),
            "n_events",
            "n_sessions",
        )
    )
    return tumbling.unionByName(session)


def q_stream_scd2_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four time-ordered micro-batches foreachBatch-applied as SCD2
    (T1+T3+T5); returns the current state (one row per live user)."""
    base = _stage(spark, sf_dir, "cdc")
    run_dir = f"/tmp/cdc_stream_run/{uuid.uuid4().hex}"
    stream = (
        spark.readStream.schema(st.EVENT_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .option("timestampFormat", _TS_FMT)
        .option("maxFilesPerTrigger", "1")
        .json(base)
    )
    q = st.run_scd2_stream(
        stream,
        os.path.join(run_dir, "history"),
        checkpoint_dir=os.path.join(run_dir, "ckpt"),
    )
    q.awaitTermination()
    history = st.read_scd2_history(spark, os.path.join(run_dir, "history"))
    cur = current_view(history)
    out = cur.select(
        F.col("key_value").cast("bigint").alias("user_id"),
        F.col("valid_from"),
        F.col("data")["value"].cast("double").alias("value"),
    )
    out = out.cache()
    out.count()  # materialize before the run dir is removed
    shutil.rmtree(run_dir, ignore_errors=True)
    return out


def q_stream_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream hygiene probe-tagged (T3 + T7):

    - ``dedup``: a replayed-twice source made effectively-once by
      watermark dedup, per-type counts;
    - ``quarantine``: a stream with every 97th message mangled keeps
      flowing; bad raw payloads are retained for replay (good per-type
      counts plus a ``__corrupt__`` row).
    """
    dup_base = _stage(spark, sf_dir, "raw_dup")
    deduped = st.dedup_within_watermark(
        _read_raw(spark, dup_base), ts_col="ts", id_col="event_id"
    )
    corrupt_base = _stage(spark, sf_dir, "raw_corrupt")
    stream = (
        spark.readStream.format("text")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.txt")
        .load(corrupt_base)
    )
    good, bad = st.with_quarantine(
        stream, RAW_SCHEMA, options={"timestampFormat": _TS_FMT}
    )
    # three independent bounded streams, drained concurrently
    q1, deduped_out = st.start_to_memory(deduped, output_mode="append")
    q2, good_out = st.start_to_memory(good, output_mode="append")
    q3, bad_out = st.start_to_memory(bad, output_mode="append")
    for q in (q1, q2, q3):
        q.awaitTermination()
    dedup_out = (
        deduped_out.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .select(F.lit("dedup").alias("probe"), "event_type", "n")
    )
    quarantine = (
        good_out.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .unionByName(
            bad_out.agg(
                F.lit("__corrupt__").alias("event_type"), F.count("*").alias("n")
            )
        )
        .select(F.lit("quarantine").alias("probe"), "event_type", "n")
    )
    return dedup_out.unionByName(quarantine)


def q_stream_every_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed every-10th-event trigger via transformWithStateInPandas
    (T6; Spark 4's arbitrary-stateful successor API, RocksDB-backed
    state scoped to this query start)."""
    base = _stage(spark, sf_dir, "raw")
    stream = _read_raw(spark, base)
    trig = st.every_n_trigger(stream, group_col="event_type", n=10)
    with st.rocksdb_state_store(spark):
        out = st.run_to_memory(trig, output_mode="update")
    # one emitted row per (key, batch); the final cumulative row per
    # key is the answer
    return out.groupBy("group_key").agg(
        F.max("events_seen").alias("events_seen"),
        F.max("triggers_fired").alias("triggers_fired"),
    )


def q_stream_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming join family probe-tagged:

    - ``conv``: stream-stream interval join (view→purchase conversion
      funnel): two live streams over the same source, inner-joined per
      user with purchases landing within 4h of the view; watermarks
      bound the join state on both sides.  Aggregated per user after
      the drain so the DuckDB oracle hash-checks exact pair membership
      via id checksums.
    - ``enrich``: stream-static dimension enrichment: the event stream
      broadcast left-joined to the customer dim per micro-batch — the
      standard ingest-time enrichment shape (stateless, no watermark
      needed; the dim is re-resolvable each batch so slowly-changing
      dims refresh for free).
    """
    base = _stage(spark, sf_dir, "raw")
    null_l = F.lit(None).cast("bigint")
    views = _read_raw(spark, base).filter(F.col("event_type") == "view")
    buys = _read_raw(spark, base).filter(F.col("event_type") == "purchase")
    joined = st.interval_join_stream(views, buys, "user_id", within="4 hours")
    pairs = joined.select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = _read_raw(spark, base).join(F.broadcast(cust), "user_id", "left")
    # both bounded streams drained concurrently
    q1, pairs_out = st.start_to_memory(pairs, output_mode="append")
    q2, enriched_out = st.start_to_memory(enriched, output_mode="append")
    q1.awaitTermination()
    q2.awaitTermination()
    conv = (
        pairs_out.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("view_id").alias("s1"),
            F.sum("purchase_id").alias("s2"),
        )
        .select(
            F.lit("conv").alias("probe"),
            F.col("user_id").cast("string").alias("k1"),
            F.lit(None).cast("string").alias("k2"),
            "n", "s1", "s2",
        )
    )
    enrich = (
        enriched_out.groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("s1"),
        )
        .select(
            F.lit("enrich").alias("probe"),
            F.col("c_mktsegment").alias("k1"),
            F.col("event_type").alias("k2"),
            "n", "s1", null_l.alias("s2"),
        )
    )
    return conv.unionByName(enrich)


DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
    ]
)


def q_stream_doc_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quality gate for a document ingest feed: the same
    narrow quality expressions the batch profiler uses (word count,
    en-stopword ratio) run UNMODIFIED inside a Structured Streaming
    query; documents route accept/reject in-stream and a stateful
    complete-mode aggregate keeps per-(lang, accepted) admission
    counts — the live dashboard an ingest pipeline watches.  Oracle:
    the batch replay of the same gate over the documents table."""
    from cdc_pipe_line_spark.text import LANG_LEXICON

    base = _stage(spark, sf_dir, "docs")
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .json(base)
    )
    words = F.split(F.trim("text"), r"\s+")
    n_words = F.size(words).cast("bigint")
    stop_ratio = F.round(
        F.size(
            F.filter(words, lambda w: F.lower(w).isin(LANG_LEXICON["en"]))
        )
        / F.greatest(n_words, F.lit(1)),
        4,
    )
    gated = stream.select(
        "lang",
        n_words.alias("n_words"),
        ((n_words >= 60) & (stop_ratio >= 0.05)).alias("accepted"),
    )
    agg = gated.groupBy("lang", "accepted").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
    )
    q, out = st.start_to_memory(agg, output_mode="complete")
    q.awaitTermination()
    return out




def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization via transformWithStateInPandas
    (RocksDB-backed state scoped to this query start): per-
    user 30-min-gap sessions assembled in keyed state, a row emitted
    per CLOSED session (closure-by-data — a later same-user event
    past the gap — so the emitted set is micro-batch-invariant and
    equals the batch replay minus each user's final open session).
    Output is the per-user closed-session rollup in exact integer
    microseconds; the oracle replays the gap rule over events and
    drops each user's last session."""
    base = _stage(spark, sf_dir, "raw")
    stream = _read_raw(spark, base)
    sess = st.session_assembler(stream, gap_minutes=30)
    with st.rocksdb_state_store(spark):
        out = st.run_to_memory(sess, output_mode="append")
    return out.groupBy("user_id").agg(
        F.count("*").alias("n_closed_sessions"),
        F.sum("n_events").alias("events_in_closed"),
        F.sum(
            F.col("session_end_us") - F.col("session_start_us")
        ).alias("total_duration_us"),
        F.min("session_start_us").alias("first_start_us"),
        F.max("session_end_us").alias("last_end_us"),
    )




def q_stream_psi_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE drift gate — the streaming twin of ``qa_psi_drift``:
    the reference window (period A, first half by integer-microsecond
    midpoint) profiles BATCH-side into decile edges and bucket
    shares; the CURRENT window (period B) arrives as the event
    STREAM, bucketed against the broadcast reference edges inside a
    complete-mode stateful count.  After the bounded drain the two
    profiles fold into per-bucket PSI terms + the total — the
    ML-ops deployment shape (reference profile precomputed/static,
    live traffic scored online).  Term/total pinning identical to
    the batch query, so both share one oracle formulation.

    The midpoint and the 9 decile edges are SCALARS (one reduce
    each, collected and re-broadcast as literals into the stream
    plan — at any scale these are O(1) rows, the boundary-reduce
    pattern of rfm_approx)."""
    ev = _t(spark, sf_dir, "events").select(
        "value", F.unix_micros("ts").alias("us")
    )
    lo, hi = ev.agg(F.min("us"), F.max("us")).first()
    mid = int((lo + hi) / 2)
    ref = ev.filter(F.col("us") < mid).localCheckpoint(eager=True)
    qs = F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
    edges = list(ref.agg(F.percentile("value", qs)).first()[0])

    def bucket_of(col):
        b = F.when(col <= F.lit(edges[0]), 0)
        for i in range(1, 9):
            b = b.when(col <= F.lit(edges[i]), i)
        return b.otherwise(9)

    n_a_tot = ref.count()
    counts_a = (
        ref.groupBy(bucket_of(F.col("value")).alias("bucket"))
        .agg(F.count("*").alias("n_a"))
        .localCheckpoint(eager=True)
    )

    base = _stage(spark, sf_dir, "raw")
    cur = (
        _read_raw(spark, base)
        .filter(F.unix_micros("ts") >= F.lit(mid))
        .groupBy(bucket_of(F.col("value")).alias("bucket"))
        .agg(F.count("*").alias("n_b"))
    )
    q, counts_b = st.start_to_memory(cur, output_mode="complete")
    q.awaitTermination()
    n_b_tot = counts_b.agg(F.sum("n_b")).first()[0] or 0

    qa = (F.col("n_a") + 1) / F.lit(float(n_a_tot + 10))
    qb = (F.col("n_b") + 1) / F.lit(float(n_b_tot + 10))
    term = (
        F.floor((qb - qa) * F.log(qb / qa) * 1e8 + F.lit(0.5)) / 1e8
    )
    per_bucket = (
        counts_a.join(counts_b, "bucket", "full")
        .select(
            "bucket",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
        .select("bucket", "n_a", "n_b", term.alias("psi_term"))
        .localCheckpoint(eager=True)
    )
    fl = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6
    psi = per_bucket.agg(fl(F.sum("psi_term")).alias("psi"))
    return per_bucket.select(
        "bucket", "n_a", "n_b", fl(F.col("psi_term")).alias("psi_term")
    ).crossJoin(F.broadcast(psi))


def q_stream_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE quantiles — the streaming twin of
    ``agg_log_histogram_quantiles`` (the psi-gate pattern applied to
    the sketch quartet): events bucket into the log-linear histogram
    INSIDE a complete-mode stateful count — state is the bounded
    bucket census (<=128 rows per event type), never the raw stream —
    and after the bounded drain the quantile selection folds
    batch-side over that tiny frame with the identical integer
    arithmetic (octave via length(bin())-1, 8-way subdivision,
    k = ceil(q*n/100), first bucket reaching k).  This is the
    serving-latency-dashboard shape: p50/p95/p99 continuously
    available from mergeable per-executor state, no raw retention.
    One oracle formulation shared with the batch twin."""
    from pyspark.sql.window import Window

    base = _stage(spark, sf_dir, "raw")
    cur = (
        _read_raw(spark, base)
        .select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .filter(F.col("cents") >= 1)
        .withColumn("e", (F.length(F.expr("bin(cents)")) - 1).cast("int"))
        .withColumn("p", F.expr("shiftleft(1L, e)"))
        .withColumn("sub", F.expr("cast(((cents - p) * 8) div p as int)"))
        .groupBy(
            "event_type",
            (F.col("e") * 8 + F.col("sub")).alias("bucket_id"),
        )
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.expr("p + (sub * p) div 8")).alias("lower_c"),
        )
    )
    q, hist = st.start_to_memory(cur, output_mode="complete")
    q.awaitTermination()
    hist = hist.localCheckpoint(eager=True)
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bucket_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum))
    ks = (
        hist.groupBy("event_type")
        .agg(F.sum("cnt").alias("n"))
        .select(
            "event_type",
            "n",
            F.explode(F.array(F.lit(50), F.lit(95), F.lit(99))).alias("q"),
        )
        .withColumn("k", F.expr("(q * n + 99) div 100"))
    )
    return (
        ks.join(cum.select("event_type", "bucket_id", "lower_c", "cum"),
                "event_type")
        .filter(F.col("cum") >= F.col("k"))
        .groupBy("event_type", "q", "n")
        .agg(F.min_by("lower_c", "bucket_id").alias("est_cents"))
        .select(
            "event_type",
            F.col("q").cast("bigint").alias("q"),
            F.col("n").cast("bigint").alias("n"),
            "est_cents",
        )
    )


QUERIES = {
    "stream_psi_gate": q_stream_psi_gate,
    "stream_histogram_quantiles": q_stream_histogram_quantiles,
    "stream_sessions": q_stream_sessions,
    "stream_doc_gate": q_stream_doc_gate,
    "stream_windowed_counts": q_stream_windowed_counts,
    "stream_joins": q_stream_joins,
    "stream_hygiene": q_stream_hygiene,
    "stream_scd2_current": q_stream_scd2_current,
    "stream_every_n_trigger": q_stream_every_n,
}

ORACLE = {
    "stream_histogram_quantiles": """
WITH ev AS (
  SELECT event_type,
    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE CAST(floor(value * 100 + 0.5) AS BIGINT) >= 1),
b AS (
  SELECT event_type, cents,
    length(bin(cents)) - 1 AS e,
    (1::BIGINT << (length(bin(cents)) - 1)) AS p
  FROM ev),
bk AS (
  SELECT event_type,
    e * 8 + ((cents - p) * 8) // p AS bucket_id,
    p + ((((cents - p) * 8) // p) * p) // 8 AS lower_c
  FROM b),
hist AS (
  SELECT event_type, bucket_id, min(lower_c) AS lower_c,
    count(*) AS cnt
  FROM bk GROUP BY 1, 2),
cum AS (
  SELECT *, sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist),
tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM hist GROUP BY 1),
ks AS (
  SELECT event_type, n, q, (q * n + 99) // 100 AS k
  FROM tot CROSS JOIN (SELECT unnest([50, 95, 99]) AS q))
SELECT ks.event_type, CAST(ks.q AS BIGINT) AS q, ks.n,
  min_by(cum.lower_c, cum.bucket_id) AS est_cents
FROM ks JOIN cum ON cum.event_type = ks.event_type AND cum.cum >= ks.k
GROUP BY 1, 2, 3""",
    "stream_psi_gate": """
WITH ev AS (
  SELECT value, epoch_us(ts) AS us FROM events),
rng AS (
  SELECT CAST((min(us) + max(us)) / 2.0 AS BIGINT) AS mid FROM ev),
tagged AS (
  SELECT value,
    CASE WHEN us < (SELECT mid FROM rng) THEN 'A' ELSE 'B' END
      AS period
  FROM ev),
edges AS (
  SELECT quantile_cont(value,
    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS e
  FROM tagged WHERE period = 'A'),
bucketed AS (
  SELECT period,
    CASE WHEN value <= e[1] THEN 0
         WHEN value <= e[2] THEN 1
         WHEN value <= e[3] THEN 2
         WHEN value <= e[4] THEN 3
         WHEN value <= e[5] THEN 4
         WHEN value <= e[6] THEN 5
         WHEN value <= e[7] THEN 6
         WHEN value <= e[8] THEN 7
         WHEN value <= e[9] THEN 8
         ELSE 9 END AS bucket
  FROM tagged CROSS JOIN edges),
counts AS (
  SELECT bucket, period, count(*) AS n
  FROM bucketed GROUP BY 1, 2),
tots AS (SELECT period, count(*) AS n_tot FROM bucketed GROUP BY 1),
shares AS (
  SELECT bucket, counts.period, n,
    (n + 1) / CAST(n_tot + 10 AS DOUBLE) AS q
  FROM counts JOIN tots ON tots.period = counts.period),
ab AS (
  SELECT coalesce(a.bucket, b.bucket) AS bucket,
    coalesce(a.n, 0) AS n_a, coalesce(b.n, 0) AS n_b,
    floor((b.q - a.q) * ln(b.q / a.q) * 1e8 + 0.5) / 1e8 AS psi_term
  FROM (SELECT * FROM shares WHERE period = 'A') a
  FULL JOIN (SELECT * FROM shares WHERE period = 'B') b
    ON a.bucket = b.bucket),
tot_psi AS (
  SELECT floor(sum(psi_term) * 1e6 + 0.5) / 1e6 AS psi FROM ab)
SELECT bucket, n_a, n_b,
  floor(psi_term * 1e6 + 0.5) / 1e6 AS psi_term,
  (SELECT psi FROM tot_psi) AS psi
FROM ab""",
    "stream_doc_gate": """
WITH f AS (
  SELECT lang,
    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
    round(len(list_filter(string_split_regex(trim(text), '\\s+'),
        x -> list_contains(['the', 'a', 'and', 'of', 'to', 'in', 'is'],
                           lower(x))))
      / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 4) AS stop
  FROM documents)
SELECT lang, (n_words >= 60 AND stop >= 0.05) AS accepted,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_words) AS BIGINT) AS total_words
FROM f GROUP BY 1, 2""",
    "stream_windowed_counts": """
WITH x AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC))
SELECT 'tumbling' AS probe, strftime(date_trunc('day', ts), '%Y-%m-%d') AS grp,
  event_type, count(*) AS n_events, CAST(NULL AS BIGINT) AS n_sessions
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'session', CAST(user_id AS VARCHAR), NULL, count(*),
  CAST(sum(new_sess) AS BIGINT)
FROM x GROUP BY user_id""",
    "stream_joins": """
SELECT 'conv' AS probe, CAST(a.user_id AS VARCHAR) AS k1,
  CAST(NULL AS VARCHAR) AS k2, count(*) AS n,
  CAST(sum(a.event_id) AS BIGINT) AS s1,
  CAST(sum(b.event_id) AS BIGINT) AS s2
FROM events a JOIN events b ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 4 HOUR
GROUP BY a.user_id
UNION ALL
SELECT 'enrich', c_mktsegment, event_type, count(*),
  CAST(sum(event_id) AS BIGINT), CAST(NULL AS BIGINT)
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 2, 3""",
    "stream_hygiene": """
SELECT 'dedup' AS probe, event_type, count(*) AS n
FROM events GROUP BY event_type
UNION ALL
SELECT 'quarantine', event_type, count(*) FROM events
WHERE event_id % 97 != 0 GROUP BY event_type
UNION ALL
SELECT 'quarantine', '__corrupt__', count(*) FROM events WHERE event_id % 97 = 0""",
    "stream_scd2_current": """
WITH last AS (
  SELECT user_id, max(ts) AS mt FROM events GROUP BY user_id)
SELECT e.user_id, e.ts AS valid_from, e.value
FROM events e JOIN last l ON e.user_id = l.user_id AND e.ts = l.mt
WHERE e.event_type <> 'error'""",
    "stream_every_n_trigger": """
SELECT event_type AS group_key, count(*) AS events_seen,
       count(*) // 10 AS triggers_fired
FROM events GROUP BY event_type""",
}


def q_stream_sliding_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window trending (T8's third window kind, after
    tumbling and session): 6-hour windows sliding every 3 hours —
    each event lands in exactly two overlapping windows — counted per
    event type under a watermark, then the per-window top type
    (deterministic tie-break).  The streaming state is keyed on
    (window, type): bounded by span x types, independent of row
    volume.  The oracle replays the slide assignment arithmetically
    (each event's two window starts from its epoch-hour) — no window
    function needed until the final rank."""
    from pyspark.sql.window import Window

    base = _stage(spark, sf_dir, "raw")
    counts = (
        _read_raw(spark, base)
        .withWatermark("ts", "1 day")
        .groupBy(
            F.window("ts", "6 hours", "3 hours").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q, out = st.start_to_memory(counts, output_mode="complete")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    q.awaitTermination()
    rank = F.row_number().over(
        Window.partitionBy("ws").orderBy(
            F.col("n").desc(), F.col("event_type").asc()
        )
    )
    return (
        out.select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias(
                "ws"
            ),
            "event_type",
            "n",
        )
        .withColumn("rnk", rank)
        .filter(F.col("rnk") <= 1)
        .select("ws", F.col("event_type").alias("top_type"), "n")
    )


QUERIES["stream_sliding_trending"] = q_stream_sliding_trending

# Slide replay: a 6h/3h window pair for an event at epoch-second t has
# starts s0 = floor(t/10800)*10800 and s0 - 10800 (both valid: s+6h>t).
ORACLE["stream_sliding_trending"] = """
WITH ev AS (
  SELECT event_type, epoch_us(ts) // 1000000 AS t FROM events),
wins AS (
  SELECT event_type,
    unnest([ (t // 10800) * 10800, (t // 10800) * 10800 - 10800 ])
      AS ws
  FROM ev),
counts AS (
  SELECT ws, event_type, count(*) AS n FROM wins GROUP BY 1, 2),
ranked AS (
  SELECT strftime(to_timestamp(ws), '%Y-%m-%d %H:%M') AS ws,
    event_type AS top_type, n,
    row_number() OVER (PARTITION BY ws ORDER BY n DESC,
      event_type ASC) AS rnk
  FROM counts)
SELECT ws, top_type, n FROM ranked WHERE rnk = 1"""
ORACLE["stream_sessions"] = """
WITH x AS (
  SELECT user_id, epoch_us(ts) AS us FROM events),
o AS (
  SELECT user_id, us,
    CASE WHEN lag(us) OVER w IS NULL
           OR us - lag(us) OVER w > 1800000000
         THEN 1 ELSE 0 END AS new_sess
  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us ASC)),
s AS (
  SELECT user_id, us, sum(new_sess) OVER (
    PARTITION BY user_id ORDER BY us ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM o),
per AS (
  SELECT user_id, sess, min(us) AS st, max(us) AS en,
    count(*) AS n
  FROM s GROUP BY 1, 2),
lastx AS (SELECT user_id, max(sess) AS mx FROM per GROUP BY 1)
SELECT per.user_id,
  count(*) AS n_closed_sessions,
  CAST(sum(n) AS BIGINT) AS events_in_closed,
  CAST(sum(en - st) AS BIGINT) AS total_duration_us,
  CAST(min(st) AS BIGINT) AS first_start_us,
  CAST(max(en) AS BIGINT) AS last_end_us
FROM per JOIN lastx ON lastx.user_id = per.user_id
WHERE per.sess < lastx.mx
GROUP BY 1"""


def q_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest through a PYTHON-hosted custom source (the
    Spark 4 DataSource API's streamReader — the jar-free pattern for
    this container's Kafka gap): an offset-tracked cursor feed whose
    position Spark checkpoints exactly like Kafka offsets (T1/T2),
    drained bounded and aggregated per shard against the same
    closed-form the batch connector binds."""
    from cdc_pipe_line_spark.pydatasource import CursorFeedDataSource

    try:
        spark.dataSource.register(CursorFeedDataSource)
    except Exception:  # noqa: BLE001 — already registered in-session
        pass
    stream = (
        spark.readStream.format("cursor_feed")
        .option("shards", "4")
        .option("rowsPerShard", "5000")
        .load()
    )
    agg = stream.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("event_id").alias("sum_id"),
        F.sum("value").alias("sum_value"),
        F.max("offset").alias("max_offset"),
    )
    q, out = st.start_to_memory(agg, output_mode="complete")
    q.awaitTermination()
    return out


QUERIES["stream_python_source"] = q_stream_python_source

ORACLE["stream_python_source"] = """
WITH feed AS (
  SELECT CAST(event_id // 5000 AS INT) AS shard,
    event_id % 5000 AS off,
    event_id,
    (event_id * 2654435761) % 1000003 AS value
  FROM (SELECT unnest(range(0, 20000)) AS event_id))
SELECT shard, count(*) AS n_rows,
  CAST(sum(event_id) AS BIGINT) AS sum_id,
  CAST(sum(value) AS BIGINT) AS sum_value,
  CAST(max(off) AS BIGINT) AS max_offset
FROM feed GROUP BY 1"""


def q_stream_python_datasink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING two-phase-commit SINK through the Python DataSource
    API (``streamWriter`` — the V2 StreamingWrite contract a
    jar-backed Kafka producer speaks, S8's jar-free stand-in, paired
    with the batch ``io_python_datasink``): the staged event stream
    writes micro-batches into the stream-ledger sink (tasks stage
    JSONL, the driver publishes one atomic per-batch manifest entry;
    replayed batchIds are idempotent no-ops, so restarts stay
    exactly-once).  The read-back follows the LEDGER, never the
    directory; the published row binds totals, the id checksum, an
    exactly-once claim (zero duplicate event_ids across all committed
    batches) and ledger-vs-data file agreement."""
    import os
    import shutil

    from cdc_pipe_line_spark.pydatasource import (
        StreamLedgerSinkDataSource,
        read_stream_ledger,
    )

    try:
        spark.dataSource.register(StreamLedgerSinkDataSource)
    except Exception:  # noqa: BLE001 — already registered in-session
        pass
    base = _stage(spark, sf_dir, "raw")
    sink_dir = base.rstrip("/") + "_ledger_sink"
    cp = base.rstrip("/") + "_ledger_cp"
    shutil.rmtree(sink_dir, ignore_errors=True)
    shutil.rmtree(cp, ignore_errors=True)
    src = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .option("timestampFormat", _TS_FMT)
        .option("maxFilesPerTrigger", "1")
        .json(base)
    )
    q = (
        src.select("event_id", "user_id", "event_type")
        .writeStream.format("stream_ledger_sink")
        .option("path", sink_dir)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back, ledger = read_stream_ledger(
        spark, sink_dir, "event_id bigint, user_id bigint, event_type string"
    )
    n_batches = len(ledger["batches"])
    ledger_rows = sum(
        f["rows"] for b in ledger["batches"] for f in b["files"]
    )
    ledger_id_sum = sum(
        f["id_sum"] for b in ledger["batches"] for f in b["files"]
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum("event_id").alias("id_sum"),
        F.countDistinct("event_id").alias("n_distinct_ids"),
    ).select(
        "n_rows",
        "id_sum",
        (F.col("n_distinct_ids") == F.col("n_rows")).alias("exactly_once"),
        (
            (F.col("n_rows") == F.lit(ledger_rows))
            & (F.col("id_sum") == F.lit(ledger_id_sum))
        ).alias("ledger_matches_data"),
        F.lit(n_batches >= 1).alias("committed_batches_ge_1"),
    )


QUERIES["stream_python_datasink"] = q_stream_python_datasink

ORACLE["stream_python_datasink"] = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(event_id) AS BIGINT) AS id_sum,
  TRUE AS exactly_once,
  TRUE AS ledger_matches_data,
  TRUE AS committed_batches_ge_1
FROM events"""


def q_stream_abandoned_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-timeout alerting via EVENT-TIME TIMERS — the timer
    leg of the stateful API (``registerTimer`` /
    ``handleExpiredTimer`` on ``transformWithStateInPandas``;
    ``EventTimeTimeout`` on the fallback): a user who goes quiet for
    6 h of DATA time EMITS WITHOUT ANY FURTHER INPUT — the
    abandoned-cart / dead-sensor alert the reference's Redis-TTL
    trigger (utils.py:73-98) could only approximate in wall-clock.
    The bounded drain runs one data batch plus the no-data TIMEOUT
    batch Spark schedules when the final watermark advances; with a
    0 s watermark delay the fired set is exactly the users whose
    last activity sits more than the gap before the stream's max
    event time, which the oracle replays closed-form (boundary
    margin measured >=3.2 s at sf0.1, so ms-vs-us watermark flooring
    cannot flip a row)."""
    base = _stage(spark, sf_dir, "raw")
    stream = _read_raw(spark, base).withWatermark("ts", "0 seconds")
    mon = st.inactivity_monitor(stream, gap_minutes=360)
    # right-size state partitions for the bounded drain (pin-where-
    # measured idiom, see q_stream_windowed_counts): both the data
    # batch and the no-data timeout batch pay per-partition state
    # store setup, so a vanilla 200-partition session costs ~2x 200
    # store inits for ~150 keys.  Restored immediately after start.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with st.rocksdb_state_store(spark):
            q, table = st.start_to_memory(mon, output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    q.awaitTermination()
    return table.select("user_id", "last_us", "n_events")


QUERIES["stream_abandoned_users"] = q_stream_abandoned_users

ORACLE["stream_abandoned_users"] = """
WITH la AS (
  SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS n_events
  FROM events GROUP BY 1),
mx AS (SELECT max(epoch_us(ts)) AS m FROM events)
SELECT user_id, last_us, n_events
FROM la, mx
WHERE last_us + CAST(21600000000 AS BIGINT) < m"""


def q_stream_state_introspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store READER (Spark 4 `statestore` / `state-metadata`
    data sources, SPARK-45511): run a keyed streaming aggregation to a
    checkpoint, then open the operator's internal state as a DataFrame
    and publish it — per-key counts straight from the HDFS-backed
    store, cross-checked against the batch aggregate by the oracle.

    This is the Spark-native answer to the reference's state
    debugging: the consumer's only window into "what has been
    processed" is re-querying its ``cdc_events`` side table
    (``consumer.py:126-149``, ON CONFLICT DO NOTHING + re-select).
    Here the streaming engine's own state is first-class queryable —
    no side table, works on any checkpoint, per-partition — which is
    how you audit a 1000-executor stateful job's skew or a stuck key
    at 100 TB (the reader also exposes ``partition_id``; the
    ``state-metadata`` source binds operator name and store partition
    count into the published row, so a re-partitioned or renamed
    operator fails the hash, not just a comment).

    The drained memory sink is discarded deliberately: the published
    result is read ONLY from the checkpoint's state files.
    """
    base = _stage(spark, sf_dir, "raw")
    ckpt = f"/tmp/cdc_stream_cache/ckpt_{uuid.uuid4().hex[:12]}"
    counts = _read_raw(spark, base).groupBy("user_id").agg(
        F.count("*").alias("n_events")
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q, _sink = st.start_to_memory(
            counts, output_mode="update", checkpoint_dir=ckpt
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    q.awaitTermination()

    meta = (
        spark.read.format("state-metadata")
        .load(ckpt)
        .select(
            "operatorName",
            F.col("numPartitions").cast("int").alias("n_state_partitions"),
        )
    )
    state = spark.read.format("statestore").load(ckpt)
    return (
        state.select(
            F.col("key.user_id").alias("user_id"),
            # the store keeps the aggregation BUFFER schema — the
            # internal `count` field, not the query-level alias
            F.col("value.count").alias("n_events"),
        )
        .join(F.broadcast(meta))
        .select("user_id", "n_events", "operatorName", "n_state_partitions")
    )


QUERIES["stream_state_introspect"] = q_stream_state_introspect

ORACLE["stream_state_introspect"] = """
SELECT user_id, count(*) AS n_events,
  'stateStoreSave' AS operatorName,
  CAST(8 AS INT) AS n_state_partitions
FROM events GROUP BY 1"""


def q_stream_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantics the
    inner-join funnel (`stream_joins`) cannot express: views with NO
    purchase inside the 4h window must still emit (null-padded), and
    Structured Streaming can only do that by holding each left row in
    join state until the watermark proves no match can arrive, then
    evicting it through a no-data micro-batch.

    The eviction cutoff is part of the CONTRACT and the oracle replays
    it (probe-verified on the fixture before registration): a view
    emits unmatched iff ``view_ts + 4h < final_watermark`` where
    ``final_watermark = min(max view_ts, max purchase_ts) - 1 day`` —
    the GLOBAL watermark is the minimum over every watermark operator
    in the query, so the slower side's clock gates both (measured: an
    oracle using the overall event max over-evicts by the views
    landing in the gap between the two sides' maxima).  Views in the
    last ~28h of the stream stay buffered forever (their no-match
    proof never arrives), so the batch replay must NOT count them.
    Matched rows emit immediately and are watermark-independent,
    giving the oracle's inner half.  State is O(watermark window) on
    both sides.
    """
    base = _stage(spark, sf_dir, "raw")
    views = _read_raw(spark, base).filter(F.col("event_type") == "view")
    buys = _read_raw(spark, base).filter(F.col("event_type") == "purchase")
    l = views.withWatermark("ts", "1 day").alias("l")
    r = buys.withWatermark("ts", "1 day").alias("r")
    cond = (
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 4 HOURS"))
    )
    joined = l.join(r, cond, "left_outer").select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
    )
    # right-size state partitions for the bounded drain (pin-where-
    # measured idiom, see q_stream_abandoned_users): a stream-stream
    # join keeps FOUR state stores per partition (left/right rows x
    # key-to-numValues), so a vanilla 200-partition session pays ~800
    # store inits per batch INCLUDING the final no-data eviction batch
    # — measured 27.6 s -> 5.4 s at sf0.01.  Restored after start.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q, out = st.start_to_memory(joined, output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    q.awaitTermination()
    matched = out.filter(F.col("purchase_id").isNotNull()).agg(
        F.lit("matched").alias("probe"),
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("view_id").alias("view_id_sum"),
        F.sum("purchase_id").alias("purchase_id_sum"),
    )
    unmatched = out.filter(F.col("purchase_id").isNull()).agg(
        F.lit("unmatched").alias("probe"),
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("view_id").alias("view_id_sum"),
        F.lit(None).cast("bigint").alias("purchase_id_sum"),
    )
    return matched.unionByName(unmatched)


QUERIES["stream_join_left_outer"] = q_stream_join_left_outer

ORACLE["stream_join_left_outer"] = """
WITH v AS (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'view'),
b AS (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'),
mx AS (SELECT least((SELECT max(ts) FROM v),
                    (SELECT max(ts) FROM b)) AS max_ts),
m AS (
  SELECT v.user_id, v.event_id AS view_id, b.event_id AS purchase_id
  FROM v JOIN b ON v.user_id = b.user_id AND b.ts >= v.ts
    AND b.ts <= v.ts + INTERVAL 4 HOUR),
um AS (
  SELECT v.user_id, v.event_id AS view_id FROM v
  WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.user_id = v.user_id
          AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 4 HOUR)
    AND v.ts + INTERVAL 4 HOUR
        < (SELECT max_ts FROM mx) - INTERVAL 1 DAY)
SELECT 'matched' AS probe, count(*) AS n,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(sum(view_id) AS BIGINT) AS view_id_sum,
  CAST(sum(purchase_id) AS BIGINT) AS purchase_id_sum
FROM m
UNION ALL
SELECT 'unmatched', count(*),
  CAST(count(DISTINCT user_id) AS BIGINT),
  CAST(sum(view_id) AS BIGINT), CAST(NULL AS BIGINT)
FROM um"""


def q_stream_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — both eviction legs of
    the symmetric hash join, each with its OWN watermark contract
    (probe-measured on the fixture, cf. `stream_join_left_outer` for
    the left leg's derivation):

    - a VIEW emits null-padded iff ``view_ts + 4h < W`` (its last
      possible match time must pass the watermark);
    - a PURCHASE emits null-padded iff ``purchase_ts < W`` (a
      purchase only matches views AT OR BEFORE it, so its own
      timestamp IS its last match time — the asymmetry of the
      one-sided interval condition, and why the two legs evict on
      different cutoffs);
    - ``W = min(max view_ts, max purchase_ts) - 1 day`` — the global
      watermark is the min over every watermark operator.

    Matched rows emit immediately.  The oracle replays all three row
    classes; id checksums bind exact membership of each."""
    base = _stage(spark, sf_dir, "raw")
    views = _read_raw(spark, base).filter(F.col("event_type") == "view")
    buys = _read_raw(spark, base).filter(F.col("event_type") == "purchase")
    l = views.withWatermark("ts", "1 day").alias("l")
    r = buys.withWatermark("ts", "1 day").alias("r")
    cond = (
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 4 HOURS"))
    )
    joined = l.join(r, cond, "full_outer").select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
    )
    # right-size state partitions for the bounded drain (measured on
    # stream_join_left_outer: 27.6 s -> 5.4 s; a stream-stream join
    # keeps 4 state stores per partition)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q, out = st.start_to_memory(joined, output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    q.awaitTermination()
    matched = out.filter(
        F.col("view_id").isNotNull() & F.col("purchase_id").isNotNull()
    ).agg(
        F.lit("matched").alias("probe"),
        F.count("*").alias("n"),
        F.sum("view_id").alias("view_id_sum"),
        F.sum("purchase_id").alias("purchase_id_sum"),
    )
    lonely_v = out.filter(F.col("purchase_id").isNull()).agg(
        F.lit("view_no_purchase").alias("probe"),
        F.count("*").alias("n"),
        F.sum("view_id").alias("view_id_sum"),
        F.lit(None).cast("bigint").alias("purchase_id_sum"),
    )
    lonely_p = out.filter(F.col("view_id").isNull()).agg(
        F.lit("purchase_no_view").alias("probe"),
        F.count("*").alias("n"),
        F.lit(None).cast("bigint").alias("view_id_sum"),
        F.sum("purchase_id").alias("purchase_id_sum"),
    )
    return matched.unionByName(lonely_v).unionByName(lonely_p)


QUERIES["stream_join_full_outer"] = q_stream_join_full_outer

ORACLE["stream_join_full_outer"] = """
WITH v AS (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'view'),
b AS (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'),
mm AS (SELECT least((SELECT max(ts) FROM v),
                    (SELECT max(ts) FROM b)) - INTERVAL 1 DAY AS wm),
m AS (
  SELECT v.event_id AS view_id, b.event_id AS purchase_id
  FROM v JOIN b ON v.user_id = b.user_id AND b.ts >= v.ts
    AND b.ts <= v.ts + INTERVAL 4 HOUR),
lv AS (
  SELECT v.event_id AS view_id FROM v, mm
  WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.user_id = v.user_id
          AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 4 HOUR)
    AND v.ts + INTERVAL 4 HOUR < mm.wm),
lp AS (
  SELECT b.event_id AS purchase_id FROM b, mm
  WHERE NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = b.user_id
          AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 4 HOUR)
    AND b.ts < mm.wm)
SELECT 'matched' AS probe, count(*) AS n,
  CAST(sum(view_id) AS BIGINT) AS view_id_sum,
  CAST(sum(purchase_id) AS BIGINT) AS purchase_id_sum
FROM m
UNION ALL
SELECT 'view_no_purchase', count(*),
  CAST(sum(view_id) AS BIGINT), CAST(NULL AS BIGINT) FROM lv
UNION ALL
SELECT 'purchase_no_view', count(*),
  CAST(NULL AS BIGINT), CAST(sum(purchase_id) AS BIGINT) FROM lp"""


def _watermark_progress_rows(progress) -> list[tuple]:
    """Telemetry rows from parsed StreamingQueryProgress dicts: skip
    empty batches AND any row whose 'gate' observed metrics are
    absent (a retried/merged progress event can drop them — ADVICE
    r8: degrade instead of TypeError-ing the whole query), guarded
    the same way as the stateOperators list."""
    rows = []
    for d in progress:
        ni = int(d.get("numInputRows", 0) or 0)
        if ni == 0:
            continue
        so = d.get("stateOperators") or []
        dropped = int(so[0].get("numRowsDroppedByWatermark", 0)) if so else 0
        om = (d.get("observedMetrics") or {}).get("gate") or {}
        if not om:
            continue
        rows.append(
            (
                int(d["batchId"]),
                ni,
                dropped,
                int(om.get("obs_rows")),
                int(om.get("obs_min_id")),
                int(om.get("obs_max_id")),
            )
        )
    return rows


def q_stream_watermark_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OBSERVABILITY surface (T8 + the Observe API): a
    watermarked daily-window aggregation over three time-ordered
    micro-batches, returning the per-batch telemetry an operator
    actually monitors — input rows, ``numRowsDroppedByWatermark``
    from the state operator, and ``df.observe()`` metrics (count +
    event-id span; DISTINCT aggregates are rejected in streaming
    observe, so span stands in).

    TWO contracts here are measured, not assumed (probe-pinned in
    this docstring's development and re-checked by the oracle every
    run):

    1. **Watermark lag**: the filter watermark effective in batch N
       is the one computed from data through batch N-2 (the progress
       row for batch N displays the value computed from batch N-1 —
       one batch AHEAD of what actually filtered batch N).  Hence
       the three-batch staging: the evens batch sets the high
       watermark, the first odd quartile rides the propagation lag
       untouched, and only the second odd quartile is filtered,
       against ``max(even ts) - 61 min``.
    2. **What the drop metric counts**: the watermark filter sits at
       the STATE-STORE boundary, after map-side partial aggregation
       — so ``numRowsDroppedByWatermark`` counts combined partial
       rows, not raw input rows.  Each staged batch is one JSON file
       (one map task), so the partial agg emits exactly one row per
       window touched, and the dropped count equals the number of
       DISTINCT late windows (window.end <= watermark) in the batch
       — which is what the oracle replays.

    Scale shape: metrics are driver-side per-batch telemetry (a
    handful of progress rows), never data; the aggregation itself is
    the standard watermarked hash-agg whose state is bounded by live
    windows."""
    import json as _json

    base = _stage(spark, sf_dir, "wmsplit")
    stream = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .option("timestampFormat", _TS_FMT)
        .option("maxFilesPerTrigger", "1")
        .json(base)
    )
    observed = stream.observe(
        "gate",
        F.count(F.lit(1)).alias("obs_rows"),
        F.min("event_id").alias("obs_min_id"),
        F.max("event_id").alias("obs_max_id"),
    )
    agg = (
        observed.withWatermark("ts", "61 minutes")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q, _ = st.start_to_memory(agg, output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    q.awaitTermination()
    rows = _watermark_progress_rows(
        _json.loads(p.json) for p in q.recentProgress
    )
    return spark.createDataFrame(
        rows,
        "batch_id bigint, n_input bigint, n_dropped bigint, "
        "obs_rows bigint, obs_min_id bigint, obs_max_id bigint",
    )


QUERIES["stream_watermark_metrics"] = q_stream_watermark_metrics

ORACLE["stream_watermark_metrics"] = """
WITH ev0 AS (SELECT event_id, ts FROM events WHERE event_id % 2 = 0),
ev1 AS (SELECT event_id, ts FROM events WHERE event_id % 4 = 1),
ev2 AS (SELECT event_id, ts FROM events WHERE event_id % 4 = 3),
wm AS (SELECT max(epoch_us(ts)) - 3660000000 AS wm_us FROM ev0),
d2 AS (
  SELECT count(DISTINCT date_trunc('day', ts)) AS n FROM ev2, wm
  WHERE epoch_us(date_trunc('day', ts)) + 86400000000 <= wm_us)
SELECT CAST(0 AS BIGINT) AS batch_id,
  (SELECT CAST(count(*) AS BIGINT) FROM ev0) AS n_input,
  CAST(0 AS BIGINT) AS n_dropped,
  (SELECT CAST(count(*) AS BIGINT) FROM ev0) AS obs_rows,
  (SELECT min(event_id) FROM ev0) AS obs_min_id,
  (SELECT max(event_id) FROM ev0) AS obs_max_id
UNION ALL
SELECT 1, (SELECT count(*) FROM ev1), 0,
  (SELECT count(*) FROM ev1),
  (SELECT min(event_id) FROM ev1), (SELECT max(event_id) FROM ev1)
UNION ALL
SELECT 2, (SELECT count(*) FROM ev2), (SELECT n FROM d2),
  (SELECT count(*) FROM ev2),
  (SELECT min(event_id) FROM ev2), (SELECT max(event_id) FROM ev2)"""


def q_stream_delta_txn_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming sink into a NATIVE Delta table (T3/T5 +
    the protocol's SetTransaction action, with zero delta-spark): the
    staged event stream drains through ``foreachBatch``, and every
    micro-batch lands via :func:`deltalog.txn_append` keyed by
    ``(app_id, batchId)`` — the idempotence contract Kafka-to-Delta
    sinks rely on.  An at-least-once replay is then SIMULATED at
    query time by re-offering batch 0 under its original transaction
    version: the sink must refuse it (no new commit, no new rows),
    and that refusal plus the exact commit/txn census and the
    content-equality check against the source table are all bound in
    the published row.

    Scale shape: each micro-batch append is one distributed parquet
    write + one bounded log commit; the txn check is a scan of the
    bounded action log (checkpoint compaction keeps it shallow in
    production)."""
    from cdc_pipe_line_spark import deltalog

    app_id = "stream_delta_txn_sink"
    staged = _stage(spark, sf_dir, "raw")
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    tbl = f"/tmp/cdc_stream_cache/{sf_name}/delta_txn_tbl"
    marker = os.path.join(tbl, "_SINK_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(tbl, ignore_errors=True)
        ckpt = f"{tbl}__ckpt"
        shutil.rmtree(ckpt, ignore_errors=True)
        stream = (
            spark.readStream.schema(RAW_SCHEMA)
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.json")
            .option("timestampFormat", _TS_FMT)
            .option("maxFilesPerTrigger", "2")
            .json(staged)
        )

        def _sink(bdf, bid: int) -> None:
            rows = bdf.select("event_id", "user_id", "event_type")
            if rows.isEmpty():
                return
            deltalog.txn_append(
                spark, rows, tbl, app_id=app_id, version=int(bid)
            )

        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        with open(marker, "w") as fh:
            fh.write("done")

    # at-least-once replay probe: batch 0 re-offered under its
    # original txn version must be refused without a commit
    replay_probe = _t(spark, sf_dir, "events").limit(3).select(
        "event_id", "user_id", "event_type"
    )
    replay_accepted = deltalog.txn_append(
        spark, replay_probe, tbl, app_id=app_id, version=0
    )

    actions = deltalog.read_log_actions(spark, tbl)
    census = actions.agg(
        (F.max("version") + 1).cast("bigint").alias("n_commits"),
        F.sum(F.col("txn").isNotNull().cast("bigint")).alias("n_txn"),
        F.max("txn.version").cast("bigint").alias("max_txn_version"),
    )
    snap = deltalog.read_snapshot(spark, tbl)
    got = snap.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
    )
    src = _t(spark, sf_dir, "events").agg(
        F.count("*").cast("bigint").alias("__src_n"),
        F.sum("event_id").cast("bigint").alias("__src_sum"),
    )
    return (
        census.crossJoin(F.broadcast(got))
        .crossJoin(F.broadcast(src))
        .select(
            "n_commits",
            "n_txn",
            "max_txn_version",
            "n_rows",
            "id_checksum",
            F.lit(not replay_accepted).alias("replay_refused"),
            (
                (F.col("n_rows") == F.col("__src_n"))
                & (F.col("id_checksum") == F.col("__src_sum"))
            ).alias("matches_source"),
        )
    )


QUERIES["stream_delta_txn_sink"] = q_stream_delta_txn_sink

ORACLE["stream_delta_txn_sink"] = """
SELECT CAST(4 AS BIGINT) AS n_commits,
  CAST(4 AS BIGINT) AS n_txn,
  CAST(3 AS BIGINT) AS max_txn_version,
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_rows,
  (SELECT CAST(sum(event_id) AS BIGINT) FROM events) AS id_checksum,
  TRUE AS replay_refused,
  TRUE AS matches_source"""


def q_stream_delta_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING read of a native Delta table — the source half
    completing round 9/10's exactly-once SINK (`stream_delta_txn_sink`):
    the transaction log consumed through the Python DataSource API's
    streamReader (``pydatasource.DeltaStreamDataSource``) with log
    VERSIONS as checkpointed offsets, one input partition per added
    data file, rows fetched executor-side via pyarrow.  The fixture
    table takes three appends plus an OPTIMIZE (whose
    dataChange=false rewrite must be a streaming NON-EVENT), and the
    drained stream aggregates per _commit_version — counts and key
    checksums closed-form in o_orderkey.  The append-only guard
    (data-changing removes raise) is pinned in
    tests/test_round11_delta.py.

    Scale shape: file-level scan parallelism per micro-batch; offsets
    are log versions, so a restart resumes from the checkpointed
    version exactly like a Kafka offset."""
    from cdc_pipe_line_spark import deltalog
    from cdc_pipe_line_spark.pydatasource import DeltaStreamDataSource
    from cdc_pipe_line_spark.queries.io_q import _cache, _mark

    base, ready = _cache(sf_dir, "delta_stream_src")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        m = F.col("o_orderkey") % 9
        deltalog.create_table(spark, orders.filter(m == 0), base)   # v0
        deltalog.append(spark, orders.filter(m == 1), base)         # v1
        deltalog.compact(spark, base)                               # v2
        deltalog.append(spark, orders.filter(m == 2), base)         # v3
        _mark(base)

    try:
        spark.dataSource.register(DeltaStreamDataSource)
    except Exception:  # noqa: BLE001 — already registered in-session
        pass
    stream = (
        spark.readStream.format("delta_stream")
        .option("path", base)
        .load()
    )
    agg = stream.groupBy("_commit_version").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
    )
    q, out = st.start_to_memory(agg, output_mode="complete")
    q.awaitTermination()
    return out


QUERIES["stream_delta_source"] = q_stream_delta_source

ORACLE["stream_delta_source"] = """
SELECT CAST(CASE WHEN o_orderkey % 9 = 0 THEN 0
            WHEN o_orderkey % 9 = 1 THEN 1 ELSE 3 END AS BIGINT)
  AS _commit_version,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
FROM orders WHERE o_orderkey % 9 <= 2
GROUP BY 1"""


def q_stream_delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CHANGE FEED of a native Delta table
    (``readChangeFeed=true`` on the delta_stream source, planned from
    the same leg census as ``deltalog.read_changes``): DML commits stream
    their ``_change_data`` files ROW-LEVEL (exactly the mutated rows,
    tagged insert / delete / update_preimage / update_postimage),
    append commits stream as inserts, and the plain mode's
    append-only guard is lifted because mutations are now
    first-class events.  The fixture takes create → append → DELETE
    (every 9th key) → UPDATE (+1 on 'F' rows) and the drained stream
    aggregates per (_commit_version, _change_type) with key and
    integer-cents value checksums — a feed that leaked a rewritten
    file's unchanged rows, dropped a post-image, or served stale
    values fails the hash.

    Scale shape: one input partition per change/add file per
    micro-batch; a DML touching 0.1% of rows ships 0.1%-sized change
    files to the consumer, never the rewritten files' full
    contents."""
    from cdc_pipe_line_spark import deltalog
    from cdc_pipe_line_spark.pydatasource import DeltaStreamDataSource
    from cdc_pipe_line_spark.queries.io_q import _cache, _mark

    base, ready = _cache(sf_dir, "delta_stream_cdf")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        m = F.col("o_orderkey") % 3
        deltalog.create_table(spark, orders.filter(m == 0), base)   # v0
        deltalog.append(spark, orders.filter(m == 1), base)         # v1
        deltalog.delete_where(spark, base, "o_orderkey % 9 = 0")    # v2
        deltalog.update_where(                                      # v3
            spark,
            base,
            "o_orderstatus = 'F'",
            {"o_totalprice": "o_totalprice + 1.0"},
        )
        _mark(base)

    try:
        spark.dataSource.register(DeltaStreamDataSource)
    except Exception:  # noqa: BLE001 — already registered in-session
        pass
    stream = (
        spark.readStream.format("delta_stream")
        .option("path", base)
        .option("readChangeFeed", "true")
        .load()
    )
    agg = stream.groupBy("_commit_version", "_change_type").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("price_cents"),
    )
    q, out = st.start_to_memory(agg, output_mode="complete")
    q.awaitTermination()
    return out


QUERIES["stream_delta_cdf"] = q_stream_delta_cdf

ORACLE["stream_delta_cdf"] = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS p,
         o_orderkey % 3 AS m
  FROM orders WHERE o_orderkey % 3 <= 1),
after_del AS (
  SELECT * FROM base WHERE k % 9 != 0),
feed AS (
  SELECT 0 AS v, 'insert' AS ct, k, p FROM base WHERE m = 0
  UNION ALL
  SELECT 1, 'insert', k, p FROM base WHERE m = 1
  UNION ALL
  SELECT 2, 'delete', k, p FROM base WHERE k % 9 = 0
  UNION ALL
  SELECT 3, 'update_preimage', k, p FROM after_del WHERE st = 'F'
  UNION ALL
  SELECT 3, 'update_postimage', k, p + 1.0
  FROM after_del WHERE st = 'F')
SELECT CAST(v AS BIGINT) AS _commit_version, ct AS _change_type,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(k) AS BIGINT) AS key_checksum,
  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS price_cents
FROM feed GROUP BY 1, 2"""
