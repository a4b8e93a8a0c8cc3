"""Regression tests for the round-1 ADVICE findings.

Each test pins one fixed defect: null-key diff classification, the
streaming committed-batch marker's checkpoint scoping, OOXML worksheet
resolution via workbook rels, interval-overlap pair multiplicity, and
cross-batch SCD2 replay idempotency.
"""

from __future__ import annotations

import os
import zipfile
from io import BytesIO

import pytest
from pyspark.sql import functions as F

from cdc_pipe_line_spark import ooxml
from cdc_pipe_line_spark.cdc.diff import snapshot_diff
from cdc_pipe_line_spark.cdc.scd2 import apply_scd2
from cdc_pipe_line_spark.joins import interval_overlap_join


# ------------------------------------------------------------- diff null key
def test_diff_null_key_matches_reference_str_none(spark):
    """A null key compares as the string 'None' (reference str(row[key]))
    instead of falling through the full-outer join into a garbage
    'update' with null payloads."""
    prev = spark.createDataFrame(
        [(None, "a", 1.0), ("2", "b", 2.0)], "k string, dim string, v double"
    )
    new = spark.createDataFrame(
        [(None, "a", 9.0), ("2", "b", 2.0)], "k string, dim string, v double"
    )
    rows = {r.key_value: r for r in snapshot_diff(new, prev, "k").collect()}
    assert set(rows) == {"None"}
    r = rows["None"]
    assert r.event_type == "update"
    assert r.old_values is not None and r.old_values["v"] == "1.0"
    assert r.new_values is not None and r.new_values["v"] == "9.0"
    assert r.changed_cols == ["v"]


def test_diff_null_key_insert_delete(spark):
    prev = spark.createDataFrame([("1", "x")], "k string, v string")
    new = spark.createDataFrame([("1", "x"), (None, "y")], "k string, v string")
    rows = {r.key_value: r.event_type for r in snapshot_diff(new, prev, "k").collect()}
    assert rows == {"None": "insert"}
    back = {
        r.key_value: r.event_type for r in snapshot_diff(prev, new, "k").collect()
    }
    assert back == {"None": "delete"}


# -------------------------------------------------- scd2 cross-batch replay
def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id string, event_type string, key_value string, "
        "timestamp timestamp, new_values map<string,string>",
    )


def test_apply_scd2_replayed_batch_is_noop(spark):
    """Re-applying an already-applied batch must not duplicate versions
    (reference ON CONFLICT (event_id) DO NOTHING, consumer.py:128-149)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 1, 2)
    batch1 = _events(
        spark,
        [
            ("e1", "insert", "k1", t0, {"v": "1"}),
            ("e2", "update", "k1", t1, {"v": "2"}),
        ],
    )
    hist = apply_scd2(None, batch1)
    replayed = apply_scd2(hist, batch1)
    assert replayed.count() == hist.count() == 2
    # and a mixed batch (one replay + one new) applies only the new event
    t2 = dt.datetime(2024, 1, 3)
    mixed = _events(
        spark,
        [
            ("e2", "update", "k1", t1, {"v": "2"}),  # replay
            ("e3", "update", "k1", t2, {"v": "3"}),  # new
        ],
    )
    after = apply_scd2(hist, mixed)
    assert after.count() == 3
    cur = after.filter(F.col("is_current")).collect()
    assert len(cur) == 1 and cur[0].data["v"] == "3"


# ------------------------------------------------------- stream marker scope
def test_stream_marker_scoped_to_checkpoint_identity(spark, tmp_path):
    """A fresh/cleared checkpoint restarts batch ids at 0; the committed
    marker must not silently skip those batches — it fails fast when the
    history was committed under a different streaming query identity."""
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

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
            .json(base)
        )

    hist_dir = os.path.join(str(tmp_path), "history")
    ckpt_a = os.path.join(str(tmp_path), "ckpt_a")
    q = st.run_scd2_stream(make_stream(), hist_dir, checkpoint_dir=ckpt_a)
    q.awaitTermination()
    n_versions = st.read_scd2_history(spark, hist_dir).count()
    assert n_versions > 0

    # same checkpoint, rerun: no-op (marker matches identity + batch id)
    q2 = st.run_scd2_stream(make_stream(), hist_dir, checkpoint_dir=ckpt_a)
    q2.awaitTermination()
    assert st.read_scd2_history(spark, hist_dir).count() == n_versions

    # cleared checkpoint: batch ids restart — must fail fast, not skip
    shutil.rmtree(ckpt_a)
    ckpt_b = os.path.join(str(tmp_path), "ckpt_b")
    q3 = st.run_scd2_stream(make_stream(), hist_dir, checkpoint_dir=ckpt_b)
    with pytest.raises(StreamingQueryException, match="different|checkpoint"):
        q3.awaitTermination()


# ------------------------------------------------------------ ooxml sheets
def test_xlsx_ten_plus_sheets_resolve_in_declaration_order():
    """sheet10.xml must not sort before sheet2.xml (numeric + rels
    resolution, not lexicographic part names)."""
    sheets = {f"s{i}": [[f"marker{i}", i]] for i in range(11)}
    data = ooxml.write_xlsx(sheets)
    for i in range(11):
        by_index = ooxml.read_xlsx_rows(data, sheet=i)
        assert by_index[0][0] == f"marker{i}"
        by_name = ooxml.read_xlsx_rows(data, sheet=f"s{i}")
        assert by_name[0][0] == f"marker{i}"


def test_xlsx_rels_are_authoritative_over_part_numbering():
    """Scramble the rels so rId1 -> sheet2.xml: the reader must follow
    the relationship, not the part file number."""
    data = ooxml.write_xlsx({"a": [["from_a"]], "b": [["from_b"]]})
    out = BytesIO()
    with zipfile.ZipFile(BytesIO(data)) as src, zipfile.ZipFile(
        out, "w", zipfile.ZIP_DEFLATED
    ) as dst:
        for name in src.namelist():
            payload = src.read(name)
            if name == "xl/_rels/workbook.xml.rels":
                txt = payload.decode()
                txt = (
                    txt.replace("worksheets/sheet1.xml", "worksheets/TMP.xml")
                    .replace("worksheets/sheet2.xml", "worksheets/sheet1.xml")
                    .replace("worksheets/TMP.xml", "worksheets/sheet2.xml")
                )
                payload = txt.encode()
            dst.writestr(name, payload)
    swapped = out.getvalue()
    assert ooxml.read_xlsx_rows(swapped, sheet="a")[0][0] == "from_b"
    assert ooxml.read_xlsx_rows(swapped, sheet="b")[0][0] == "from_a"


# ------------------------------------------------- interval overlap join
def test_interval_overlap_preserves_duplicate_multiplicity(spark):
    """Two identical left intervals each match the right interval —
    deduping on value columns would collapse them to one pair."""
    left = spark.createDataFrame(
        [(0.0, 10.0), (0.0, 10.0)], "l_lo double, l_hi double"
    )
    right = spark.createDataFrame([(5.0, 15.0)], "r_lo double, r_hi double")
    got = interval_overlap_join(
        left,
        right,
        left_lo="l_lo",
        left_hi="l_hi",
        right_lo="r_lo",
        right_hi="r_hi",
        bucket_width=2.0,  # small width -> many shared cells per pair
    )
    assert got.count() == 2  # one row per (left row, right row) pair
    assert set(got.columns) == {"l_lo", "l_hi", "r_lo", "r_hi"}


# --------------------------------------------- round-2 ADVICE regressions
def test_checkpointless_rerun_applies_new_batches(spark, tmp_path):
    """Checkpoint-less runs have no durable identity, so the committed
    marker must NOT be honored (marker_qid None == qid None would
    silently skip the fresh run's first batches); re-application is
    instead made a no-op by the event-id anti-join."""
    import json as _json

    from cdc_pipe_line_spark import streaming as st

    src = tmp_path / "src"
    src.mkdir()

    def write_events(name, rows):
        with open(src / name, "w") as fh:
            for eid, key, ts in rows:
                fh.write(
                    _json.dumps(
                        {
                            "event_id": eid,
                            "event_type": "insert",
                            "timestamp": ts,
                            "key_value": key,
                        }
                    )
                    + "\n"
                )

    hist = os.path.join(str(tmp_path), "history")
    write_events("a.json", [("e1", "k1", "2024-01-01 00:00:00")])
    write_events("b.json", [("e2", "k2", "2024-01-01 01:00:00")])
    stream = (
        spark.readStream.schema(st.EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    st.run_scd2_stream(stream, hist).awaitTermination()
    assert st.read_scd2_history(spark, hist).count() == 2

    # new data lands; a SECOND checkpoint-less run re-reads everything.
    # Pre-fix, the stored marker (query_id null) matched the fresh run's
    # null identity and dropped its first batches — losing e3/e4.
    write_events("c.json", [("e3", "k3", "2024-01-02 00:00:00")])
    write_events("d.json", [("e4", "k4", "2024-01-02 01:00:00")])
    stream2 = (
        spark.readStream.schema(st.EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    st.run_scd2_stream(stream2, hist).awaitTermination()
    h = st.read_scd2_history(spark, hist)
    keys = {r.key_value for r in h.select("key_value").collect()}
    assert keys == {"k1", "k2", "k3", "k4"}
    # and replayed e1/e2 were absorbed by the anti-join, not duplicated
    assert h.count() == 4


def test_corrupt_marker_fails_fast(spark, tmp_path):
    """A truncated/invalid _COMMITTED_BATCH (dict missing batch_id) must
    surface the documented marker-corruption error, not a KeyError."""
    import json as _json

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from cdc_pipe_line_spark import streaming as st

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.json", "w") as fh:
        fh.write(
            _json.dumps(
                {
                    "event_id": "e1",
                    "event_type": "insert",
                    "timestamp": "2024-01-01 00:00:00",
                    "key_value": "k1",
                }
            )
            + "\n"
        )
    hist = tmp_path / "history"
    hist.mkdir()
    (hist / "_COMMITTED_BATCH").write_text('{"query_id": "q-123"}')
    stream = spark.readStream.schema(st.EVENT_SCHEMA).json(str(src))
    q = st.run_scd2_stream(stream, str(hist))
    with pytest.raises(StreamingQueryException, match="corrupt"):
        q.awaitTermination()


def test_kafka_error_classifier_only_matches_missing_source():
    """Genuine connector errors (auth, bad option, broker) must
    propagate unmangled; only the missing-data-source failure is
    rewritten into the add-the-jar hint."""
    from cdc_pipe_line_spark.streaming import _is_missing_kafka_source

    assert _is_missing_kafka_source(
        Exception("[DATA_SOURCE_NOT_FOUND] Failed to find the data source: kafka.")
    )
    assert _is_missing_kafka_source(
        Exception("Failed to find data source: kafka. Please deploy ...")
    )
    assert not _is_missing_kafka_source(
        Exception("kafkashaded.org.apache.kafka.common.errors."
                  "SaslAuthenticationException: bad credentials")
    )
    assert not _is_missing_kafka_source(
        Exception("Timed out waiting for a node assignment")
    )


def test_scd2_sink_under_file_uri(spark, tmp_path):
    """The sink's marker + compaction bookkeeping goes through the
    Hadoop FileSystem API, so a scheme-qualified (non-os.path) history
    URI works — the local stand-in for hdfs://, s3a://, abfss://."""
    import json as _json

    from cdc_pipe_line_spark import streaming as st

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.json", "w") as fh:
        for i in range(6):
            fh.write(
                _json.dumps(
                    {
                        "event_id": f"e{i}",
                        "event_type": "insert",
                        "timestamp": f"2024-01-01 0{i}:00:00",
                        "key_value": f"k{i}",
                    }
                )
                + "\n"
            )
    hist_uri = f"file://{tmp_path}/history"
    ckpt = os.path.join(str(tmp_path), "ckpt")
    stream = spark.readStream.schema(st.EVENT_SCHEMA).json(str(src))
    st.run_scd2_stream(
        stream, hist_uri, checkpoint_dir=ckpt, n_buckets=2, max_segments=1
    ).awaitTermination()

    h = st.read_scd2_history(spark, hist_uri)
    assert h.count() == 6
    # marker landed through the FS API at the URI path
    marker = tmp_path / "history" / "_COMMITTED_BATCH"
    assert marker.exists()
    assert "batch_id" in marker.read_text()


def test_interval_overlap_rejects_shared_column_names(spark):
    df = spark.createDataFrame([(0.0, 1.0)], "lo double, hi double")
    with pytest.raises(ValueError, match="disjoint"):
        interval_overlap_join(
            df, df, left_lo="lo", left_hi="hi", right_lo="lo",
            right_hi="hi", bucket_width=1.0,
        )


# ---------------------------------------------------- round-6 ADVICE locks
def test_km_survival_handles_all_churned_stratum(spark):
    """ADVICE r6 item 1: a duration stratum where EVERY at-risk user
    churned (hazard = 1) must yield survival 0 — not a silently
    dropped NULL log term inflating later strata."""
    from cdc_pipe_line_spark.queries.analytics_q import QUERIES
    import cdc_pipe_line_spark.queries.analytics_q as aq
    import inspect

    src = inspect.getsource(aq.q_survival_retention)
    assert "greatest" in src and "1e-300" in src, (
        "hazard log clamp removed — Spark would NULL-drop ln(0) while"
        " DuckDB raises"
    )
    # end-to-end: synthetic events where the max-lifetime stratum is
    # all-churned (no censored user attains it)
    rows = []
    base = "2024-01-01 00:00:00"
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    # users 1..3: lifetime 5 days, all churn (last event far from end)
    for u in (1, 2, 3):
        rows += [(u, t0), (u, t0 + dt.timedelta(days=5))]
    # user 9 defines the corpus end, 30 days later (censored, lifetime 0)
    rows += [(9, t0 + dt.timedelta(days=30))]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")

    import cdc_pipe_line_spark.queries.analytics_q as mod

    real_t = mod._t
    try:
        mod._t = lambda s, d, n: ev
        out = {r.duration_d: r for r in
               QUERIES["agg_survival_km"](spark, "unused").collect()}
    finally:
        mod._t = real_t
    assert out[5].n_churned == out[5].n_at_risk == 3
    assert out[5].survival_micro == 0  # S hits zero, not NULL/positive


def test_q16_oracle_not_in_null_pinned():
    """ADVICE r6 item 3: the NOT IN subquery must exclude NULL keys so
    anti-join semantics match Spark's left_anti under NULLs."""
    from cdc_pipe_line_spark.queries.relational_q import ORACLE

    sql = ORACLE["join_q16_supplier_count"]
    assert "s_suppkey IS NOT NULL" in sql


def test_pii_surface_is_gated():
    """ADVICE r6 item 2: luhn_valid / pii_audit are exercised by unit
    tests AND an oracle-paired registered query."""
    from cdc_pipe_line_spark.queries import all_oracles, all_queries

    assert "text_pii_audit" in all_queries()
    assert "text_pii_audit" in all_oracles()


# --------------------------------------------------- round-14 ADVICE locks
def test_khop_empty_adjacency_returns_empty(spark):
    """ADVICE r14 item 3: khop_reach(seed=None) over an EMPTY edge
    list must degrade to an empty (node, hop) frame — not raise a
    type-inference ValueError on the None min-scalar."""
    from cdc_pipe_line_spark.analytics import khop_reach

    edges = spark.createDataFrame([], "src bigint, dst bigint")
    out = khop_reach(edges, None, k=3)
    assert out.columns == ["node", "hop"]
    assert out.count() == 0
