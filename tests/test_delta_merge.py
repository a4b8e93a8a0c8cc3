"""Execute the Delta SCD2 MERGE recipe (delta_merge.py) as a real
statement on the native Delta log (deltalog.NativeDeltaTable, the
delta-spark builder protocol over deltalog.merge_into) and prove it
row-identical to the tested batch path (cdc.scd2.apply_scd2).

Each test lands its target history as a table under ``tmp_path``,
drives the recipe through the builder exactly as a real DeltaTable
would be driven, and reads the merged table back; the MERGE's own
multiple-matches error keeps the recipe's 1:1 guarantee load-bearing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_pipe_line_spark import deltalog
from cdc_pipe_line_spark.cdc.scd2 import apply_scd2
from cdc_pipe_line_spark.delta_merge import build_scd2_merge, scd2_merge_source


def native_table(spark, df, path):
    """``df`` landed as a native Delta table at ``path``, behind the
    merge-builder protocol; ``.toDF()`` reads the merged result."""
    deltalog.create_table(spark, df, str(path))
    return deltalog.NativeDeltaTable.forPath(spark, str(path))


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id string, event_type string, key_value string, "
        "timestamp string, new_values map<string,string>",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))


BATCH1 = [
    ("e1", "insert", "k1", "2024-01-01 00:00:00", {"v": "1"}),
    ("e2", "insert", "k2", "2024-01-01 00:00:00", {"v": "2"}),
    # k3 chains twice within one batch
    ("e3", "insert", "k3", "2024-01-01 00:00:00", {"v": "3"}),
    ("e4", "update", "k3", "2024-01-02 00:00:00", {"v": "3b"}),
]
BATCH2 = [
    ("e5", "update", "k1", "2024-01-03 00:00:00", {"v": "1b"}),
    ("e6", "delete", "k2", "2024-01-03 00:00:00", None),
    # new key + replayed event_id from batch 1 (must be a no-op)
    ("e7", "insert", "k4", "2024-01-03 00:00:00", {"v": "4"}),
    ("e3", "insert", "k3", "2024-01-01 00:00:00", {"v": "3"}),
]


def _rows(df):
    return sorted(
        map(
            tuple,
            df.select(
                "key_value",
                F.to_json("data").alias("data"),
                "valid_from", "valid_to", "is_current",
                "_event_id", "_event_type",
            ).collect(),
        )
    )


def test_merge_recipe_equals_batch_path(spark, tmp_path):
    h1 = apply_scd2(None, _events(spark, BATCH1)).localCheckpoint()

    ref = apply_scd2(h1, _events(spark, BATCH2))

    table = native_table(spark, h1, tmp_path / "t")
    build_scd2_merge(table, scd2_merge_source(h1, _events(spark, BATCH2)))

    assert _rows(table.toDF()) == _rows(ref)
    # invariants on the merged result itself
    cur = table.toDF().filter("is_current")
    assert cur.groupBy("key_value").count().filter("count > 1").count() == 0
    assert {r.key_value for r in cur.collect()} == {"k1", "k3", "k4"}  # k2 deleted


def test_merge_replay_is_noop(spark, tmp_path):
    """Re-running an already-applied batch through the MERGE leaves
    the table byte-identical (the cross-batch event-id anti-join
    empties the source)."""
    h1 = apply_scd2(None, _events(spark, BATCH1)).localCheckpoint()
    h2 = apply_scd2(h1, _events(spark, BATCH2)).localCheckpoint()

    table = native_table(spark, h2, tmp_path / "t")
    build_scd2_merge(table, scd2_merge_source(h2, _events(spark, BATCH2)))
    assert _rows(table.toDF()) == _rows(h2)


def test_merge_first_batch_from_empty(spark, tmp_path):
    """MERGE against an empty target = pure inserts = the batch path's
    first load."""
    empty = apply_scd2(None, _events(spark, BATCH1)).filter("1=0")
    table = native_table(spark, empty, tmp_path / "t")
    build_scd2_merge(table, scd2_merge_source(None, _events(spark, BATCH1)))
    assert _rows(table.toDF()) == _rows(apply_scd2(None, _events(spark, BATCH1)))


def test_merge_rejects_multiple_matches(spark, tmp_path):
    """The MERGE raises Delta's multiple-matches error, so the recipe's
    1:1 guarantee (one expiry row per key, is_current target filter)
    is actually load-bearing in tests."""
    t = spark.createDataFrame([("k1", True)], "key_value string, is_current boolean")
    s = spark.createDataFrame(
        [("k1", "expire"), ("k1", "expire")], "__mergeKey string, __action string"
    )
    table = native_table(spark, t, tmp_path / "t")
    builder = table.alias("t").merge(s.alias("s"), "t.key_value = s.__mergeKey")
    builder.whenMatchedUpdate(condition="s.__action = 'expire'", set={"is_current": "false"})
    builder.whenNotMatchedInsert(condition="s.__action = 'insert'", values={"key_value": "s.__mergeKey", "is_current": "true"})
    with pytest.raises(ValueError, match="multiple source rows"):
        builder.execute()


# ---------------------------------------------------------------------------
# Wide-table MERGE with schema evolution (drift)
# ---------------------------------------------------------------------------

from cdc_pipe_line_spark.delta_merge import (  # noqa: E402
    WIDE_BASE_COLUMNS,
    build_scd2_merge_wide,
    payload_columns,
    scd2_merge_source_wide,
    widen_scd2,
)

# batch 2 carries payload key 'w' that batch 1 never had — the
# reference's new-column-per-quarter drift
BATCH2_WIDE = [
    ("e5", "update", "k1", "2024-01-03 00:00:00", {"v": "1b", "w": "9"}),
    ("e6", "delete", "k2", "2024-01-03 00:00:00", None),
    ("e7", "insert", "k4", "2024-01-03 00:00:00", {"w": "4"}),
]


def _rows_all(df):
    cols = sorted(df.columns)
    return sorted(map(tuple, df.select(*cols).collect()))


def test_merge_wide_schema_drift(spark, tmp_path):
    """A batch whose payload carries a never-seen key evolves the wide
    target through the MERGE itself: the new column appears, every
    pre-existing row null-fills it, and the rows are identical to the
    map-based batch path projected wide."""
    h1 = apply_scd2(None, _events(spark, BATCH1)).localCheckpoint()
    keys1 = payload_columns(h1)
    assert keys1 == [("v", "v")]
    target = widen_scd2(h1, keys1).localCheckpoint()

    src, cols = scd2_merge_source_wide(h1, _events(spark, BATCH2_WIDE))
    assert "w" in cols

    table = native_table(spark, target, tmp_path / "t")
    build_scd2_merge_wide(table, src, cols)

    result = table.toDF()
    assert set(result.columns) == set(WIDE_BASE_COLUMNS) | {"v", "w"}
    ref = widen_scd2(
        apply_scd2(h1, _events(spark, BATCH2_WIDE)), [("v", "v"), ("w", "w")]
    )
    assert _rows_all(result) == _rows_all(ref)
    # null-fill: a batch-1 row untouched by batch 2 has the new column null
    e3 = result.filter("_event_id = 'e3'").collect()[0]
    assert e3.w is None and e3.v == "3"
    # and the drifted rows carry it
    e7 = result.filter("_event_id = 'e7'").collect()[0]
    assert e7.w == "4" and e7.is_current


def test_payload_columns_sanitizes_and_rejects_collisions(spark):
    good = spark.createDataFrame(
        [(1, {"Total Assets %": "9", "v": "1"})], "id long, data map<string,string>"
    )
    assert payload_columns(good) == [
        ("Total Assets %", "Total_Assets_pct"),
        ("v", "v"),
    ]
    wide = widen_scd2(
        good.selectExpr(
            "'k' as key_value", "data",
            "cast(null as timestamp) as valid_from",
            "cast(null as timestamp) as valid_to",
            "true as is_current", "'e' as _event_id", "'t' as _event_type",
        ),
        payload_columns(good),
    )
    assert wide.collect()[0].Total_Assets_pct == "9"

    bad = spark.createDataFrame(
        [(1, {"a b": "1", "a_b": "2"})], "id long, data map<string,string>"
    )
    with pytest.raises(ValueError, match="both sanitize"):
        payload_columns(bad)


def test_merge_wide_no_drift_is_plain_merge(spark, tmp_path):
    """When the batch introduces no new keys the evolved merge equals
    the map-path projection with the original schema (evolution no-op)."""
    h1 = apply_scd2(None, _events(spark, BATCH1)).localCheckpoint()
    target = widen_scd2(h1, [("v", "v")]).localCheckpoint()
    src, cols = scd2_merge_source_wide(h1, _events(spark, BATCH2))
    assert cols == ["v"]
    table = native_table(spark, target, tmp_path / "t")
    build_scd2_merge_wide(table, src, cols)
    ref = widen_scd2(apply_scd2(h1, _events(spark, BATCH2)), [("v", "v")])
    assert _rows_all(table.toDF()) == _rows_all(ref)
