"""SCD2 as ONE Delta ``MERGE`` — the deployment-scale storage path.

The reference's storage engine was Delta Lake: per-event ``UPDATE`` +
append (reference: deltaprocessing.py:77-101, 1.4-19 s **per row** —
BASELINE.md).  The engine's batch path (:mod:`cdc_pipe_line_spark.cdc.
scd2`) replaces that with set-based chaining; this module maps the
same batch onto the canonical Delta Lake merge-builder recipe so that
on a cluster with delta-spark the whole apply is one ACID statement:

- intra-batch version chaining stays a window in the source, the
  chaining of :func:`~cdc_pipe_line_spark.cdc.scd2.chain_new_versions`
  (MERGE cannot chain N versions of one key in a batch);
- the MERGE then (a) expires each touched key's current row and
  (b) inserts the batch's pre-chained versions, in one pass over the
  target — Delta's transaction closes the data/marker atomicity gap
  the parquet append-log documents (streaming.py).

The recipe is written against the delta-spark **builder protocol**
(``alias / merge / whenMatchedUpdate / whenNotMatchedInsert /
execute`` — the public ``delta.tables.DeltaTable`` API) and
:func:`build_scd2_merge` accepts ANY object implementing it: on a
cluster with delta-spark pass ``DeltaTable.forPath(spark, path)``;
without it, ``deltalog.NativeDeltaTable.forPath`` implements the same
protocol over the native log, executing through
``deltalog.merge_into``.  Tests run the recipe on native Delta tables
(tests/test_delta_merge.py, tests/test_round11_merge.py) and prove it
row-identical to the tested batch path.

MERGE construction (all expressions are plain Spark SQL strings, the
form the delta-spark builder accepts):

    source  = new-version rows  (__action='insert', __mergeKey=NULL)
            U expiry rows        (__action='expire', __mergeKey=key)
    ON      t.key_value = s.__mergeKey AND t.is_current
    WHEN MATCHED AND s.__action = 'expire'
         THEN UPDATE SET valid_to = s.__first_ts, is_current = false
    WHEN NOT MATCHED AND s.__action = 'insert'
         THEN INSERT (scd2 columns from s)

``__mergeKey=NULL`` on insert rows guarantees they never match a
target row, so one statement carries both phases (the standard
null-merge-key SCD2 idiom from the public Delta documentation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_pipe_line_spark.cdc.scd2 import (
    SCD2_COLUMNS,
    dedup_events,
    filter_applied_events,
)
from cdc_pipe_line_spark.functions import sanitize_name_py
from cdc_pipe_line_spark.session import HAS_DELTA

#: Wide-table variant: the payload map materialized as one column per
#: metric (the reference's Balance-Sheet shape — a new column per
#: quarter) instead of ``data`` as a map.
WIDE_BASE_COLUMNS = [c for c in SCD2_COLUMNS if c != "data"]


def scd2_merge_source(
    history: DataFrame | None,
    events: DataFrame,
    *,
    ts_col: str = "timestamp",
    payload_col: str = "new_values",
) -> DataFrame:
    """Build the MERGE source frame from a CDC event batch.

    Replay-safe exactly like :func:`~cdc_pipe_line_spark.cdc.scd2.
    apply_scd2`: within-batch :func:`dedup_events`, cross-batch
    anti-join on applied ``_event_id``.  Output columns:
    ``SCD2_COLUMNS + [__mergeKey, __action, __first_ts]``.

    One window over ``key_value`` yields both kinds of row:
    ``lead(ts)`` closes each insert/update version (the chaining of
    :func:`chain_new_versions`) and ``row_number() = 1`` marks the
    key's first event, which carries the expire row (the boundary of
    :func:`first_event_ts`).  ``inline`` of a two-element array emits
    both from the same pass, so the dedup, the replay anti-join and
    everything upstream of ``events`` run once; a union of two
    branches pruned to different columns ran them once per branch.
    """
    ev = filter_applied_events(dedup_events(events, order_cols=[ts_col]), history)
    w = Window.partitionBy("key_value").orderBy(F.col(ts_col).asc())
    whole_key = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    chained = ev.select(
        "key_value",
        F.col(payload_col).alias("__payload"),
        F.col(ts_col).alias("__ts"),
        "event_id",
        "event_type",
        F.lead(F.col(ts_col)).over(w).alias("__next_ts"),
        (F.row_number().over(w) == 1).alias("__first"),
        # min, not the first row's ts: the window sorts NULL first
        F.min(F.col(ts_col)).over(whole_key).alias("__first_ts"),
    )

    def null(c: str):
        return F.lit(None).cast(ev.schema[c].dataType)

    version = F.struct(
        F.col("key_value"),
        F.col("__payload").alias("data"),
        F.col("__ts").alias("valid_from"),
        F.col("__next_ts").alias("valid_to"),
        F.col("__next_ts").isNull().alias("is_current"),
        F.col("event_id").alias("_event_id"),
        F.col("event_type").alias("_event_type"),
        null("key_value").alias("__mergeKey"),
        F.lit("insert").alias("__action"),
        null(ts_col).alias("__first_ts"),
    )
    expiry = F.struct(
        F.col("key_value"),
        null(payload_col).alias("data"),
        null(ts_col).alias("valid_from"),
        null(ts_col).alias("valid_to"),
        F.lit(False).alias("is_current"),
        null("event_id").alias("_event_id"),
        null("event_type").alias("_event_type"),
        F.col("key_value").alias("__mergeKey"),
        F.lit("expire").alias("__action"),
        F.col("__first_ts"),
    )
    opens = F.col("event_type").isin("insert", "update")
    # a row that is neither inlines as all-NULL and is filtered out
    return chained.select(
        F.inline(F.array(F.when(opens, version), F.when(F.col("__first"), expiry)))
    ).filter(F.col("__action").isNotNull())


def build_scd2_merge(table, source: DataFrame):
    """Drive the delta-spark merge builder for an SCD2 apply.

    ``table`` is anything implementing the DeltaTable protocol
    (``alias/merge/whenMatchedUpdate/whenNotMatchedInsert/execute``);
    ``source`` comes from :func:`scd2_merge_source`.  Returns whatever
    ``execute()`` returns (None for real delta-spark).
    """
    return (
        table.alias("t")
        .merge(
            source.alias("s"),
            "t.key_value = s.__mergeKey AND t.is_current",
        )
        .whenMatchedUpdate(
            condition="s.__action = 'expire'",
            set={"valid_to": "s.__first_ts", "is_current": "false"},
        )
        .whenNotMatchedInsert(
            condition="s.__action = 'insert'",
            values={c: f"s.{c}" for c in SCD2_COLUMNS},
        )
        .execute()
    )


def apply_scd2_delta(
    spark: SparkSession,
    target_path: str,
    events: DataFrame,
    *,
    ts_col: str = "timestamp",
    payload_col: str = "new_values",
) -> None:
    """Apply a CDC batch to a Delta SCD2 table at ``target_path``.

    Backend selection (round 11): delta-spark's ``DeltaTable`` when
    the package is installed, else
    :class:`cdc_pipe_line_spark.deltalog.NativeDeltaTable` — the
    same merge-builder protocol over the native log, so this call
    runs end-to-end without the package.  The statement executed is
    byte-identical either way
    (:func:`build_scd2_merge`).
    """
    table_cls, read_hist, init_write = _delta_backend(spark, target_path)
    if not table_cls.isDeltaTable(spark, target_path):
        hist = scd2_merge_source(
            None, events, ts_col=ts_col, payload_col=payload_col
        )
        init_write(hist.filter("__action = 'insert'").select(*SCD2_COLUMNS))
        return
    table = table_cls.forPath(spark, target_path)
    source = scd2_merge_source(
        read_hist(), events, ts_col=ts_col, payload_col=payload_col
    )
    build_scd2_merge(table, source)


def _delta_backend(spark: SparkSession, target_path: str):
    """(table class, history reader, initial writer) — delta-spark
    when installed, the native-log implementation otherwise."""
    if HAS_DELTA:  # pragma: no cover - package absent in this image
        from delta.tables import DeltaTable  # type: ignore

        return (
            DeltaTable,
            lambda: spark.read.format("delta").load(target_path),
            lambda df: df.write.format("delta").save(target_path),
        )
    from cdc_pipe_line_spark import deltalog

    return (
        deltalog.NativeDeltaTable,
        lambda: deltalog.read_snapshot(spark, target_path),
        lambda df: deltalog.create_table(spark, df, target_path),
    )


# ---------------------------------------------------------------------------
# Schema drift: the wide-table MERGE (Delta schema evolution)
# ---------------------------------------------------------------------------
#
# The reference's target table is WIDE — one column per financial
# metric, and the quarterly feed grows a new column per quarter
# (reference: data/Balance-Sheet-TTM.csv:1, written with Delta
# ``mergeSchema``).  In the map-based SCD2 path drift is absorbed by
# the ``data`` map; here the same batch is materialized one-column-
# per-metric and applied with the merge builder's schema evolution
# (``withSchemaEvolution()``, the public delta-spark 3.x API): a batch
# whose payload carries never-seen keys ADDS those columns to the
# target, and every pre-existing row null-fills them — one ACID
# statement, no ALTER TABLE choreography.


def payload_columns(
    source: DataFrame, *, data_col: str = "data"
) -> list[tuple[str, str]]:
    """Distinct payload keys of a merge source as ``(raw_key,
    column_name)`` pairs, name-sanitized (R8) and sorted.

    The collect is over distinct key NAMES — bounded by the wide
    schema's width (the reference's table grows a handful of columns
    per quarter), never by row count, so it is a legal driver-side
    action even at 100 TB.  Raises when two raw keys sanitize to the
    same column name (silent merging of two metrics would corrupt the
    wide table).
    """
    rows = (
        source.select(F.explode(F.map_keys(F.col(data_col))).alias("k"))
        .distinct()
        .collect()
    )
    pairs = sorted((r.k, sanitize_name_py(r.k)) for r in rows)
    seen: dict[str, str] = {}
    for raw, sane in pairs:
        if sane in seen:
            raise ValueError(
                f"payload keys {seen[sane]!r} and {raw!r} both sanitize to "
                f"column {sane!r}; rename one upstream"
            )
        seen[sane] = raw
    return pairs


def widen_scd2(history: DataFrame, keys: list[tuple[str, str]]) -> DataFrame:
    """Project a map-based SCD2 frame to the wide shape: base columns
    plus one string column per payload key (missing keys null-fill —
    a pure projection, no shuffle)."""
    return history.select(
        *WIDE_BASE_COLUMNS,
        *[F.col("data")[raw].alias(sane) for raw, sane in keys],
    )


def scd2_merge_source_wide(
    history: DataFrame | None,
    events: DataFrame,
    *,
    ts_col: str = "timestamp",
    payload_col: str = "new_values",
) -> tuple[DataFrame, list[str]]:
    """Wide-table MERGE source: :func:`scd2_merge_source` with the
    chained payload map materialized as columns.

    Returns ``(source, wide_cols)`` where ``wide_cols`` is the
    batch's sanitized column list — the columns the MERGE must bind
    in its INSERT action (schema evolution adds any of them missing
    from the target).
    """
    src = scd2_merge_source(
        history, events, ts_col=ts_col, payload_col=payload_col
    )
    keys = payload_columns(src)
    wide = src.select(
        *WIDE_BASE_COLUMNS,
        *[F.col("data")[raw].alias(sane) for raw, sane in keys],
        "__mergeKey",
        "__action",
        "__first_ts",
    )
    return wide, [sane for _, sane in keys]


def build_scd2_merge_wide(table, source: DataFrame, wide_cols: list[str]):
    """Drive the merge builder for the wide SCD2 apply with schema
    evolution.

    Same null-merge-key recipe as :func:`build_scd2_merge`, plus
    ``withSchemaEvolution()``: INSERT binds the batch's wide columns,
    and any column the target lacks is added by the merge itself
    (existing rows null-fill) — Delta's documented evolution
    semantics, which ``deltalog.merge_into`` implements natively.
    """
    return (
        table.alias("t")
        .merge(
            source.alias("s"),
            "t.key_value = s.__mergeKey AND t.is_current",
        )
        .withSchemaEvolution()
        .whenMatchedUpdate(
            condition="s.__action = 'expire'",
            set={"valid_to": "s.__first_ts", "is_current": "false"},
        )
        .whenNotMatchedInsert(
            condition="s.__action = 'insert'",
            values={c: f"s.{c}" for c in WIDE_BASE_COLUMNS + wide_cols},
        )
        .execute()
    )


def apply_scd2_delta_wide(
    spark: SparkSession,
    target_path: str,
    events: DataFrame,
    *,
    ts_col: str = "timestamp",
    payload_col: str = "new_values",
) -> None:
    """Apply a CDC batch to a WIDE Delta SCD2 table, evolving its
    schema when the batch's payload carries new keys.

    Backend-selected exactly like :func:`apply_scd2_delta` — with
    delta-spark absent the native merge executes the SAME
    ``withSchemaEvolution`` statement (deltalog.merge_into's
    evolution path), so drifted wide batches land end-to-end in this
    container too.
    """
    table_cls, read_hist, init_write = _delta_backend(spark, target_path)
    if not table_cls.isDeltaTable(spark, target_path):
        src, _ = scd2_merge_source_wide(
            None, events, ts_col=ts_col, payload_col=payload_col
        )
        init_write(
            src.filter("__action = 'insert'").drop(
                "__mergeKey", "__action", "__first_ts"
            )
        )
        return
    table = table_cls.forPath(spark, target_path)
    history_wide = read_hist()
    # rebuild the map view the chaining layer needs from the wide
    # target: every non-base column IS a payload key
    wide_cols = [
        c for c in history_wide.columns if c not in WIDE_BASE_COLUMNS
    ]
    history = history_wide.select(
        *WIDE_BASE_COLUMNS,
        F.map_filter(
            F.create_map(
                *[x for c in wide_cols for x in (F.lit(c), F.col(c))]
            ),
            lambda _, v: v.isNotNull(),
        ).alias("data"),
    )
    source, cols = scd2_merge_source_wide(
        history, events, ts_col=ts_col, payload_col=payload_col
    )
    build_scd2_merge_wide(table, source, cols)
