"""Custom connectors via the Spark 4 Python DataSource API.

The reference ingests from sources Spark has no bundled jar for
(its Kafka consumer, `/root/reference/consumer.py:377-397`, and the
FastAPI-fronted cursor feeds in `app/app.py`).  Where a JVM connector
jar is absent — exactly this container's Kafka situation — Spark 4's
``pyspark.sql.datasource`` API hosts the connector in Python: the
reader declares PARTITIONS (one per cursor shard, so the scan
parallelizes like any jar-backed source) and each executor pulls its
shard independently.  ``CursorFeedDataSource`` is that pattern end to
end with a deterministic closed-form feed standing in for the remote
cursor: swap ``read``'s row generator for real HTTP/Kafka-client
calls and the Spark side — registration, schema, partition planning,
pushdown-free scan — is unchanged.

Scale shape: one InputPartition per shard -> one task per shard; rows
are generated (or fetched) inside the executor, never through the
driver; no shuffle until the consumer aggregates.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

#: Knuth multiplicative hash constant; modulus a prime > 1e6 so the
#: value stream is deterministic, well-mixed, and exactly replayable
#: in SQL (pure integer arithmetic).
_MIX = 2654435761
_MOD = 1000003


def feed_value(event_id: int) -> int:
    """Closed-form payload for one cursor event — the arithmetic the
    DuckDB oracle replays."""
    return (event_id * _MIX) % _MOD


class _CursorFeedReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n_shards = int(options.get("shards", "8"))
        self.rows_per_shard = int(options.get("rowsPerShard", "10000"))

    def partitions(self) -> list[InputPartition]:
        return [InputPartition(i) for i in range(self.n_shards)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        shard = partition.value
        base = shard * self.rows_per_shard
        for off in range(self.rows_per_shard):
            event_id = base + off
            yield (shard, off, event_id, feed_value(event_id))


class CursorFeedDataSource(DataSource):
    """``spark.read.format("cursor_feed")`` after
    ``spark.dataSource.register(CursorFeedDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "cursor_feed"

    def schema(self) -> str:
        return "shard int, offset bigint, event_id bigint, value bigint"

    def reader(self, schema) -> _CursorFeedReader:
        return _CursorFeedReader(self.options)

    def streamReader(self, schema) -> "_CursorFeedStreamReader":
        return _CursorFeedStreamReader(self.options)


class _CursorRange(InputPartition):
    def __init__(self, shard: int, start: int, end: int) -> None:
        self.shard = shard
        self.start = start
        self.end = end


class _CursorFeedStreamReader(DataSourceStreamReader):
    """Offset-tracked streaming reader (T1/T2 without a broker): the
    offset is a cursor position per the whole feed; Spark serializes
    it into the checkpoint, so a restarted query resumes exactly
    where the committed batch ended — the same at-least-once contract
    the Kafka source keeps, hosted in Python.  Imported lazily so the
    batch path has no streaming dependency."""

    def __init__(self, options: dict) -> None:
        self.n_shards = int(options.get("shards", "8"))
        self.rows_per_shard = int(options.get("rowsPerShard", "10000"))

    def initialOffset(self) -> dict:
        return {"cursor": 0}

    def latestOffset(self) -> dict:
        return {"cursor": self.rows_per_shard}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        return [
            _CursorRange(s, start["cursor"], end["cursor"])
            for s in range(self.n_shards)
        ]

    def read(self, partition: _CursorRange) -> Iterator[tuple]:
        base = partition.shard * self.rows_per_shard
        for off in range(partition.start, partition.end):
            event_id = base + off
            yield (partition.shard, off, event_id, feed_value(event_id))

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


class _LedgerCommit(WriterCommitMessage):
    """Per-task commit message: which staged file this task wrote,
    plus row count and id checksum so the driver-side commit can
    audit before publishing."""

    def __init__(self, file: str, rows: int, id_sum: int) -> None:
        self.file = file
        self.rows = rows
        self.id_sum = id_sum


class _LedgerWriter(DataSourceWriter):
    """Two-phase-commit batch sink, entirely in Python.

    Phase 1 (executors): each task stages its partition's rows as a
    JSON-lines file under ``<path>/_staged/<epoch>/`` named by
    (partitionId, taskAttemptId) — attempts never collide, and a
    failed/speculative attempt leaves only an ORPHAN staged file that
    no manifest will ever reference.  Phase 2 (driver): ``commit``
    receives one ``WriterCommitMessage`` per SUCCESSFUL task and
    publishes the manifest with an atomic ``os.replace`` — readers
    see the old ledger or the new one, never a torn mix.  This is
    the same V2 writer contract a jar-backed Kafka/JDBC sink speaks
    (and the transactional-sink shape of streaming.idempotent_sink),
    hosted in Python.

    ``mode("overwrite")`` is the supported mode: each writer stages
    into a fresh epoch dir (driver-side uuid, shared by all tasks of
    this write) and the manifest swap retires the previous epoch, so
    re-running a query is idempotent — the read path follows the
    manifest, never the directory listing.  ``commit`` prunes staged
    epoch dirs the freshly-published manifest does not reference, so
    reruns do not accumulate superseded epochs.

    SINGLE-FILESYSTEM ASSUMPTION: tasks stage with ``open()`` on the
    executor's local filesystem and the driver-side ``commit`` /
    ``read_ledger`` resolve the same paths — correct on ``local[*]``
    (this container) or any shared POSIX mount (NFS), but NOT on a
    multi-node cluster with node-local disks.  The cluster deployment
    swaps ``open``/``os.replace`` for a shared-store client (e.g.
    fsspec / Hadoop FS) with the same stage-then-atomic-publish
    contract; the two-phase-commit protocol itself is
    placement-agnostic.
    """

    def __init__(self, options: dict, overwrite: bool) -> None:
        import uuid

        self.path = options["path"]
        self.overwrite = overwrite
        self.epoch = uuid.uuid4().hex[:12]

    def write(self, iterator) -> _LedgerCommit:
        import json
        import os

        from pyspark import TaskContext

        tc = TaskContext.get()
        stage_dir = os.path.join(self.path, "_staged", self.epoch)
        os.makedirs(stage_dir, exist_ok=True)
        fname = f"part-{tc.partitionId():05d}-{tc.taskAttemptId()}.jsonl"
        fpath = os.path.join(stage_dir, fname)
        rows = 0
        id_sum = 0
        with open(fpath, "w") as fh:
            for row in iterator:
                d = row.asDict()
                rows += 1
                id_sum += int(d.get("event_id", 0) or 0)
                fh.write(json.dumps(d, default=str) + "\n")
        return _LedgerCommit(os.path.join("_staged", self.epoch, fname), rows, id_sum)

    def commit(self, messages) -> None:
        import json
        import os

        manifest = {
            "epoch": self.epoch,
            "files": [
                {"file": m.file, "rows": m.rows, "id_sum": m.id_sum}
                for m in messages
            ],
        }
        tmp = os.path.join(self.path, f"_LEDGER.{self.epoch}.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, os.path.join(self.path, "_LEDGER"))
        # Retire superseded epochs: every staged dir the just-published
        # manifest does not reference is garbage (either a prior
        # overwrite's epoch or an abandoned write) — prune so reruns
        # don't accumulate (ADVICE r7).  Published state is already
        # durable, so a failure here at worst leaves the old garbage.
        import shutil

        staged_root = os.path.join(self.path, "_staged")
        if os.path.isdir(staged_root):
            for d in os.listdir(staged_root):
                if d != self.epoch:
                    shutil.rmtree(
                        os.path.join(staged_root, d), ignore_errors=True
                    )

    def abort(self, messages) -> None:
        import os
        import shutil

        shutil.rmtree(
            os.path.join(self.path, "_staged", self.epoch), ignore_errors=True
        )


class LedgerSinkDataSource(DataSource):
    """``df.write.format("ledger_sink").mode("overwrite")
    .option("path", dir).save()`` after
    ``spark.dataSource.register(LedgerSinkDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "ledger_sink"

    def writer(self, schema, overwrite: bool) -> _LedgerWriter:
        return _LedgerWriter(self.options, overwrite)


def read_ledger(spark, path: str, schema: str):
    """Read back exactly the committed ledger: the manifest names the
    files; orphaned staged files (failed or speculative attempts, or
    a superseded epoch) are invisible because no manifest references
    them.  Returns (DataFrame, manifest dict)."""
    import json
    import os

    with open(os.path.join(path, "_LEDGER")) as fh:
        manifest = json.load(fh)
    files = [os.path.join(path, f["file"]) for f in manifest["files"]]
    df = spark.read.schema(schema).json(files)
    return df, manifest


class _StreamLedgerCommit(WriterCommitMessage):
    def __init__(self, file: str, rows: int, id_sum: int) -> None:
        self.file = file
        self.rows = rows
        self.id_sum = id_sum


class _StreamLedgerWriter(DataSourceStreamWriter):
    """STREAMING two-phase-commit sink — the V2 ``StreamingWrite``
    contract a jar-backed Kafka producer speaks (SURVEY §2.1 S8),
    hosted in Python: per micro-batch, tasks stage JSONL under
    ``<path>/_staged/`` (uuid names — attempts never collide), and the
    driver-side ``commit(messages, batchId)`` publishes a per-batch
    entry into the ``_STREAM_LEDGER`` manifest with an atomic
    ``os.replace`` of the whole ledger.

    Exactly-once across restarts comes from BATCH-ID IDEMPOTENCE: the
    engine replays an uncommitted epoch after recovery with the SAME
    batchId, and ``commit`` is a no-op when that batchId is already
    in the ledger — the staged duplicates become unreferenced orphans
    the read path never sees.  Same single-filesystem assumption as
    :class:`_LedgerWriter` (documented there)."""

    def __init__(self, options: dict) -> None:
        self.path = options["path"]

    def write(self, iterator) -> _StreamLedgerCommit:
        import json
        import os
        import uuid

        stage_dir = os.path.join(self.path, "_staged")
        os.makedirs(stage_dir, exist_ok=True)
        fname = f"part-{uuid.uuid4().hex}.jsonl"
        rows = 0
        id_sum = 0
        with open(os.path.join(stage_dir, fname), "w") as fh:
            for row in iterator:
                d = row.asDict()
                rows += 1
                id_sum += int(d.get("event_id", 0) or 0)
                fh.write(json.dumps(d, default=str) + "\n")
        return _StreamLedgerCommit(
            os.path.join("_staged", fname), rows, id_sum
        )

    def commit(self, messages, batchId: int) -> None:
        import json
        import os

        ledger_path = os.path.join(self.path, "_STREAM_LEDGER")
        ledger = {"batches": []}
        if os.path.exists(ledger_path):
            with open(ledger_path) as fh:
                ledger = json.load(fh)
        if any(b["batch_id"] == batchId for b in ledger["batches"]):
            return  # replayed epoch after restart: idempotent no-op
        ledger["batches"].append(
            {
                "batch_id": batchId,
                "files": [
                    {"file": m.file, "rows": m.rows, "id_sum": m.id_sum}
                    for m in messages
                    if m is not None
                ],
            }
        )
        tmp = ledger_path + f".{batchId}.tmp"
        with open(tmp, "w") as fh:
            json.dump(ledger, fh)
        os.replace(tmp, ledger_path)

    def abort(self, messages, batchId: int) -> None:
        # staged files of an aborted epoch are unreferenced orphans;
        # the read path follows the ledger, so nothing to undo
        pass


class StreamLedgerSinkDataSource(DataSource):
    """``df.writeStream.format("stream_ledger_sink")
    .option("path", dir).option("checkpointLocation", cp).start()``
    after ``spark.dataSource.register(StreamLedgerSinkDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "stream_ledger_sink"

    def streamWriter(self, schema, overwrite: bool) -> _StreamLedgerWriter:
        return _StreamLedgerWriter(self.options)


def read_stream_ledger(spark, path: str, schema: str):
    """Read exactly the committed stream ledger (all committed
    batches' files; staged orphans from failed attempts or aborted /
    replayed epochs are invisible).  Returns (DataFrame, ledger)."""
    import json
    import os

    with open(os.path.join(path, "_STREAM_LEDGER")) as fh:
        ledger = json.load(fh)
    files = [
        os.path.join(path, f["file"])
        for b in ledger["batches"]
        for f in b["files"]
    ]
    df = spark.read.schema(schema).json(files)
    return df, ledger


# --------------------------------------------------------------------------
# Delta-log streaming SOURCE: the native _delta_log as a structured
# stream, versions as offsets (round 11)
# --------------------------------------------------------------------------


def _delta_schema(table_dir: str, cdf: bool):
    """The source's output schema: the table's declared columns, from
    its :func:`deltalog.snapshot` (checkpoint included; no Spark
    session — DataSource.schema() runs before the scan is planned),
    then ``_change_type`` in change-feed mode and ``_commit_version``.
    Partitioned and column-mapped tables are refused: their data files
    lack the partition values, or store physical names."""
    from pyspark.sql.types import LongType, StringType, StructField

    from cdc_pipe_line_spark import deltalog

    meta = deltalog.snapshot(table_dir).metaData
    if meta is None:
        raise ValueError(f"no metaData action in {table_dir}/_delta_log")
    if meta.get("partitionColumns"):
        raise ValueError(
            "delta_stream source supports unpartitioned tables (the "
            "Hive-dir partition values are not in the data files)"
        )
    mapping = (meta.get("configuration") or {}).get("delta.columnMapping.mode")
    if mapping == "name":
        raise ValueError(
            "delta_stream source does not support column-mapped "
            "tables (physical-name remap); read via "
            "deltalog.read_snapshot / read_changes"
        )
    extra = [StructField("_change_type", StringType())] if cdf else []
    return deltalog._read_schema(
        meta["schemaString"],
        *extra,
        StructField("_commit_version", LongType()),
    )


def _append_only_broken(version: int) -> ValueError:
    return ValueError(
        f"delta_stream: data-changing remove at version {version} — "
        f"the append-only streaming contract is broken (overwrite, "
        f"restore or DML in range; consume mutations with "
        f"readChangeFeed=true instead)"
    )


class _DeltaStreamReader(DataSourceStreamReader):
    """The native Delta table as a STREAMING SOURCE — the jar-free
    equivalent of delta-spark's streaming read.  Offsets are log
    VERSIONS (checkpointed by Spark exactly like Kafka offsets).  A
    micro-batch over ``(start, end]`` takes one InputPartition per leg
    of :func:`deltalog._change_legs`, the census ``read_changes``
    plans from; executors read each file with
    :func:`manifest_scan.read_file`, the manifest scan's reader (the
    validated DV mask, null-fill of columns a later schema evolution
    added, the declared types), and ship Arrow batches.

    ``readChangeFeed=true`` streams the change feed, so the drained
    stream equals ``read_changes`` over the same range.  The plain
    mode streams inserted rows under the append-only contract: a
    data-changing ``remove`` (overwrite / restore) or a row-level
    delete or update in the range raises, the guard delta-spark's
    source applies without ignoreChanges.  OPTIMIZE commits are
    non-events."""

    def __init__(self, options: dict, schema) -> None:
        self.table_dir = options["path"]
        self.start_version = int(options.get("startingVersion", "-1"))
        self.schema = schema
        # the change-feed schema declares the change type
        self.cdf = "_change_type" in schema.fieldNames()

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        from cdc_pipe_line_spark import deltalog

        return {"version": deltalog.snapshot(self.table_dir).version}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        from cdc_pipe_line_spark import deltalog

        legs = deltalog._change_legs(
            self.table_dir, start["version"], end["version"]
        )
        for v, kind, *_ in legs:
            if kind == "delete" and not self.cdf:
                raise _append_only_broken(v)
        # Spark requires >= 1 partition per batch; an empty range
        # yields one empty marker partition
        return [InputPartition(leg[:4]) for leg in legs] or [
            InputPartition(None)
        ]

    def read(self, partition: InputPartition) -> Iterator:
        if partition.value is None:
            return
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_schema

        from cdc_pipe_line_spark import manifest_scan

        version, kind, path, dv = partition.value
        target = to_arrow_schema(self.schema)
        if not self.cdf:
            target = target.append(pa.field("_change_type", pa.string()))
        # a change-data file's own _change_type wins over the constant
        tbl = manifest_scan.read_file(
            self.table_dir,
            path,
            target,
            dv=dv,
            consts={"_change_type": kind, "_commit_version": version},
        )
        if not self.cdf:
            # a row-level DML commit streams in plain mode only if it
            # just inserted
            if pc.any(pc.not_equal(tbl["_change_type"], "insert")).as_py():
                raise _append_only_broken(version)
            tbl = tbl.drop_columns(["_change_type"])
        yield from tbl.to_batches(max_chunksize=1 << 16)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


class DeltaStreamDataSource(DataSource):
    """``spark.readStream.format("delta_stream").option("path", dir)``
    after ``spark.dataSource.register(DeltaStreamDataSource)`` — the
    native transaction log (deltalog.py's writer output) consumed as
    a structured stream with version offsets."""

    @classmethod
    def name(cls) -> str:
        return "delta_stream"

    def schema(self):
        cdf = self.options.get("readChangeFeed", "false").lower() == "true"
        return _delta_schema(self.options["path"], cdf)

    def streamReader(self, schema) -> _DeltaStreamReader:
        return _DeltaStreamReader(self.options, schema)
