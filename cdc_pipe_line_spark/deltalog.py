"""Native Delta Lake TRANSACTION-LOG reader (the public Delta
protocol spec: ``_delta_log/<version>.json`` files of newline-JSON
actions — ``metaData`` / ``protocol`` / ``add`` / ``remove`` /
``commitInfo``), implemented directly on Spark's JSON source so the
READ PATH works without the delta-spark package.

Reference parity: the reference pipeline's history lives in a real
Delta table (``deltaprocessing.py:96-101,116``; e.g. the SCD2 UPDATE
commit at ``data/delta/123/balance/delta_table/_delta_log/
00000000000000000005.json``).  delta-spark is absent from this
container (installs prohibited — COVERAGE.md environment note).  As
of round 9 this module carries BOTH halves without it: the reader
(state reconstruction below) and a NATIVE WRITER
(:func:`create_table` / :func:`append` / :func:`overwrite` /
:func:`compact` — real parquet data files + protocol-conformant
commits with put-if-absent version allocation).  As of round 11
NOTHING remains env-gated on delta-spark: MERGE (incl. schema
evolution) executes natively through :func:`merge_into` /
:class:`NativeDeltaTable`, and ``delta_merge.py``'s apply functions
select that backend automatically when the package is absent.

Semantics implemented (the core of the spec's state reconstruction):
actions replay in version order, the LAST action per file path wins
(``remove`` tombstones a file, a later ``add`` of the same path
resurrects it), and the live snapshot is the parquet union of the
surviving ``add`` paths.  Log listing here is one bounded directory
scan (a production log is kept shallow by checkpointing, so the
bounded-actions assumption is the spec's own).

Data skipping (round 11): every data file the writer emits carries
the protocol's per-file column statistics on its ``add`` action
(``stats`` JSON — numRecords / minValues / maxValues / nullCount,
read from the parquet FOOTER, never the data), and
:func:`read_snapshot` prunes files whose stat envelopes prove a
predicate cannot match — the mechanism that turns a 100 TB scan
into a few-file scan when the layout clusters the filter column
(see :func:`optimize_zorder`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Explicit action schema — the JSON source must not infer (a log with
#: only add actions would otherwise drop the remove column entirely).
LOG_SCHEMA = (
    "metaData struct<id: string, format: struct<provider: string>, "
    "schemaString: string, partitionColumns: array<string>, "
    "configuration: map<string, string>>, "
    "protocol struct<minReaderVersion: int, minWriterVersion: int, "
    "readerFeatures: array<string>, writerFeatures: array<string>>, "
    "add struct<path: string, size: bigint, dataChange: boolean, "
    "partitionValues: map<string, string>, stats: string, "
    "deletionVector struct<storageType: string, pathOrInlineDv: string, "
    "offset: int, sizeInBytes: bigint, cardinality: bigint>>, "
    "remove struct<path: string, dataChange: boolean>, "
    "cdc struct<path: string, partitionValues: map<string, string>, "
    "size: bigint, dataChange: boolean>, "
    "txn struct<appId: string, version: bigint>, "
    "commitInfo struct<operation: string, "
    "operationParameters: map<string, string>, "
    "operationMetrics: map<string, string>, timestamp: bigint, "
    "inCommitTimestamp: bigint>"
)


def read_log_actions(
    spark: SparkSession, table_dir: str, *, json_only: bool = False
) -> DataFrame:
    """All log actions with their commit version, one row per action.

    With a checkpoint present (``_last_checkpoint`` pointer), the scan
    reads the checkpoint parquet PLUS only the JSON commits after it —
    the protocol's bounded-log contract: state reconstruction cost is
    O(checkpoint + tail), however long the table's history, and log
    cleanup may delete the pre-checkpoint JSON entirely.  Checkpoint
    rows carry the checkpoint's version (they ARE the state as of that
    commit).  ``json_only=True`` bypasses the checkpoint — the time
    travel path, which needs per-commit granularity and therefore the
    raw JSON (readable until log cleanup).

    Distributed JSON/parquet scans; the JSON version is parsed from
    each action's source file name, so ordering survives however many
    input splits the scan plans.  Both branches hand the scan the
    driver's sorted listing of commit files, never a glob: a glob
    path makes Spark probe it for a streaming-sink log first, which
    logs a FileNotFoundException stack trace on every read.
    """
    log_dir = os.path.join(table_dir, "_delta_log")
    lc = os.path.join(log_dir, "_last_checkpoint")
    if not json_only and os.path.exists(lc):
        import json as _json

        with open(lc) as fh:
            ck_ver = int(_json.load(fh)["version"])
        src = _checkpoint_sources(log_dir, ck_ver)
        legs = []
        if src["parquet"]:
            legs.append(
                spark.read.schema(LOG_SCHEMA).parquet(*src["parquet"])
            )
        if src["json"]:
            # a V2 checkpoint manifest may itself be JSON lines
            legs.append(
                spark.read.schema(LOG_SCHEMA).json(src["json"])
            )
        ck = legs[0]
        for leg in legs[1:]:
            ck = ck.unionByName(leg)
        ck = ck.withColumn("version", F.lit(ck_ver).cast("bigint"))
        tail = [v for v in _commit_versions(log_dir) if v > ck_ver]
        if not tail:
            return ck
        return ck.unionByName(_read_commits(spark, log_dir, tail))
    versions = _commit_versions(log_dir)
    if not versions:
        raise FileNotFoundError(f"no JSON commits under {log_dir}")
    return _read_commits(spark, log_dir, versions)


def _commit_versions(log_dir: str) -> list[int]:
    """Versions of the JSON commits in ``log_dir``, ascending —
    ``{v:020d}.json`` names only (checkpoint manifests and other
    files are not commits).  Every listing of the module's commits
    goes through here."""
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        int(f[:20])
        for f in os.listdir(log_dir)
        if len(f) == 25 and f.endswith(".json") and f[:20].isdigit()
    )


def _read_commits(
    spark: SparkSession, log_dir: str, versions: list[int]
) -> DataFrame:
    """Distributed scan of the JSON commits ``versions``, one row per
    action, tagged with the version parsed from its file name."""
    return (
        spark.read.schema(LOG_SCHEMA)
        .json([os.path.join(log_dir, f"{v:020d}.json") for v in versions])
        .withColumn(
            "version",
            F.regexp_extract(
                F.input_file_name(), r"(\d+)\.json$", 1
            ).cast("bigint"),
        )
    )


def live_files(actions: DataFrame) -> DataFrame:
    """Surviving ``add`` paths after last-action-wins replay.

    One bounded aggregate over the action rows: per path, take the
    action with the highest ``(version, is_add)`` — a remove and a
    re-add inside one commit resolves to the add, matching the
    spec's idempotent-replay rule.  Log actions are bounded (the
    spec keeps logs shallow via checkpoints), so this is a
    vocabulary-sized shuffle, never data-sized.
    """
    touched = actions.select(
        F.coalesce(F.col("add.path"), F.col("remove.path")).alias("path"),
        "version",
        F.col("add.path").isNotNull().alias("is_add"),
        F.col("add.size").alias("size"),
        F.col("add.partitionValues").alias("pvals"),
        F.col("add.stats").alias("stats"),
        F.col("add.deletionVector").alias("dv"),
    ).filter(F.col("path").isNotNull())
    # max_by, not max-of-struct: the payload carries a MAP
    # (partitionValues), which Spark cannot order — the ordering key
    # stays the orderable (version, is_add) pair
    latest = touched.groupBy("path").agg(
        F.max_by(
            F.struct("is_add", "size", "pvals", "stats", "dv"),
            F.struct("version", "is_add"),
        ).alias("__last")
    )
    return latest.filter(F.col("__last.is_add")).select(
        "path",
        F.col("__last.size").alias("size"),
        F.col("__last.pvals").alias("partitionValues"),
        F.col("__last.stats").alias("stats"),
        F.col("__last.dv").alias("deletionVector"),
    )


#: fields of the deletionVector descriptor struct the live-file frame
#: carries, with their Arrow types
_DV_FIELDS = (
    ("storageType", "string"),
    ("pathOrInlineDv", "string"),
    ("offset", "int32"),
    ("sizeInBytes", "int64"),
    ("cardinality", "int64"),
)


def _live_frame(
    spark: SparkSession, table_dir: str, *, pin: bool = False
) -> DataFrame:
    """The live-file frame (the columns :func:`live_files` produces)
    — from the driver-side replay when the log fits the byte budget,
    the distributed replay otherwise.  Same columns either way, so all
    Column logic (skipping filters, ``isin`` censuses, payload
    collects) is route-agnostic.

    The driver route builds the frame from an Arrow table, which
    Spark plans as a ``LocalRelation``: projections, filters, limits
    and collects over it are folded on the driver and run NO Spark
    job.  (A frame from a list of row tuples would be a ``LogicalRDD``
    costing two jobs per collect.)  ``pin=True`` pins the distributed
    replay with a local checkpoint, for callers that reuse the frame;
    the local relation needs no pin."""
    state = _replay_log_driver(table_dir)
    if state is None:
        lf = live_files(read_log_actions(spark, table_dir))
        return lf.localCheckpoint(eager=True) if pin else lf
    import pyarrow as pa

    adds = state["adds"]
    dv_type = pa.struct([(n, t) for n, t in _DV_FIELDS])
    table = pa.table(
        {
            "path": pa.array([a["path"] for a in adds], pa.string()),
            "size": pa.array([a.get("size") for a in adds], pa.int64()),
            "partitionValues": pa.array(
                [
                    list(a["partitionValues"].items())
                    if a.get("partitionValues") is not None
                    else None
                    for a in adds
                ],
                pa.map_(pa.string(), pa.string()),
            ),
            "stats": pa.array([a.get("stats") for a in adds], pa.string()),
            "deletionVector": pa.array(
                [
                    {n: a["deletionVector"].get(n) for n, _t in _DV_FIELDS}
                    if a.get("deletionVector")
                    else None
                    for a in adds
                ],
                dv_type,
            ),
        }
    )
    return spark.createDataFrame(table)


def _live_file_names(spark: SparkSession, table_dir: str) -> list[str]:
    state = _replay_log_driver(table_dir)
    if state is not None:
        return [a["path"] for a in state["adds"]]
    return [
        r.path
        for r in live_files(read_log_actions(spark, table_dir)).collect()
    ]


def _checkpoint_version(table_dir: str) -> int | None:
    """Version of the last checkpoint, or None when the table has
    none (no ``_last_checkpoint`` pointer)."""
    lc = os.path.join(table_dir, "_delta_log", "_last_checkpoint")
    if not os.path.exists(lc):
        return None
    import json as _json

    with open(lc) as fh:
        return int(_json.load(fh)["version"])


def _checkpoint_parts(log_dir: str, ver: int) -> list[str]:
    """Full paths of the checkpoint's parquet part file(s) at
    ``ver`` — the spec's single-file form
    (``{v}.checkpoint.parquet``) or the multi-part form
    (``{v}.checkpoint.{part}.{parts}.parquet``), whichever the writer
    produced.  Multi-part names are PARSED, never globbed wholesale:
    only one COMPLETE consistent set (every part sharing one
    ``{parts}`` total, all parts present) is returned — a re-run of
    :func:`write_checkpoint` at the same version with a different
    part count, or a crashed retry, must not leave stale parts that a
    blind glob would union into duplicated state (ADVICE r12 low).
    Ties (several complete sets) resolve to the newest by mtime —
    the last successful writer."""
    single = os.path.join(log_dir, f"{ver:020d}.checkpoint.parquet")
    if os.path.exists(single):
        return [single]
    prefix = f"{ver:020d}.checkpoint."
    by_total: dict[int, dict[int, str]] = {}
    for f in os.listdir(log_dir):
        if not (f.startswith(prefix) and f.endswith(".parquet")):
            continue
        bits = f[len(prefix):-len(".parquet")].split(".")
        if len(bits) != 2:
            continue
        try:
            part, total = int(bits[0]), int(bits[1])
        except ValueError:
            continue
        by_total.setdefault(total, {})[part] = os.path.join(log_dir, f)
    complete = [
        parts
        for total, parts in by_total.items()
        if len(parts) == total
        and set(parts) == set(range(1, total + 1))
    ]
    if not complete:
        raise FileNotFoundError(
            f"checkpoint {ver} of {os.path.dirname(log_dir)} has no "
            f"complete parquet part set under {log_dir}"
        )
    chosen = max(
        complete,
        key=lambda parts: max(os.path.getmtime(p) for p in parts.values()),
    )
    return [chosen[i] for i in sorted(chosen)]


def _v2_checkpoint_manifest(log_dir: str, ver: int) -> str | None:
    """UUID-named V2 checkpoint manifest at ``ver`` — the spec's
    ``{v}.checkpoint.{uniqueId}.{parquet|json}`` form (the
    ``v2Checkpoint`` reader feature) — or ``None``.  Multi-part
    names (``{part}.{parts}.parquet``, all-numeric middle) and the
    single classic name (empty middle) never match; ties (several
    writers raced) resolve to the newest by mtime, like the
    multi-part tie-break."""
    prefix = f"{ver:020d}.checkpoint."
    cands = []
    for f in os.listdir(log_dir):
        if not f.startswith(prefix):
            continue
        stem, _, ext = f[len(prefix):].rpartition(".")
        if ext not in ("parquet", "json") or not stem:
            continue
        if all(b.isdigit() for b in stem.split(".")):
            continue  # multi-part classic, not a v2 unique id
        cands.append(os.path.join(log_dir, f))
    return max(cands, key=os.path.getmtime) if cands else None


def _parse_v2_manifest(
    log_dir: str, manifest: str
) -> tuple[list[str], int | None]:
    """Sidecar file paths + the embedded ``checkpointMetadata``
    version of a V2 checkpoint manifest (parquet or JSON).  Sidecar
    ``path`` entries resolve relative to ``_delta_log/_sidecars/``
    per spec; a missing sidecar RAISES — silently dropping one would
    mis-reconstruct the table the same way a corrupt deletion vector
    would."""
    import json as _json

    sidecars: list[str] = []
    ck_ver: int | None = None
    if manifest.endswith(".json"):
        with open(manifest) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = _json.loads(line)
                sc = a.get("sidecar")
                if sc and sc.get("path"):
                    sidecars.append(sc["path"])
                cm = a.get("checkpointMetadata")
                if cm and cm.get("version") is not None:
                    ck_ver = int(cm["version"])
    else:
        import pyarrow.parquet as _pq

        pf = _pq.ParquetFile(manifest)
        names = pf.schema_arrow.names
        cols = [
            c for c in ("sidecar", "checkpointMetadata") if c in names
        ]
        if cols:
            for r in _pq.read_table(manifest, columns=cols).to_pylist():
                sc = r.get("sidecar")
                if sc and sc.get("path"):
                    sidecars.append(sc["path"])
                cm = r.get("checkpointMetadata")
                if cm and cm.get("version") is not None:
                    ck_ver = int(cm["version"])
    paths = []
    for p in sidecars:
        full = (
            p
            if os.path.isabs(p)
            else os.path.join(log_dir, "_sidecars", p)
        )
        if not os.path.exists(full):
            raise FileNotFoundError(
                f"v2 checkpoint {manifest} references a missing "
                f"sidecar file: {full}"
            )
        paths.append(full)
    return paths, ck_ver


def _checkpoint_sources(log_dir: str, ver: int) -> dict[str, list[str]]:
    """Every file holding the checkpoint state at ``ver``, as
    ``{"parquet": [...], "json": [...]}`` with any V2 manifest FIRST
    in its list (metadata walks short-circuit on the first hit, and
    non-file actions live in the manifest).  Classic single/multi-part
    checkpoints are preferred when both forms exist at the same
    version (writers may produce both for compatibility); otherwise
    the V2 manifest + its sidecars.  The manifest's embedded
    ``checkpointMetadata.version`` must match — a mismatched manifest
    is corruption, not a fallback."""
    try:
        return {"parquet": _checkpoint_parts(log_dir, ver), "json": []}
    except FileNotFoundError:
        pass
    manifest = _v2_checkpoint_manifest(log_dir, ver)
    if manifest is None:
        raise FileNotFoundError(
            f"checkpoint {ver} of {os.path.dirname(log_dir)} has no "
            f"complete parquet part set (classic or v2) under {log_dir}"
        )
    sidecars, ck_ver = _parse_v2_manifest(log_dir, manifest)
    if ck_ver is not None and ck_ver != ver:
        raise ValueError(
            f"v2 checkpoint {manifest}: embedded checkpointMetadata "
            f"version {ck_ver} does not match the expected {ver} — "
            f"the manifest or the _last_checkpoint pointer is corrupt"
        )
    if manifest.endswith(".json"):
        return {"parquet": sidecars, "json": [manifest]}
    return {"parquet": [manifest, *sidecars], "json": []}


def convert_checkpoint_to_v2(
    table_dir: str, *, fmt: str = "parquet", n_sidecars: int = 2
) -> str:
    """Rewrite the table's CLASSIC checkpoint into the spec's V2
    form: add/remove actions split across ``n_sidecars`` parquet
    files under ``_delta_log/_sidecars/``, the non-file actions plus
    a ``checkpointMetadata`` action and the ``sidecar`` pointers in a
    UUID-named ``{v}.checkpoint.{uniqueId}.{fmt}`` manifest, and the
    classic file(s) removed.  Returns the manifest path.

    Read-side interop surface (VERDICT r13 next-item 2): the engine
    still WRITES classic checkpoints natively (and deliberately does
    not claim the ``v2Checkpoint`` writer feature); this converter
    exists so spec-shaped v2 logs can be produced and round-tripped
    offline — fixtures, interop drills, and the migration path for
    the day an external v2-writing engine shares a table.  Pure
    pyarrow + file I/O, no Spark session."""
    import json as _json
    import uuid as _uuid

    import pyarrow as _pa
    import pyarrow.compute as _pc
    import pyarrow.parquet as _pq

    log_dir = os.path.join(table_dir, "_delta_log")
    ver = _checkpoint_version(table_dir)
    if ver is None:
        raise ValueError(f"{table_dir} has no checkpoint to convert")
    classic = _checkpoint_parts(log_dir, ver)
    tbl = _pa.concat_tables(
        [_pq.read_table(p) for p in classic], promote_options="default"
    )
    file_mask = _pc.or_kleene(
        _pc.is_valid(tbl["add"]), _pc.is_valid(tbl["remove"])
    )
    file_rows = tbl.filter(file_mask).select(["add", "remove"])
    other = tbl.filter(_pc.invert(file_mask)).drop_columns(
        ["add", "remove"]
    )
    side_dir = os.path.join(log_dir, "_sidecars")
    os.makedirs(side_dir, exist_ok=True)
    entries = []
    n = file_rows.num_rows
    per = max(1, -(-n // max(1, n_sidecars)))
    for i in range(0, n, per):
        name = _uuid.uuid4().hex + ".parquet"
        full = os.path.join(side_dir, name)
        _pq.write_table(file_rows.slice(i, per), full)
        entries.append(
            {
                "path": name,
                "sizeInBytes": os.path.getsize(full),
                "modificationTime": int(os.path.getmtime(full) * 1000),
            }
        )
    manifest = os.path.join(
        log_dir, f"{ver:020d}.checkpoint.{_uuid.uuid4().hex}.{fmt}"
    )

    def _norm(v):
        # pyarrow renders parquet MAP columns as [(k, v), ...] lists
        if isinstance(v, dict):
            return {k: _norm(x) for k, x in v.items() if x is not None}
        if (
            isinstance(v, list)
            and v
            and isinstance(v[0], tuple)
            and len(v[0]) == 2
        ):
            return dict(v)
        return v

    if fmt == "json":
        with open(manifest, "w") as fh:
            fh.write(
                _json.dumps({"checkpointMetadata": {"version": ver}})
                + "\n"
            )
            for r in other.to_pylist():
                act = {
                    k: _norm(v) for k, v in r.items() if v is not None
                }
                if act:
                    fh.write(_json.dumps(act) + "\n")
            for e in entries:
                fh.write(_json.dumps({"sidecar": e}) + "\n")
    elif fmt == "parquet":
        extra = len(entries) + 1
        cols, names = [], []
        for name in other.column_names:
            col = other[name].combine_chunks()
            cols.append(
                _pa.concat_arrays([col, _pa.nulls(extra, col.type)])
            )
            names.append(name)
        sc_type = _pa.struct(
            [
                ("path", _pa.string()),
                ("sizeInBytes", _pa.int64()),
                ("modificationTime", _pa.int64()),
            ]
        )
        cols.append(
            _pa.array(
                [None] * other.num_rows + entries + [None], type=sc_type
            )
        )
        names.append("sidecar")
        cols.append(
            _pa.array(
                [None] * (other.num_rows + len(entries))
                + [{"version": ver}],
                type=_pa.struct([("version", _pa.int64())]),
            )
        )
        names.append("checkpointMetadata")
        _pq.write_table(_pa.table(dict(zip(names, cols))), manifest)
    else:
        raise ValueError(f"unsupported v2 manifest format: {fmt!r}")
    for p in classic:
        os.remove(p)
    return manifest


def _iter_checkpoint_actions(log_dir: str, ver: int, columns=None):
    """Driver-side iterator over the checkpoint's action dicts —
    classic, multi-part, or V2 manifest + sidecars — optionally
    pruned to ``columns`` (files lacking every requested column are
    skipped entirely: sidecars carry only file actions, manifests
    only non-file actions).  Yields rows manifest-first so
    latest-wins metadata walks can short-circuit."""
    import json as _json

    import pyarrow.parquet as _pq

    src = _checkpoint_sources(log_dir, ver)
    for p in src["json"]:
        with open(p) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = _json.loads(line)
                if columns is None or any(c in a for c in columns):
                    yield a
    for p in src["parquet"]:
        names = _pq.ParquetFile(p).schema_arrow.names
        cols = [c for c in (columns or names) if c in names]
        if not cols:
            continue
        yield from _pq.read_table(p, columns=cols).to_pylist()


def _next_version(table_dir: str) -> int:
    versions = _commit_versions(os.path.join(table_dir, "_delta_log"))
    # a checkpoint supersedes (and log cleanup may have deleted)
    # earlier JSON commits — the next version must clear it too
    ck = _checkpoint_version(table_dir)
    if ck is not None:
        versions.append(ck)
    return max(versions) + 1 if versions else 0


def _remove_staged(table_dir: str, adds: list[dict]) -> None:
    """Best-effort removal of data files staged for a commit that was
    LOST (version race or any other commit error): without this the
    orphaned parquet files would trip the table's no-untracked-files
    invariant audit (``qa_delta_invariants``).  Now-empty Hive
    partition directories the staging created are pruned too, so a
    lost race leaves the table tree byte-identical."""
    for a in adds:
        p = a.get("add", {}).get("path")
        if not p:
            continue
        try:
            os.remove(os.path.join(table_dir, p))
        except OSError:
            pass
        # prune emptied partition dirs bottom-up (key=value segments
        # only — never the table dir itself)
        d = os.path.dirname(p)
        while d and "=" in os.path.basename(d):
            try:
                os.rmdir(os.path.join(table_dir, d))
            except OSError:
                break  # not empty (shared with live files) or gone
            d = os.path.dirname(d)


def commit(
    table_dir: str,
    actions: list[dict],
    *,
    version: int | None = None,
    retries: int = 0,
) -> int:
    """Append one commit to the log — the writer half of the protocol
    (VERDICT r8 missing-item 2, closed as far as the environment
    allows: the real delta-spark MERGE still needs the package, but
    create/append/overwrite/compact now run end-to-end against THIS
    module's reader with no Delta dependency at all).

    Version allocation is optimistic-concurrency shaped: the commit
    file is opened with ``'x'`` (exclusive create), so a concurrent
    writer racing to the same version LOSES the put-if-absent.
    ``retries`` defaults to 0 — losing the race surfaces as
    ``FileExistsError`` and the CALLER decides how to re-enter,
    because every operation that reads table state before committing
    (:func:`txn_append`'s exactly-once check, :func:`overwrite` /
    :func:`compact`'s tombstone list, :func:`append_evolve`'s schema
    merge) must RE-READ that state before retrying; a blind re-commit
    of the stale actions could double-apply a transaction or
    resurrect files a concurrent overwrite tombstoned (ADVICE r10
    high).  Only a logically blind append — no prior state read —
    may opt into ``retries > 0``, where the loop re-allocates the
    next free version and re-commits the SAME actions.  An explicitly
    pinned ``version`` never retries: losing that race is a real
    conflict the caller must see.  A production object store needs
    its LogStore equivalent (S3 conditional put); local/HDFS
    semantics hold here."""
    import json as _json
    import time as _time

    _assert_writer_supported(table_dir, actions)
    os.makedirs(os.path.join(table_dir, "_delta_log"), exist_ok=True)
    ict = _ict_enabled_for_commit(table_dir, actions)
    attempts = 1 if version is not None else retries + 1
    first_v: int | None = None
    for attempt in range(attempts):
        v = version if version is not None else _next_version(table_dir)
        if first_v is None:
            first_v = v
        # COMMIT STAMP: every commitInfo carries the commit wall
        # clock (epoch ms) in the free-form ``timestamp`` field, and
        # — when ``delta.enableInCommitTimestamps`` is on — the
        # SPEC's ``inCommitTimestamp`` field (the inCommitTimestamp
        # writer feature), which is what a conformant TIMESTAMP AS OF
        # reader resolves against (mtime-based resolution otherwise;
        # VERDICT r13 next-item 1).  CLAMPED MONOTONIC per the spec:
        # max(previous commit's stamp + 1, now), so a backwards clock
        # step (NTP correction) can never make version N+1 carry a
        # smaller stamp than N — which would let resolve_timestamp's
        # max(version where ts <= X) pick a version whose predecessor
        # is stamped later (VERDICT r11 wrong-item 1).
        now_ms = int(_time.time() * 1000)
        prev = _prev_commit_ts(table_dir, v)
        if prev is not None:
            now_ms = max(prev + 1, now_ms)
        stamped = []
        for a in actions:
            if "commitInfo" in a:
                ci = dict(a["commitInfo"])
                ci.setdefault("timestamp", now_ms)
                if ict:
                    ci.setdefault("inCommitTimestamp", now_ms)
                a = {"commitInfo": ci}
            stamped.append(a)
        if ict:
            # the spec requires EVERY ICT commit to carry the field
            # (synthesized when the caller passed no commitInfo) and
            # the commitInfo to be the FIRST action in the file, so
            # readers resolve a commit's timestamp from its first
            # line alone
            infos = [a for a in stamped if "commitInfo" in a]
            if not infos:
                infos = [
                    {
                        "commitInfo": {
                            "timestamp": now_ms,
                            "inCommitTimestamp": now_ms,
                        }
                    }
                ]
            stamped = infos + [a for a in stamped if "commitInfo" not in a]
        name = os.path.join(table_dir, "_delta_log", f"{v:020d}.json")
        try:
            with open(name, "x") as fh:  # put-if-absent
                for a in stamped:
                    fh.write(_json.dumps(a) + "\n")
            return v
        except FileExistsError:
            if attempt == attempts - 1:
                raise
            # SPEC CONFLICT RESOLUTION for blind appends: before
            # re-committing onto the next free version, examine every
            # commit that won since this statement's first attempt —
            # concurrent ADDS don't conflict with an append, but a
            # metaData or protocol change does (schema evolution,
            # appendOnly/constraint/feature flips would make these
            # staged actions stale), so that race RAISES instead of
            # blindly re-applying (VERDICT r13 next-item 3)
            _assert_no_concurrent_metadata_change(table_dir, first_v)
    raise AssertionError("unreachable")


def _assert_no_concurrent_metadata_change(
    table_dir: str, since_v: int
) -> None:
    """Raise when any surviving commit at or past ``since_v`` carries
    a ``metaData`` or ``protocol`` action — the conflicts a blind
    append may NOT retry through.  Bounded driver-side reads: only
    the race window's commits (typically one or two files)."""
    import json as _json

    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        return
    for v in _commit_versions(log_dir):
        if v < since_v:
            continue
        try:
            with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
                for line in fh:
                    act = _json.loads(line)
                    if "metaData" in act or "protocol" in act:
                        raise ValueError(
                            f"concurrent metadata/protocol change at "
                            f"version {v} of {table_dir} conflicts "
                            f"with this append — re-read table state "
                            f"and re-run the statement"
                        )
        except OSError:
            continue


def _prev_commit_ts(table_dir: str, v: int) -> int | None:
    """In-commit timestamp of the latest JSON commit BELOW ``v`` —
    the clamp floor for :func:`commit`'s monotonic stamping.  One
    bounded directory listing plus one small file read; ``None`` when
    no earlier stamped commit survives (fresh table, or log cleanup
    removed the tail — best-effort then, single-writer wall clocks
    resume)."""
    import json as _json

    log_dir = os.path.join(table_dir, "_delta_log")
    below = [c for c in _commit_versions(log_dir) if c < v]
    if not below:
        return None
    prev = os.path.join(log_dir, f"{max(below):020d}.json")
    try:
        with open(prev) as fh:
            for line in fh:
                ci = _json.loads(line).get("commitInfo", {})
                ts = ci.get("inCommitTimestamp", ci.get("timestamp"))
                if ts is not None:
                    return int(ts)
    except OSError:
        return None
    return None


def _ict_enabled_for_commit(table_dir: str, actions: list[dict]) -> bool:
    """Whether THIS commit must carry the spec's
    ``commitInfo.inCommitTimestamp``: the commit's own metaData wins
    (the enablement commit itself is stamped, a property-removing
    replacement stops stamping), else the table's current
    configuration."""
    for a in reversed(actions):
        md = a.get("metaData")
        if md is not None:
            return (
                (md.get("configuration") or {}).get(
                    "delta.enableInCommitTimestamps"
                )
                == "true"
            )
    return (
        _current_table_config(table_dir).get(
            "delta.enableInCommitTimestamps"
        )
        == "true"
    )


def _stats_json(full_path: str) -> str | None:
    """Per-file column statistics for an ``add`` action, read from
    the parquet FOOTER (row-group metadata aggregated across the
    file) — a metadata-sized read, never a data scan, the same place
    a real Delta writer gets them when it did not pipeline the stats
    during the write.  Returns the protocol's ``stats`` JSON
    (``numRecords`` / ``minValues`` / ``maxValues`` / ``nullCount``)
    or None when the footer is unreadable.  Top-level leaf columns
    only; a column whose row groups lack min/max (e.g. all-null, or
    a type the format does not order) is simply absent from
    min/maxValues — readers must treat absence as "cannot prune",
    which :func:`_skipping_keep` does."""
    import datetime as _dt
    import decimal as _decimal
    import json as _json

    import pyarrow.parquet as _pq

    def _norm(v):
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, (_dt.datetime, _dt.date)):
            return v.isoformat()
        if isinstance(v, _decimal.Decimal):
            return float(v)
        if isinstance(v, (bool, int, float, str)):
            return v
        return None

    try:
        md = _pq.ParquetFile(full_path).metadata
    except Exception:
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    no_minmax: set = set()
    no_nulls: set = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if "." in name:
                continue  # top-level leaves only
            st = c.statistics
            if st is None or not st.has_null_count:
                no_nulls.add(name)
            else:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if (
                st is None
                or not st.has_min_max
                or _norm(st.min) is None
                or _norm(st.max) is None
            ):
                no_minmax.add(name)
                continue
            lo, hi = st.min, st.max
            if name in mins:
                lo = min(lo, mins[name])
                hi = max(hi, maxs[name])
            mins[name], maxs[name] = lo, hi
    stats = {
        "numRecords": md.num_rows,
        "minValues": {
            k: _norm(v) for k, v in mins.items() if k not in no_minmax
        },
        "maxValues": {
            k: _norm(v) for k, v in maxs.items() if k not in no_minmax
        },
        "nullCount": {
            k: v for k, v in nulls.items() if k not in no_nulls
        },
    }
    return _json.dumps(stats, sort_keys=True)


def _current_schema_string(table_dir: str) -> str | None:
    """Latest ``metaData.schemaString`` read DRIVER-SIDE from the
    log tail (newest JSON commit first, checkpoint fallback) — the
    metadata-sized lookup the write path uses to map logical column
    names to physical ones without a Spark job."""
    import json as _json

    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        return None
    for v in reversed(_commit_versions(log_dir)):
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                act = _json.loads(line)
                if "metaData" in act:
                    return act["metaData"].get("schemaString")
    ck = _checkpoint_version(table_dir)
    if ck is not None:
        for r in _iter_checkpoint_actions(
            log_dir, ck, columns=["metaData"]
        ):
            md = r.get("metaData")
            if md and md.get("schemaString"):
                return md["schemaString"]
    return None


def _current_protocol(table_dir: str) -> dict:
    """Latest ``protocol`` action, read DRIVER-SIDE from the log tail
    (newest JSON commit first, checkpoint fallback) — the same
    metadata-sized lookup :func:`_current_schema_string` does.
    Returns ``{}`` when the table has no log yet."""
    import json as _json

    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        return {}
    for v in reversed(_commit_versions(log_dir)):
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                act = _json.loads(line)
                if "protocol" in act:
                    return dict(act["protocol"])
    ck = _checkpoint_version(table_dir)
    if ck is not None:
        for r in _iter_checkpoint_actions(
            log_dir, ck, columns=["protocol"]
        ):
            p = r.get("protocol")
            if p and p.get("minReaderVersion") is not None:
                return {k: v for k, v in p.items() if v is not None}
    return {}


def _current_table_config(table_dir: str) -> dict:
    """Latest ``metaData.configuration``, read DRIVER-SIDE from the
    log tail (newest JSON commit first, checkpoint fallback) — the
    metadata-sized lookup writers use to pick a DML strategy without
    a Spark job."""
    import json as _json

    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        return {}
    for v in reversed(_commit_versions(log_dir)):
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                act = _json.loads(line)
                if "metaData" in act:
                    return dict(act["metaData"].get("configuration") or {})
    ck = _checkpoint_version(table_dir)
    if ck is not None:
        for r in _iter_checkpoint_actions(
            log_dir, ck, columns=["metaData"]
        ):
            md = r.get("metaData")
            if md and md.get("schemaString"):
                return dict(md.get("configuration") or {})
    return {}


def _dv_enabled(table_dir: str) -> bool:
    return (
        _current_table_config(table_dir).get(
            "delta.enableDeletionVectors"
        )
        == "true"
    )


#: legacy protocol versions → the table features they imply (the
#: spec's table-features upgrade rule): a reader/writer at versions
#: 3/7 consults ONLY readerFeatures/writerFeatures, so crossing into
#: table-features versions must carry forward every capability the
#: old version pair encoded implicitly — otherwise a spec-conformant
#: external reader would e.g. miss columnMapping on a (2,5)→(3,7)
#: table and read physical names as data (ADVICE r12 medium)
_LEGACY_WRITER_FEATURES: dict[int, tuple[str, ...]] = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("generatedColumns", "changeDataFeed"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}
_LEGACY_READER_FEATURES: dict[int, tuple[str, ...]] = {
    2: ("columnMapping",),
}


def _protocol_upgrade(
    table_dir: str,
    min_reader: int,
    min_writer: int,
    *,
    reader_features: list[str] | None = None,
    writer_features: list[str] | None = None,
) -> list[dict]:
    """Protocol action RAISING the table's gate to at least
    ``(min_reader, min_writer)`` (+ feature names), or ``[]`` when the
    current gate already satisfies it.  Reconstruction is
    latest-protocol-wins, so committing a feature's literal minimum on
    a table already gated HIGHER would DOWNGRADE it — e.g. ADD
    CONSTRAINT's (1,3) on a column-mapped (2,5) table — after which a
    feature-unaware writer could corrupt the table (ADVICE r11
    medium).  Writers therefore always commit the max of current and
    required, with feature sets unioned.

    Feature lists exist ONLY at table-features versions (readerFeatures
    at reader ≥ 3, writerFeatures at writer ≥ 7); at or past them the
    version pair stops encoding capabilities, so the emitted sets are
    the union of (a) the current lists, (b) the requested features, and
    (c) every legacy feature the PRE-upgrade version pair implied
    (:data:`_LEGACY_WRITER_FEATURES`) — e.g. a (2,5) column-mapped
    table crossing to (3,7) for deletion vectors lists columnMapping in
    both sets, and ADD CONSTRAINT on an already-(3,7) table appends
    checkConstraints (ADVICE r12 medium)."""
    cur = _current_protocol(table_dir)
    cur_r = int(cur.get("minReaderVersion") or 1)
    cur_w = int(cur.get("minWriterVersion") or 1)
    out_r = max(min_reader, cur_r)
    out_w = max(min_writer, cur_w)
    rf = set(cur.get("readerFeatures") or [])
    wf = set(cur.get("writerFeatures") or [])
    if out_w >= 7:
        wf |= set(writer_features or [])
        if cur_w < 7:
            for v, feats in _LEGACY_WRITER_FEATURES.items():
                if cur_w >= v:
                    wf |= set(feats)
    if out_r >= 3:
        rf |= set(reader_features or [])
        if cur_r < 3:
            for v, feats in _LEGACY_READER_FEATURES.items():
                if cur_r >= v:
                    rf |= set(feats)
    rf_out, wf_out = sorted(rf), sorted(wf)
    if (
        cur
        and out_r == cur_r
        and out_w == cur_w
        and rf_out == sorted(cur.get("readerFeatures") or [])
        and wf_out == sorted(cur.get("writerFeatures") or [])
    ):
        return []
    proto: dict = {"minReaderVersion": out_r, "minWriterVersion": out_w}
    if out_r >= 3:
        proto["readerFeatures"] = rf_out
    if out_w >= 7:
        proto["writerFeatures"] = wf_out
    return [{"protocol": proto}]


def _mapping_from(schema_string: str | None) -> dict[str, str]:
    """COLUMN MAPPING (mode=name): logical name -> physical name,
    from each field's ``delta.columnMapping.physicalName`` metadata.
    Empty when mapping is not enabled (physical == logical)."""
    if not schema_string or schema_string == "{}":
        return {}
    import json as _json

    out = {}
    for f in _json.loads(schema_string).get("fields", []):
        phys = (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName"
        )
        if phys and phys != f["name"]:
            out[f["name"]] = phys
    return out


def _to_physical(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    for logical, phys in mapping.items():
        if logical in df.columns:
            df = df.withColumnRenamed(logical, phys)
    return df


def _to_logical(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    for logical, phys in mapping.items():
        if phys in df.columns:
            df = df.withColumnRenamed(phys, logical)
    return df


def _cast_declared(df: DataFrame, schema_string: str | None) -> DataFrame:
    """Cast ``df``'s columns to the types ``schema_string`` declares for
    them.  Scans read the data files with the declared schema
    (:func:`_read_schema`), and parquet cannot read a file column in
    another type (an INT64 column as ``int``), so every writer lands
    its files in the declared types.  Columns the schema does not
    declare (a schema-evolving append's new ones) pass unchanged, and
    nullability is not compared."""
    if not schema_string or schema_string == "{}":
        return df
    import json as _json

    from pyspark.sql.types import StructType

    declared = StructType.fromJson(_json.loads(schema_string))
    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for f in declared.fields:
        if f.name in have and have[f.name] != f.dataType.simpleString():
            df = df.withColumn(f.name, F.col(f.name).cast(f.dataType))
    return df


def _write_data_files(
    df: DataFrame,
    table_dir: str,
    *,
    n_files: int,
    partition_by: list[str] | None = None,
    partition_bins: dict | None = None,
) -> list[dict]:
    """Materialize ``df`` as parquet files (unique names, Delta
    layout) and return their ``add`` actions.  With ``partition_by``,
    files land under Hive-style partition directories and each add
    carries its ``partitionValues`` map — the protocol field partition
    pruning reads.  ``partition_bins`` (partition-value tuple in
    ``partition_by`` order -> file count) bin-packs WITHIN partitions:
    rows salt uniformly over their partition's bin count before the
    shuffle, so a partition expecting N bins lands as ~N files (hash
    collisions can merge bins — files grow, never split; the honor-
    the-target path ADVICE r11 low asked for, where the old shape
    silently wrote one file per partition whatever the target).  The
    data write is Spark's own distributed parquet sink into a scratch
    directory; only the bounded per-file rename runs driver-side —
    the same shape a real Delta writer's commit phase has.  When
    COLUMN MAPPING is enabled the frame arrives in logical names and
    lands in PHYSICAL ones, and its columns land in the declared types
    (:func:`_cast_declared`) — the central choke point every writer
    flows through."""
    import shutil as _shutil
    import uuid as _uuid

    schema_string = _current_schema_string(table_dir)
    df = _cast_declared(df, schema_string)
    mapping = _mapping_from(schema_string)
    if mapping:
        df = _to_physical(df, mapping)

    tmp = os.path.join(table_dir, f"__stage-{_uuid.uuid4().hex}")
    if partition_by and partition_bins and any(
        b > 1 for b in partition_bins.values()
    ):
        spark = df.sparkSession
        bins_df = spark.createDataFrame(
            [(*k, int(v)) for k, v in partition_bins.items()],
            [f"__pv_{c}" for c in partition_by] + ["__bins"],
        )
        cond = None
        for c in partition_by:
            eq = F.col(c).cast("string").eqNullSafe(F.col(f"__pv_{c}"))
            cond = eq if cond is None else cond & eq
        total = sum(int(v) for v in partition_bins.values())
        # DETERMINISTIC salt from row content, never F.rand: a task
        # retry after a fetch failure recomputes the upstream rows in
        # arbitrary order, so a rand-keyed repartition can route a row
        # to a DIFFERENT shuffle partition than the original attempt —
        # the classic repartition-by-rand duplicate/drop hazard on
        # clusters with failures (ADVICE r12 low).  Hashing the row's
        # non-partition columns gives the same uniform spread and the
        # same bin on every recomputation.
        salt_cols = [
            c for c in df.columns if c not in set(partition_by)
        ] or list(partition_by)
        w = (
            df.join(F.broadcast(bins_df), cond, "left")
            .withColumn(
                "__salt",
                F.pmod(
                    F.hash(*[F.col(c) for c in salt_cols]),
                    F.coalesce(F.col("__bins"), F.lit(1)),
                ).cast("int"),
            )
            .repartition(max(8, 2 * total), *partition_by, F.col("__salt"))
            .drop("__salt", "__bins", *[f"__pv_{c}" for c in partition_by])
        )
    elif partition_by:
        # one shuffle on the partition columns -> each value lands in
        # one task -> exactly one data file per partition directory
        w = df.repartition(*partition_by)
    else:
        w = df.coalesce(n_files) if n_files else df
    writer = w.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    adds = []

    def _emit(src_dir: str, rel_prefix: str, pvals: dict) -> None:
        for f in sorted(os.listdir(src_dir)):
            full = os.path.join(src_dir, f)
            if os.path.isdir(full) and "=" in f:
                k, _, v = f.partition("=")
                os.makedirs(
                    os.path.join(table_dir, rel_prefix, f), exist_ok=True
                )
                _emit(
                    full,
                    os.path.join(rel_prefix, f),
                    {**pvals, k: v},
                )
            elif f.endswith(".parquet"):
                new = f"part-{_uuid.uuid4().hex}.snappy.parquet"
                rel = os.path.join(rel_prefix, new) if rel_prefix else new
                os.replace(full, os.path.join(table_dir, rel))
                add = {
                    "path": rel,
                    "size": os.path.getsize(os.path.join(table_dir, rel)),
                    "dataChange": True,
                }
                if pvals or partition_by:
                    add["partitionValues"] = pvals
                st = _stats_json(os.path.join(table_dir, rel))
                if st:
                    add["stats"] = st
                adds.append({"add": add})

    _emit(tmp, "", {})
    _shutil.rmtree(tmp, ignore_errors=True)
    return adds


def _write_change_data(df: DataFrame, table_dir: str) -> dict | None:
    """Materialize a CHANGE DATA file (the spec's ``cdc`` action):
    ``df`` carries the table columns plus ``_change_type``
    (insert / delete / update_preimage / update_postimage) and lands
    under ``_change_data/`` — the row-level feed
    :func:`read_changes` prefers over deriving file-level churn from
    add/remove (a copy-on-write rewrite re-emits every unchanged row
    of a touched file; the cdc file records ONLY what changed).
    Returns the action dict, or None when the frame is empty.  Like
    :func:`_write_data_files`, it lands the declared types."""
    import shutil as _shutil
    import uuid as _uuid

    schema_string = _current_schema_string(table_dir)
    df = _cast_declared(df, schema_string)
    mapping = _mapping_from(schema_string)
    if mapping:
        df = _to_physical(df, mapping)
    cd_dir = os.path.join(table_dir, "_change_data")
    os.makedirs(cd_dir, exist_ok=True)
    tmp = os.path.join(table_dir, f"__cdc-{_uuid.uuid4().hex}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    parts = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
    action = None
    if parts:
        rel = os.path.join(
            "_change_data", f"cdc-{_uuid.uuid4().hex}.snappy.parquet"
        )
        full = os.path.join(table_dir, rel)
        os.replace(os.path.join(tmp, parts[0]), full)
        st = _stats_json(full)
        import json as _json

        if st and _json.loads(st)["numRecords"] == 0:
            os.remove(full)
        else:
            action = {
                "cdc": {
                    "path": rel,
                    "partitionValues": {},
                    "size": os.path.getsize(full),
                    "dataChange": False,
                }
            }
    _shutil.rmtree(tmp, ignore_errors=True)
    return action


def _op_metrics(
    adds: list[dict],
    removes: list[dict],
    *,
    started: float | None = None,
    extra: dict | None = None,
) -> dict[str, str]:
    """The spec's ``commitInfo.operationMetrics`` map (all values
    strings, as real Delta serializes them) computed from metadata
    already in hand — add/remove action counts, byte sizes, and row
    counts from the per-file ``stats`` JSON the writer just read from
    the parquet footers.  No data scan, no extra job (VERDICT r11
    missing-item 4: DESCRIBE HISTORY parity with the telemetry the
    reference's own ``_delta_log`` exposes, e.g.
    ``data/delta/123/balance/delta_table/_delta_log/
    00000000000000000005.json:1``)."""
    import json as _json
    import time as _time

    rows = 0
    have_rows = bool(adds)
    for a in adds:
        st = a.get("add", {}).get("stats")
        if not st:
            have_rows = False
            break
        rows += int(_json.loads(st).get("numRecords", 0))
    out = {
        "numAddedFiles": str(len(adds)),
        "numRemovedFiles": str(len(removes)),
        "numAddedBytes": str(
            sum(int(a["add"].get("size") or 0) for a in adds)
        ),
    }
    if have_rows or not adds:
        out["numOutputRows"] = str(rows)
    if started is not None:
        out["executionTimeMs"] = str(
            max(0, int((_time.time() - started) * 1000))
        )
    for k, v in (extra or {}).items():
        out[k] = str(v)
    return out


def _change_counts(table_dir: str, cdc_actions: list[dict]) -> dict[str, int]:
    """Row counts per ``_change_type`` in the just-written change-data
    file(s) — the source for DELETE/UPDATE/MERGE row metrics.  A
    bounded pyarrow read of ONE small column from files this writer
    just produced; never a Spark job.  The census is
    ``pyarrow.compute.value_counts`` — vectorized C++, so a MERGE
    touching 10⁷ rows costs one columnar pass, never 10⁷ driver-side
    Python object iterations (VERDICT r12 what's-wrong 2)."""
    import pyarrow.compute as _pc
    import pyarrow.parquet as _pq

    counts: dict[str, int] = {}
    for act in cdc_actions:
        path = os.path.join(table_dir, act["cdc"]["path"])
        try:
            col = _pq.read_table(
                path, columns=["_change_type"]
            ).column(0)
        except Exception:
            continue
        # one entry per DISTINCT change type (≤ 4), however many rows
        for e in _pc.value_counts(col).to_pylist():
            counts[e["values"]] = counts.get(e["values"], 0) + e["counts"]
    return counts


def _merge_metrics(
    table_dir: str,
    adds: list[dict],
    removes: list[dict],
    cdc_actions: list[dict],
    started: float,
) -> dict[str, str]:
    """MERGE's operationMetrics: target-row splits from the change
    file's ``_change_type`` census (the rows that really changed),
    file counts from the commit's own actions."""
    import json as _json

    ch = _change_counts(table_dir, cdc_actions)
    out_rows = sum(
        int(_json.loads(a["add"]["stats"])["numRecords"])
        for a in adds
        if a["add"].get("stats")
    )
    ins = ch.get("insert", 0)
    upd = ch.get("update_postimage", 0)
    dele = ch.get("delete", 0)
    return _op_metrics(
        adds,
        removes,
        started=started,
        extra={
            "numTargetFilesAdded": len(adds),
            "numTargetFilesRemoved": len(removes),
            "numTargetRowsInserted": ins,
            "numTargetRowsUpdated": upd,
            "numTargetRowsDeleted": dele,
            "numTargetRowsCopied": max(0, out_rows - ins - upd),
        },
    )


def _latest_meta(
    spark: SparkSession, table_dir: str, *, version_as_of: int | None = None
):
    """Latest ``metaData`` action (id, schemaString,
    partitionColumns, configuration) — the declared table identity
    every state-reading writer threads through its rewrite
    (compact/overwrite/append_evolve must keep a partitioned table
    partitioned; ADVICE r9) and the constraint registry writers
    enforce against (``delta.constraints.*`` keys).  With
    ``version_as_of``, the metaData in force at that version (the
    schema a change-feed read up to it declares).

    DRIVER-SIDE: a newest-first walk of the JSON tail with a
    checkpoint fallback — the same metadata-sized lookup
    :func:`_current_schema_string` does.  This used to be a Spark
    job, and writers call it (directly and via the constraint /
    generated-column registries) several times per statement; on a
    vanilla session each job costs 0.3-0.7 s of pure scheduling
    (round-13 cold-path trim)."""
    import json as _json

    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        return None
    for v in reversed(_commit_versions(log_dir)):
        if version_as_of is not None and v > version_as_of:
            continue
        found = None
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                act = _json.loads(line)
                if "metaData" in act:
                    found = act["metaData"]
        if found is not None:
            return {
                "id": found.get("id"),
                "schemaString": found.get("schemaString"),
                "partitionColumns": found.get("partitionColumns"),
                "configuration": found.get("configuration"),
            }
    ck = _checkpoint_version(table_dir)
    if ck is not None and (version_as_of is None or ck <= version_as_of):
        for r in _iter_checkpoint_actions(
            log_dir, ck, columns=["metaData"]
        ):
            md = r.get("metaData")
            if md and md.get("schemaString"):
                cfg = md.get("configuration")
                if isinstance(cfg, list):
                    cfg = dict(cfg)  # pyarrow MAP → [(k, v), ...]
                return {
                    "id": md.get("id"),
                    "schemaString": md.get("schemaString"),
                    "partitionColumns": md.get("partitionColumns"),
                    "configuration": cfg,
                }
    return None


#: configuration-key prefix the protocol uses for CHECK constraints
_CONSTRAINT_PREFIX = "delta.constraints."


def table_constraints(spark: SparkSession, table_dir: str) -> dict:
    """The table's CHECK constraints: name -> SQL expression, from
    the latest metaData's ``delta.constraints.*`` configuration keys
    (the protocol's constraint registry)."""
    meta = _latest_meta(spark, table_dir)
    cfg = (meta["configuration"] or {}) if meta else {}
    return {
        k[len(_CONSTRAINT_PREFIX):]: v
        for k, v in cfg.items()
        if k.startswith(_CONSTRAINT_PREFIX)
    }


def _enforce_constraints(
    spark: SparkSession, table_dir: str, df: DataFrame
) -> None:
    """Writer-side CHECK enforcement: every batch of NEW rows must
    satisfy every registered constraint BEFORE its files join the
    log (existing rows were validated by the writer that added them
    — the protocol's invariant, which is what lets readers trust
    constraints without scanning).  SQL-standard semantics: a row
    violates only when the expression IS FALSE (NULL passes).  One
    bounded aggregate over the batch per commit, all constraints in
    a single pass."""
    if not os.path.isdir(os.path.join(table_dir, "_delta_log")):
        return  # bootstrap write: no table state to enforce yet
    cons = table_constraints(spark, table_dir)
    if not cons:
        return
    agg = df.agg(
        *[
            F.sum(
                (F.expr(expr) == F.lit(False)).cast("bigint")
            ).alias(name)
            for name, expr in cons.items()
        ]
    ).first()
    for name, expr in cons.items():
        n = agg[name] or 0
        if n:
            raise ValueError(
                f"CHECK constraint {name!r} ({expr}) violated by "
                f"{n} row(s) in the batch — commit refused"
            )


def _meta_action_from(meta, configuration: dict) -> dict:
    """A full replacement ``metaData`` action carrying ``meta``'s
    identity with ``configuration`` swapped in."""
    return {
        "metaData": {
            "id": meta["id"],
            "format": {"provider": "parquet"},
            "schemaString": meta["schemaString"],
            "partitionColumns": list(meta["partitionColumns"] or []),
            "configuration": configuration,
        }
    }


def enable_column_mapping(spark: SparkSession, table_dir: str) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES
    ('delta.columnMapping.mode' = 'name'): upgrade the table to
    NAME-BASED COLUMN MAPPING — every schema field gets a stable
    ``delta.columnMapping.id`` and ``physicalName`` (its current
    name, the upgrade rule), configuration records the mode, and the
    protocol gate rises to (2, 5) per the spec.  From then on
    :func:`rename_column` is a METADATA-ONLY commit: the parquet
    files keep their physical column names forever and readers remap
    — the operation that renames a column on a 100 TB table without
    rewriting a byte.  Unpartitioned tables only (physical partition
    directory names are out of this implementation's scope)."""
    import json as _json

    meta = _latest_meta(spark, table_dir)
    if meta is None:
        raise ValueError(f"no delta table at {table_dir}")
    if meta["partitionColumns"]:
        raise ValueError(
            "column mapping: partitioned tables are not supported "
            "(physical partition directory names)"
        )
    cfg = dict(meta["configuration"] or {})
    if cfg.get("delta.columnMapping.mode") == "name":
        raise ValueError("column mapping already enabled")
    schema = _json.loads(meta["schemaString"])
    for i, f in enumerate(schema.get("fields", []), start=1):
        md = f.setdefault("metadata", {})
        md["delta.columnMapping.id"] = i
        md["delta.columnMapping.physicalName"] = f["name"]
    cfg["delta.columnMapping.mode"] = "name"
    cfg["delta.columnMapping.maxColumnId"] = str(
        len(schema.get("fields", []))
    )
    action = _meta_action_from(meta, cfg)
    action["metaData"]["schemaString"] = _json.dumps(schema)
    return commit(
        table_dir,
        [
            # feature names matter when the table is ALREADY at
            # table-features versions (e.g. DV-enabled (3,7)): there
            # the version bump is a no-op and columnMapping must land
            # in both feature lists or external readers miss it
            *_protocol_upgrade(
                table_dir,
                2,
                5,
                reader_features=["columnMapping"],
                writer_features=["columnMapping"],
            ),
            action,
            {"commitInfo": {"operation": "SET COLUMN MAPPING"}},
        ],
    )


def rename_column(
    spark: SparkSession, table_dir: str, old: str, new: str
) -> int:
    """ALTER TABLE ... RENAME COLUMN old TO new — metadata-only
    under column mapping (the logical name changes in schemaString;
    the ``physicalName`` the data files carry does not).  Refused if
    mapping is not enabled, the new name collides, or a CHECK
    constraint / generation expression references the old name (the
    expressions are SQL text over logical names; real Delta refuses
    the same way)."""
    import json as _json

    meta = _latest_meta(spark, table_dir)
    if meta is None:
        raise ValueError(f"no delta table at {table_dir}")
    cfg = dict(meta["configuration"] or {})
    if cfg.get("delta.columnMapping.mode") != "name":
        raise ValueError(
            "rename_column requires column mapping "
            "(enable_column_mapping first)"
        )
    import re as _re

    pat = _re.compile(rf"\b{_re.escape(old)}\b")
    for k, v in cfg.items():
        if k.startswith(_CONSTRAINT_PREFIX) and pat.search(v):
            raise ValueError(
                f"cannot rename {old!r}: CHECK constraint "
                f"{k[len(_CONSTRAINT_PREFIX):]!r} references it"
            )
    schema = _json.loads(meta["schemaString"])
    names = [f["name"] for f in schema.get("fields", [])]
    if old not in names:
        raise ValueError(f"no such column: {old!r}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    for f in schema.get("fields", []):
        expr = (f.get("metadata") or {}).get(
            "delta.generationExpression"
        )
        if expr and pat.search(expr) and f["name"] != old:
            raise ValueError(
                f"cannot rename {old!r}: generated column "
                f"{f['name']!r} derives from it"
            )
        if f["name"] == old:
            f["name"] = new
    action = _meta_action_from(meta, cfg)
    action["metaData"]["schemaString"] = _json.dumps(schema)
    return commit(
        table_dir,
        [
            action,
            {
                "commitInfo": {
                    "operation": f"RENAME COLUMN {old} TO {new}"
                }
            },
        ],
    )


def add_constraint(
    spark: SparkSession, table_dir: str, name: str, expr: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT name CHECK (expr): validates
    the EXISTING data first (one scan — a constraint that present
    rows violate is refused, exactly as delta-spark does), then
    commits a replacement metaData whose configuration carries
    ``delta.constraints.<name>`` plus a protocol action raising
    minWriterVersion to 3 (the spec's writer-feature gate for CHECK
    constraints).  Every subsequent data-adding commit enforces it
    via :func:`_enforce_constraints`."""
    meta = _latest_meta(spark, table_dir)
    if meta is None:
        raise ValueError(f"no delta table at {table_dir}")
    cfg = dict(meta["configuration"] or {})
    key = _CONSTRAINT_PREFIX + name
    if key in cfg:
        raise ValueError(f"constraint {name!r} already exists")
    existing = read_snapshot(spark, table_dir)
    bad = existing.filter(F.expr(expr) == F.lit(False)).limit(1).count()
    if bad:
        raise ValueError(
            f"cannot add CHECK constraint {name!r} ({expr}): "
            f"existing rows violate it"
        )
    cfg[key] = expr
    return commit(
        table_dir,
        [
            # never a literal (1,3): on a table already gated higher
            # (column mapping's (2,5), generated columns' writer 4)
            # that would be a protocol DOWNGRADE (ADVICE r11 medium);
            # on a table-features (3,7) table the feature NAME is the
            # whole gate, so it must be listed (ADVICE r12 medium)
            *_protocol_upgrade(
                table_dir, 1, 3, writer_features=["checkConstraints"]
            ),
            _meta_action_from(meta, cfg),
            {"commitInfo": {"operation": f"ADD CONSTRAINT {name}"}},
        ],
    )


def drop_constraint(
    spark: SparkSession, table_dir: str, name: str
) -> int:
    """ALTER TABLE ... DROP CONSTRAINT name."""
    meta = _latest_meta(spark, table_dir)
    if meta is None:
        raise ValueError(f"no delta table at {table_dir}")
    cfg = dict(meta["configuration"] or {})
    key = _CONSTRAINT_PREFIX + name
    if key not in cfg:
        raise ValueError(f"no such constraint: {name!r}")
    del cfg[key]
    return commit(
        table_dir,
        [
            _meta_action_from(meta, cfg),
            {"commitInfo": {"operation": f"DROP CONSTRAINT {name}"}},
        ],
    )


def generation_expressions(spark: SparkSession, table_dir: str) -> dict:
    """GENERATED COLUMNS registry: column -> SQL expression, from
    each schema field's ``delta.generationExpression`` metadata (the
    protocol's generated-columns feature)."""
    import json as _json

    meta = _latest_meta(spark, table_dir)
    if not meta or not meta["schemaString"]:
        return {}
    out = {}
    for f in _json.loads(meta["schemaString"]).get("fields", []):
        expr = (f.get("metadata") or {}).get("delta.generationExpression")
        if expr:
            out[f["name"]] = expr
    return out


def _apply_generated(
    spark: SparkSession, table_dir: str, df: DataFrame
) -> DataFrame:
    """Writer-side generated-column contract: a batch MISSING a
    generated column gets it computed from its expression (the
    convenience half — callers write only the source columns); a
    batch that SUPPLIES one is validated value-for-value against the
    expression and refused on any mismatch (the integrity half — a
    generated partition column that disagreed with its source would
    silently corrupt partition pruning).  One bounded aggregate
    validates all supplied generated columns in a single pass."""
    if not os.path.isdir(os.path.join(table_dir, "_delta_log")):
        return df  # bootstrap write: no declared schema yet
    gens = generation_expressions(spark, table_dir)
    if not gens:
        return df
    to_check = {}
    for col, expr in gens.items():
        if col in df.columns:
            to_check[col] = expr
        else:
            df = df.withColumn(col, F.expr(expr))
    if to_check:
        agg = df.agg(
            *[
                F.sum(
                    (
                        ~F.col(col).eqNullSafe(F.expr(expr))
                    ).cast("bigint")
                ).alias(col)
                for col, expr in to_check.items()
            ]
        ).first()
        for col, expr in to_check.items():
            n = agg[col] or 0
            if n:
                raise ValueError(
                    f"generated column {col!r} must equal its "
                    f"expression ({expr}); {n} row(s) disagree — "
                    f"commit refused"
                )
    return df


def create_table(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    *,
    n_files: int = 1,
    partition_by: list[str] | None = None,
    generated: dict[str, str] | None = None,
    properties: dict[str, str] | None = None,
) -> int:
    """Commit 0: protocol + metaData (the REAL Spark schema JSON and
    the declared ``partitionColumns``, not stubs) + the initial data
    files (Hive-layout when partitioned).  ``properties`` seeds the
    table configuration (TBLPROPERTIES at creation) — a
    ``delta.enableInCommitTimestamps`` there makes the WHOLE history
    ICT-stamped from version 0 (no enablement-boundary properties,
    per spec) and raises the protocol to the table-features writer
    gate.  ``generated`` declares
    GENERATED COLUMNS (column -> SQL expression over the other
    columns): each is recorded as the field's
    ``delta.generationExpression`` metadata (the protocol feature),
    computed for this initial frame when absent, and enforced on
    every later data-adding commit by :func:`_apply_generated` — the
    canonical use is a generated DATE partition column derived from
    an event timestamp, which keeps partition pruning trustworthy
    because the writer, not the caller, owns the derivation."""
    import json as _json
    import time as _time
    import uuid as _uuid

    started = _time.time()
    os.makedirs(table_dir, exist_ok=True)
    for col, expr in (generated or {}).items():
        if col not in df.columns:
            df = df.withColumn(col, F.expr(expr))
    schema_json = _json.loads(df.schema.json())
    if generated:
        for f in schema_json["fields"]:
            if f["name"] in generated:
                f.setdefault("metadata", {})[
                    "delta.generationExpression"
                ] = generated[f["name"]]
    adds = _write_data_files(
        df, table_dir, n_files=n_files, partition_by=partition_by
    )
    legacy_w = 4 if generated else 2
    if (properties or {}).get("delta.enableInCommitTimestamps") == "true":
        # ICT is a table-features-only writer feature: the protocol
        # jumps to writer 7 listing it PLUS every feature the legacy
        # version it replaces implied (the spec's upgrade rule)
        wf = {"inCommitTimestamp"}
        for lv, feats in _LEGACY_WRITER_FEATURES.items():
            if legacy_w >= lv:
                wf |= set(feats)
        protocol = {
            "minReaderVersion": 1,
            "minWriterVersion": 7,
            "writerFeatures": sorted(wf),
        }
    else:
        protocol = {"minReaderVersion": 1, "minWriterVersion": legacy_w}
    meta_action = {
        "metaData": {
            "id": _uuid.uuid4().hex,
            "format": {"provider": "parquet"},
            "schemaString": _json.dumps(schema_json),
            "partitionColumns": list(partition_by or []),
        }
    }
    if properties:
        meta_action["metaData"]["configuration"] = {
            k: str(vv) for k, vv in properties.items()
        }
    try:
        return commit(
            table_dir,
            [
                {"protocol": protocol},
                meta_action,
                *adds,
                {
                    "commitInfo": {
                        "operation": "CREATE TABLE",
                        "operationMetrics": _op_metrics(
                            adds, [], started=started
                        ),
                    }
                },
            ],
            version=0,
        )
    except FileExistsError:
        # version 0 is pinned: a concurrent CREATE won — clean the
        # staged data files so the loser leaves no untracked orphans
        _remove_staged(table_dir, adds)
        raise


def append(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    *,
    n_files: int = 1,
    partition_by: list[str] | None = None,
) -> int:
    """Blind append: add actions only.  When the table is partitioned
    and the caller did not spell the partitioning out, it is read from
    the declared metaData so appended files keep the Hive layout.  The
    one writer that may retry a lost version race blindly (it reads no
    table state its actions depend on — the metaData lookup only picks
    the file LAYOUT), so it opts into ``commit``'s retry loop."""
    import time as _time

    started = _time.time()
    if partition_by is None and os.path.isdir(
        os.path.join(table_dir, "_delta_log")
    ):
        # bootstrap append (no log yet) skips the lookup — there is no
        # metaData to read and the JSON glob would raise (ADVICE r10)
        meta = _latest_meta(spark, table_dir)
        if meta and meta["partitionColumns"]:
            partition_by = list(meta["partitionColumns"])
    if os.path.isdir(os.path.join(table_dir, "_delta_log")):
        df = _apply_generated(spark, table_dir, df)
        _enforce_constraints(spark, table_dir, df)
    adds = _write_data_files(
        df, table_dir, n_files=n_files, partition_by=partition_by
    )
    try:
        return commit(
            table_dir,
            [
                *adds,
                {
                    "commitInfo": {
                        "operation": "WRITE",
                        "operationMetrics": _op_metrics(
                            adds, [], started=started
                        ),
                    }
                },
            ],
            retries=5,
        )
    except FileExistsError:
        _remove_staged(table_dir, adds)
        raise


def append_evolve(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    *,
    n_files: int = 1,
) -> int:
    """SCHEMA-EVOLUTION append (the protocol's mergeSchema path, made
    native — the leg ``delta_merge.py``'s wide SCD2 recipe had to
    env-gate behind delta-spark): the commit carries BOTH the new
    data files and an updated ``metaData`` action whose schemaString
    is the UNION of the table's declared schema and the incoming
    frame's (existing columns keep their position and type; new
    columns append).  Readers reconstruct old files with nulls in the
    new columns (:func:`read_snapshot` reads every file in the
    declared schema of the version it reads).

    The evolved ``metaData`` action CARRIES the table's declared
    ``partitionColumns`` forward and the new data files are written in
    the same Hive layout (ADVICE r10 medium: dropping them silently
    mixed unpartitioned files into a partitioned table).  The commit
    never blind-retries a lost version race — the schema merge read
    table state, so the loop re-reads it before trying again."""
    import json as _json
    import time as _time

    from pyspark.sql.types import StructType

    started = _time.time()
    for attempt in range(5):
        meta = _latest_meta(spark, table_dir)
        partition_by = (
            list(meta["partitionColumns"])
            if meta["partitionColumns"]
            else None
        )
        df_gen = _apply_generated(spark, table_dir, df)
        declared = StructType.fromJson(_json.loads(meta["schemaString"]))
        merged = list(declared.fields)
        names = {f.name for f in merged}
        for f in df_gen.schema.fields:
            if f.name not in names:
                merged.append(f)
        merged_schema = StructType(merged)
        # write the incoming frame ALIGNED to the merged schema so
        # column order is stable in the new files
        aligned = df_gen.select(
            *[
                F.col(f.name) if f.name in df_gen.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in merged_schema.fields
            ]
        )
        _enforce_constraints(spark, table_dir, aligned)
        adds = _write_data_files(
            aligned, table_dir, n_files=n_files, partition_by=partition_by
        )
        try:
            return commit(
                table_dir,
                [
                    {
                        "metaData": {
                            "id": meta["id"],
                            "format": {"provider": "parquet"},
                            "schemaString": merged_schema.json(),
                            "partitionColumns": partition_by or [],
                            # the constraint registry (and any other
                            # table configuration) survives evolution
                            "configuration": dict(
                                meta["configuration"] or {}
                            ),
                        }
                    },
                    *adds,
                    {
                        "commitInfo": {
                            "operation": "WRITE (mergeSchema)",
                            "operationMetrics": _op_metrics(
                                adds, [], started=started
                            ),
                        }
                    },
                ],
            )
        except FileExistsError:
            # a concurrent commit won the version: the schema (or
            # partitioning) we merged against may be stale — unstage
            # and re-derive from the new table state
            _remove_staged(table_dir, adds)
            if attempt == 4:
                raise
    raise AssertionError("unreachable")


def overwrite(
    spark: SparkSession, df: DataFrame, table_dir: str, *, n_files: int = 1
) -> int:
    """Full overwrite: tombstone every live file, add the new ones —
    one atomic commit, so a concurrent reader sees either the old or
    the new table, never a mix (the protocol's snapshot isolation).
    Keeps a partitioned table partitioned: the declared
    ``partitionColumns`` are read from metaData and the replacement
    files written in the same Hive layout (ADVICE r10 medium).  A lost
    version race re-reads the live set before retrying — overwrite
    semantics are "replace whatever is live at commit time", so
    refreshing the tombstones (the new files stay valid) is the
    correct re-entry; blind-retrying the STALE removes could resurrect
    files a concurrent overwrite tombstoned (ADVICE r10 high)."""
    import time as _time

    started = _time.time()
    meta = _latest_meta(spark, table_dir)
    partition_by = (
        list(meta["partitionColumns"]) if meta and meta["partitionColumns"]
        else None
    )
    df = _apply_generated(spark, table_dir, df)
    _enforce_constraints(spark, table_dir, df)
    adds = _write_data_files(
        df, table_dir, n_files=n_files, partition_by=partition_by
    )
    for attempt in range(5):
        removes = [
            {"remove": {"path": p, "dataChange": True}}
            for p in _live_file_names(spark, table_dir)
        ]
        try:
            return commit(
                table_dir,
                [
                    *removes,
                    *adds,
                    {
                        "commitInfo": {
                            "operation": "OVERWRITE",
                            "operationMetrics": _op_metrics(
                                adds, removes, started=started
                            ),
                        }
                    },
                ],
            )
        except FileExistsError:
            if attempt == 4:
                _remove_staged(table_dir, adds)
                raise
    raise AssertionError("unreachable")


def _releases_manifests(fn):
    """Statement-scoped manifest lifecycle (VERDICT r12 what's-wrong
    4): DML/OPTIMIZE statements consume every scan they plan before
    committing (collect / localCheckpoint / staged data writes), so
    any per-scan manifest directory created during the statement is
    deleted the moment it returns — success or failure.  Lazy
    snapshot frames returned to USERS keep their manifests; those age
    out via :func:`manifest_scan._sweep_aged` / atexit."""
    import functools

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        from cdc_pipe_line_spark import manifest_scan as _ms

        mark = _ms.manifest_mark()
        try:
            return fn(*args, **kwargs)
        finally:
            _ms.release_after(mark)

    return wrapper


@_releases_manifests
def compact(
    spark: SparkSession,
    table_dir: str,
    *,
    partition_filter: dict[str, str] | None = None,
    target_file_bytes: int | None = None,
    min_file_bytes: int | None = None,
    dv_only: bool = False,
) -> int:
    """OPTIMIZE: rewrite live files into as few as possible,
    dataChange=false on the tombstones (readers know content is
    unchanged).  A partitioned table stays partitioned — one compacted
    file per partition directory, each add carrying its
    ``partitionValues`` (ADVICE r10 medium: the old unpartitioned
    rewrite made every later partition-pruned read match zero files).
    A lost version race restarts the WHOLE compaction (unstage, re-read
    snapshot, rewrite): a concurrent append's rows must land in the
    re-compacted files, so neither the stale tombstones nor the stale
    data files may be re-committed (ADVICE r10 high).

    The 100 TB shapes (round 11):

    - ``partition_filter`` — ``OPTIMIZE ... WHERE partition = v``:
      only the matching partition's files rewrite; compacting a
      whole 100 TB table in one statement is not a thing, compacting
      yesterday's partition is.
    - ``min_file_bytes`` — only files SMALLER than this take part
      (the small-file problem is the reason OPTIMIZE exists; already
      right-sized files are not rewritten).
    - ``target_file_bytes`` — bin-packing: the rewrite emits
      ``ceil(selected_bytes / target)`` files instead of one; on a
      partitioned table the target applies PER PARTITION (each
      partition's selected bytes choose its bin count — previously
      the parameter was silently ignored there, ADVICE r11 low).
    - ``dv_only`` — REORG TABLE ... APPLY (PURGE): only files
      carrying a DELETION VECTOR rewrite (masked, so the DV is
      absorbed); clean files are never touched — the way
      merge-on-read debt is paid down on a 100 TB table without
      rewriting the clean majority.
    """
    import math as _math
    import time as _time

    started = _time.time()
    dv_possible = _dv_feature_present(table_dir)
    for attempt in range(5):
        meta = _latest_meta(spark, table_dir)
        partition_by = (
            list(meta["partitionColumns"])
            if meta and meta["partitionColumns"]
            else None
        )
        lf = _live_frame(spark, table_dir)
        if partition_filter:
            for k, v in partition_filter.items():
                lf = lf.filter(
                    F.col("partitionValues").getItem(k) == v
                )
        if min_file_bytes is not None:
            lf = lf.filter(F.col("size") < min_file_bytes)
        if dv_only:
            lf = lf.filter(F.col("deletionVector").isNotNull())
        selected = lf.select(
            "path", "size", "partitionValues", "deletionVector"
        ).collect()
        if not selected or (
            len(selected) < 2
            and not any(r.deletionVector is not None for r in selected)
        ):
            # nothing to bin-pack: zero or one qualifying CLEAN file
            # is already optimal — no commit (a lone DV'd file still
            # compacts: the rewrite ABSORBS its deletion vector)
            return _next_version(table_dir) - 1
        sel_paths = [r.path for r in selected]
        n_files = 1
        partition_bins = None
        if target_file_bytes:
            n_files = max(
                1,
                _math.ceil(
                    sum(r.size for r in selected) / target_file_bytes
                ),
            )
            if partition_by:
                # the target applies PER PARTITION: bin counts from
                # each partition's selected bytes (ADVICE r11 low —
                # the global n_files never reached a partitioned
                # rewrite, which always produced one file/partition)
                by_part: dict = {}
                for r in selected:
                    key = tuple(
                        (r.partitionValues or {}).get(c)
                        for c in partition_by
                    )
                    by_part[key] = by_part.get(key, 0) + (r.size or 0)
                partition_bins = {
                    k: max(1, _math.ceil(v / target_file_bytes))
                    for k, v in by_part.items()
                }
        # _scan_live masks deletion vectors, so a compaction over
        # DV'd files writes their SURVIVING rows clean — OPTIMIZE is
        # how merge-on-read debt is eventually absorbed
        snap, _rel = _scan_live(
            spark, table_dir, lf, meta, dv_possible=dv_possible
        )
        if snap is None:
            return _next_version(table_dir) - 1
        removes = [
            {"remove": {"path": p, "dataChange": False}}
            for p in sel_paths
        ]
        adds = _write_data_files(
            snap,
            table_dir,
            n_files=n_files,
            partition_by=partition_by,
            partition_bins=partition_bins,
        )
        for a in adds:
            # OPTIMIZE is a pure rewrite: its adds are dataChange=false
            # like its removes, so change-data readers (read_changes,
            # the delta_stream source) see no phantom inserts
            a["add"]["dataChange"] = False
        try:
            return commit(
                table_dir,
                [
                    *removes,
                    *adds,
                    {
                        "commitInfo": {
                            "operation": (
                                "REORG (PURGE)" if dv_only else "OPTIMIZE"
                            ),
                            "operationMetrics": _op_metrics(
                                adds,
                                removes,
                                started=started,
                                extra={
                                    "numRemovedBytes": sum(
                                        r.size or 0 for r in selected
                                    )
                                },
                            ),
                        }
                    },
                ],
            )
        except FileExistsError:
            _remove_staged(table_dir, adds)
            if attempt == 4:
                raise
    raise AssertionError("unreachable")


def _rel_path(uri: str, table_dir: str) -> str:
    """``input_file_name()`` URI → the add-action-relative path."""
    from urllib.parse import unquote, urlparse

    p = unquote(urlparse(uri).path)
    return os.path.relpath(p, os.path.abspath(table_dir))


def _align_declared(
    out: DataFrame,
    schema_string: str | None,
    *,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Cast a scanned frame back to the TABLE schema recorded in
    ``metaData.schemaString`` (partition values are strings in dir
    names; Spark re-types them on read).  With COLUMN MAPPING
    enabled the scan produced PHYSICAL names; they rename to logical
    here before alignment — which is the whole read-side contract
    that makes RENAME COLUMN a metadata-only commit.  ``keep`` names
    provenance columns (``__src``) that survive the aligning select."""
    if not schema_string or schema_string == "{}":
        return out
    import json as _json

    from pyspark.sql.types import StructType

    out = _to_logical(out, _mapping_from(schema_string))
    declared = StructType.fromJson(_json.loads(schema_string))
    for f in declared.fields:
        if f.name not in out.columns:
            out = out.withColumn(f.name, F.lit(None).cast(f.dataType))
        elif out.schema[f.name].dataType != f.dataType:
            out = out.withColumn(f.name, F.col(f.name).cast(f.dataType))
    extras = [c for c in keep if c in out.columns]
    return out.select(*[f.name for f in declared.fields], *extras)


def _read_schema(schema_string: str | None, *extra):
    """The schema a parquet scan of the table's data files reads with,
    built from ``metaData.schemaString`` instead of inferred from the
    file footers (inference is one Spark job per scan): the declared
    fields under their PHYSICAL names (column mapping), all nullable,
    plus the ``extra`` StructFields (the change-data files'
    ``_change_type``).  Files written before a schema evolution
    lack the newer columns and read them as nulls, the same null-fill
    :func:`_align_declared` gives an inferred scan.  Partition columns
    are part of the schema; Spark fills them from the Hive directory
    names, parsed as their declared types.  ``None`` when the log
    declares no schema (callers infer then)."""
    if not schema_string or schema_string == "{}":
        return None
    import json as _json

    from pyspark.sql.types import StructField, StructType

    mapping = _mapping_from(schema_string)
    declared = StructType.fromJson(_json.loads(schema_string))
    return StructType(
        [
            StructField(mapping.get(f.name, f.name), f.dataType, True)
            for f in declared.fields
        ]
        + list(extra)
    )


def _dv_feature_present(table_dir: str) -> bool:
    """Whether the table's CURRENT protocol carries the
    ``deletionVectors`` reader feature — the gate without which no
    live file can legally carry a DV descriptor.  This is the scan
    fast-path switch (VERDICT r12 what's-wrong 1): on the vast
    majority of tables (no DV feature) every ``_scan_live`` skips the
    descriptor probe, the ``_metadata`` row-index materialization,
    and the anti-join scaffolding entirely.  Distinct from
    :func:`_dv_enabled` (the TABLE PROPERTY choosing the write
    strategy): a table can have the feature with the property off —
    its files may still carry vectors from earlier DML, so scans must
    keep masking."""
    proto = _current_protocol(table_dir)
    return "deletionVectors" in (proto.get("readerFeatures") or [])


def _scan_live(
    spark: SparkSession,
    table_dir: str,
    lf: DataFrame,
    meta,
    *,
    with_src: bool = False,
    with_row_idx: bool = False,
    manifest_threshold: int | None = None,
    dv_possible: bool | None = None,
):
    """Scan the files of a live-file frame, choosing the census
    strategy by size: up to the manifest threshold, a driver path
    list feeding Spark's native parquet scan (full pushdown); past
    it, the distributed manifest route
    (:mod:`cdc_pipe_line_spark.manifest_scan`) — the DML/MERGE
    candidate censuses share the same bounded shape as
    :func:`read_snapshot` (VERDICT r11 what's-wrong 3).  Returns
    ``(frame_or_None, src_is_relative)``; with ``with_src`` the frame
    carries a ``__src`` provenance column — a file URI on the native
    path (callers :func:`_rel_path` it), already table-relative on
    the manifest path — and ``with_row_idx`` adds ``__ridx``, the
    row's ORIGINAL absolute position in its file (the deletion-vector
    coordinate).

    DELETION-VECTOR masking is applied on BOTH routes: rows a live
    file's DV sidecar lists never surface (the manifest reader masks
    in-batch; the native path anti-joins the sidecar rows against
    parquet's ``_metadata.row_index`` — file NAMES are uuid-unique,
    so the join key needs no URI normalization).  ``dv_possible``
    (default: derived from the protocol's reader features) gates ALL
    of that: on a table whose protocol never had the deletionVectors
    feature, no descriptor can exist, so the probe carries no DV
    column and the scan plans no mask scaffolding at all — the non-DV
    fast path (VERDICT r12 what's-wrong 1)."""
    from cdc_pipe_line_spark import manifest_scan as _ms

    threshold = (
        manifest_threshold
        if manifest_threshold is not None
        else _ms.DEFAULT_THRESHOLD
    )
    if dv_possible is None:
        dv_possible = _dv_feature_present(table_dir)
    schema_string = meta["schemaString"] if meta else None
    probe_cols = (
        ["path", F.col("deletionVector").alias("dv"), "stats"]
        if dv_possible
        else ["path"]
    )
    probe = lf.select(*probe_cols).limit(threshold + 1).collect()
    if not probe:
        return None, False
    if len(probe) <= threshold:
        items = [
            (
                r.path,
                r.dv if dv_possible else None,
                r.stats if dv_possible else None,
            )
            for r in probe
        ]
        return (
            _plan_native_scan(
                spark,
                table_dir,
                items,
                schema_string,
                with_src=with_src,
                with_row_idx=with_row_idx,
            ),
            False,
        )
    scan = _ms.scan_live_files(
        spark,
        table_dir,
        lf,
        schema_string,
        list(meta["partitionColumns"] or []) if meta else [],
        n_live=lf.count(),
        with_src=with_src,
        with_row_idx=with_row_idx,
    )
    return (
        _align_declared(scan, schema_string, keep=("__src", "__ridx")),
        True,
    )


def _plan_native_scan(
    spark: SparkSession,
    table_dir: str,
    items: list[tuple],
    schema_string: str | None,
    *,
    with_src: bool = False,
    with_row_idx: bool = False,
) -> DataFrame:
    """Plan ONE native parquet scan over ``items`` — (relative path,
    deletionVector descriptor or None, add-stats JSON or None) — with
    DV anti-join masking, provenance columns, and declared-schema
    alignment.  Shared by :func:`_scan_live` (items from the
    live-file frame probe) and the small-log driver replay
    (:func:`_replay_log_driver`).  The scan reads with the declared
    schema (:func:`_read_schema`), so planning it runs no Spark job;
    only a log without a schema falls back to footer inference."""
    dv_files = [it for it in items if it[1] is not None]
    need_meta_cols = bool(dv_files) or with_row_idx
    reader = spark.read.option("basePath", table_dir)
    schema = _read_schema(schema_string)
    reader = (
        reader.schema(schema)
        if schema is not None
        else reader.option("mergeSchema", "true")
    )
    scan = reader.parquet(*[os.path.join(table_dir, it[0]) for it in items])
    keep: list[str] = []
    if need_meta_cols:
        # __src must derive from _metadata HERE: input_file_name
        # is illegal after the DV anti-join introduces a second
        # file source (MULTI_SOURCES_UNSUPPORTED_FOR_EXPRESSION)
        scan = scan.withColumn(
            "__fname",
            F.substring_index(F.col("_metadata.file_path"), "/", -1),
        ).withColumn("__ridx", F.col("_metadata.row_index"))
        keep = ["__fname", "__ridx"]
        if with_src:
            scan = scan.withColumn("__src", F.col("_metadata.file_path"))
            keep.append("__src")
    if dv_files:
        scan = scan.join(
            F.broadcast(_dv_rows(spark, table_dir, dv_files)),
            ["__fname", "__ridx"],
            "left_anti",
        )
    if with_src and not need_meta_cols:
        scan = scan.withColumn("__src", F.input_file_name())
        keep.append("__src")
    scan = _align_declared(scan, schema_string, keep=tuple(keep))
    if not with_row_idx and "__ridx" in scan.columns:
        scan = scan.drop("__ridx", "__fname")
    elif "__fname" in scan.columns:
        scan = scan.drop("__fname")
    return scan


def _dv_rows(
    spark: SparkSession,
    table_dir: str,
    dv_files: list[tuple],
) -> DataFrame:
    """The deleted-row coordinates of ``dv_files`` (data-file relative
    path, deletionVector descriptor Row, add-stats JSON) as one frame
    ``(__fname, __ridx)`` — keyed by data-file NAME (uuid-unique per
    table, so no URI normalization).  One descriptor row per file
    fans out through ``mapInPandas``: each task DECODES its vectors
    with :mod:`cdc_pipe_line_spark.dvbitmap` (roaring bitmap / inline
    / legacy parquet), VALIDATED — CRC, sizeInBytes, cardinality, and
    every index < the file's footer ``numRecords`` — so a corrupt
    vector raises instead of silently under-deleting (VERDICT r12
    what's-wrong 3).  The caller's census is threshold-bounded, and
    heavily-DV'd tables cross into the manifest route where masking
    is in-reader."""
    import json as _json

    abs_table = os.path.abspath(table_dir)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rows = []
    descs = []
    total_bytes = 0
    for data, dv, stats in dv_files:
        n_rec = None
        if stats:
            n_rec = _json.loads(stats).get("numRecords")
        as_dict = dv.asDict() if hasattr(dv, "asDict") else dict(dv)
        desc = {k: v for k, v in as_dict.items() if v is not None}
        total_bytes += int(desc.get("sizeInBytes") or 0)
        descs.append((os.path.basename(data), desc, n_rec))
        rows.append(
            (
                os.path.basename(data),
                _json.dumps(desc),
                int(n_rec) if n_rec is not None else None,
            )
        )
    if total_bytes <= 4 << 20:
        # SMALL vectors decode DRIVER-SIDE (same validation): a few
        # MB of roaring payload is microseconds of numpy, while the
        # mapInPandas route pays a Python-worker + Arrow spin-up on
        # the hot read path of every small DV table
        import numpy as _np
        import pandas as _pd

        from cdc_pipe_line_spark import dvbitmap as _dvb

        frames = []
        for fname, desc, n_rec in descs:
            idx = _dvb.read_dv(abs_table, desc)
            if n_rec is not None and idx.size and int(idx.max()) >= int(
                n_rec
            ):
                raise ValueError(
                    f"deletion vector of {fname}: row index "
                    f"{int(idx.max())} out of range (file has "
                    f"{int(n_rec)} rows) — the vector or its "
                    f"descriptor is corrupt"
                )
            frames.append(
                _pd.DataFrame(
                    {"__fname": fname, "__ridx": idx.astype(_np.int64)}
                )
            )
        return spark.createDataFrame(
            _pd.concat(frames, ignore_index=True),
            "__fname string, __ridx bigint",
        )
    desc_df = spark.createDataFrame(
        rows, "__fname string, __desc string, __nrec bigint"
    )

    def _expand(batches):
        import sys as _sys

        if pkg_root not in _sys.path:
            _sys.path.insert(0, pkg_root)
        import json as _j

        import numpy as _np
        import pandas as _pd

        from cdc_pipe_line_spark import dvbitmap as _dvb

        for pdf in batches:
            for fname, dj, nrec in zip(
                pdf["__fname"], pdf["__desc"], pdf["__nrec"]
            ):
                idx = _dvb.read_dv(abs_table, _j.loads(dj))
                if (
                    nrec is not None
                    and not _pd.isna(nrec)
                    and idx.size
                    and int(idx.max()) >= int(nrec)
                ):
                    raise ValueError(
                        f"deletion vector of {fname}: row index "
                        f"{int(idx.max())} out of range (file has "
                        f"{int(nrec)} rows) — the vector or its "
                        f"descriptor is corrupt"
                    )
                yield _pd.DataFrame(
                    {
                        "__fname": fname,
                        "__ridx": idx.astype(_np.int64),
                    }
                )

    return desc_df.repartition(
        max(1, min(len(rows), 64))
    ).mapInPandas(_expand, "__fname string, __ridx bigint")


def set_table_properties(
    spark: SparkSession, table_dir: str, props: dict[str, str]
) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES: merge ``props`` into the
    table configuration (one replacement metaData commit).  The
    generic property surface — ``delta.appendOnly`` (enforced by
    every subsequent commit: data-changing removes are refused),
    retention knobs, or any custom key.  Feature-gating properties
    with protocol requirements have dedicated upgrades
    (:func:`enable_deletion_vectors`, :func:`enable_column_mapping`)."""
    meta = _latest_meta(spark, table_dir)
    if meta is None:
        raise ValueError(f"no delta table at {table_dir}")
    cfg = dict(meta["configuration"] or {})
    cfg.update({k: str(v) for k, v in props.items()})
    return commit(
        table_dir,
        [
            _meta_action_from(meta, cfg),
            {
                "commitInfo": {
                    "operation": "SET TBLPROPERTIES",
                    "operationParameters": {
                        "properties": ",".join(sorted(props))
                    },
                }
            },
        ],
    )


def enable_deletion_vectors(spark: SparkSession, table_dir: str) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES
    ('delta.enableDeletionVectors' = 'true'): upgrade the table to
    MERGE-ON-READ DML (the Delta deletionVectors table feature —
    reader 3 / writer 7 with the feature names in
    readerFeatures/writerFeatures, per the spec's table-features
    gate).  From then on DELETE / UPDATE / MERGE write a
    deletion-vector SIDECAR for the matched rows instead of
    rewriting their files copy-on-write: a 1-row mutation costs
    DV-bytes, not file-bytes — the amplification the reference's own
    telemetry shows (19 s single-row SCD2 UPDATEs, BASELINE.md) is
    exactly what this removes at 100 TB.  Readers mask DV'd rows on
    both scan routes; OPTIMIZE absorbs DVs by rewriting masked
    content clean.

    Storage is the SPEC's encoding end-to-end (round 13; VERDICT r12
    missing-item 2 closed): descriptors carry
    storageType/pathOrInlineDv/offset/sizeInBytes/cardinality, the
    payload is a portable RoaringBitmapArray inside the versioned
    ``deletion_vector_<uuid>.bin`` framing (big-endian size + CRC-32)
    named by a z85-encoded UUID, and tiny vectors inline
    (storageType ``i``) — :mod:`cdc_pipe_line_spark.dvbitmap`.
    Vectors this engine wrote before round 13 (parquet sidecars under
    ``_deletion_vectors/``) remain readable."""
    meta = _latest_meta(spark, table_dir)
    if meta is None:
        raise ValueError(f"no delta table at {table_dir}")
    cfg = dict(meta["configuration"] or {})
    if cfg.get("delta.enableDeletionVectors") == "true":
        raise ValueError("deletion vectors already enabled")
    cfg["delta.enableDeletionVectors"] = "true"
    return commit(
        table_dir,
        [
            *_protocol_upgrade(
                table_dir,
                3,
                7,
                reader_features=["deletionVectors"],
                writer_features=["deletionVectors"],
            ),
            _meta_action_from(meta, cfg),
            {"commitInfo": {"operation": "SET DELETION VECTORS"}},
        ],
    )


def enable_in_commit_timestamps(
    spark: SparkSession, table_dir: str
) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES
    ('delta.enableInCommitTimestamps' = 'true'): upgrade the table to
    SPEC in-commit timestamps (the ``inCommitTimestamp`` writer
    feature, minWriterVersion 7 table-features gate).  From then on
    every commit's ``commitInfo`` — always the FIRST action in the
    file — carries ``inCommitTimestamp``, the clock TIMESTAMP AS OF
    resolves against; versions BEFORE enablement keep resolving by
    file modification time, the boundary the spec records in
    ``delta.inCommitTimestampEnablementVersion`` /
    ``delta.inCommitTimestampEnablementTimestamp`` (set here unless
    the table is enabled from birth — version 0 — where the whole
    history is ICT and the spec omits them).  VERDICT r13
    next-item 1: the reference's Delta 2.4 logs imply mtime-based
    time travel; this is the Delta 3.x upgrade path an external
    reader agrees with on both sides of the boundary."""
    import time as _time

    meta = _latest_meta(spark, table_dir)
    if meta is None:
        raise ValueError(f"no delta table at {table_dir}")
    cfg = dict(meta["configuration"] or {})
    if cfg.get("delta.enableInCommitTimestamps") == "true":
        raise ValueError("in-commit timestamps already enabled")
    # the enablement commit's version and ICT go INTO its own
    # metaData, so both are computed up front and the version is
    # pinned — losing a concurrent race surfaces to the caller
    # rather than committing properties that name the wrong version
    v = _next_version(table_dir)
    ict = int(_time.time() * 1000)
    prev = _prev_commit_ts(table_dir, v)
    if prev is not None:
        ict = max(prev + 1, ict)
    cfg["delta.enableInCommitTimestamps"] = "true"
    if v > 0:
        cfg["delta.inCommitTimestampEnablementVersion"] = str(v)
        cfg["delta.inCommitTimestampEnablementTimestamp"] = str(ict)
    return commit(
        table_dir,
        [
            *_protocol_upgrade(
                table_dir,
                1,
                7,
                writer_features=["inCommitTimestamp"],
            ),
            _meta_action_from(meta, cfg),
            {
                "commitInfo": {
                    "operation": "SET IN-COMMIT TIMESTAMPS",
                    "timestamp": ict,
                    "inCommitTimestamp": ict,
                }
            },
        ],
        version=v,
    )


def _write_dv_sidecars(
    spark: SparkSession,
    table_dir: str,
    affected: DataFrame,
    touched: list[str],
    existing_dv: dict[str, dict],
) -> dict[str, dict]:
    """Write ONE merged deletion vector per touched file in the
    SPEC's storage format (:mod:`cdc_pipe_line_spark.dvbitmap` —
    RoaringBitmapArray payload, z85-UUID ``deletion_vector_*.bin``
    framing, inline descriptors for tiny vectors): the newly-affected
    row coordinates (``affected``: ``__src`` — URI or relative — and
    ``__ridx``) unioned with each file's EXISTING vector rows
    (``existing_dv``: data-file relative path → current descriptor;
    vectors are immutable, every mutation writes a NEW merged one, so
    historical versions keep reading their old descriptors — the
    same append-only property time travel already relies on).

    The affected rows shuffle once by file name; each
    ``applyInPandas`` task decodes its file's previous vector,
    unions, roaring-encodes, and writes the ``.bin`` into a staging
    directory EXECUTOR-SIDE (bitmap bytes never cross the driver —
    the shape a real Delta writer has); the driver only renames the
    bounded per-file results into the table root, so a speculative
    or retried task's duplicate lands in staging and is swept, never
    committed.  Returns ``{data-file relative path: deletionVector
    descriptor}``."""
    import json as _json
    import shutil as _shutil
    import uuid as _uuid

    fname_to_rel = {os.path.basename(p): p for p in touched}
    existing_by_fname = {
        os.path.basename(rel): {
            k: v for k, v in dict(d).items() if v is not None
        }
        for rel, d in existing_dv.items()
    }
    abs_table = os.path.abspath(table_dir)
    stage = os.path.join(abs_table, f"__dvstage-{_uuid.uuid4().hex}")
    os.makedirs(stage, exist_ok=True)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    rows = affected.select(
        F.substring_index(F.col("__src"), "/", -1).alias("__fname"),
        F.col("__ridx").cast("bigint").alias("row_index"),
    )

    def _encode(key, pdf):
        import sys as _sys

        if pkg_root not in _sys.path:
            _sys.path.insert(0, pkg_root)
        import numpy as _np
        import pandas as _pd

        from cdc_pipe_line_spark import dvbitmap as _dvb

        fname = key[0]
        idx = _np.unique(
            pdf["row_index"].to_numpy(dtype="int64").astype(_np.uint64)
        )
        prev = existing_by_fname.get(fname)
        if prev is not None:
            idx = _np.union1d(idx, _dvb.read_dv(abs_table, prev))
        d = _dvb.make_descriptor(stage, idx)
        return _pd.DataFrame(
            [
                {
                    "fname": fname,
                    "storageType": d["storageType"],
                    "pathOrInlineDv": d["pathOrInlineDv"],
                    "offset": d.get("offset"),
                    "sizeInBytes": d["sizeInBytes"],
                    "cardinality": d["cardinality"],
                }
            ]
        )

    res = (
        rows.groupBy("__fname")
        .applyInPandas(
            _encode,
            "fname string, storageType string, pathOrInlineDv string, "
            "offset bigint, sizeInBytes bigint, cardinality bigint",
        )
        .collect()
    )
    from cdc_pipe_line_spark import dvbitmap as _dvb

    out: dict[str, dict] = {}
    for r in res:
        d: dict = {
            "storageType": r.storageType,
            "pathOrInlineDv": r.pathOrInlineDv,
            "sizeInBytes": int(r.sizeInBytes),
            "cardinality": int(r.cardinality),
        }
        if r.offset is not None:
            d["offset"] = int(r.offset)
        if r.storageType == "u":
            rel = _dvb.dv_file_relpath(d)
            os.replace(
                os.path.join(stage, rel), os.path.join(abs_table, rel)
            )
        out[fname_to_rel[r.fname]] = d
    _shutil.rmtree(stage, ignore_errors=True)
    return out


def _remove_dv_staged(table_dir: str, descriptors: dict[str, dict]) -> None:
    from cdc_pipe_line_spark import dvbitmap as _dvb

    for d in descriptors.values():
        rel = _dvb.dv_file_relpath(d)
        if not rel:
            continue  # inline — nothing on disk
        try:
            os.remove(os.path.join(table_dir, rel))
        except OSError:
            pass


@_releases_manifests
def _dv_rewrite_where(
    spark: SparkSession,
    table_dir: str,
    condition: str,
    operation: str,
    set_exprs: dict[str, str] | None = None,
    *,
    skipping: list[tuple] | None = None,
    n_files: int = 1,
    manifest_threshold: int | None = None,
) -> int:
    """MERGE-ON-READ core shared by :func:`delete_where` and
    :func:`update_where` when the table has deletion vectors enabled:

    1. PRUNE + LOCATE exactly as the copy-on-write path, over the
       DV-MASKED scan (already-deleted rows can never re-match).
    2. Instead of rewriting the touched files, write one merged DV
       sidecar per file covering the matched rows' positions and
       re-commit each file's ``add`` with the descriptor (remove +
       add of the same path, one atomic commit).  UPDATE additionally
       appends the post-image rows as NEW files.
    3. The spec's ``cdc`` change file carries the row-level feed, so
       CDF stays exact.

    Touched BYTES are DV-rows + post-image rows — never the touched
    files' full content; the copy-on-write amplification (a 1-row
    mutation rewriting a whole file) is gone."""
    import json as _json
    import time as _time

    started = _time.time()
    cond = F.coalesce(F.expr(condition), F.lit(False))
    if skipping:
        cond = cond & _skipping_row_cond(skipping)
    for attempt in range(5):
        meta = _latest_meta(spark, table_dir)
        partition_by = (
            list(meta["partitionColumns"])
            if meta and meta["partitionColumns"]
            else None
        )
        lf_all = _live_frame(spark, table_dir, pin=True)
        lf = lf_all
        if skipping:
            lf = lf.filter(
                _skipping_keep(
                    skipping,
                    _mapping_from(_current_schema_string(table_dir)),
                )
            )
        scan, src_rel = _scan_live(
            spark,
            table_dir,
            lf,
            meta,
            with_src=True,
            with_row_idx=True,
            manifest_threshold=manifest_threshold,
            dv_possible=True,  # by construction: the DV write path
        )
        if scan is None:
            return _next_version(table_dir) - 1
        matched = scan.filter(cond).localCheckpoint(eager=True)
        srcs = [
            r["__src"]
            for r in matched.select("__src").distinct().collect()
        ]
        touched = sorted(
            s if src_rel else _rel_path(s, table_dir) for s in srcs
        )
        if not touched:
            return _next_version(table_dir) - 1
        payloads = {
            r.path: r
            for r in lf_all.filter(
                F.col("path").isin(touched)
            ).collect()
        }
        existing_dv = {
            p: r.deletionVector.asDict()
            for p, r in payloads.items()
            if r.deletionVector is not None
        }
        descriptors = _write_dv_sidecars(
            spark,
            table_dir,
            matched.select("__src", "__ridx"),
            touched,
            existing_dv,
        )
        removes = [
            {"remove": {"path": p, "dataChange": True}} for p in touched
        ]
        dv_adds = []
        for p in touched:
            r = payloads[p]
            add = {"path": p, "size": r.size, "dataChange": True}
            if r.partitionValues:
                add["partitionValues"] = dict(r.partitionValues)
            if r.stats:
                add["stats"] = r.stats
            add["deletionVector"] = descriptors[p]
            dv_adds.append({"add": add})
        tcols = [c for c in matched.columns if c not in ("__src", "__ridx")]
        body = matched.select(*tcols)
        data_adds: list[dict] = []
        if operation == "UPDATE":
            t_types = {
                f.name: f.dataType for f in body.schema.fields
            }
            unknown = set(set_exprs or {}) - set(tcols)
            if unknown:
                raise ValueError(
                    f"UPDATE SET on unknown columns: {unknown}"
                )
            post = body.select(
                *[
                    F.expr(set_exprs[c]).cast(t_types[c]).alias(c)
                    if c in (set_exprs or {})
                    else F.col(c)
                    for c in tcols
                ]
            )
            post = _apply_generated(spark, table_dir, post)
            _enforce_constraints(spark, table_dir, post)
            data_adds = _write_data_files(
                post,
                table_dir,
                n_files=n_files,
                partition_by=partition_by,
            )
            ch = body.withColumn(
                "_change_type", F.lit("update_preimage")
            ).unionByName(
                post.withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            )
        else:
            ch = body.withColumn("_change_type", F.lit("delete"))
        cdc_actions = []
        act = _write_change_data(ch, table_dir)
        if act:
            cdc_actions.append(act)
        ch_counts = _change_counts(table_dir, cdc_actions)
        extra: dict = {
            "numDeletionVectorsAdded": len(descriptors),
            "numDeletionVectorsUpdated": len(existing_dv),
        }
        if operation == "DELETE":
            extra["numDeletedRows"] = ch_counts.get("delete", 0)
        else:
            extra["numUpdatedRows"] = ch_counts.get(
                "update_postimage", 0
            )
        try:
            return commit(
                table_dir,
                [
                    *removes,
                    *dv_adds,
                    *data_adds,
                    *cdc_actions,
                    {
                        "commitInfo": {
                            "operation": operation,
                            "operationParameters": {
                                "predicate": condition
                            },
                            "operationMetrics": _op_metrics(
                                data_adds,
                                removes,
                                started=started,
                                extra=extra,
                            ),
                        }
                    },
                ],
            )
        except FileExistsError:
            _remove_dv_staged(table_dir, descriptors)
            _remove_staged(table_dir, data_adds)
            for a in cdc_actions:
                try:
                    os.remove(
                        os.path.join(table_dir, a["cdc"]["path"])
                    )
                except OSError:
                    pass
            if attempt == 4:
                raise
    raise AssertionError("unreachable")


@_releases_manifests
def _rewrite_where(
    spark: SparkSession,
    table_dir: str,
    condition: str,
    rewrite,
    operation: str,
    *,
    change_rows=None,
    skipping: list[tuple] | None = None,
    n_files: int = 1,
    manifest_threshold: int | None = None,
) -> int:
    """Copy-on-write core shared by :func:`delete_where` and
    :func:`update_where` — the real Delta writer's row-level
    mutation shape, which is what makes it survive 100 TB:

    1. PRUNE: stats/partition metadata cuts the live set to
       candidate files (``skipping`` conjuncts; files without stats
       always stay candidates).
    2. LOCATE: one scan of the candidates only, counting predicate
       hits per source file — files with zero matching rows are
       never rewritten (their bytes are never touched again).
    3. REWRITE: only the touched files are re-read and rewritten
       without/with the mutation; a file whose every row matched a
       DELETE simply tombstones (the rewrite produced zero rows, so
       no replacement add at all).
    4. COMMIT: tombstones + replacement adds in ONE atomic commit
       (dataChange=true — a change-data reader sees the mutation),
       plus the spec's ``cdc`` action when ``change_rows`` supplies
       the row-level change frame: :func:`read_changes` then reports
       ONLY the mutated rows instead of the touched files' full
       churn.

    ``skipping`` conjuncts are PART OF the statement's predicate:
    the effective condition is ``condition AND <conjuncts>``, applied
    identically at file-pruning level and at row level — so a conjunct
    NOT implied by ``condition`` narrows the statement exactly (the
    partition-scoped-DML shape), never silently (ADVICE r11 medium:
    the old contract pruned files by the conjuncts but mutated rows by
    ``condition`` alone, so rows in pruned files escaped while
    identical rows in touched files did not).

    A lost version race restarts the whole attempt from fresh state
    (the compact/overwrite re-entry discipline: stale tombstones
    must never be re-committed).  Returns the committed version; a
    predicate matching no rows is a NO-OP that commits nothing and
    returns the current version."""
    import json as _json
    import time as _time

    started = _time.time()
    cond = F.coalesce(F.expr(condition), F.lit(False))
    if skipping:
        cond = cond & _skipping_row_cond(skipping)
    # one protocol read per STATEMENT: without the deletionVectors
    # feature no file can carry a descriptor, so every scan below
    # takes the fast path (no DV probe, no _metadata columns)
    dv_possible = _dv_feature_present(table_dir)
    for attempt in range(5):
        meta = _latest_meta(spark, table_dir)
        partition_by = (
            list(meta["partitionColumns"])
            if meta and meta["partitionColumns"]
            else None
        )
        lf = _live_frame(spark, table_dir)
        if skipping:
            lf = lf.filter(
                _skipping_keep(
                    skipping,
                    _mapping_from(_current_schema_string(table_dir)),
                )
            )
        scan, src_rel = _scan_live(
            spark,
            table_dir,
            lf,
            meta,
            with_src=True,
            manifest_threshold=manifest_threshold,
            dv_possible=dv_possible,
        )
        if scan is None:
            return _next_version(table_dir) - 1
        hits = (
            scan.filter(cond)
            .groupBy("__src")
            .agg(F.count("*"))
            .collect()
        )
        # bounded by files that really contain matches — the set the
        # statement rewrites anyway
        touched = sorted(
            {
                r["__src"] if src_rel else _rel_path(r["__src"], table_dir)
                for r in hits
            }
        )
        if not touched:
            return _next_version(table_dir) - 1
        # the rewrite re-read is DV-MASKED too (a table can carry
        # deletion vectors while a statement runs copy-on-write —
        # use_dv=False): a raw file read would RESURRECT the DV'd
        # rows into the replacement files.  The rewrite therefore
        # also absorbs any DV the touched files carried.
        src, _src_rel = _scan_live(
            spark,
            table_dir,
            lf.filter(F.col("path").isin(touched)),
            meta,
            dv_possible=dv_possible,
        )
        out = rewrite(src, cond)
        out = _apply_generated(spark, table_dir, out)
        _enforce_constraints(spark, table_dir, out)
        adds = _write_data_files(
            out, table_dir, n_files=n_files, partition_by=partition_by
        )
        # an all-rows-deleted rewrite leaves an empty file: drop it
        # (pure tombstone) instead of adding a zero-row data file
        empty = [
            a
            for a in adds
            if a["add"].get("stats")
            and _json.loads(a["add"]["stats"])["numRecords"] == 0
        ]
        if empty:
            _remove_staged(table_dir, empty)
            adds = [a for a in adds if a not in empty]
        removes = [
            {"remove": {"path": p, "dataChange": True}} for p in touched
        ]
        cdc_actions = []
        if change_rows is not None:
            ch = change_rows(src, cond)
            act = _write_change_data(ch, table_dir)
            if act:
                cdc_actions.append(act)
        ch_counts = _change_counts(table_dir, cdc_actions)
        out_rows = sum(
            int(_json.loads(a["add"]["stats"])["numRecords"])
            for a in adds
            if a["add"].get("stats")
        )
        extra: dict = {}
        if operation == "DELETE":
            extra = {
                "numDeletedRows": ch_counts.get("delete", 0),
                "numCopiedRows": out_rows,
            }
        elif operation == "UPDATE":
            upd = ch_counts.get("update_postimage", 0)
            extra = {
                "numUpdatedRows": upd,
                "numCopiedRows": max(0, out_rows - upd),
            }
        try:
            return commit(
                table_dir,
                [
                    *removes,
                    *adds,
                    *cdc_actions,
                    {
                        "commitInfo": {
                            "operation": operation,
                            "operationParameters": {
                                "predicate": condition
                            },
                            "operationMetrics": _op_metrics(
                                adds,
                                removes,
                                started=started,
                                extra=extra,
                            ),
                        }
                    },
                ],
            )
        except FileExistsError:
            _remove_staged(table_dir, adds)
            for a in cdc_actions:
                try:
                    os.remove(
                        os.path.join(table_dir, a["cdc"]["path"])
                    )
                except OSError:
                    pass
            if attempt == 4:
                raise
    raise AssertionError("unreachable")


def delete_where(
    spark: SparkSession,
    table_dir: str,
    condition: str,
    *,
    skipping: list[tuple] | None = None,
    n_files: int = 1,
    manifest_threshold: int | None = None,
    use_dv: bool | None = None,
) -> int:
    """DELETE FROM table WHERE ``condition`` (a SQL boolean
    expression) — copy-on-write row-level delete on the native log
    (reference parity: the Delta DELETE the reference issues through
    delta-spark, ``deltaprocessing.py:96-101``).  Rows where the
    condition is NULL do not match (SQL's WHERE semantics) and are
    kept.  ``skipping`` conjuncts are PART OF the delete predicate
    (``condition AND conjuncts``), applied at file level for pruning
    and at row level for exactness.

    With deletion vectors enabled on the table (``use_dv`` overrides)
    the delete is MERGE-ON-READ: matched row positions land in a DV
    sidecar and no data file is rewritten —
    :func:`_dv_rewrite_where`."""
    if use_dv if use_dv is not None else _dv_enabled(table_dir):
        return _dv_rewrite_where(
            spark,
            table_dir,
            condition,
            "DELETE",
            skipping=skipping,
            n_files=n_files,
            manifest_threshold=manifest_threshold,
        )
    return _rewrite_where(
        spark,
        table_dir,
        condition,
        lambda df, c: df.filter(~c),
        "DELETE",
        change_rows=lambda df, c: df.filter(c).withColumn(
            "_change_type", F.lit("delete")
        ),
        skipping=skipping,
        n_files=n_files,
        manifest_threshold=manifest_threshold,
    )


def update_where(
    spark: SparkSession,
    table_dir: str,
    condition: str,
    set_exprs: dict[str, str],
    *,
    skipping: list[tuple] | None = None,
    n_files: int = 1,
    manifest_threshold: int | None = None,
    use_dv: bool | None = None,
) -> int:
    """UPDATE table SET col = expr, ... WHERE ``condition`` —
    copy-on-write row-level update on the native log (the single-row
    SCD2 UPDATE the reference runs per change,
    ``deltaprocessing.py:116``).  Every SET expression evaluates
    against the OLD row (one projection builds all new values — SQL
    UPDATE semantics, no left-to-right chaining), is cast back to
    the column's declared type, and non-matching rows pass through
    byte-identical.

    With deletion vectors enabled the update is MERGE-ON-READ:
    matched rows DV-delete in place and their post-images append as
    new files — non-matching rows are never touched at all."""
    if use_dv if use_dv is not None else _dv_enabled(table_dir):
        return _dv_rewrite_where(
            spark,
            table_dir,
            condition,
            "UPDATE",
            set_exprs,
            skipping=skipping,
            n_files=n_files,
            manifest_threshold=manifest_threshold,
        )

    def _apply(df: DataFrame, c):
        cols = []
        for name in df.columns:
            if name in set_exprs:
                cols.append(
                    F.when(
                        c,
                        F.expr(set_exprs[name]).cast(
                            df.schema[name].dataType
                        ),
                    )
                    .otherwise(F.col(name))
                    .alias(name)
                )
            else:
                cols.append(F.col(name))
        unknown = set(set_exprs) - set(df.columns)
        if unknown:
            raise ValueError(f"UPDATE SET on unknown columns: {unknown}")
        return df.select(*cols)

    def _changes(df: DataFrame, c):
        pre = df.filter(c).withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = _apply(df.filter(c), F.lit(True)).withColumn(
            "_change_type", F.lit("update_postimage")
        )
        return pre.unionByName(post)

    return _rewrite_where(
        spark,
        table_dir,
        condition,
        _apply,
        "UPDATE",
        change_rows=_changes,
        skipping=skipping,
        n_files=n_files,
        manifest_threshold=manifest_threshold,
    )


@_releases_manifests
def merge_into(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    on: str,
    *,
    when_matched_update: dict[str, str] | None = None,
    when_matched_update_condition: str | None = None,
    when_matched_delete_condition: str | None = None,
    when_not_matched_insert: dict[str, str] | None = None,
    when_not_matched_insert_condition: str | None = None,
    skipping: list[tuple] | None = None,
    n_files: int = 1,
    target_alias: str = "t",
    source_alias: str = "s",
    schema_evolution: bool = False,
    manifest_threshold: int | None = None,
    use_dv: bool | None = None,
) -> int:
    """MERGE INTO the native Delta table — the statement the
    reference runs through delta-spark for SCD2
    (``deltaprocessing.py:96-116``), implemented with the same
    copy-on-write shape real Delta uses:

    1. LOCATE + CARDINALITY (one job, with a when-matched clause):
       join the (stats-prunable) candidate files' rows against
       ``source`` on the ``on`` condition (aliases ``t`` = target,
       ``s`` = source), count the matches per target row and collect
       each file's maximum — files with zero matches are NEVER
       rewritten, and a target row matching MULTIPLE source rows
       raises, the protocol's own "multiple source rows matched"
       error (silently applying an arbitrary one would be a wrong
       answer).
    2. ONE JOIN: the touched files' rows full-outer-join the source
       once (left-outer without an insert clause), projected once —
       and pinned — into clause flags, post-images (every SET
       expression, referencing ``s.`` and/or ``t.``, evaluates
       against the pre-merge row), matched pre-images and the rows
       to insert: source rows matching NO target row (any match
       lives in a touched file by construction) through the
       ``when_not_matched_insert`` mapping (target column ->
       expression over ``s.``; missing columns default to NULL of
       the declared type).  The data write, the change-data write
       and the deletion vectors all read that pin; unmatched target
       rows pass through byte-identical.
    3. An INSERT-ONLY merge rewrites no file: the source anti-joins
       the (masked) table and only the inserts append.
    4. COMMIT: tombstones + rewrites + inserts, one atomic commit
       (``dataChange=true`` throughout — a change-data reader sees
       the merge).

    Clause conditions (``when_matched_update_condition`` etc.) gate
    their clause exactly as the delta-spark builder's ``condition=``
    arguments do — a condition evaluating to NULL does not apply the
    clause (three-valued semantics).  ``skipping`` conjuncts AND into
    the ON condition target-side, so file pruning and row-level match
    semantics agree exactly (a target row outside the slice is NOT
    MATCHED — the partition-scoped merge, stated, never silent).  ``schema_evolution=True`` (the builder's
    ``withSchemaEvolution()``) lets the INSERT mapping bind columns
    the target lacks: the merge commit carries a replacement
    metaData whose schema appends them (types analyzed from the
    source expressions) and existing rows null-fill — Delta's
    documented automatic-evolution semantics; without it an unknown
    INSERT or UPDATE column raises.  A lost version race restarts
    the whole attempt from fresh state.  Returns the committed
    version; a merge that touches nothing and inserts nothing is a
    no-op returning the current version."""
    if not (
        when_matched_update
        or when_matched_delete_condition
        or when_not_matched_insert is not None
    ):
        raise ValueError("merge_into: no WHEN clause given")

    def _gate(cond: str | None):
        # SQL/Delta three-valued semantics: a clause condition that
        # evaluates to NULL does NOT apply the clause.  Without the
        # coalesce a NULL delete condition made `keep` NULL and
        # filter(keep) dropped the row — a silent delete that the
        # change feed (filter(~keep)) ALSO missed (ADVICE r11 high).
        return (
            F.coalesce(F.expr(cond), F.lit(False))
            if cond
            else F.lit(True)
        )

    import time as _time

    started = _time.time()
    dv = use_dv if use_dv is not None else _dv_enabled(table_dir)
    # masking possibility is a PROTOCOL question, independent of the
    # chosen write mode: a COW merge over files that carry vectors
    # must still mask; a never-DV table skips all mask scaffolding
    dv_possible = dv or _dv_feature_present(table_dir)
    has_matched_clause = bool(
        when_matched_update or when_matched_delete_condition
    )
    # skipping conjuncts are PART OF the merge semantics: they AND
    # into the ON condition target-side (the partition-scoped-merge
    # shape), so the rows file pruning skips are exactly the rows the
    # join treats as not-matched — never a silent divergence between
    # pruned and touched files (ADVICE r11 medium).  A target row
    # outside the slice is NOT MATCHED by definition; callers whose
    # conjuncts do not partition the join keys get the documented
    # ON-with-conjuncts semantics, not duplicates by accident.
    on_cond = F.expr(on)
    if skipping:
        on_cond = on_cond & _skipping_row_cond(
            skipping, qualifier=target_alias
        )
    src = source.localCheckpoint(eager=True)
    for attempt in range(5):
        meta = _latest_meta(spark, table_dir)
        partition_by = (
            list(meta["partitionColumns"])
            if meta and meta["partitionColumns"]
            else None
        )
        lf = _live_frame(spark, table_dir)
        if skipping:
            lf = lf.filter(
                _skipping_keep(
                    skipping,
                    _mapping_from(_current_schema_string(table_dir)),
                )
            )
        # the locate join also checks cardinality, so it groups the
        # matches by target row: (__src, __ridx)
        scan, src_rel = _scan_live(
            spark,
            table_dir,
            lf,
            meta,
            with_src=has_matched_clause,
            with_row_idx=has_matched_clause,
            manifest_threshold=manifest_threshold,
            dv_possible=dv_possible,
        )
        t_types = (
            {
                f.name: f.dataType
                for f in scan.schema.fields
                if f.name not in ("__src", "__ridx")
            }
            if scan is not None
            else {}
        )
        tcols = list(t_types)
        import json as _json

        from pyspark.sql.types import StructType

        declared = (
            StructType.fromJson(_json.loads(meta["schemaString"]))
            if meta and meta["schemaString"]
            else None
        )
        known = set(
            declared.fieldNames() if declared else tcols
        ) | set(tcols)
        unknown_upd = [
            c for c in (when_matched_update or {}) if c not in known
        ]
        if unknown_upd:
            raise ValueError(
                f"UPDATE SET on unknown columns: {sorted(unknown_upd)}"
            )
        evolved = [
            c
            for c in (when_not_matched_insert or {})
            if c not in known
        ]
        if evolved and not schema_evolution:
            raise ValueError(
                f"INSERT binds unknown columns {sorted(evolved)}; "
                "pass schema_evolution=True (withSchemaEvolution) to "
                "evolve the table"
            )
        evolved_types = {}
        for c in evolved:
            # type analysis only — no job runs
            evolved_types[c] = (
                src.alias(source_alias)
                .select(F.expr(when_not_matched_insert[c]))
                .schema[0]
                .dataType
            )
        names = (
            tcols
            or ([f.name for f in declared.fields] if declared else [])
        ) + evolved
        # the INSERT mapping per output column (missing columns are
        # NULL of the declared type)
        ins_exprs = {}
        for c in names if when_not_matched_insert is not None else ():
            if c in evolved_types:
                dt = evolved_types[c]
            elif declared and c in declared.fieldNames():
                dt = declared[c].dataType
            else:
                dt = t_types.get(c)
            if c in when_not_matched_insert:
                e = F.expr(when_not_matched_insert[c])
                ins_exprs[c] = e.cast(dt) if dt else e
            else:
                ins_exprs[c] = F.lit(None).cast(dt or "string")
        ins_gate = _gate(when_not_matched_insert_condition)
        touched: list[str] = []
        if has_matched_clause and scan is not None:
            per_file = (
                scan.alias(target_alias)
                .join(src.alias(source_alias), on_cond, "inner")
                .select(
                    F.col(f"{target_alias}.__src").alias("__src"),
                    F.col(f"{target_alias}.__ridx").alias("__ridx"),
                )
                # clustered by file, the rows of a file are also
                # clustered by row: one shuffle serves both groupings
                .repartition("__src")
                .groupBy("__src", "__ridx")
                .count()
                .groupBy("__src")
                .agg(F.max("count").alias("m"))
                .collect()
            )
            if any(r["m"] > 1 for r in per_file):
                raise ValueError(
                    "merge_into: a target row matches multiple "
                    "source rows — the MERGE is ambiguous (the "
                    "Delta protocol's cardinality violation)"
                )
            touched = sorted(
                {
                    r["__src"]
                    if src_rel
                    else _rel_path(r["__src"], table_dir)
                    for r in per_file
                }
            )
        if touched:
            # ONE join of the touched rows with the source, projected
            # once into flags, post-images (or, for a source row that
            # matches nothing, the inserted row), matched pre-images
            # and, merge-on-read, the DV coordinates; the data write,
            # the change-data write and the DV sidecars all read this
            # one pin.  Any match lives in a touched file by
            # construction, so a source row unmatched here is
            # unmatched in the table.  Masked on both modes: a COW
            # merge over DV'd files must not re-emit or re-match
            # deleted rows.
            tscan, t_rel = _scan_live(
                spark,
                table_dir,
                lf.filter(F.col("path").isin(touched)),
                meta,
                with_src=dv,
                with_row_idx=dv,
                manifest_threshold=manifest_threshold,
                dv_possible=dv_possible,
            )
            fused = tscan.withColumn("__m_t", F.lit(True)).alias(
                target_alias
            ).join(
                src.withColumn("__m_s", F.lit(True)).alias(source_alias),
                on_cond,
                "left_outer"
                if when_not_matched_insert is None
                else "full_outer",
            )
            is_t = F.col(f"{target_alias}.__m_t").isNotNull()
            matched = is_t & F.col(f"{source_alias}.__m_s").isNotNull()
            keep = ~(
                matched
                & _gate(when_matched_delete_condition)
                & F.lit(when_matched_delete_condition is not None)
            )
            upd_gate = (
                matched
                & F.lit(bool(when_matched_update))
                & _gate(when_matched_update_condition)
            )
            post = {}
            for c in tcols:
                old = F.col(f"{target_alias}.{c}")
                if when_matched_update and c in when_matched_update:
                    old = F.when(
                        upd_gate,
                        F.expr(when_matched_update[c]).cast(t_types[c]),
                    ).otherwise(old)
                post[c] = old
            for c in evolved:
                post[c] = F.lit(None).cast(evolved_types[c])
            rows = fused.select(
                *[
                    (
                        F.when(is_t, post[c]).otherwise(ins_exprs[c])
                        if ins_exprs
                        else post[c]
                    ).alias(c)
                    for c in names
                ],
                *[
                    F.when(matched, F.col(f"{target_alias}.{c}")).alias(
                        f"__m_pre{i}"
                    )
                    for i, c in enumerate(tcols)
                ],
                is_t.alias("__m_target"),
                keep.alias("__m_keep"),
                upd_gate.alias("__m_update"),
                (~is_t & ins_gate).alias("__m_insert"),
                *(
                    [
                        F.col(f"{target_alias}.__src").alias("__src"),
                        F.col(f"{target_alias}.__ridx").alias("__ridx"),
                    ]
                    if dv
                    else []
                ),
            ).localCheckpoint(eager=True)
        elif when_not_matched_insert is not None:
            # nothing to rewrite: the inserts are the source rows that
            # match no (masked) target row — all of them when a
            # matched clause located no file
            anti = src.alias(source_alias)
            if scan is not None and not has_matched_clause:
                anti = anti.join(scan.alias(target_alias), on_cond, "left_anti")
            rows = anti.select(
                *[ins_exprs[c].alias(c) for c in names],
                ins_gate.alias("__m_insert"),
            ).localCheckpoint(eager=True)
        else:
            return _next_version(table_dir) - 1
        inserted = F.col("__m_insert")
        target_row = F.col("__m_target")
        kept = F.col("__m_keep")
        updated = F.col("__m_update")
        if touched:
            # merge-on-read: unchanged rows stay IN PLACE behind the DV
            # mask — only updated post-images re-emit
            written = target_row & kept & (updated if dv else F.lit(True))
            out = rows.filter(written | inserted).select(*names)
        else:
            out = rows.filter(inserted).select(*names)
        # row-level change feed (the spec's cdc action): deleted rows,
        # pre/post images of updated-and-kept rows and inserted rows —
        # never the touched files' unchanged passthrough rows
        pre = [F.col(f"__m_pre{i}").alias(c) for i, c in enumerate(tcols)]
        change_parts: list[DataFrame] = []
        affected = None
        if touched and when_matched_delete_condition is not None:
            change_parts.append(
                rows.filter(target_row & ~kept)
                .select(*pre)
                .withColumn("_change_type", F.lit("delete"))
            )
        if touched and when_matched_update:
            upd_rows = rows.filter(kept & updated)
            change_parts.append(
                upd_rows.select(*pre).withColumn(
                    "_change_type", F.lit("update_preimage")
                )
            )
            change_parts.append(
                upd_rows.select(*names).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            )
        if when_not_matched_insert is not None:
            change_parts.append(
                rows.filter(inserted)
                .select(*names)
                .withColumn("_change_type", F.lit("insert"))
            )
        if touched and dv:
            affected = rows.filter(target_row & (~kept | updated)).select(
                "__src", "__ridx"
            )
        out = _apply_generated(spark, table_dir, out)
        _enforce_constraints(spark, table_dir, out)
        adds = _write_data_files(
            out, table_dir, n_files=n_files, partition_by=partition_by
        )
        empty = [
            a
            for a in adds
            if a["add"].get("stats")
            and _json.loads(a["add"]["stats"])["numRecords"] == 0
        ]
        if empty:
            _remove_staged(table_dir, empty)
            adds = [a for a in adds if a not in empty]
        dv_adds: list[dict] = []
        dv_descriptors: dict = {}
        if dv:
            # merge-on-read commit shape: tombstone + re-add ONLY the
            # files that gained DV rows; untouched-by-clause files
            # keep their live add
            dv_touched: list[str] = []
            if affected is not None:
                srcs2 = [
                    r["__src"]
                    for r in affected.select("__src").distinct().collect()
                ]
                dv_touched = sorted(
                    s2 if t_rel else _rel_path(s2, table_dir)
                    for s2 in srcs2
                )
            if not dv_touched and not adds:
                return _next_version(table_dir) - 1
            payloads = {
                r.path: r
                for r in lf.filter(
                    F.col("path").isin(dv_touched)
                ).collect()
            }
            existing_dv = {
                p: r.deletionVector.asDict()
                for p, r in payloads.items()
                if r.deletionVector is not None
            }
            if dv_touched:
                dv_descriptors = _write_dv_sidecars(
                    spark, table_dir, affected, dv_touched, existing_dv
                )
            removes = [
                {"remove": {"path": p, "dataChange": True}}
                for p in dv_touched
            ]
            for p in dv_touched:
                r = payloads[p]
                add = {"path": p, "size": r.size, "dataChange": True}
                if r.partitionValues:
                    add["partitionValues"] = dict(r.partitionValues)
                if r.stats:
                    add["stats"] = r.stats
                add["deletionVector"] = dv_descriptors[p]
                dv_adds.append({"add": add})
        else:
            if not touched and not adds:
                return _next_version(table_dir) - 1
            removes = [
                {"remove": {"path": p, "dataChange": True}}
                for p in touched
            ]
        meta_actions = []
        if evolved and meta:
            # the merge commit itself evolves the declared schema:
            # append the new fields (evolved rows null-fill on read).
            # Under column mapping the new fields keep their display
            # name as physicalName (the same upgrade rule
            # enable_column_mapping applies), so the central write
            # mapping stays consistent.
            schema_json = _json.loads(meta["schemaString"])
            cfg = dict(meta["configuration"] or {})
            mapped = cfg.get("delta.columnMapping.mode") == "name"
            next_id = int(cfg.get("delta.columnMapping.maxColumnId", 0))
            for c in evolved:
                fld = _json.loads(
                    StructType([]).add(c, evolved_types[c]).json()
                )["fields"][0]
                if mapped:
                    next_id += 1
                    fld.setdefault("metadata", {})[
                        "delta.columnMapping.id"
                    ] = next_id
                    fld["metadata"][
                        "delta.columnMapping.physicalName"
                    ] = c
                schema_json["fields"].append(fld)
            if mapped:
                cfg["delta.columnMapping.maxColumnId"] = str(next_id)
            act = _meta_action_from(meta, cfg)
            act["metaData"]["schemaString"] = _json.dumps(schema_json)
            meta_actions.append(act)
        cdc_actions = []
        if change_parts:
            ch = change_parts[0]
            for p in change_parts[1:]:
                # evolution: post-image/insert legs may carry the new
                # columns the pre-image legs lack — null-fill
                ch = ch.unionByName(p, allowMissingColumns=True)
            act = _write_change_data(ch, table_dir)
            if act:
                cdc_actions.append(act)
        try:
            return commit(
                table_dir,
                [
                    *meta_actions,
                    *removes,
                    *dv_adds,
                    *adds,
                    *cdc_actions,
                    {
                        "commitInfo": {
                            "operation": "MERGE",
                            "operationParameters": {
                                "condition": on,
                                "matchedUpdate": str(
                                    bool(when_matched_update)
                                ).lower(),
                                "matchedDelete": str(
                                    when_matched_delete_condition
                                    is not None
                                ).lower(),
                                "notMatchedInsert": str(
                                    when_not_matched_insert is not None
                                ).lower(),
                            },
                            "operationMetrics": {
                                **_merge_metrics(
                                    table_dir,
                                    adds,
                                    removes,
                                    cdc_actions,
                                    started,
                                ),
                                **(
                                    {
                                        "numDeletionVectorsAdded": str(
                                            len(dv_descriptors)
                                        )
                                    }
                                    if dv
                                    else {}
                                ),
                            },
                        }
                    },
                ],
            )
        except FileExistsError:
            _remove_staged(table_dir, adds)
            _remove_dv_staged(table_dir, dv_descriptors)
            for a in cdc_actions:
                try:
                    os.remove(
                        os.path.join(table_dir, a["cdc"]["path"])
                    )
                except OSError:
                    pass
            if attempt == 4:
                raise
    raise AssertionError("unreachable")


def optimize_zorder(
    spark: SparkSession,
    table_dir: str,
    cols: list[str],
    *,
    bits: int = 8,
    n_files: int = 8,
) -> int:
    """OPTIMIZE table ZORDER BY (cols) — rewrite the live data so
    file min/max envelopes are tight in EVERY zorder dimension at
    once, which is what makes :func:`read_snapshot`'s stats skipping
    prune on any of them (a linear sort only tightens the leading
    key).  The layout key is the Morton interleave of each column's
    ``width_bucket`` code over its global [min, max] (one bounded
    agg for the bounds; ``2**bits`` buckets per dimension);
    ``repartitionByRange`` on the key plus a within-partition sort
    gives ``n_files`` files covering disjoint z-ranges — the shuffle
    is one range exchange of the table, exactly what the real
    OPTIMIZE ZORDER pays.  Pure rewrite: adds and removes both
    dataChange=false, so change-data readers see nothing.  Raises on
    a Hive-partitioned table (its file placement is already fixed by
    the partition values; zorder the partition interior by writing
    it unpartitioned instead)."""
    import time as _time

    if not cols:
        raise ValueError("optimize_zorder needs at least one column")
    started = _time.time()
    for attempt in range(5):
        meta = _latest_meta(spark, table_dir)
        if meta and meta["partitionColumns"]:
            raise ValueError(
                "optimize_zorder: table is Hive-partitioned on "
                f"{list(meta['partitionColumns'])}; zorder clusters "
                "whole files and cannot re-place partitioned ones"
            )
        snap = read_snapshot(spark, table_dir)
        bounds = snap.agg(
            *[
                # try_cast: ANSI mode must not throw on a string
                # column — a NULL bound is the diagnosable signal
                f(F.col(c).try_cast("double")).alias(f"{n}_{c}")
                for c in cols
                for n, f in (("lo", F.min), ("hi", F.max))
            ]
        ).first()
        n_buckets = 1 << bits
        codes = []
        for c in cols:
            if bounds[f"lo_{c}"] is None or bounds[f"hi_{c}"] is None:
                # cast('double') yields NULL bounds for a string-typed
                # or all-NULL column — a bare float(None) TypeError
                # named nothing (ADVICE r11 low)
                raise ValueError(
                    f"optimize_zorder: column {c!r} has no numeric "
                    f"range (non-numeric type or all NULL) — zorder "
                    f"clusters by width_bucket codes over a numeric "
                    f"[min, max]; cast or derive a numeric key first"
                )
            lo = float(bounds[f"lo_{c}"])
            hi = float(bounds[f"hi_{c}"])
            if hi <= lo:
                codes.append(F.lit(0))
                continue
            code = F.width_bucket(
                F.col(c).try_cast("double"),
                F.lit(lo),
                F.lit(hi),
                F.lit(n_buckets),
            ) - F.lit(1)
            codes.append(
                F.greatest(
                    F.lit(0),
                    F.least(F.lit(n_buckets - 1), F.coalesce(code, F.lit(0))),
                ).cast("bigint")
            )
        k = len(codes)
        z = F.lit(0).cast("bigint")
        for i in range(bits):
            for j, code in enumerate(codes):
                z = z + F.shiftleft(
                    F.shiftright(code, i).bitwiseAND(F.lit(1)), i * k + j
                )
        clustered = (
            snap.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        removes = [
            {"remove": {"path": p, "dataChange": False}}
            for p in _live_file_names(spark, table_dir)
        ]
        adds = _write_data_files(clustered, table_dir, n_files=n_files)
        for a in adds:
            a["add"]["dataChange"] = False
        try:
            return commit(
                table_dir,
                [
                    *removes,
                    *adds,
                    {
                        "commitInfo": {
                            "operation": (
                                f"OPTIMIZE ZORDER BY ({', '.join(cols)})"
                            ),
                            "operationMetrics": _op_metrics(
                                adds, removes, started=started
                            ),
                        }
                    },
                ],
            )
        except FileExistsError:
            _remove_staged(table_dir, adds)
            if attempt == 4:
                raise
    raise AssertionError("unreachable")


def last_txn_version(
    spark: SparkSession, table_dir: str, app_id: str
) -> int | None:
    """Highest committed ``txn.version`` for ``app_id`` — the
    exactly-once handshake a streaming sink reads before applying a
    micro-batch (the protocol's SetTransaction action).  Driver-side
    on small logs (every micro-batch pays this lookup; a Spark job
    here is pure scheduling overhead), distributed past the replay
    byte budget."""
    import json as _json

    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        return None
    jsons = [
        os.path.join(log_dir, f"{v:020d}.json")
        for v in _commit_versions(log_dir)
    ]
    ck = _checkpoint_version(table_dir)
    ck_paths: list[str] = []
    if ck is not None:
        src = _checkpoint_sources(log_dir, ck)
        ck_paths = src["parquet"] + src["json"]
    total = sum(os.path.getsize(p) for p in ck_paths + jsons)
    if total <= DRIVER_REPLAY_MAX_BYTES:
        best = None
        if ck is not None:
            for r in _iter_checkpoint_actions(
                log_dir, ck, columns=["txn"]
            ):
                t = r.get("txn")
                if t and t.get("appId") == app_id:
                    v = int(t["version"])
                    best = v if best is None else max(best, v)
        for f in jsons:
            with open(f) as fh:
                for line in fh:
                    t = _json.loads(line).get("txn")
                    if t and t.get("appId") == app_id:
                        v = int(t["version"])
                        best = v if best is None else max(best, v)
        return best
    row = (
        read_log_actions(spark, table_dir)
        .filter(F.col("txn.appId") == app_id)
        .agg(F.max("txn.version").alias("v"))
        .first()
    )
    return None if row is None or row["v"] is None else int(row["v"])


def txn_append(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    *,
    app_id: str,
    version: int,
    n_files: int = 1,
) -> bool:
    """IDEMPOTENT append keyed by ``(app_id, version)`` — the
    exactly-once streaming-sink contract: if this transaction version
    is already committed the call is a NO-OP (returns False, writes
    nothing), so an at-least-once upstream (a restarted micro-batch,
    a replayed foreachBatch) cannot double-append.  Bootstraps the
    table (protocol + metaData) when the log does not exist yet.

    The check-then-commit window is closed by :func:`commit`'s
    put-if-absent file create with ``retries=0``: a racing writer
    loses the version race and THIS loop re-enters through the
    ``last_txn_version`` check — two racers carrying the same
    ``(app_id, version)`` can never both commit (the loser sees the
    winner's SetTransaction and unstages; ADVICE r10 high: a blind
    commit-level retry would have let both through).  A loser racing
    an UNRELATED writer passes the re-check and re-commits the same
    staged files at the next free version."""
    last = last_txn_version(spark, table_dir, app_id)
    if last is not None and version <= last:
        return False
    bootstrap = not os.path.isdir(os.path.join(table_dir, "_delta_log"))
    os.makedirs(table_dir, exist_ok=True)
    df = _apply_generated(spark, table_dir, df)
    _enforce_constraints(spark, table_dir, df)
    adds = _write_data_files(df, table_dir, n_files=n_files)
    head: list[dict] = []
    if bootstrap:
        import uuid as _uuid

        head = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": _uuid.uuid4().hex,
                    "format": {"provider": "parquet"},
                    "schemaString": df.schema.json(),
                }
            },
        ]
    actions = [
        *head,
        {"txn": {"appId": app_id, "version": version}},
        *adds,
        {
            "commitInfo": {
                "operation": "STREAMING UPDATE",
                "operationMetrics": _op_metrics(adds, []),
            }
        },
    ]
    for attempt in range(6):
        try:
            commit(table_dir, actions, version=0 if bootstrap else None)
            return True
        except FileExistsError:
            # lost the version race — re-enter the exactly-once check:
            # if the winner carried OUR (app_id, version) this batch is
            # already applied and must not commit again
            last = last_txn_version(spark, table_dir, app_id)
            if last is not None and version <= last:
                _remove_staged(table_dir, adds)
                return False
            if bootstrap:
                # an unrelated writer bootstrapped the table first:
                # drop our protocol/metaData head, take the next version
                bootstrap = False
                actions = actions[len(head):]
            if attempt == 5:
                _remove_staged(table_dir, adds)
                raise
    raise AssertionError("unreachable")


def write_checkpoint(
    spark: SparkSession,
    table_dir: str,
    *,
    parts: int | None = None,
    actions_per_part: int = 100_000,
) -> int:
    """Write a protocol CHECKPOINT: the full reconstructed state —
    protocol, metaData, every live ``add``, and the per-app ``txn``
    high-water marks — as parquet plus the ``_last_checkpoint``
    pointer.  From then on readers pay O(checkpoint + JSON tail)
    instead of replaying the whole history, and
    :func:`cleanup_log_before_checkpoint` may delete the superseded
    JSON commits (metadata retention).  Returns the checkpointed
    version.

    MULTI-PART (the spec's ``{v}.checkpoint.{part}.{parts}.parquet``
    form, VERDICT r11 next-item 1a): the action state is written
    DISTRIBUTED across ``max(1, ceil(n_actions / actions_per_part))``
    part files (override with ``parts``) — never funneled through one
    task, so checkpointing a 10⁶-add-action table costs a normal
    parallel parquet write instead of a single-task spill.  One part
    keeps the spec's single-file name; ``_last_checkpoint`` records
    the ``parts`` field readers use to list the fragments."""
    import json as _json

    acts = read_log_actions(spark, table_dir)
    ver_row = acts.agg(F.max("version").alias("v")).first()
    ver = int(ver_row["v"])
    pdf_parts = []
    # latest protocol + metaData win
    for field in ("protocol", "metaData"):
        top = (
            acts.filter(F.col(field).isNotNull())
            .orderBy(F.col("version").desc())
            .limit(1)
            .select(field)
        )
        pdf_parts.append(
            top.select(
                *[
                    F.col(field) if c == field else F.lit(None).alias(c)
                    for c in ("metaData", "protocol", "add", "remove", "txn",
                              "commitInfo")
                ]
            )
        )
    live = live_files(acts).select(
        F.lit(None).alias("metaData"),
        F.lit(None).alias("protocol"),
        F.struct(
            F.col("path"),
            F.col("size"),
            F.lit(True).alias("dataChange"),
            F.col("partitionValues"),
            F.col("stats"),
            F.col("deletionVector"),
        ).alias("add"),
        F.lit(None).alias("remove"),
        F.lit(None).alias("txn"),
        F.lit(None).alias("commitInfo"),
    )
    pdf_parts.append(live)
    txns = (
        acts.filter(F.col("txn").isNotNull())
        .groupBy("txn.appId")
        .agg(F.max("txn.version").alias("v"))
        .select(
            F.lit(None).alias("metaData"),
            F.lit(None).alias("protocol"),
            F.lit(None).alias("add"),
            F.lit(None).alias("remove"),
            F.struct(
                F.col("appId"), F.col("v").alias("version")
            ).alias("txn"),
            F.lit(None).alias("commitInfo"),
        )
    )
    pdf_parts.append(txns)
    state = pdf_parts[0]
    for p in pdf_parts[1:]:
        state = state.unionByName(p)
    # normalize to the canonical action schema so readers see the
    # same struct shapes JSON commits produce — a schema-aligned
    # SELECT, never a driver round-trip: the state frame stays
    # distributed however many add-actions the table has (VERDICT
    # r10 item 6: the old collect() + createDataFrame was a driver
    # memory ceiling at large live-file counts)
    from pyspark.sql.types import StructType as _StructType

    canon = _StructType.fromDDL(LOG_SCHEMA)
    # spec: checkpoints carry STATE actions only — per-commit cdc
    # actions are never part of reconstructed state, so the column
    # null-fills here
    for f in canon.fields:
        if f.name not in state.columns:
            state = state.withColumn(f.name, F.lit(None).cast(f.dataType))
    state = state.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in canon.fields]
    )
    import math as _math
    import shutil as _shutil
    import uuid as _uuid

    state = state.localCheckpoint(eager=True)
    n = state.count()
    n_parts = parts if parts else max(
        1, _math.ceil(n / max(1, actions_per_part))
    )
    log_dir = os.path.join(table_dir, "_delta_log")
    tmp = os.path.join(table_dir, f"__ckpt-{_uuid.uuid4().hex}")
    if n_parts == 1:
        state.coalesce(1).write.mode("overwrite").parquet(tmp)
    else:
        # round-robin repartition → every task writes its fragment in
        # parallel; the driver only renames the bounded part list
        state.repartition(n_parts).write.mode("overwrite").parquet(tmp)
    written = sorted(
        f for f in os.listdir(tmp) if f.endswith(".parquet")
    )
    # a re-run at the same version (different part count, or a retry
    # after a crash mid-rename) must not leave stale part files that
    # readers could union with the new set — remove every existing
    # part for this version before renaming the new ones into place
    stale_prefix = f"{ver:020d}.checkpoint."
    for f in os.listdir(log_dir):
        if f.startswith(stale_prefix) and f.endswith(".parquet"):
            try:
                os.remove(os.path.join(log_dir, f))
            except OSError:
                pass
    pointer: dict = {"version": ver, "size": n}
    if n_parts == 1 or len(written) == 1:
        final = os.path.join(log_dir, f"{ver:020d}.checkpoint.parquet")
        os.replace(os.path.join(tmp, written[0]), final)
    else:
        total = len(written)
        for i, f in enumerate(written, start=1):
            final = os.path.join(
                log_dir,
                f"{ver:020d}.checkpoint.{i:010d}.{total:010d}.parquet",
            )
            os.replace(os.path.join(tmp, f), final)
        pointer["parts"] = total
    _shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        fh.write(_json.dumps(pointer))
    return ver


def cleanup_log_before_checkpoint(table_dir: str) -> int:
    """Log cleanup (metadata retention): delete JSON commits at or
    below the last checkpoint — they are superseded by the checkpoint
    state.  Time travel to those versions is gone after this, exactly
    as the protocol's retention contract says.  Returns how many
    commit files were removed."""
    import json as _json

    log_dir = os.path.join(table_dir, "_delta_log")
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        ck_ver = int(_json.load(fh)["version"])
    victims = [v for v in _commit_versions(log_dir) if v <= ck_ver]
    for v in victims:
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    return len(victims)


#: comparison ops data skipping understands, mapped to the row-level
#: Column predicate applied AFTER file pruning (exactness never
#: depends on stats)
_SKIP_OPS = ("==", "=", "<", "<=", ">", ">=")


def _skipping_keep(
    skipping: list[tuple], mapping: dict[str, str] | None = None
) -> "F.Column":
    """File-keep condition over ``live_files`` rows for a conjunction
    of simple predicates ``(column, op, literal)``: a file survives
    unless its stat envelope PROVES no row can match.  Missing stats,
    a missing column entry (all-null or unordered type), or an
    unparsable bound always KEEP the file — skipping is an
    optimization, never a correctness gate.  Numeric literals compare
    after a double cast; strings (and ISO dates/timestamps, which
    order lexicographically) compare as strings."""
    keep = F.lit(True)
    for col, op, lit in skipping:
        # stats JSON keys are PHYSICAL column names (footer-derived)
        col = (mapping or {}).get(col, col)
        if op not in _SKIP_OPS:
            raise ValueError(f"unsupported skipping op: {op!r}")
        if isinstance(lit, bool) or not isinstance(lit, (int, float, str)):
            raise ValueError(
                f"skipping literal must be numeric or string: {lit!r}"
            )
        cast_t = "string" if isinstance(lit, str) else "double"
        mn = F.get_json_object(
            F.col("stats"), f"$.minValues.{col}"
        ).cast(cast_t)
        mx = F.get_json_object(
            F.col("stats"), f"$.maxValues.{col}"
        ).cast(cast_t)
        lv = F.lit(lit).cast(cast_t)
        if op in ("==", "="):
            hit = (mn <= lv) & (mx >= lv)
        elif op == ">":
            hit = mx > lv
        elif op == ">=":
            hit = mx >= lv
        elif op == "<":
            hit = mn < lv
        else:
            hit = mn <= lv
        keep = keep & (
            F.col("stats").isNull() | mn.isNull() | mx.isNull() | hit
        )
    return keep


def _skipping_row_cond(
    skipping: list[tuple], *, qualifier: str | None = None
) -> "F.Column":
    """The skipping conjuncts as ONE row-level boolean Column
    (optionally alias-qualified for join conditions) — the exact
    predicate the envelope pruning approximates."""
    out = F.lit(True)
    for col, op, lit in skipping:
        c = F.col(f"{qualifier}.{col}" if qualifier else col)
        lv = F.lit(lit)
        out = out & {
            "==": c == lv,
            "=": c == lv,
            "<": c < lv,
            "<=": c <= lv,
            ">": c > lv,
            ">=": c >= lv,
        }[op]
    return out


def _skipping_row_filter(df: DataFrame, skipping: list[tuple]) -> DataFrame:
    """The same predicates applied at ROW level on the scanned frame —
    file pruning is envelope-coarse, this makes the result exact."""
    return df.filter(_skipping_row_cond(skipping))


def candidate_files(
    spark: SparkSession,
    table_dir: str,
    skipping: list[tuple],
    *,
    partition_filter: dict | None = None,
) -> DataFrame:
    """Live files surviving partition pruning + stats-based data
    skipping for ``skipping`` — the planner-visible census
    :func:`read_snapshot` scans; exposed so tests and the
    effectiveness queries can pin HOW MANY files a predicate touches
    without reading any of them."""
    lf = live_files(read_log_actions(spark, table_dir))
    if partition_filter:
        for k, v in partition_filter.items():
            lf = lf.filter(F.col("partitionValues").getItem(k) == v)
    mapping = _mapping_from(_current_schema_string(table_dir))
    return lf.filter(_skipping_keep(skipping, mapping))


#: what this reader IMPLEMENTS: protocol versions up to 3 and, at
#: version 3, exactly these table features — the spec's reader gate
#: exists so a reader that does not understand a feature REFUSES the
#: table instead of silently returning wrong rows (e.g. ignoring
#: deletion vectors would resurrect deleted data)
MAX_READER_VERSION = 3
SUPPORTED_READER_FEATURES = {
    "deletionVectors",
    "columnMapping",
    # read-side only (VERDICT r13 next-item 2): UUID-named V2
    # checkpoint manifests + _sidecars/ files reconstruct through
    # every scan route; v2Checkpoint stays OUT of
    # SUPPORTED_WRITER_FEATURES — a table gating WRITES on it needs
    # v2 checkpoint WRITING, which this engine does not do, so
    # commits refuse rather than write a classic checkpoint into a
    # v2-gated log
    "v2Checkpoint",
}

#: the writer half: versions up to 7 and, at 7, these feature names —
#: both our own (we write only deletionVectors) and the legacy
#: features we enforce (constraints, generated columns, mapping,
#: invariants, appendOnly), which a foreign table-features writer
#: lists explicitly
MAX_WRITER_VERSION = 7
SUPPORTED_WRITER_FEATURES = {
    "deletionVectors",
    "invariants",
    "checkConstraints",
    "generatedColumns",
    "columnMapping",
    "changeDataFeed",
    "appendOnly",
    "inCommitTimestamp",
}


def _assert_writer_supported(table_dir: str, actions: list[dict]) -> None:
    """Refuse to COMMIT to a table gated on writer features this
    implementation does not have — a feature-unaware write could
    corrupt the contract the feature guards (the exact failure mode
    the spec's writer gate exists for).  Also enforces the
    ``delta.appendOnly`` table property: a commit carrying a
    data-changing ``remove`` on an append-only table is refused
    (OPTIMIZE's dataChange=false rewrites stay legal).  Driver-side
    metadata reads only."""
    proto = _current_protocol(table_dir)
    if not proto:
        return
    w = int(proto.get("minWriterVersion") or 1)
    if w > MAX_WRITER_VERSION:
        raise ValueError(
            f"table requires minWriterVersion {w}; this writer "
            f"implements up to {MAX_WRITER_VERSION}"
        )
    unknown = set(proto.get("writerFeatures") or []) - SUPPORTED_WRITER_FEATURES
    if w >= 7 and unknown:
        raise ValueError(
            f"table requires writer features {sorted(unknown)} that "
            f"this writer does not implement — refusing to commit "
            f"rather than corrupting the feature's contract"
        )
    if _current_table_config(table_dir).get("delta.appendOnly") == "true":
        for a in actions:
            rm = a.get("remove")
            if rm and rm.get("dataChange"):
                raise ValueError(
                    "table is append-only (delta.appendOnly=true): "
                    "DELETE/UPDATE/MERGE/overwrite are refused; only "
                    "appends and dataChange=false rewrites may commit"
                )


def _assert_reader_supported(proto) -> None:
    """Raise when the snapshot's protocol gates the table on a reader
    version or table feature this implementation does not have —
    per-spec, reading anyway could silently produce wrong answers."""
    if proto is None:
        return
    r = int(proto["minReaderVersion"] or 1)
    if r > MAX_READER_VERSION:
        raise ValueError(
            f"table requires minReaderVersion {r}; this reader "
            f"implements up to {MAX_READER_VERSION}"
        )
    unknown = set(proto["readerFeatures"] or []) - SUPPORTED_READER_FEATURES
    if r >= 3 and unknown:
        raise ValueError(
            f"table requires reader features {sorted(unknown)} that "
            f"this reader does not implement (supported: "
            f"{sorted(SUPPORTED_READER_FEATURES)}) — refusing to read "
            f"rather than silently mis-reconstructing"
        )


def _json_commit_mtimes(table_dir: str) -> list[tuple[int, int]]:
    """Sorted ``(version, mtime_ms)`` for every surviving JSON commit
    — ONE directory scan (entry stat rides the same syscall), no file
    content reads; the non-ICT reader's entire timestamp source."""
    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        return []
    out = []
    with os.scandir(log_dir) as it:
        for e in it:
            stem = e.name[:-5]
            if e.name.endswith(".json") and stem.isdigit():
                out.append((int(stem), int(e.stat().st_mtime * 1000)))
    return sorted(out)


def _read_commit_ict(table_dir: str, v: int) -> int | None:
    """``commitInfo.inCommitTimestamp`` of commit ``v`` — per spec
    the commitInfo is the FIRST action of an ICT commit, so this is
    a one-line read for conformant logs (the loop tolerates foreign
    writers that ordered differently)."""
    import json as _json

    p = os.path.join(table_dir, "_delta_log", f"{v:020d}.json")
    try:
        with open(p) as fh:
            for line in fh:
                ci = _json.loads(line).get("commitInfo")
                if ci is not None:
                    ict = ci.get("inCommitTimestamp")
                    return None if ict is None else int(ict)
    except OSError:
        return None
    return None


def _resolve_mtime(entries: list[tuple[int, int]], ts: int) -> int | None:
    """Latest version whose MONOTONIC-ADJUSTED file mtime is <= ts —
    the spec reader's pre-ICT behavior: each commit's timestamp is
    ``max(its mtime, predecessor's adjusted stamp + 1 ms)``, so a
    copy/restore that rewrote mtimes out of order still yields a
    version-ordered timeline."""
    best = None
    adj = None
    for v, m in entries:
        adj = m if adj is None else max(m, adj + 1)
        if adj <= ts:
            best = v
    return best


def _raise_ts_out_of_range(table_dir: str, ts: int) -> None:
    ck = _checkpoint_version(table_dir)
    v0 = os.path.join(table_dir, "_delta_log", f"{0:020d}.json")
    if ck is not None and not os.path.exists(v0):
        # the commits at/below that timestamp existed but log
        # cleanup deleted them — same wording the version path
        # uses, not a misleading "precedes the earliest commit"
        # (VERDICT r11 wrong-item 2)
        raise ValueError(
            f"timestamp {ts} of {table_dir} is no longer "
            f"reconstructable: log cleanup removed the JSON "
            f"commits before checkpoint {ck}"
        )
    raise ValueError(
        f"timestamp {ts} precedes the earliest commit of "
        f"{table_dir}"
    )


def resolve_timestamp(
    spark: SparkSession, table_dir: str, ts
) -> int:
    """TIMESTAMP AS OF resolution with the SPEC reader's semantics
    (VERDICT r13 next-item 1): on an ICT table
    (``delta.enableInCommitTimestamps``) versions at or past the
    enablement boundary resolve by ``commitInfo.inCommitTimestamp``
    — strictly monotonic, so a BINARY SEARCH over the commit files,
    O(log n) one-line reads; earlier versions, and every version of
    a non-ICT table, resolve by monotonic-adjusted file modification
    times (one directory scan) — exactly how a Delta 3.x reader
    treats a table this engine or any other wrote, so time travel
    agrees across implementations on both sides of the boundary.
    Raises when ``ts`` precedes the earliest surviving commit (the
    protocol's out-of-range error, with log-cleanup wording when
    that is the cause).  Pure driver-side metadata — zero Spark
    jobs at any log size."""
    import datetime as _dt

    if isinstance(ts, _dt.datetime):
        ts = int(ts.timestamp() * 1000)
    ts = int(ts)
    entries = _json_commit_mtimes(table_dir)
    if not entries:
        raise ValueError(
            f"{table_dir}: no surviving JSON commits to resolve a "
            f"timestamp against"
        )
    cfg = _current_table_config(table_dir)
    if cfg.get("delta.enableInCommitTimestamps") == "true":
        enable_v = int(
            cfg.get("delta.inCommitTimestampEnablementVersion", "0")
        )
        post = [v for v, _ in entries if v >= enable_v]
        if post:
            first_ict = _read_commit_ict(table_dir, post[0])
            if first_ict is not None and ts >= first_ict:
                lo, hi, best = 0, len(post) - 1, post[0]
                while lo <= hi:
                    mid = (lo + hi) // 2
                    s = _read_commit_ict(table_dir, post[mid])
                    if s is not None and s <= ts:
                        best = post[mid]
                        lo = mid + 1
                    else:
                        hi = mid - 1
                return best
        pre = [(v, m) for v, m in entries if v < enable_v]
        v = _resolve_mtime(pre, ts)
        if v is not None:
            return v
        _raise_ts_out_of_range(table_dir, ts)
    v = _resolve_mtime(entries, ts)
    if v is not None:
        return v
    _raise_ts_out_of_range(table_dir, ts)


#: total log bytes (checkpoint parts + JSON tail) up to which state
#: reconstruction happens DRIVER-SIDE with zero Spark jobs; past it
#: the distributed replay takes over
DRIVER_REPLAY_MAX_BYTES = 8 << 20


def _replay_log_driver(
    table_dir: str,
    *,
    version_as_of: int | None = None,
    max_bytes: int = DRIVER_REPLAY_MAX_BYTES,
) -> dict | None:
    """DRIVER-SIDE state reconstruction for SMALL logs — the shape a
    production Delta reader has: log replay is a metadata operation,
    so below :data:`DRIVER_REPLAY_MAX_BYTES` of checkpoint + JSON
    tail it runs as plain file reads with ZERO Spark jobs (measured:
    each metadata job on a vanilla session costs 0.3-0.7 s of pure
    scheduling — the dominant cost of reading a small table, and the
    root of the r12 steady-read regression).  Returns ``{"adds":
    [add dicts], "meta": metaData dict | None, "proto": protocol
    dict | None}`` replayed with the same last-action-wins
    ``(version, is_add)`` rule as :func:`live_files`, or ``None``
    when the log exceeds the byte budget (callers fall back to the
    distributed replay, which scales to 10⁶ actions).

    Time travel matches :func:`read_snapshot_actions`: versions at or
    past the checkpoint reconstruct from checkpoint + filtered tail;
    below it the raw JSON must survive or this raises the same
    log-cleanup error."""
    import json as _json

    log_dir = os.path.join(table_dir, "_delta_log")
    if not os.path.isdir(log_dir):
        return None
    versions = _commit_versions(log_dir)
    ck = _checkpoint_version(table_dir)
    use_ck = ck is not None and (
        version_as_of is None or version_as_of >= ck
    )
    if ck is not None and not use_ck:
        if not versions or versions[0] != 0:
            raise ValueError(
                f"version {version_as_of} of {table_dir} is no longer "
                f"reconstructable: log cleanup removed the JSON commits "
                f"before checkpoint {ck}"
            )
    total = 0
    ck_paths: list[str] = []
    if use_ck:
        src = _checkpoint_sources(log_dir, ck)
        ck_paths = src["parquet"] + src["json"]
        total += sum(os.path.getsize(p) for p in ck_paths)
        tail = [v for v in versions if v > ck]
    else:
        tail = versions
    if version_as_of is not None:
        tail = [v for v in tail if v <= version_as_of]
    tail_paths = [os.path.join(log_dir, f"{v:020d}.json") for v in tail]
    total += sum(os.path.getsize(p) for p in tail_paths)
    if total > max_bytes:
        return None
    if not ck_paths and not tail:
        return None  # nothing to replay — let callers raise their way
    best: dict[str, tuple] = {}
    meta: dict | None = None
    proto: dict | None = None
    meta_v = proto_v = -1

    def _apply(act: dict, v: int) -> None:
        nonlocal meta, proto, meta_v, proto_v
        md = act.get("metaData")
        if md is not None and v >= meta_v:
            meta, meta_v = md, v
        pr = act.get("protocol")
        if pr is not None and v >= proto_v:
            proto, proto_v = pr, v
        a = act.get("add")
        if a is not None:
            key = (v, True)
            p = a["path"]
            if p not in best or key > best[p][0]:
                best[p] = (key, a)
            return
        r = act.get("remove")
        if r is not None:
            key = (v, False)
            p = r["path"]
            if p not in best or key > best[p][0]:
                best[p] = (key, None)

    if ck_paths:
        for rec in _iter_checkpoint_actions(log_dir, ck):
            act = {k: v for k, v in rec.items() if v is not None}
            a = act.get("add")
            if a is not None:
                # pyarrow renders parquet MAP columns as
                # [(key, value), ...] lists — normalize to the
                # dict shape the JSON branch produces
                for mk in ("partitionValues",):
                    if isinstance(a.get(mk), list):
                        a[mk] = dict(a[mk])
            _apply(act, ck)
    for v, path in zip(tail, tail_paths):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    _apply(_json.loads(line), v)
    adds = [a for (_k, a) in best.values() if a is not None]
    return {"adds": adds, "meta": meta, "proto": proto}


def _skipping_keep_py(
    stats: str | None,
    skipping: list[tuple],
    mapping: dict[str, str] | None = None,
) -> bool:
    """Python mirror of :func:`_skipping_keep` for the driver-replay
    path — identical envelope semantics: missing stats, a missing
    column entry, or an unparsable bound always KEEP the file."""
    if not stats:
        return True
    import json as _json

    try:
        st = _json.loads(stats)
    except ValueError:
        return True
    mins, maxs = st.get("minValues") or {}, st.get("maxValues") or {}
    for col, op, lit in skipping:
        col = (mapping or {}).get(col, col)
        if op not in _SKIP_OPS:
            raise ValueError(f"unsupported skipping op: {op!r}")
        if isinstance(lit, bool) or not isinstance(lit, (int, float, str)):
            raise ValueError(
                f"skipping literal must be numeric or string: {lit!r}"
            )
        mn, mx = mins.get(col), maxs.get(col)
        if mn is None or mx is None:
            continue
        if isinstance(lit, str):
            mn, mx, lv = str(mn), str(mx), lit
        else:
            try:
                mn, mx = float(mn), float(mx)
            except (TypeError, ValueError):
                continue
            lv = float(lit)
        if op in ("==", "="):
            hit = mn <= lv <= mx
        elif op == ">":
            hit = mx > lv
        elif op == ">=":
            hit = mx >= lv
        elif op == "<":
            hit = mn < lv
        else:
            hit = mn <= lv
        if not hit:
            return False
    return True


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    *,
    version_as_of: int | None = None,
    timestamp_as_of=None,
    partition_filter: dict[str, str] | None = None,
    skipping: list[tuple] | None = None,
    manifest_threshold: int | None = None,
) -> DataFrame:
    """The table snapshot: parquet union of live files — current by
    default, or TIME TRAVEL to any historical version with
    ``version_as_of`` (replay simply stops at that commit; tombstoned
    data files are never deleted by a writer, only by vacuum, so
    every previous version stays readable — the protocol's
    versioned-read contract).

    Time travel AFTER log cleanup (ADVICE r9 / VERDICT r10 item 1):
    a version at or past the last checkpoint reconstructs from the
    CHECKPOINT plus the version-filtered JSON tail (checkpoint rows
    carry the checkpoint's version, so the ``<= version_as_of``
    filter keeps them) — this is how the real protocol keeps recent
    versions readable once :func:`cleanup_log_before_checkpoint` has
    deleted the superseded commits.  A version BELOW the checkpoint
    needs the raw pre-checkpoint JSON; if cleanup has removed it the
    read raises instead of silently reconstructing a partial state
    from the surviving tail.

    ``skipping`` — a list of ``(column, op, literal)`` conjuncts —
    activates STATS-BASED DATA SKIPPING: files whose ``add.stats``
    min/max envelope proves the predicate cannot match never reach
    the scan plan (the protocol's data-skipping read, the mechanism
    that keeps a selective read on a 100 TB table from touching
    100 TB of files), and the same predicates are re-applied at row
    level so the result is exact whether or not any file carries
    stats.

    The file list is collected driver-side up to
    ``manifest_threshold`` (default
    :data:`manifest_scan.DEFAULT_THRESHOLD`) and handed to ONE
    parquet scan so Spark plans splits/pushdown across all live
    files together.  PAST the threshold the census is never
    collected: the live-file frame writes a distributed parquet
    manifest and a Python DataSource scans from it executor-side
    (:mod:`cdc_pipe_line_spark.manifest_scan`) — driver memory and
    plan size stay bounded however many add-actions the table has
    (VERDICT r11 what's-wrong 3).
    """
    if timestamp_as_of is not None:
        if version_as_of is not None:
            raise ValueError(
                "pass version_as_of OR timestamp_as_of, not both"
            )
        version_as_of = resolve_timestamp(
            spark, table_dir, timestamp_as_of
        )
    # SMALL-LOG FAST PATH: state reconstruction driver-side and a scan
    # in the declared schema, so planning the read runs no Spark job
    # and a point lookup over it runs exactly one — the dominant cost
    # of reading a small table is otherwise pure job scheduling
    # (0.1-0.7 s per metadata job on a vanilla session).  An explicit
    # manifest_threshold override (tests exercising the manifest
    # route) bypasses it, as does any log past the byte budget.
    state = (
        _replay_log_driver(table_dir, version_as_of=version_as_of)
        if manifest_threshold is None
        else None
    )
    if state is not None:
        meta = state["meta"]
        proto = state["proto"]
        _assert_reader_supported(
            {
                "minReaderVersion": proto.get("minReaderVersion"),
                "readerFeatures": proto.get("readerFeatures"),
            }
            if proto
            else None
        )
        dv_possible = proto is not None and "deletionVectors" in (
            proto.get("readerFeatures") or []
        )
        adds = state["adds"]
        if partition_filter:
            adds = [
                a
                for a in adds
                if all(
                    (a.get("partitionValues") or {}).get(k) == str(v)
                    for k, v in partition_filter.items()
                )
            ]
        schema_string = meta["schemaString"] if meta else None
        if skipping:
            mapping = _mapping_from(schema_string)
            adds = [
                a
                for a in adds
                if _skipping_keep_py(a.get("stats"), skipping, mapping)
            ]
        if not adds:
            if skipping:
                import json as _json

                from pyspark.sql.types import StructType

                return spark.createDataFrame(
                    [], StructType.fromJson(_json.loads(schema_string))
                )
            raise ValueError(
                f"delta log at {table_dir} has no live files"
            )
        items = [
            (
                a["path"],
                a.get("deletionVector") if dv_possible else None,
                a.get("stats") if dv_possible else None,
            )
            for a in adds
        ]
        out = _plan_native_scan(spark, table_dir, items, schema_string)
        if skipping:
            out = _skipping_row_filter(out, skipping)
        return out
    if version_as_of is not None:
        actions = read_snapshot_actions(
            spark, table_dir, version_as_of=version_as_of
        )
    else:
        actions = read_log_actions(spark, table_dir)
    lf = live_files(actions)
    if partition_filter:
        # PARTITION PRUNING from the log's partitionValues — files of
        # non-matching partitions never reach the scan plan at all
        for k, v in partition_filter.items():
            lf = lf.filter(F.col("partitionValues").getItem(k) == v)
    if skipping:
        # DATA SKIPPING: drop files whose stat envelope refutes the
        # predicate — a metadata-only decision per file (stats keys
        # are physical names under column mapping)
        lf = lf.filter(
            _skipping_keep(
                skipping,
                _mapping_from(_current_schema_string(table_dir)),
            )
        )
    # the metaData AS OF the resolved version (time travel reads the
    # then-declared schema, not today's) and the protocol gate in ONE
    # aggregate job — the log would otherwise be re-scanned per
    # lookup, a measured fixed cost on every snapshot read (the r12
    # bench regression on cdc_delta_merge_native's steady read)
    top = actions.agg(
        F.max_by(
            F.struct(
                "metaData.schemaString", "metaData.partitionColumns"
            ),
            F.when(F.col("metaData").isNotNull(), F.col("version")),
        ).alias("meta"),
        F.max_by(
            F.struct(
                "protocol.minReaderVersion", "protocol.readerFeatures"
            ),
            F.when(F.col("protocol").isNotNull(), F.col("version")),
        ).alias("proto"),
    ).first()
    meta = top["meta"]
    proto_row = top["proto"]
    # the spec's reader gate: refuse tables requiring features this
    # implementation lacks — never silently mis-reconstruct
    _assert_reader_supported(proto_row)
    # census strategy, provenance, and deletion-vector masking all
    # live in _scan_live: driver path list + native pushdown below
    # the threshold, distributed manifest + executor-side reads past
    # it — the bounded 100 TB shape either way.  The protocol AS OF
    # the resolved version decides whether mask scaffolding is even
    # possible (the non-DV fast path).
    out, _rel = _scan_live(
        spark,
        table_dir,
        lf,
        meta,
        manifest_threshold=manifest_threshold,
        dv_possible=(
            proto_row is not None
            and "deletionVectors" in (proto_row["readerFeatures"] or [])
        ),
    )
    if out is None:
        if skipping:
            # every file's envelope refuted the predicate — a correct
            # EMPTY result (in the declared schema), not an error
            import json as _json

            from pyspark.sql.types import StructType

            declared = StructType.fromJson(
                _json.loads(meta["schemaString"])
            )
            return spark.createDataFrame([], declared)
        raise ValueError(f"delta log at {table_dir} has no live files")
    if skipping:
        # row-level re-application: exactness never rides on stats
        out = _skipping_row_filter(out, skipping)
    return out


def vacuum(
    spark: SparkSession,
    table_dir: str,
    *,
    retain_versions: int = 0,
) -> list[str]:
    """VACUUM: physically delete data files that are TOMBSTONED and
    not live in any retained version — the lifecycle op every other
    writer here deliberately defers to (tombstoned files stay on disk
    so time travel keeps working; ``qa_delta_invariants`` audits
    exactly that contract).  ``retain_versions=N`` keeps every file
    that is live in any of the last N+1 versions (N=0: only the
    current snapshot's files survive), mirroring the spec's
    retention-window semantics in version terms (the fixtures have no
    wall-clock).  Untracked files (a crashed writer's leftovers) are
    removed too — vacuum is the spec's garbage collector for both.
    Time travel to a version whose files were vacuumed then fails at
    scan time, exactly as the protocol documents.

    Returns the table-relative paths it deleted.  The keep-set is
    computed with the same distributed replay the readers use; only
    the bounded path census is driver-side."""
    actions = read_log_actions(spark, table_dir).localCheckpoint(
        eager=True
    )
    ver_row = actions.agg(F.max("version").alias("v")).first()
    if ver_row is None or ver_row["v"] is None:
        raise ValueError(f"no delta log at {table_dir}")
    vmax = int(ver_row["v"])
    floor_ver = max(0, vmax - retain_versions)
    keep = (
        live_files(actions.filter(F.col("version") <= floor_ver))
        .select("path")
        .unionByName(
            # files ADDED after the floor are live in (or needed by)
            # some retained version even if later tombstoned
            actions.filter(
                (F.col("version") > floor_ver)
                & F.col("add").isNotNull()
            ).select(F.col("add.path").alias("path"))
        )
        .unionByName(
            # change-data files of retained versions stay readable
            # (read_changes serves those commits row-level); older
            # ones age out with their commits
            actions.filter(
                (F.col("version") >= floor_ver)
                & F.col("cdc").isNotNull()
            ).select(F.col("cdc.path").alias("path"))
        )
        .distinct()
    )
    kept = {r.path for r in keep.collect()}
    # DELETION-VECTOR files referenced by any retained add stay
    # readable — vacuuming one would silently UNDELETE its rows in
    # every retained snapshot.  File paths derive from the
    # descriptors (z85 UUID naming; inline vectors have no file;
    # legacy parquet sidecars pass through) — a bounded census, one
    # row per DV-carrying add.
    from cdc_pipe_line_spark import dvbitmap as _dvb

    dv_refs = (
        live_files(actions.filter(F.col("version") <= floor_ver))
        .filter(F.col("deletionVector").isNotNull())
        .select(F.col("deletionVector").alias("dv"))
        .unionByName(
            actions.filter(
                (F.col("version") > floor_ver)
                & F.col("add.deletionVector").isNotNull()
            ).select(F.col("add.deletionVector").alias("dv"))
        )
        .distinct()
        .collect()
    )
    for r in dv_refs:
        rel = _dvb.dv_file_relpath(
            {k: v for k, v in r.dv.asDict().items() if v is not None}
        )
        if rel:
            kept.add(rel)
    victims = []
    for root, _dirs, files in os.walk(table_dir):
        if "_delta_log" in root:
            continue
        for f in files:
            full = os.path.join(root, f)
            rel = os.path.relpath(full, table_dir)
            is_data = f.endswith(".parquet")
            is_dv = f.startswith("deletion_vector_") and f.endswith(
                ".bin"
            )
            if (is_data or is_dv) and rel not in kept:
                os.remove(full)
                victims.append(rel)
    # prune emptied partition directories
    for root, dirs, files in os.walk(table_dir, topdown=False):
        if "_delta_log" in root or root == table_dir:
            continue
        if not dirs and not files and "=" in os.path.basename(root):
            try:
                os.rmdir(root)
            except OSError:
                pass
    return sorted(victims)


def restore(spark: SparkSession, table_dir: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF: one commit that makes the
    CURRENT state equal the historical version's — tombstone every
    file live now but not then, re-add every file live then but not
    now (data files are never rewritten; restore is pure metadata,
    which is why vacuumed history cannot be restored — the spec's own
    caveat).  History stays append-only: the restored-past versions
    remain readable and DESCRIBE HISTORY shows the RESTORE commit."""
    # re-adds need size/partitionValues, so collect full add payloads
    # (both sets are bounded by live-file counts, the planner-sized
    # footprint every reader here already has)
    def _key(r):
        dv = r.deletionVector
        return (
            r.path,
            r.size,
            tuple(sorted((r.partitionValues or {}).items())),
            r.stats,
            tuple(dv.asDict().items()) if dv is not None else None,
        )

    hist = {
        _key(r)
        for r in live_files(
            read_snapshot_actions(spark, table_dir, version_as_of=version)
        ).collect()
    }
    current = {
        _key(r)
        for r in live_files(read_log_actions(spark, table_dir)).collect()
    }
    target = {t[0] for t in hist}
    cur_keys = {t for t in current}
    acts: list[dict] = []
    for t in sorted(current, key=lambda t: t[0]):
        if t[0] not in target or t not in hist:
            # gone entirely, or live with a DIFFERENT deletion vector
            # / payload at the target version — tombstone; the re-add
            # below restores the historical descriptor
            acts.append({"remove": {"path": t[0], "dataChange": True}})
    for p, s, pv, st, dv in sorted(hist, key=lambda t: t[0]):
        if (p, s, pv, st, dv) not in cur_keys:
            if not os.path.exists(os.path.join(table_dir, p)):
                raise ValueError(
                    f"cannot restore {table_dir} to version {version}: "
                    f"data file {p} was vacuumed"
                )
            add = {"path": p, "size": s, "dataChange": True}
            if pv:
                add["partitionValues"] = dict(pv)
            if st:
                add["stats"] = st
            if dv:
                from cdc_pipe_line_spark import dvbitmap as _dvb

                d = {k: v for k, v in dict(dv).items() if v is not None}
                dv_rel = _dvb.dv_file_relpath(d)
                if dv_rel and not os.path.exists(
                    os.path.join(table_dir, dv_rel)
                ):
                    raise ValueError(
                        f"cannot restore {table_dir} to version "
                        f"{version}: deletion vector "
                        f"{dv_rel} was vacuumed"
                    )
                add["deletionVector"] = d
            acts.append({"add": add})
    n_re_adds = sum(1 for a in acts if "add" in a)
    n_rm = sum(1 for a in acts if "remove" in a)
    acts.append(
        {
            "commitInfo": {
                "operation": f"RESTORE TO VERSION {version}",
                "operationMetrics": {
                    "numRestoredFiles": str(n_re_adds),
                    "numRemovedFiles": str(n_rm),
                },
            }
        }
    )
    return commit(table_dir, acts)


def read_snapshot_actions(
    spark: SparkSession, table_dir: str, *, version_as_of: int
) -> DataFrame:
    """The action set that reconstructs ``version_as_of`` — the same
    checkpoint-aware resolution :func:`read_snapshot` uses (shared so
    RESTORE and readers cannot drift): checkpoint + tail when the
    version is at/after the checkpoint, raw JSON below it, and a
    clear error once log cleanup has removed that history."""
    ck = _checkpoint_version(table_dir)
    if ck is not None and version_as_of >= ck:
        actions = read_log_actions(spark, table_dir)
    else:
        v0 = os.path.join(table_dir, "_delta_log", f"{0:020d}.json")
        if ck is not None and not os.path.exists(v0):
            raise ValueError(
                f"version {version_as_of} of {table_dir} is no longer "
                f"reconstructable: log cleanup removed the JSON commits "
                f"before checkpoint {ck}"
            )
        actions = read_log_actions(spark, table_dir, json_only=True)
    return actions.filter(F.col("version") <= version_as_of)


def read_changes(
    spark: SparkSession,
    table_dir: str,
    *,
    starting_version: int,
    ending_version: int | None = None,
) -> DataFrame:
    """CHANGE DATA FEED between two versions — the ``table_changes``
    read the protocol supports for append/overwrite workloads: every
    ``add`` with ``dataChange=true`` in ``(starting_version,
    ending_version]`` surfaces its file's rows as ``_change_type =
    'insert'``, every data-changing ``remove`` surfaces the removed
    file's rows as ``'delete'`` (tombstoned files stay on disk until
    vacuum, so the rows are still readable — the same property time
    travel relies on), each tagged ``_commit_version``.  OPTIMIZE
    commits (``dataChange=false``) are invisible, exactly as CDF
    semantics require.  A commit carrying ``cdc`` actions (the
    row-level DML writers — DELETE/UPDATE/MERGE — write the spec's
    change-data files under ``_change_data/``) is served from THOSE
    instead: the reader reports exactly the mutated rows
    (insert / delete / update_preimage / update_postimage), never
    the touched files' unchanged passthrough churn — the spec's own
    "use cdc actions when present" rule.

    File-level legs are DELETION-VECTOR aware (ADVICE r12 medium):
    an add carrying a vector (RESTORE of a DV'd file) masks its
    insert leg, and a remove of a file that was live with a vector
    (OVERWRITE over DV'd files) masks its delete leg by the
    PREDECESSOR version's descriptor — already-deleted rows are never
    double-reported.

    One bounded metadata pass plans the per-(version, type) file
    lists — the commits in the range read on the driver, or one
    distributed log scan past :data:`DRIVER_REPLAY_MAX_BYTES`
    (:func:`_span_actions`); the data reads are plain parquet scans
    unioned per commit — plan legs bounded by the version range, never
    by data size.  Every leg reads in the declared schema of the
    ending version, so a range that crosses a schema evolution
    null-fills the new columns in the older legs, and planning the
    feed runs no Spark job below the byte budget."""
    first_needed = os.path.join(
        table_dir, "_delta_log", f"{starting_version + 1:020d}.json"
    )
    ck = _checkpoint_version(table_dir)
    if (
        ck is not None
        and starting_version + 1 <= ck
        and not os.path.exists(first_needed)
    ):
        raise ValueError(
            f"changes after version {starting_version} of {table_dir} "
            f"are no longer reconstructable: log cleanup removed the "
            f"JSON commits before checkpoint {ck}"
        )
    hi = ending_version
    if hi is None:
        log_dir = os.path.join(table_dir, "_delta_log")
        versions = _commit_versions(log_dir)
        if not versions:
            raise FileNotFoundError(f"no JSON commits under {log_dir}")
        hi = versions[-1]
    span = _span_actions(spark, table_dir, starting_version, hi)
    cdc_rows = [
        (v, a["cdc"]["path"])
        for v, a in span
        if a.get("cdc") and a["cdc"].get("path")
    ]
    cdc_versions = {v for v, _p in cdc_rows}
    adds_changed = [
        (
            v,
            a["add"]["path"],
            a["add"].get("deletionVector"),
            a["add"].get("stats"),
        )
        for v, a in span
        if a.get("add") and a["add"].get("path") and a["add"].get("dataChange")
    ]
    removes_changed = [
        (v, a["remove"]["path"])
        for v, a in span
        if a.get("remove")
        and a["remove"].get("path")
        and a["remove"].get("dataChange")
    ]
    if not adds_changed and not removes_changed and not cdc_rows:
        raise ValueError(
            f"no data-changing commits in ({starting_version}, {hi}] "
            f"of {table_dir}"
        )
    # DELETION-VECTOR awareness on the FILE-LEVEL legs (ADVICE r12
    # medium): an add carrying a vector (RESTORE re-adding a DV'd
    # file) must not re-emit its masked rows as inserts, and a remove
    # tombstoning a file that was live WITH a vector (OVERWRITE over
    # DV'd files) must not re-emit the already-deleted rows — those
    # deletions were surfaced by the DV-DML commit's own cdc file.
    # The predecessor state of each removed path is its latest add
    # BELOW the remove's version; the lookup runs only when the
    # protocol has ever allowed vectors and only over the removed
    # paths (bounded by the feed's own file census).
    rm_prior: dict[tuple[str, int], tuple] = {}
    rm_file_level = [
        (v, p) for v, p in removes_changed if v not in cdc_versions
    ]
    if rm_file_level and _dv_feature_present(table_dir):
        prior = _span_actions(
            spark,
            table_dir,
            -1,
            max(v for v, _p in rm_file_level) - 1,
            add_paths=sorted({p for _v, p in rm_file_level}),
        )
        for v, path in rm_file_level:
            below = [
                (pv, a["add"])
                for pv, a in prior
                if a["add"]["path"] == path and pv < v
            ]
            if below:
                _pv, add = max(below, key=lambda t: t[0])
                rm_prior[(path, v)] = (
                    add.get("deletionVector"),
                    add.get("stats"),
                )

    # every leg reads in the END version's declared schema: files
    # written before a schema evolution null-fill the newer columns,
    # so the legs union cleanly, and planning runs no inference job
    from pyspark.sql.types import StringType, StructField

    meta = _latest_meta(spark, table_dir, version_as_of=hi)
    schema_string = meta["schemaString"] if meta else None
    mapping = _mapping_from(schema_string)
    data_schema = _read_schema(schema_string)
    cdc_schema = _read_schema(
        schema_string, StructField("_change_type", StringType(), True)
    )

    def _scan(path: str, schema, **options) -> DataFrame:
        reader = spark.read.options(**options)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(os.path.join(table_dir, path))

    def _file_leg(path: str, dv, stats) -> DataFrame:
        # basePath: partition columns come from the file's Hive
        # directories, as in a snapshot scan
        scan = _scan(path, data_schema, basePath=table_dir)
        if dv is not None:
            scan = (
                scan.withColumn(
                    "__fname",
                    F.substring_index(
                        F.col("_metadata.file_path"), "/", -1
                    ),
                )
                .withColumn("__ridx", F.col("_metadata.row_index"))
                .join(
                    F.broadcast(
                        _dv_rows(spark, table_dir, [(path, dv, stats)])
                    ),
                    ["__fname", "__ridx"],
                    "left_anti",
                )
                .drop("__fname", "__ridx")
            )
        return scan

    def _tag(leg: DataFrame, v: int, change_type: str | None = None):
        leg = _to_logical(leg, mapping)
        if change_type is not None:
            leg = leg.withColumn("_change_type", F.lit(change_type))
        return leg.withColumn("_commit_version", F.lit(v).cast("bigint"))

    # row-level feed first: a change-data file already carries
    # _change_type for exactly the mutated rows
    legs = [_tag(_scan(path, cdc_schema), v) for v, path in cdc_rows]
    for v, path, dv, stats in adds_changed:
        if v not in cdc_versions:  # else served row-level above
            legs.append(_tag(_file_leg(path, dv, stats), v, "insert"))
    for v, path in rm_file_level:
        dv, stats = rm_prior.get((path, v), (None, None))
        legs.append(_tag(_file_leg(path, dv, stats), v, "delete"))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _span_actions(
    spark: SparkSession,
    table_dir: str,
    lo: int,
    hi: int,
    *,
    add_paths: list[str] | None = None,
) -> list[tuple[int, dict]]:
    """``(version, action)`` for the file actions (add / remove /
    cdc) of the JSON commits in ``(lo, hi]`` — with ``add_paths``,
    only the adds of those paths.  The change feed's metadata pass:
    while the commits' total size stays within
    :data:`DRIVER_REPLAY_MAX_BYTES` they are read on the driver with
    no Spark job; past it one distributed scan collects the same
    actions."""
    import json as _json

    log_dir = os.path.join(table_dir, "_delta_log")
    versions = [v for v in _commit_versions(log_dir) if lo < v <= hi]
    files = [os.path.join(log_dir, f"{v:020d}.json") for v in versions]
    keep = set(add_paths) if add_paths is not None else None
    if sum(os.path.getsize(f) for f in files) <= DRIVER_REPLAY_MAX_BYTES:
        out = []
        for v, f in zip(versions, files):
            with open(f) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    act = _json.loads(line)
                    if keep is not None:
                        hit = (act.get("add") or {}).get("path") in keep
                    else:
                        hit = any(k in act for k in ("add", "remove", "cdc"))
                    if hit:
                        out.append((v, act))
        return out
    acts = read_log_actions(spark, table_dir, json_only=True).filter(
        (F.col("version") > lo) & (F.col("version") <= hi)
    )
    if keep is not None:
        acts = acts.filter(F.col("add.path").isin(sorted(keep)))
    else:
        acts = acts.filter(
            F.col("add").isNotNull()
            | F.col("remove").isNotNull()
            | F.col("cdc").isNotNull()
        )
    return [
        (
            int(r.version),
            {
                k: r[k].asDict(recursive=True)
                for k in ("add", "remove", "cdc")
                if r[k] is not None
            },
        )
        for r in acts.select("version", "add", "remove", "cdc").collect()
    ]


def table_history(spark: SparkSession, table_dir: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per commit with its operation,
    parameters, and the writer-recorded ``operationMetrics``
    (numAddedFiles / numOutputRows / numTargetRows* / executionTimeMs
    — the telemetry fields the reference's own ``_delta_log`` commits
    expose) plus add/remove counts recomputed from the actions — the
    audit view operators read before a time travel or restore.

    ``timestamp`` is the SAME timeline :func:`resolve_timestamp`
    uses — ``commitInfo.inCommitTimestamp`` on ICT commits,
    monotonic-adjusted commit-file mtime otherwise — so a timestamp
    read here and passed to TIMESTAMP AS OF round-trips to the same
    version.  The mtime timeline is one driver-side directory scan
    (row count = surviving JSON commits, bounded by checkpoint-led
    log cleanup)."""
    adj, rows = None, []
    for v, m in _json_commit_mtimes(table_dir):
        adj = m if adj is None else max(m, adj + 1)
        rows.append((v, adj))
    tl = spark.createDataFrame(
        rows, "version bigint, _mtime_ts bigint"
    )
    return (
        read_log_actions(spark, table_dir)
        .groupBy("version")
        .agg(
            F.max("commitInfo.operation").alias("operation"),
            F.max("commitInfo.inCommitTimestamp").alias(
                "inCommitTimestamp"
            ),
            F.any_value(
                F.col("commitInfo.operationParameters"), True
            ).alias("operationParameters"),
            F.any_value(
                F.col("commitInfo.operationMetrics"), True
            ).alias("operationMetrics"),
            F.sum(F.col("add").isNotNull().cast("bigint")).alias("n_adds"),
            F.sum(F.col("remove").isNotNull().cast("bigint")).alias(
                "n_removes"
            ),
        )
        .join(F.broadcast(tl), "version", "left")
        .withColumn(
            "timestamp",
            F.coalesce(F.col("inCommitTimestamp"), F.col("_mtime_ts")),
        )
        .drop("_mtime_ts")
    )


def table_detail(spark: SparkSession, table_dir: str) -> DataFrame:
    """DESCRIBE DETAIL: one row — format, live-file census (count +
    logged byte total), partition columns, the feature registries
    (constraints, generated columns, column-mapping mode), protocol
    gate, and commit count — the operator's one-stop table summary,
    computed ENTIRELY from log metadata (no data file is opened)."""
    import json as _json

    acts = read_log_actions(spark, table_dir).localCheckpoint(
        eager=True
    )
    lf = live_files(acts)
    census = lf.agg(
        F.count("*").cast("bigint").alias("num_files"),
        F.coalesce(F.sum("size"), F.lit(0)).cast("bigint").alias(
            "size_in_bytes"
        ),
        F.sum(
            F.col("deletionVector").isNotNull().cast("bigint")
        ).alias("num_deletion_vectors"),
        F.coalesce(
            F.sum("deletionVector.cardinality"), F.lit(0)
        ).cast("bigint").alias("dv_deleted_rows"),
    )
    meta = _latest_meta(spark, table_dir)
    cfg = (meta["configuration"] or {}) if meta else {}
    n_cons = sum(1 for k in cfg if k.startswith(_CONSTRAINT_PREFIX))
    n_gen = 0
    if meta and meta["schemaString"]:
        n_gen = sum(
            1
            for f in _json.loads(meta["schemaString"]).get("fields", [])
            if (f.get("metadata") or {}).get("delta.generationExpression")
        )
    proto = (
        acts.filter(F.col("protocol").isNotNull())
        .agg(
            F.max("protocol.minReaderVersion").alias("r"),
            F.max("protocol.minWriterVersion").alias("w"),
        )
        .first()
    )
    n_commits = acts.agg(F.count_distinct("version")).first()[0]
    return census.select(
        F.lit("parquet").alias("format"),
        "num_files",
        "size_in_bytes",
        "num_deletion_vectors",
        "dv_deleted_rows",
        F.lit(
            ",".join(meta["partitionColumns"] or []) if meta else ""
        ).alias("partition_columns"),
        F.lit(n_cons).cast("bigint").alias("num_constraints"),
        F.lit(n_gen).cast("bigint").alias("num_generated_columns"),
        F.lit(
            cfg.get("delta.columnMapping.mode", "none")
        ).alias("column_mapping_mode"),
        F.lit(int(proto["r"])).cast("bigint").alias("min_reader_version"),
        F.lit(int(proto["w"])).cast("bigint").alias("min_writer_version"),
        F.lit(int(n_commits)).cast("bigint").alias("num_commits"),
    )


class _NativeMergeBuilder:
    """Accumulates WHEN clauses delta-spark-builder style, executes
    through :func:`merge_into`.  One clause of each kind (the SCD2 /
    upsert recipes use exactly that); when both matched clauses are
    given, DELETE evaluates first (documented deviation from
    delta-spark's call-order rule — pass disjoint conditions)."""

    def __init__(self, table: "NativeDeltaTable", source, condition: str):
        self._t = table
        self._source = source
        self._on = condition
        self._upd = None
        self._upd_cond = None
        self._del_cond = None
        self._ins = None
        self._ins_cond = None
        self._evolve = False

    def withSchemaEvolution(self):
        self._evolve = True
        return self

    def whenMatchedUpdate(self, condition: str | None = None, set=None):
        if self._upd is not None:
            raise ValueError("whenMatchedUpdate already given")
        self._upd = dict(set or {})
        self._upd_cond = condition
        return self

    def whenMatchedDelete(self, condition: str | None = None):
        if self._del_cond is not None:
            raise ValueError("whenMatchedDelete already given")
        self._del_cond = condition or "true"
        return self

    def whenNotMatchedInsert(self, condition: str | None = None, values=None):
        if self._ins is not None:
            raise ValueError("whenNotMatchedInsert already given")
        self._ins = dict(values or {})
        self._ins_cond = condition
        return self

    def execute(self) -> int:
        return merge_into(
            self._t._spark,
            self._t._table_dir,
            self._source,
            self._on,
            when_matched_update=self._upd,
            when_matched_update_condition=self._upd_cond,
            when_matched_delete_condition=self._del_cond,
            when_not_matched_insert=self._ins,
            when_not_matched_insert_condition=self._ins_cond,
            target_alias=self._t._alias,
            source_alias=self._t._salias,
            n_files=self._t._n_files,
            schema_evolution=self._evolve,
        )


class NativeDeltaTable:
    """``delta.tables.DeltaTable`` stand-in over the native log: the
    public merge-builder protocol (``alias / merge /
    whenMatchedUpdate / whenMatchedDelete / whenNotMatchedInsert /
    execute``) plus ``toDF``, executed by this module's writers —
    which makes :func:`cdc_pipe_line_spark.delta_merge.build_scd2_merge`
    (previously runnable only against delta-spark or the test fake)
    a REAL statement in this container.  The source frame may arrive
    pre-aliased (the recipes call ``source.alias('s')``); the builder
    re-derives the alias from the merge condition's ``<alias>.``
    prefixes, so pass the same names in ``alias()`` and the
    condition."""

    def __init__(self, spark: SparkSession, table_dir: str, *, n_files: int = 1):
        self._spark = spark
        self._table_dir = table_dir
        self._alias = "t"
        self._salias = "s"
        self._n_files = n_files

    @classmethod
    def forPath(cls, spark: SparkSession, table_dir: str) -> "NativeDeltaTable":
        if not os.path.isdir(os.path.join(table_dir, "_delta_log")):
            raise ValueError(f"{table_dir} is not a Delta table")
        return cls(spark, table_dir)

    @classmethod
    def isDeltaTable(cls, spark: SparkSession, table_dir: str) -> bool:
        return os.path.isdir(os.path.join(table_dir, "_delta_log"))

    def alias(self, name: str) -> "NativeDeltaTable":
        self._alias = name
        return self

    def toDF(self) -> DataFrame:
        return read_snapshot(self._spark, self._table_dir)

    def merge(self, source: DataFrame, condition: str) -> _NativeMergeBuilder:
        import re as _re

        aliases = set(_re.findall(r"\b(\w+)\.", condition))
        others = aliases - {self._alias}
        if len(others) == 1:
            self._salias = others.pop()
        return _NativeMergeBuilder(self, source, condition)
