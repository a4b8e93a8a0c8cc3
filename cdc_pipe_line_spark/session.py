"""SparkSession factory.

The reference built its Spark session ad hoc with Delta extensions
(reference: deltaprocessing.py:13-18).  Here the session is the single
entry point for the whole engine, tuned for analytic workloads:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- Arrow on (vectorized pandas UDF / toPandas transfer)
- UTC session timezone (stable timestamp semantics across engines —
  required for DuckDB-oracle comparison and for any multi-cluster run)
- shuffle partitions sized by env (local test: ~cores; cluster: set
  spark.sql.shuffle.partitions explicitly or rely on AQE coalescing)
- a codegen class cache that holds the engine's working set
  (:data:`CODEGEN_CACHE_ENTRIES`)

On a real cluster, pass ``master=None`` and let spark-submit configs
win; every ``config()`` here uses ``setIfMissing`` semantics via the
builder so submit-time settings take precedence.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Delta Lake is the intended SCD2/temporal sink at deployment scale; the
# local test image does not ship the jars, so everything degrades to
# parquet cleanly (see cdc/scd2.py).
try:  # pragma: no cover - exercised only where delta-spark is installed
    from delta import configure_spark_with_delta_pip  # type: ignore

    HAS_DELTA = True
except Exception:  # ModuleNotFoundError in the test image
    configure_spark_with_delta_pip = None
    HAS_DELTA = False

#: ``spark.sql.codegen.cache.maxEntries``.  Spark's default keeps 100
#: generated classes, but one steady SCD2 upload with its read round
#: (diff, MERGE, point and as-of reads, change feed, anomaly refresh)
#: uses 130-170, so each upload evicted and recompiled the classes the
#: previous one built.  With 1000 a steady round compiles 30-70 (the
#: plans whose shape grows with the log); one cached class costs a few
#: KB of metaspace.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "cdc-pipe-line-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Parameters
    ----------
    master:
        Defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``) when
        no cluster master is configured.  On a cluster, leave ``None``
        and launch through spark-submit.
    shuffle_partitions:
        Post-shuffle parallelism.  Locally defaults to the core count;
        at 100 TB scale set this to ~2-3x total executor cores (or rely
        on AQE coalescing from a high initial value).

    The codegen class cache holds :data:`CODEGEN_CACHE_ENTRIES`
    classes instead of Spark's 100, because one steady upload with its
    reads uses 130-170: with the default each upload recompiled the
    classes of the one before.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else os.cpu_count() or 8

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # managed (incl. bucketed) tables go to a scratch warehouse, not
        # the process cwd; on a cluster spark-submit overrides this with
        # the real object-store warehouse path
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/cdc_warehouse"
        ))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet: vectorized reader + predicate pushdown are on by
        # default; keep timestamps proleptic/µs for cross-engine parity
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # driver-side results should stay small; fail fast if an op
        # accidentally collects the data path
        .config("spark.driver.maxResultSize", "2g")
        # local mode: the driver JVM IS the executor — Spark's 1g
        # default heap caps the whole engine.  Size it like a worker
        # (overridable; ignored when a cluster master provides it).
        # CAVEAT: driver.memory only takes effect when THIS process
        # launches the JVM gateway.  Under spark-submit, or when a
        # SparkContext already exists in the process, the setting is
        # silently ignored — size the heap via spark-submit
        # --driver-memory there (get_spark logs a warning on mismatch).
        .config("spark.driver.memory", os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "8g"
        ))
        # static conf, read once when the JVM's codegen cache is built:
        # same launch-time CAVEAT as driver.memory
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
    )
    if master:
        builder = builder.master(master)
    if HAS_DELTA:  # pragma: no cover
        builder = builder.config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
        spark = configure_spark_with_delta_pip(builder).getOrCreate()
    else:
        spark = builder.getOrCreate()
    _warn_if_launch_conf_ignored(spark)
    return spark


def _warn_if_launch_conf_ignored(spark: SparkSession) -> None:
    """driver.memory and the codegen cache size are JVM-launch settings:
    they only apply when this process started the gateway.  If a
    pre-existing context (spark-submit, an earlier session) runs with
    other values than the ones we asked for, say so instead of letting
    the sizing silently not happen."""
    wanted = {
        "spark.driver.memory": (
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"), "1g"
        ),
        "spark.sql.codegen.cache.maxEntries": (
            str(CODEGEN_CACHE_ENTRIES), "100"
        ),
    }
    try:
        conf = spark.sparkContext.getConf()
        actual = {k: conf.get(k, default) for k, (_, default) in wanted.items()}
    except Exception:  # pragma: no cover - defensive; conf read is cheap
        return
    ignored = [
        f"{k} is {actual[k]!r}, not the requested {want!r}"
        for k, (want, _) in wanted.items()
        if actual[k] != want
    ]
    if ignored:
        import warnings

        warnings.warn(
            "; ".join(ignored) + ": the JVM was already running when "
            "get_spark() was called (spark-submit or a prior session), "
            "so builder launch settings were ignored.  Set them at "
            "launch instead (--driver-memory, --conf).",
            RuntimeWarning,
            stacklevel=3,
        )
