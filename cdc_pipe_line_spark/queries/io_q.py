"""Source/sink queries (SURVEY.md §2.1 S1-S14): each stages a
deterministic file-format fixture under ``/tmp/cdc_io_cache`` derived
from the parquet test tables, ingests it through
:mod:`cdc_pipe_line_spark.sources`, and is hash-checked against a
DuckDB oracle over the original tables — proving the format round
trips losslessly.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_pipe_line_spark import ooxml, sources


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from cdc_pipe_line_spark.queries import load_table

    return load_table(spark, sf_dir, name)


def _cache(sf_dir: str, leaf: str) -> tuple[str, bool]:
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = f"/tmp/cdc_io_cache/{sf_name}/{leaf}"
    ready = os.path.exists(os.path.join(path, "_READY")) or (
        os.path.isfile(path) and os.path.getsize(path) > 0
    )
    return path, ready


def _mark(path: str) -> None:
    with open(os.path.join(path, "_READY"), "w") as fh:
        fh.write("ok")


# ------------------------------------------------------------- S1 + S5


def q_io_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-format round trips probe-tagged (S1 + S12/S13):

    - ``csv``: part -> CSV sink -> CSV scan (header + inferSchema);
    - ``json``: events -> JSON sink -> JSON scan.

    Both aggregate after the scan so the hash proves the format round
    trips losslessly.
    """
    csv_path, ready = _cache(sf_dir, "part_csv")
    if not ready:
        part = _t(spark, sf_dir, "part").select(
            "p_partkey", "p_brand", "p_retailprice"
        )
        part.write.mode("overwrite").option("header", "true").csv(csv_path)
        _mark(csv_path)
    csv = (
        sources.read_csv(spark, os.path.join(csv_path, "*.csv"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.sum("p_partkey").alias("sum_k"),
            F.min("p_retailprice").alias("mn"),
            F.max("p_retailprice").alias("mx"),
        )
        .select(F.lit("csv").alias("probe"), F.col("p_brand").alias("grp"),
                "n", "sum_k", "mn", "mx")
    )
    json_path, ready = _cache(sf_dir, "events_json")
    if not ready:
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        sources.write_json(ev, json_path)
        _mark(json_path)
    js = (
        sources.read_json(spark, json_path)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("sum_k"),
            F.max("value").alias("mx"),
        )
        .select(F.lit("json").alias("probe"), F.col("event_type").alias("grp"),
                "n", "sum_k", F.lit(None).cast("double").alias("mn"), "mx")
    )
    return csv.unionByName(js)


# ------------------------------------------------------------ S5 + S14


def q_io_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem -> partitioned parquet layout -> pruned scan of ONE
    partition (S14): the Catalyst answer to the reference's
    path-convention pruning."""
    path, ready = _cache(sf_dir, "lineitem_part")
    if not ready:
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_returnflag"
        )
        sources.write_parquet_partitioned(li, path, ["l_returnflag"])
        _mark(path)
    df = spark.read.parquet(path).filter(F.col("l_returnflag") == "A")
    return df.agg(
        F.count("*").alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.sum("l_orderkey").alias("sum_orderkey"),
    )


def q_io_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (S14 at 100 TB): the partition to
    read is only known AFTER filtering a dimension — Catalyst injects
    a runtime subquery into the fact scan's PartitionFilters
    (``dynamicpruningexpression``), so one of 3 partition directories
    is listed/read instead of the whole layout.  This is the scan-side
    behavior that makes star joins over a partitioned lake viable:
    static pruning (io_partitioned_prune) covers literal predicates,
    DPP covers join-derived ones.  Plan-asserted in test_plans."""
    path, ready = _cache(sf_dir, "lineitem_part")
    if not ready:
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_returnflag"
        )
        sources.write_parquet_partitioned(li, path, ["l_returnflag"])
        _mark(path)
    dim_path, dready = _cache(sf_dir, "flag_dim")
    if not dready:
        spark.createDataFrame(
            [("A", "returned"), ("N", "active"), ("R", "refused")],
            "flag string, status string",
        ).coalesce(1).write.mode("overwrite").parquet(dim_path)
        _mark(dim_path)
    fact = spark.read.parquet(path)
    dim = spark.read.parquet(dim_path).filter(F.col("status") == "returned")
    return (
        fact.join(dim, fact.l_returnflag == dim.flag)
        .groupBy("status")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_orderkey").alias("sum_orderkey"),
        )
    )

def q_io_mergeschema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level schema evolution (S5/S14 at 100 TB): two parquet
    batches written at different pipeline eras — the later one grew a
    column — scanned together with ``mergeSchema``: early files
    null-fill the new column instead of failing the read.  This is
    the physical twin of the logical drift union
    (reshape_union_drift) and the Delta ``mergeSchema`` recipe."""
    path, ready = _cache(sf_dir, "orders_evolved")
    if not ready:
        orders = _t(spark, sf_dir, "orders")
        old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        old.write.mode("overwrite").parquet(path)
        new.write.mode("append").parquet(path)
        _mark(path)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    # avg, not the raw global sum: a single 1e11-magnitude sum over
    # millions of doubles drifts by CENTS between engines (error ~
    # n * ulp(total)), so cents-rounding can't bind it; the per-row
    # mean divides the drift by n and is scale-stable at 2 decimals
    return df.agg(
        F.count("*").alias("n_rows"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        F.count("o_orderstatus").alias("n_with_status"),
        F.count_distinct("o_orderstatus").alias("n_statuses"),
    )

def q_io_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row quarantine on a CSV scan (S1 at 100 TB): the
    PERMISSIVE reader routes unparseable lines into a corrupt-record
    column instead of failing the job — the file-format twin of the
    multimodal poison-row policy.  Every 7th nation row is written
    deliberately broken (wrong arity + non-numeric key); the scan
    must count and carry them while the good rows aggregate."""
    import os as _os

    path, ready = _cache(sf_dir, "nation_dirty_csv")
    if not ready:
        rows = (
            _t(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .orderBy("n_nationkey")
            .collect()
        )
        _os.makedirs(path, exist_ok=True)
        with open(_os.path.join(path, "part-00000.csv"), "w") as fh:
            for r in rows:
                if r.n_nationkey % 7 == 0:
                    fh.write(f"BROKEN_{r.n_nationkey},oops\n")
                else:
                    fh.write(
                        f"{r.n_nationkey},{r.n_name},{r.n_regionkey}\n"
                    )
        _mark(path)
    df = spark.read.schema(
        "n_nationkey int, n_name string, n_regionkey int, _corrupt string"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt"
    ).csv(path)
    return df.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_good"),
        F.count("_corrupt").alias("n_quarantined"),
        F.sum("n_nationkey").cast("bigint").alias("sum_good_keys"),
        F.count_distinct("n_regionkey").alias("n_regions"),
    )

# ------------------------------------------------------------------ S2


def q_io_office_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Office upload formats probe-tagged (S2 + S3 + R5):

    - ``xlsx``: nation -> xlsx (junk rows above a 'Date' header, the
      reference shape) -> stdlib OOXML scan with header autodetect;
    - ``docx``: region -> docx table -> stdlib OOXML scan.
    """
    xlsx_path, ready = _cache(sf_dir, "nation.xlsx")
    if not ready:
        nation = sorted(
            _t(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .collect()
        )
        rows: list[list] = [
            ["Generated workbook", None, None],
            [None, "ignore me", None],
            ["Name", "Date", "RegionKey"],
        ]
        rows += [[r.n_name, "2024-01-01", r.n_regionkey] for r in nation]
        os.makedirs(os.path.dirname(xlsx_path), exist_ok=True)
        with open(xlsx_path, "wb") as fh:
            fh.write(ooxml.write_xlsx({"Balance-Sheet-TTM": rows}))
    xl = sources.read_xlsx(spark, xlsx_path)
    xl = xl.select(
        F.lit("xlsx").alias("probe"),
        F.col(xl.columns[0]).alias("c1"),
        F.col(xl.columns[1]).alias("c2"),
        F.col(xl.columns[2]).alias("c3"),
    )

    docx_path, ready = _cache(sf_dir, "region.docx")
    if not ready:
        region = sorted(
            _t(spark, sf_dir, "region").select("r_regionkey", "r_name").collect()
        )
        rows = [["r_regionkey", "r_name"]]
        rows += [[str(r.r_regionkey), r.r_name] for r in region]
        os.makedirs(os.path.dirname(docx_path), exist_ok=True)
        with open(docx_path, "wb") as fh:
            fh.write(ooxml.write_docx_table(rows))
    dx = sources.read_docx(spark, docx_path)
    dx = dx.select(
        F.lit("docx").alias("probe"),
        F.col(dx.columns[0]).alias("c1"),
        F.col(dx.columns[1]).alias("c2"),
        F.lit(None).cast("string").alias("c3"),
    )
    return xl.unionByName(dx)


# ------------------------------------------------- S4 + R3 + R4 + R6


def q_io_zip_consolidated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two workbooks in a zip -> consolidated wide table with lineage
    columns and schema-drift union (S4; app/app.py:574-646).

    Workbook ACME has a 2-quarter sheet; workbook ZETA-corp has a
    1-quarter sheet — the missing quarter must surface as nulls via
    unionByName(allowMissingColumns=True).
    """
    path, ready = _cache(sf_dir, "financials.zip")
    if not ready:
        nation = sorted(
            _t(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .collect()
        )
        region = sorted(
            _t(spark, sf_dir, "region").select("r_regionkey", "r_name").collect()
        )
        acme_rows: list[list] = [["Metric", "Date", "2024-03-31", "2024-06-30"]]
        acme_rows += [
            [r.n_name, "TTM", r.n_regionkey, r.n_nationkey] for r in nation
        ]
        zeta_rows: list[list] = [["Metric", "Date", "2024-03-31"]]
        zeta_rows += [[r.r_name, "Q", r.r_regionkey] for r in region]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            zf.writestr(
                "ACME-financials.xlsx",
                ooxml.write_xlsx({"Balance-Sheet-TTM": acme_rows}),
            )
            zf.writestr(
                "ZETA-corp.xlsx", ooxml.write_xlsx({"Income-Statement-Q": zeta_rows})
            )
            zf.writestr("__MACOSX/junk.xlsx", b"not a workbook")
        os.replace(tmp, path)
    return sources.read_zip_workbooks(spark, path)


# ----------------------------------------------------------------- S10


def q_io_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier -> JDBC sink -> partitioned JDBC scan -> agg (S10).

    The database is embedded Derby (ships with Spark's JVM) standing in
    for the reference's Postgres (consumer.py:126-206,
    chatbot.py:150-158); the wrapper is plain ``df.write.jdbc`` /
    ``spark.read.jdbc`` so any dialect with a driver jar works
    unchanged.  The read back is a 4-way parallel range scan on
    ``s_suppkey`` — the JDBC scale shape.
    """
    path, ready = _cache(sf_dir, "derby")
    # keep Derby's home (and its derby.log) out of the repo cwd
    spark._jvm.java.lang.System.setProperty("derby.system.home", "/tmp/cdc_io_cache")
    url = f"jdbc:derby:{path}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    if not ready:
        os.makedirs(path, exist_ok=True)
        supp = _t(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
        )
        sources.write_jdbc(
            supp, url, "supplier_rt", num_partitions=2, properties=props
        )
        _mark(path)
    hi = 10_000_000
    df = sources.read_jdbc(
        spark,
        url,
        "supplier_rt",
        partition_column="s_suppkey",
        lower_bound=0,
        upper_bound=hi,
        num_partitions=4,
        properties=props,
    )
    df = df.toDF(*[c.lower() for c in df.columns])  # Derby uppercases
    return df.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.sum("s_suppkey").alias("sum_key"),
        F.min("s_acctbal").alias("min_bal"),
        F.max("s_acctbal").alias("max_bal"),
    )


QUERIES = {
    "io_text_roundtrip": q_io_text_roundtrip,
    "io_partitioned_prune": q_io_partitioned_prune,
    "io_dpp_join": q_io_dpp_join,
    "io_mergeschema_scan": q_io_mergeschema,
    "io_csv_quarantine": q_io_csv_quarantine,
    "io_office_ingest": q_io_office_ingest,
    "io_zip_consolidated": q_io_zip_consolidated,
    "io_jdbc_roundtrip": q_io_jdbc_roundtrip,
}

ORACLE = {
    "io_csv_quarantine": """
SELECT count(*) AS n_rows,
  CAST(sum(CASE WHEN n_nationkey % 7 != 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_good,
  CAST(sum(CASE WHEN n_nationkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_quarantined,
  CAST(sum(CASE WHEN n_nationkey % 7 != 0 THEN n_nationkey END) AS BIGINT)
    AS sum_good_keys,
  count(DISTINCT CASE WHEN n_nationkey % 7 != 0 THEN n_regionkey END)
    AS n_regions
FROM nation""",
    "io_mergeschema_scan": """
SELECT count(*) AS n_rows,
  round(avg(o_totalprice), 2) AS avg_price,
  count(CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END)
    AS n_with_status,
  count(DISTINCT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END)
    AS n_statuses
FROM orders""",
    "io_dpp_join": """
WITH dim AS (
  SELECT * FROM (VALUES ('A', 'returned'), ('N', 'active'),
                        ('R', 'refused')) d(flag, status)
  WHERE status = 'returned')
SELECT status, count(*) AS n_rows, sum(l_quantity) AS sum_qty,
       CAST(sum(l_orderkey) AS BIGINT) AS sum_orderkey
FROM lineitem JOIN dim ON l_returnflag = flag
GROUP BY status""",
    "io_text_roundtrip": """
SELECT 'csv' AS probe, p_brand AS grp, count(*) AS n,
       CAST(sum(p_partkey) AS BIGINT) AS sum_k,
       min(p_retailprice) AS mn, max(p_retailprice) AS mx
FROM part GROUP BY p_brand
UNION ALL
SELECT 'json', event_type, count(*), CAST(sum(event_id) AS BIGINT),
       CAST(NULL AS DOUBLE), max(value)
FROM events GROUP BY event_type""",
    "io_partitioned_prune": """
SELECT count(*) AS n_rows, sum(l_quantity) AS sum_qty,
       CAST(sum(l_orderkey) AS BIGINT) AS sum_orderkey
FROM lineitem WHERE l_returnflag = 'A'""",
    "io_office_ingest": """
SELECT 'xlsx' AS probe, n_name AS c1, '2024-01-01' AS c2,
       CAST(n_regionkey AS VARCHAR) AS c3
FROM nation
UNION ALL
SELECT 'docx', CAST(r_regionkey AS VARCHAR), r_name, NULL FROM region""",
    "io_zip_consolidated": """
SELECT 'GAS UTILITY' AS SECTOR, 'ACME' AS COMPANY,
       'Balance' AS STATEMENT, 'TTM' AS FREQUENCY,
       n_name AS METRIC, 'TTM' AS Date,
       CAST(n_regionkey AS VARCHAR) AS "2024-03-31",
       CAST(n_nationkey AS VARCHAR) AS "2024-06-30"
FROM nation
UNION ALL
SELECT 'GAS UTILITY', 'ZETA', 'Income', 'Q',
       r_name, 'Q', CAST(r_regionkey AS VARCHAR), NULL
FROM region""",
    "io_jdbc_roundtrip": """
SELECT s_nationkey, count(*) AS n_suppliers,
       CAST(sum(s_suppkey) AS BIGINT) AS sum_key,
       min(s_acctbal) AS min_bal, max(s_acctbal) AS max_bal
FROM supplier GROUP BY s_nationkey""",
}


def q_io_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan (the columnar alternative Spark supports
    natively alongside parquet): orders -> zlib-compressed ORC
    partitioned by o_orderstatus -> pruned scan of TWO of three
    partitions with a pushed residual predicate, aggregated per
    (status, priority).  The hash binds the full round trip —
    timestamps, doubles and strings surviving the ORC writer/reader
    pair losslessly; the oracle computes the same aggregate from the
    original parquet.  Plan shape: partition pruning on the directory
    column plus ORC predicate pushdown on o_totalprice (both visible
    in the scan node), identical to the parquet path — format choice
    does not change the pruning story at 100 TB."""
    path, ready = _cache(sf_dir, "orders_orc")
    if not ready:
        orders = _t(spark, sf_dir, "orders")
        (
            orders.write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .option("compression", "zlib")
            .orc(path)
        )
        _mark(path)
    df = (
        spark.read.orc(path)
        .filter(F.col("o_orderstatus").isin("O", "F"))
        .filter(F.col("o_totalprice") > 1000.0)
    )
    return df.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.max(F.date_format("o_orderdate", "yyyy-MM-dd")).alias(
            "max_date"
        ),
        F.sum("o_orderkey").alias("sum_key"),
    )


QUERIES["io_orc_roundtrip"] = q_io_orc_roundtrip

ORACLE["io_orc_roundtrip"] = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
  round(sum(o_totalprice), 2) AS sum_price,
  max(strftime(o_orderdate, '%Y-%m-%d')) AS max_date,
  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
FROM orders
WHERE o_orderstatus IN ('O', 'F') AND o_totalprice > 1000.0
GROUP BY 1, 2"""


def q_io_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record quarantine on a JSON-lines scan (S12 at
    100 TB) — the JSON twin of the CSV leg: PERMISSIVE mode routes
    syntactically broken lines AND schema-violating values into the
    corrupt-record column while good rows aggregate.  Every 7th
    nation row is written broken (truncated JSON); every 11th carries
    a non-numeric key (schema violation — parses as JSON but fails
    the column cast)."""
    import os as _os

    path, ready = _cache(sf_dir, "nation_dirty_json")
    if not ready:
        nations = (
            _t(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name")
            .orderBy("n_nationkey")
            .collect()
        )
        _os.makedirs(path, exist_ok=True)
        with open(_os.path.join(path, "part-00000.json"), "w") as fh:
            for r in nations:
                if r.n_nationkey % 7 == 0:
                    fh.write(
                        '{"n_nationkey": %d, "n_name": "tr'
                        "\n" % r.n_nationkey
                    )
                elif r.n_nationkey % 11 == 0 and r.n_nationkey > 0:
                    fh.write(
                        '{"n_nationkey": "NOT_A_NUMBER", '
                        '"n_name": "%s"}\n' % r.n_name
                    )
                else:
                    fh.write(
                        '{"n_nationkey": %d, "n_name": "%s"}\n'
                        % (r.n_nationkey, r.n_name)
                    )
        _mark(path)
    df = spark.read.schema(
        "n_nationkey int, n_name string, _corrupt string"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt"
    ).json(path)
    return df.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_good"),
        F.count("_corrupt").alias("n_quarantined"),
        F.sum("n_nationkey").cast("bigint").alias("sum_good_keys"),
    )


QUERIES["io_json_quarantine"] = q_io_json_quarantine

# Oracle mirrors the writer's arithmetic: nations 0..24; %7==0 ->
# broken JSON (quarantined, key NULL), %11==0 (and >0) -> numeric
# cast failure (quarantined, key NULL); all others good.
ORACLE["io_json_quarantine"] = """
WITH n AS (SELECT n_nationkey FROM nation),
cls AS (
  SELECT n_nationkey,
    (n_nationkey % 7 = 0)
      OR (n_nationkey % 11 = 0 AND n_nationkey > 0) AS bad
  FROM n)
SELECT count(*) AS n_rows,
  CAST(sum(CASE WHEN NOT bad THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
  CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
    AS n_quarantined,
  CAST(sum(CASE WHEN NOT bad THEN n_nationkey END) AS BIGINT)
    AS sum_good_keys
FROM cls"""


def q_io_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source (the media-lake ingestion surface: one
    row per file with path/length/content) — how image/audio corpora
    enter the multimodal pipeline before ``mapInPandas`` decoding.
    One deterministic blob per nation is staged; the scan parses the
    file id from the path and fingerprints the payload — the hash
    binds path handling, length metadata, AND byte-exact content
    round trip.  Pushdown note: binaryFile supports a length-based
    filter (`length < N`) at the scan; path-derived filters prune via
    pathGlobFilter without reading bytes."""
    import os as _os

    path, ready = _cache(sf_dir, "nation_blobs")
    if not ready:
        rows = (
            _t(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name")
            .orderBy("n_nationkey")
            .collect()
        )
        _os.makedirs(path, exist_ok=True)
        for r in rows:
            blob = (r.n_name * (r.n_nationkey + 1)).encode("utf-8")
            with open(
                _os.path.join(path, f"blob_{r.n_nationkey}.bin"), "wb"
            ) as fh:
                fh.write(blob)
        _mark(path)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
    )
    return df.select(
        F.regexp_extract(F.col("path"), r"blob_(\d+)\.bin", 1)
        .cast("int")
        .alias("n_nationkey"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


QUERIES["io_binary_files"] = q_io_binary_files

ORACLE["io_binary_files"] = """
SELECT n_nationkey,
  CAST(length(repeat(n_name, n_nationkey + 1)) AS BIGINT) AS n_bytes,
  md5(repeat(n_name, n_nationkey + 1)) AS content_md5
FROM nation"""


def q_io_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (the lakehouse backfill primitive:
    INSERT OVERWRITE replaces ONLY the partitions present in the
    incoming batch).  orders lands partitioned by status; a corrected
    batch for status 'P' (prices doubled) overwrites in dynamic mode;
    the scan proves 'P' was replaced while 'O'/'F' bytes are
    untouched.  This is how a 100 TB lake reprocesses one day/status
    without rewriting the table — the overwrite's write amplification
    is the target partition, not the dataset."""
    path, ready = _cache(sf_dir, "orders_dynover")
    if not ready:
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        )
        (
            orders.write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(path)
        )
        fixed = (
            orders.filter(F.col("o_orderstatus") == "P")
            .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        try:
            (
                fixed.write.mode("overwrite")
                .partitionBy("o_orderstatus")
                .parquet(path)
            )
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev
            )
        _mark(path)
    df = spark.read.parquet(path)
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.sum("o_orderkey").alias("sum_key"),
    )


QUERIES["io_dynamic_overwrite"] = q_io_dynamic_overwrite

# 'P' rows carry doubled prices (the overwritten batch); O/F original.
ORACLE["io_dynamic_overwrite"] = """
SELECT o_orderstatus, count(*) AS n_orders,
  round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 2
    ELSE o_totalprice END), 2) AS sum_price,
  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
FROM orders GROUP BY 1"""


def q_io_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet compression-codec matrix (snappy / zstd / gzip / lz4 /
    uncompressed): the same slice written under each codec and read
    back, probe-tagged — proving the engine round-trips every codec a
    lake is likely to contain (mixed-codec tables are normal after
    config changes; the reader handles them per row group).  The
    hash binds CONTENT equality per codec; file sizes are
    deliberately not emitted (codec/version dependent)."""
    codecs = ["snappy", "zstd", "gzip", "lz4", "none"]
    out = None
    for codec in codecs:
        path, ready = _cache(sf_dir, f"li_codec_{codec}")
        if not ready:
            li = _t(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_quantity", "l_returnflag"
            )
            (
                li.write.mode("overwrite")
                .option("compression", codec)
                .parquet(path)
            )
            _mark(path)
        df = (
            spark.read.parquet(path)
            .groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.sum("l_orderkey").alias("sum_key"),
            )
            .select(
                F.lit(codec).alias("codec"),
                "l_returnflag",
                "n",
                "sum_qty",
                "sum_key",
            )
        )
        out = df if out is None else out.unionByName(df)
    return out


QUERIES["io_codec_matrix"] = q_io_codec_matrix

ORACLE["io_codec_matrix"] = """
WITH agg AS (
  SELECT l_returnflag, count(*) AS n,
    round(sum(l_quantity), 2) AS sum_qty,
    CAST(sum(l_orderkey) AS BIGINT) AS sum_key
  FROM lineitem GROUP BY 1)
SELECT c.codec, a.l_returnflag, a.n, a.sum_qty, a.sum_key
FROM agg a CROSS JOIN (
  SELECT unnest(['snappy', 'zstd', 'gzip', 'lz4', 'none']) AS codec) c"""


def q_io_zorder_clustering(spark, sf_dir):
    """Z-order (Morton) layout clustering — the multi-dimensional
    data-layout optimization behind Delta/Iceberg ``OPTIMIZE ZORDER
    BY``: interleaving the bits of two scan dimensions gives file
    cells whose min/max envelopes are TIGHT IN BOTH dimensions, so
    min/max-based file skipping prunes on either predicate; a linear
    (row-major) sort key gives tight envelopes on the leading key
    only.  This query computes the 16-bit Morton key of
    (user_id % 256, day_index % 256) over events, cells rows into
    64-key ranges for BOTH layouts, and emits each cell's row count
    + per-dimension min/max envelope + bounding-box area — the
    pruning-effectiveness evidence, one row per (layout, cell).

    Pure integer bit arithmetic end to end (shift/and/or in both
    engines — the SQL replays the interleave exactly), so the oracle
    binds the whole layout.  Scale shape: one scan, one projection
    (16-term codegen'd bit expression), one cell-keyed hash
    aggregate per layout from the same pinned frame; at 100 TB the
    same key feeds ``repartitionByRange(z)`` + a partitioned write
    (the write path is S5/S14's, already covered)."""
    ev = _t(spark, sf_dir, "events")
    u8 = (F.col("user_id") % 256).cast("int")
    d8 = (
        F.datediff(
            F.date_trunc("day", "ts"),
            F.lit("2024-01-01").cast("timestamp"),
        )
        % 256
    ).cast("int")
    base = ev.select(u8.alias("u"), d8.alias("d")).localCheckpoint(
        eager=True
    )
    z = F.lit(0)
    for i in range(8):
        z = (
            z
            + F.shiftleft(
                F.shiftright(F.col("u"), i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
            + F.shiftleft(
                F.shiftright(F.col("d"), i).bitwiseAND(F.lit(1)), 2 * i
            )
        )
    keyed = base.select(
        "u",
        "d",
        (z / 64).cast("int").alias("z_cell"),
        ((F.col("u") * 256 + F.col("d")) / 64).cast("int").alias(
            "lin_cell"
        ),
    )

    def spans(cell_col, layout):
        return (
            keyed.groupBy(F.col(cell_col).alias("cell"))
            .agg(
                F.count("*").alias("n_rows"),
                F.min("u").alias("u_min"),
                F.max("u").alias("u_max"),
                F.min("d").alias("d_min"),
                F.max("d").alias("d_max"),
            )
            .select(
                F.lit(layout).alias("layout"),
                "cell",
                "n_rows",
                "u_min",
                "u_max",
                "d_min",
                "d_max",
                (
                    (F.col("u_max") - F.col("u_min") + 1)
                    * (F.col("d_max") - F.col("d_min") + 1)
                ).alias("bbox_area"),
            )
        )

    return spans("z_cell", "zorder").unionByName(
        spans("lin_cell", "linear")
    )


QUERIES["io_zorder_clustering"] = q_io_zorder_clustering

ORACLE["io_zorder_clustering"] = """
WITH base AS (
  SELECT CAST(user_id % 256 AS INT) AS u,
    CAST(date_diff('day', DATE '2024-01-01',
      CAST(date_trunc('day', ts) AS DATE)) % 256 AS INT) AS d
  FROM events),
keyed AS (
  SELECT u, d,
    CAST((
        ((u >> 0) & 1) * 2 + ((d >> 0) & 1) * 1
      + ((u >> 1) & 1) * 8 + ((d >> 1) & 1) * 4
      + ((u >> 2) & 1) * 32 + ((d >> 2) & 1) * 16
      + ((u >> 3) & 1) * 128 + ((d >> 3) & 1) * 64
      + ((u >> 4) & 1) * 512 + ((d >> 4) & 1) * 256
      + ((u >> 5) & 1) * 2048 + ((d >> 5) & 1) * 1024
      + ((u >> 6) & 1) * 8192 + ((d >> 6) & 1) * 4096
      + ((u >> 7) & 1) * 32768 + ((d >> 7) & 1) * 16384
    ) // 64 AS INT) AS z_cell,
    CAST((u * 256 + d) // 64 AS INT) AS lin_cell
  FROM base),
z AS (
  SELECT 'zorder' AS layout, z_cell AS cell, count(*) AS n_rows,
    min(u) AS u_min, max(u) AS u_max,
    min(d) AS d_min, max(d) AS d_max
  FROM keyed GROUP BY 2),
l AS (
  SELECT 'linear' AS layout, lin_cell AS cell, count(*) AS n_rows,
    min(u) AS u_min, max(u) AS u_max,
    min(d) AS d_min, max(d) AS d_max
  FROM keyed GROUP BY 2)
SELECT layout, cell, n_rows, u_min, u_max, d_min, d_max,
  CAST((u_max - u_min + 1) * (d_max - d_min + 1) AS INT) AS bbox_area
FROM (SELECT * FROM z UNION ALL SELECT * FROM l)"""


def q_io_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python DataSource API (the
    jar-free pattern for this container's Kafka gap — see
    cdc_pipe_line_spark/pydatasource.py): an 8-shard cursor feed
    registered as ``format("cursor_feed")``, scanned with one task
    per shard, rows generated executor-side from a closed-form the
    oracle replays with generate_series.  The aggregate binds
    per-shard row counts, id checksums, and the mixed-value sum —
    any partition-planning or generator drift fails the hash."""
    from cdc_pipe_line_spark.pydatasource import CursorFeedDataSource

    try:
        spark.dataSource.register(CursorFeedDataSource)
    except Exception:  # noqa: BLE001 — already registered in-session
        pass
    df = (
        spark.read.format("cursor_feed")
        .option("shards", "8")
        .option("rowsPerShard", "10000")
        .load()
    )
    return df.groupBy("shard").agg(
        F.count("*").alias("n_rows"),
        F.sum("event_id").alias("sum_id"),
        F.sum("value").alias("sum_value"),
        F.max("offset").alias("max_offset"),
    )


QUERIES["io_python_datasource"] = q_io_python_datasource

ORACLE["io_python_datasource"] = """
WITH feed AS (
  SELECT CAST(event_id // 10000 AS INT) AS shard,
    event_id % 10000 AS off,
    event_id,
    (event_id * 2654435761) % 1000003 AS value
  FROM (SELECT unnest(range(0, 80000)) AS event_id))
SELECT shard, count(*) AS n_rows,
  CAST(sum(event_id) AS BIGINT) AS sum_id,
  CAST(sum(value) AS BIGINT) AS sum_value,
  CAST(max(off) AS BIGINT) AS max_offset
FROM feed GROUP BY 1"""


def q_io_python_datasink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SINK via the Spark 4 Python DataSource writer API — the
    other half of the jar-free connector pattern
    (``io_python_datasource`` is the read side): a two-phase-commit
    ledger sink where executors stage JSON-lines files per task and
    the driver's ``commit`` publishes an atomic manifest
    (``os.replace``), exactly the V2 writer contract a Kafka/JDBC
    sink jar speaks (ref: the reference's producer,
    app/app.py:266-287, which had no transactional story at all).

    The write round-trips: events project to (event_id, user_id,
    cents), 8 repartitioned tasks stage, commit publishes, and the
    read-back follows the MANIFEST (orphaned attempts invisible —
    pinned by unit test).  The returned rollup binds row counts, the
    cents sum, the id checksum AND the committed-file count, so a
    torn commit, lost task, or double-published epoch all fail the
    hash.  ``mode("overwrite")`` stages into a fresh epoch dir and
    swaps, so re-runs are idempotent."""
    from cdc_pipe_line_spark.pydatasource import (
        LedgerSinkDataSource,
        read_ledger,
    )

    try:
        spark.dataSource.register(LedgerSinkDataSource)
    except Exception:  # noqa: BLE001 — already registered in-session
        pass
    path, _ready = _cache(sf_dir, "ledger_sink")
    ev = _t(spark, sf_dir, "events")
    frame = ev.select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    (
        frame.repartition(8)
        .write.format("ledger_sink")
        .mode("overwrite")
        .option("path", path)
        .save()
    )
    back, manifest = read_ledger(
        spark, path, "event_id bigint, user_id bigint, cents bigint"
    )
    return (
        back.groupBy((F.col("user_id") % 10).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("cents"),
            F.sum("event_id").alias("id_sum"),
        )
        .withColumn("n_committed_files", F.lit(len(manifest["files"])))
    )


QUERIES["io_python_datasink"] = q_io_python_datasink

ORACLE["io_python_datasink"] = """
SELECT user_id % 10 AS bucket, count(*) AS n,
  CAST(sum(CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS cents,
  CAST(sum(event_id) AS BIGINT) AS id_sum,
  CAST(8 AS INT) AS n_committed_files
FROM events GROUP BY 1"""


def q_io_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML sink + scan (built into Spark 4, SPARK-44265 — no
    spark-xml package): customer -> element-per-row XML -> read back
    with an EXPLICIT schema (inference would widen longs/doubles),
    aggregated per market segment.

    The hash binds ESCAPING fidelity, the part of an XML round trip
    that actually breaks: every 13th customer's name gets the five
    XML metacharacters (``<&>"'``) plus a literal ``<tag>`` injected,
    so the writer must entity-escape and the reader must restore them
    byte-for-byte — bound via name length sums and a count of
    names still containing the raw ``<tag>`` substring after the
    round trip.  The oracle applies the same injection to the parquet
    originals.  Scale posture: one XML file per input partition like
    any FileFormat; schema-explicit reads keep the scan single-pass
    (no sampling job), which is the 100 TB discipline for ANY
    self-describing text format.
    """
    inject = F.when(
        F.col("c_custkey") % 13 == 0,
        F.concat(F.col("c_name"), F.lit(" <&>\"'<tag>")),
    ).otherwise(F.col("c_name"))
    path, ready = _cache(sf_dir, "customer_xml")
    if not ready:
        cust = _t(spark, sf_dir, "customer").withColumn("c_name", inject)
        (
            cust.select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
            .write.mode("overwrite")
            .option("rootTag", "customers")
            .option("rowTag", "customer")
            .format("xml")
            .save(path)
        )
        _mark(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "customer")
        .schema(
            "c_custkey bigint, c_name string, c_mktsegment string, "
            "c_acctbal double"
        )
        .load(path)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_cust"),
        F.sum("c_custkey").alias("sum_key"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        F.sum(F.length("c_name")).alias("sum_name_len"),
        F.sum(F.col("c_name").contains("<tag>").cast("bigint")).alias(
            "n_meta_roundtrip"
        ),
    )


QUERIES["io_xml_roundtrip"] = q_io_xml_roundtrip

ORACLE["io_xml_roundtrip"] = """
WITH c AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
    CASE WHEN c_custkey % 13 = 0
      THEN c_name || ' <&>"''<tag>' ELSE c_name END AS c_name
  FROM customer)
SELECT c_mktsegment, count(*) AS n_cust,
  CAST(sum(c_custkey) AS BIGINT) AS sum_key,
  round(sum(c_acctbal), 2) AS sum_bal,
  CAST(sum(length(c_name)) AS BIGINT) AS sum_name_len,
  CAST(sum(CASE WHEN c_name LIKE '%<tag>%' THEN 1 ELSE 0 END)
    AS BIGINT) AS n_meta_roundtrip
FROM c GROUP BY 1"""


def q_io_parquet_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet BLOOM FILTERS for point lookups
    (``parquet.bloom.filter.enabled#col``) — the data-skipping
    complement to min/max stats (`io_zorder_clustering`): min/max
    prune SORTED ranges; blooms prune UNSORTED high-cardinality point
    predicates, the classic "find these 3 customer ids in 100 TB of
    unclustered orders" shape where every row group's min/max spans
    the whole key domain and stats prune nothing.

    Two claims bind into the hash: (1) the footer actually CARRIES a
    bloom for ``o_custkey`` in every file — parquet-mr silently skips
    blooms for fully dictionary-encoded chunks (the measured trap
    `sources.parquet_bloom_present` documents; the stage write
    disables that column's dictionary to pin the real bloom path at
    fixture NDV), and (2) the point-lookup aggregate over the
    bloom-bearing files is row-identical to the plain-parquet oracle
    (blooms have no false negatives, so pruning never changes
    results).  The IN predicate is pushed to the scan (plan-asserted
    in tests/test_plans.py)."""
    path, ready = _cache(sf_dir, "orders_bloom")
    if not ready:
        (
            _t(spark, sf_dir, "orders")
            .write.mode("overwrite")
            .option("parquet.bloom.filter.enabled#o_custkey", "true")
            .option("parquet.bloom.filter.expected.ndv#o_custkey", "1000000")
            .option("parquet.enable.dictionary#o_custkey", "false")
            .parquet(path)
        )
        _mark(path)
    from cdc_pipe_line_spark.sources import parquet_bloom_present

    bloom_ok = parquet_bloom_present(spark, path, "o_custkey")
    keys = [7, 21, 99]
    sel = spark.read.parquet(path).filter(F.col("o_custkey").isin(keys))
    return sel.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum("o_orderkey").alias("sum_key"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.lit(bloom_ok).alias("bloom_present"),
    )


QUERIES["io_parquet_bloom_prune"] = q_io_parquet_bloom_prune

ORACLE["io_parquet_bloom_prune"] = """
SELECT o_custkey, count(*) AS n_orders,
  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
  round(sum(o_totalprice), 2) AS sum_price,
  TRUE AS bloom_present
FROM orders WHERE o_custkey IN (7, 21, 99) GROUP BY 1"""


def q_io_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV with EMBEDDED NEWLINES and quotes-in-quotes (RFC 4180
    quoted fields) — the ingest mode `io_csv_quarantine`'s
    line-oriented reader cannot handle: every 13th customer name gets
    a literal newline plus a quoted ``"x,y"`` fragment injected, the
    writer quotes/escapes them, and the reader must reassemble records
    across physical lines (``multiLine=true``).

    The 100 TB trap this query documents: ``multiLine=true`` makes a
    CSV file NON-SPLITTABLE — record boundaries can no longer be found
    by scanning for newlines, so one file = one task regardless of
    size.  At scale the layout answer is many medium files (the staged
    fixture keeps the default parallel write), never one giant
    multiline CSV.

    The hash binds parse fidelity: per-segment row counts, the exact
    count of names that kept their embedded newline, total name chars,
    and balance cents all diverge if the reader splits a quoted record
    or mangles the escaped inner quotes."""
    path, ready = _cache(sf_dir, "customer_multiline_csv")
    dirty_name = F.when(
        F.col("c_custkey") % 13 == 0,
        F.concat(F.col("c_name"), F.lit('\n"x,y"')),
    ).otherwise(F.col("c_name"))
    if not ready:
        (
            _t(spark, sf_dir, "customer")
            .select(
                "c_custkey",
                "c_mktsegment",
                dirty_name.alias("c_name"),
                "c_acctbal",
            )
            .write.mode("overwrite")
            .option("header", "true")
            .option("quoteAll", "true")
            .csv(path)
        )
        _mark(path)
    df = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("inferSchema", "false")
        .schema(
            "c_custkey bigint, c_mktsegment string, "
            "c_name string, c_acctbal double"
        )
        .csv(path)
    )
    return df.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_rows"),
        F.count_if(F.col("c_name").contains("\n")).alias("n_multiline"),
        F.sum(F.length("c_name")).alias("name_chars"),
        F.sum(
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("acctbal_cents"),
    )


QUERIES["io_csv_multiline"] = q_io_csv_multiline

ORACLE["io_csv_multiline"] = """
WITH d AS (
  SELECT c_mktsegment,
    CASE WHEN c_custkey % 13 = 0
      THEN c_name || chr(10) || '"x,y"' ELSE c_name END AS nm,
    c_acctbal
  FROM customer)
SELECT c_mktsegment, count(*) AS n_rows,
  CAST(count(*) FILTER (WHERE contains(nm, chr(10))) AS BIGINT)
    AS n_multiline,
  CAST(sum(length(nm)) AS BIGINT) AS name_chars,
  CAST(sum(CAST(floor(c_acctbal * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT))
    AS BIGINT) AS acctbal_cents
FROM d GROUP BY 1"""


def q_io_compaction_smallfiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION — the table-maintenance answer to the
    reference's one-parquet-file-per-event pathology (SURVEY.md §4
    "severe": consumer.py writes ~3 events/s as individual files).
    Stage: events land partitioned into 64 shard directories (the
    fragmented layout a streaming sink accumulates).  Plan: shards
    pack into row-budget bins by exclusive-running-sum division —
    bin = prev_rows // ceil(total/8), the same deterministic packing
    rule llm_pack_sequences uses, entirely replayable in SQL.
    Execute: rows are hash-repartitioned ON THE BIN so each bin lands
    wholly in one task, then written with partitionBy(bin) — one
    output file per bin, verified against the REAL post-rewrite file
    listing (``one_file_per_bin`` is measured, not assumed).  At
    100 TB this is the nightly OPTIMIZE job: write amplification is
    one pass, shuffle keyed on the bin, never a global sort.

    The oracle recomputes the per-shard census, the packing
    arithmetic and the id checksum from the events table — binding
    that compaction preserved every row exactly."""
    import os as _os

    path, ready = _cache(sf_dir, "events_smallfiles")
    if not ready:
        ev = _t(spark, sf_dir, "events").select(
            "event_id", (F.col("event_id") % 64).alias("shard")
        )
        ev.write.mode("overwrite").partitionBy("shard").parquet(path)
        _mark(path)
    cpath, cready = _cache(sf_dir, "events_compacted")
    if not cready:
        from pyspark.sql.window import Window

        frag = spark.read.parquet(path)
        census = frag.groupBy("shard").agg(F.count("*").alias("c"))
        wtot = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        wprev = Window.orderBy("shard").rowsBetween(
            Window.unboundedPreceding, -1
        )
        # 64-row frame (aggregate output): the windows are bounded
        plan = census.withColumn("total", F.sum("c").over(wtot)).withColumn(
            "prev", F.coalesce(F.sum("c").over(wprev), F.lit(0))
        ).select(
            "shard",
            F.expr("prev div ((total + 7) div 8)").alias("bin"),
        )
        (
            frag.join(F.broadcast(plan), "shard")
            .repartition("bin")
            .write.mode("overwrite")
            .partitionBy("bin")
            .parquet(cpath)
        )
        _mark(cpath)
    compacted = spark.read.parquet(cpath)
    per_bin = compacted.groupBy("bin").agg(
        F.countDistinct("shard").cast("bigint").alias("n_shards"),
        F.count("*").alias("n_rows"),
        F.sum("event_id").alias("id_sum"),
    )
    files = {}
    for d in _os.listdir(cpath):
        if d.startswith("bin="):
            n = sum(
                1
                for f in _os.listdir(_os.path.join(cpath, d))
                if f.endswith(".parquet")
            )
            files[int(d.split("=")[1])] = n
    listing = spark.createDataFrame(
        [(b, n) for b, n in sorted(files.items())], "bin long, n_files int"
    )
    return per_bin.join(F.broadcast(listing), "bin").select(
        F.col("bin").cast("bigint").alias("bin"),
        "n_shards",
        "n_rows",
        "id_sum",
        (F.col("n_files") == 1).alias("one_file_per_bin"),
    )


QUERIES["io_compaction_smallfiles"] = q_io_compaction_smallfiles

ORACLE["io_compaction_smallfiles"] = """
WITH sh AS (
  SELECT event_id % 64 AS shard, count(*) AS c,
    CAST(sum(event_id) AS BIGINT) AS s
  FROM events GROUP BY 1),
tot AS (SELECT sum(c) AS total FROM sh),
plan AS (
  SELECT shard, c, s,
    COALESCE(sum(c) OVER (ORDER BY shard
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev,
    total
  FROM sh, tot),
b AS (SELECT shard, c, s, prev // ((total + 7) // 8) AS bin FROM plan)
SELECT CAST(bin AS BIGINT) AS bin,
  CAST(count(*) AS BIGINT) AS n_shards,
  CAST(sum(c) AS BIGINT) AS n_rows,
  CAST(sum(s) AS BIGINT) AS id_sum,
  TRUE AS one_file_per_bin
FROM b GROUP BY 1"""


def q_delta_log_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Delta TRANSACTION-LOG read (S6/S7 read path WITHOUT
    delta-spark — the public protocol spec implemented on Spark's
    own JSON + parquet sources; see ``deltalog.py``): a three-commit
    log (create + append + a compaction commit that REMOVES a file
    and re-adds its rows as a new file) is replayed last-action-wins
    and the reconstructed snapshot must equal the source orders
    table row-for-row — count AND key checksum bound in-plan against
    the source, so a reader that misses the tombstone (double-reads
    part-3) or drops the re-add fails the hash."""
    import json as _json
    import shutil as _shutil

    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_demo")
    if not ready:
        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(os.path.join(base, "_delta_log"))
        orders = _t(spark, sf_dir, "orders")

        def _part(i: int, pred) -> None:
            tmp = os.path.join(base, f"__tmp{i}")
            orders.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
            os.replace(
                os.path.join(tmp, src), os.path.join(base, f"part-{i}.parquet")
            )
            _shutil.rmtree(tmp, ignore_errors=True)

        m = F.col("o_orderkey") % 4
        for i in range(4):
            _part(i, m == i)
        _part(4, m == 3)  # the compaction rewrite of part-3's rows

        def _commit(version: int, actions: list[dict]) -> None:
            name = os.path.join(
                base, "_delta_log", f"{version:020d}.json"
            )
            with open(name, "w") as fh:
                for a in actions:
                    fh.write(_json.dumps(a) + "\n")

        def _add(i: int) -> dict:
            p = f"part-{i}.parquet"
            return {
                "add": {
                    "path": p,
                    "size": os.path.getsize(os.path.join(base, p)),
                    "dataChange": True,
                }
            }

        _commit(
            0,
            [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {
                    "metaData": {
                        "id": "cdc-delta-demo",
                        "format": {"provider": "parquet"},
                        "schemaString": "{}",
                    }
                },
                _add(0),
                _add(1),
                {"commitInfo": {"operation": "CREATE TABLE"}},
            ],
        )
        _commit(1, [_add(2), _add(3), {"commitInfo": {"operation": "WRITE"}}])
        _commit(
            2,
            [
                {"remove": {"path": "part-3.parquet", "dataChange": False}},
                _add(4),
                {"commitInfo": {"operation": "OPTIMIZE"}},
            ],
        )
        _mark(base)

    actions = deltalog.read_log_actions(spark, base)
    live = deltalog.live_files(actions)
    snap = deltalog.read_snapshot(spark, base)
    counts = actions.agg(
        (F.max("version") + 1).cast("bigint").alias("n_commits"),
        F.sum(F.col("add").isNotNull().cast("bigint")).alias("n_adds"),
        F.sum(F.col("remove").isNotNull().cast("bigint")).alias("n_removes"),
    )
    nlive = live.agg(F.count("*").cast("bigint").alias("n_live_files"))
    got = snap.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
    )
    src = _t(spark, sf_dir, "orders").agg(
        F.count("*").cast("bigint").alias("__src_n"),
        F.sum("o_orderkey").cast("bigint").alias("__src_sum"),
    )
    return (
        counts.crossJoin(F.broadcast(nlive))
        .crossJoin(F.broadcast(got))
        .crossJoin(F.broadcast(src))
        .select(
            "n_commits",
            "n_adds",
            "n_removes",
            "n_live_files",
            "n_rows",
            "key_checksum",
            (
                (F.col("n_rows") == F.col("__src_n"))
                & (F.col("key_checksum") == F.col("__src_sum"))
            ).alias("matches_source"),
        )
    )


def q_delta_native_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Delta WRITER round trip (the round-9 closure of
    VERDICT's missing-item 2 as far as the environment allows): a
    table is built purely through ``deltalog``'s writer API —
    ``create_table`` (protocol + REAL schemaString + data files) →
    ``append`` → ``compact`` (OPTIMIZE: dataChange=false tombstones +
    one rewritten file) → ``append`` — then reconstructed through the
    native READER, and the snapshot must equal the equivalent source
    slice row-for-row (count + key checksum bound in-plan).  Commit
    counts, add/remove totals and the live-file count are all pinned,
    so a writer that drops a tombstone, double-adds, or mis-allocates
    a version fails the hash.  No delta-spark anywhere."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_writer")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        orders = _t(spark, sf_dir, "orders")
        m = F.col("o_orderkey") % 4
        deltalog.create_table(spark, orders.filter(m == 0), base)
        deltalog.append(spark, orders.filter(m == 1), base)
        deltalog.compact(spark, base)
        deltalog.append(spark, orders.filter(m == 2), base)
        _mark(base)

    actions = deltalog.read_log_actions(spark, base)
    live = deltalog.live_files(actions)
    snap = deltalog.read_snapshot(spark, base)
    counts = actions.agg(
        (F.max("version") + 1).cast("bigint").alias("n_commits"),
        F.sum(F.col("add").isNotNull().cast("bigint")).alias("n_adds"),
        F.sum(F.col("remove").isNotNull().cast("bigint")).alias("n_removes"),
    )
    nlive = live.agg(F.count("*").cast("bigint").alias("n_live_files"))
    got = snap.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
    )
    src = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 < 3)
        .agg(
            F.count("*").cast("bigint").alias("__src_n"),
            F.sum("o_orderkey").cast("bigint").alias("__src_sum"),
        )
    )
    return (
        counts.crossJoin(F.broadcast(nlive))
        .crossJoin(F.broadcast(got))
        .crossJoin(F.broadcast(src))
        .select(
            "n_commits",
            "n_adds",
            "n_removes",
            "n_live_files",
            "n_rows",
            "key_checksum",
            (
                (F.col("n_rows") == F.col("__src_n"))
                & (F.col("key_checksum") == F.col("__src_sum"))
            ).alias("matches_source"),
        )
    )


def q_scd2_delta_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SCD2 maintained ON a native Delta table — the
    reference's deltaprocessing flow (history lives in Delta, each
    batch merges into it; deltaprocessing.py:96-116) end-to-end with
    ZERO delta-spark: batch 1 of the upsert stream builds the initial
    history and lands via :func:`deltalog.create_table`; batch 2 reads
    the snapshot back through the native log reader, rebuilds ONLY the
    touched keys' chains (untouched rows pass through — the
    rewrite-touched-partitions MERGE shape; a real MERGE rewrites only
    touched FILES, same semantics) and lands as one atomic
    :func:`deltalog.overwrite` commit.

    The published result is the final snapshot read from the Delta
    log, and the ORACLE is the one-shot lead()-window history over the
    whole stream — so the check proves incremental-over-Delta ==
    batch ground truth, not merely that the table round-trips."""
    from cdc_pipe_line_spark import deltalog
    from cdc_pipe_line_spark.cdc.scd2 import scd2_from_upserts

    base, ready = _cache(sf_dir, "delta_scd2")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
        cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
        h1 = scd2_from_upserts(
            ev.filter(F.col("ts") < cut), "user_id", "ts", ["value"]
        )
        deltalog.create_table(spark, h1, base, n_files=2)
        hist = deltalog.read_snapshot(spark, base)
        b2 = ev.filter(F.col("ts") >= cut).select(
            F.col("user_id").cast("string").alias("key_value"),
            "ts",
            "value",
        )
        touched = b2.select("key_value").distinct()
        untouched = hist.join(touched, "key_value", "left_anti")
        replay = hist.join(touched, "key_value", "semi").select(
            "key_value", F.col("valid_from").alias("ts"), "value"
        )
        rebuilt = scd2_from_upserts(
            replay.unionByName(b2), "key_value", "ts", ["value"]
        )
        deltalog.overwrite(
            spark, untouched.unionByName(rebuilt), base, n_files=2
        )
        _mark(base)
    snap = deltalog.read_snapshot(spark, base)
    return snap.select(
        "key_value", "value", "valid_from", "valid_to", "is_current"
    )


def q_delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta TIME TRAVEL through the native reader: the writer
    fixture's four-commit table (create %4==0 → append %4==1 →
    OPTIMIZE → append %4==2) read AS OF every version, one probe row
    per version with its operation (DESCRIBE HISTORY), live-file
    count, row count and key checksum — so the replay-stops-here
    contract is bound at every point in history, including the
    OPTIMIZE commit whose content must equal its predecessor's while
    its file census changes."""
    from cdc_pipe_line_spark import deltalog

    # reuse (or build) the io_delta_native_writer staging
    base, ready = _cache(sf_dir, "delta_writer")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        orders = _t(spark, sf_dir, "orders")
        m = F.col("o_orderkey") % 4
        deltalog.create_table(spark, orders.filter(m == 0), base)
        deltalog.append(spark, orders.filter(m == 1), base)
        deltalog.compact(spark, base)
        deltalog.append(spark, orders.filter(m == 2), base)
        _mark(base)

    hist = deltalog.table_history(spark, base)
    probes = []
    for v in range(4):
        actions = deltalog.read_log_actions(spark, base).filter(
            F.col("version") <= v
        )
        nlive = deltalog.live_files(actions).agg(
            F.count("*").cast("bigint").alias("n_live_files")
        )
        snap = deltalog.read_snapshot(spark, base, version_as_of=v).agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        )
        probes.append(
            nlive.crossJoin(F.broadcast(snap)).select(
                F.lit(v).cast("bigint").alias("version"),
                "n_live_files",
                "n_rows",
                "key_checksum",
            )
        )
    out = probes[0]
    for p in probes[1:]:
        out = out.unionByName(p)
    return out.join(F.broadcast(hist), "version").select(
        "version",
        "operation",
        F.col("n_adds").cast("bigint").alias("n_adds"),
        F.col("n_removes").cast("bigint").alias("n_removes"),
        "n_live_files",
        "n_rows",
        "key_checksum",
    )


QUERIES["io_delta_log_scan"] = q_delta_log_scan
QUERIES["io_delta_native_writer"] = q_delta_native_writer
QUERIES["cdc_scd2_delta_native"] = q_scd2_delta_native
def q_delta_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta CHECKPOINT + LOG CLEANUP through the native protocol
    implementation: create → append → ``write_checkpoint`` (full
    state — protocol, metaData, live adds, txn high-water marks — as
    one parquet + the ``_last_checkpoint`` pointer) → delete every
    superseded JSON commit (metadata retention) → append once more.
    The table MUST still reconstruct exactly (the pre-checkpoint JSON
    is gone, so the read provably goes through the checkpoint), the
    post-cleanup commit must allocate PAST the checkpoint version,
    and the remaining-JSON census pins the cleanup itself."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_ckpt")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        orders = _t(spark, sf_dir, "orders")
        m = F.col("o_orderkey") % 4
        deltalog.create_table(spark, orders.filter(m == 0), base)
        deltalog.append(spark, orders.filter(m == 1), base)
        deltalog.write_checkpoint(spark, base)
        deltalog.cleanup_log_before_checkpoint(base)
        deltalog.append(spark, orders.filter(m == 2), base)
        _mark(base)

    log_dir = os.path.join(base, "_delta_log")
    n_json = sum(1 for f in os.listdir(log_dir) if f.endswith(".json"))
    has_ckpt = any(
        f.endswith(".checkpoint.parquet") for f in os.listdir(log_dir)
    )
    actions = deltalog.read_log_actions(spark, base)
    census = actions.agg(
        F.max("version").cast("bigint").alias("max_version"),
        F.count_distinct("version").cast("bigint").alias("n_versions"),
    )
    nlive = deltalog.live_files(actions).agg(
        F.count("*").cast("bigint").alias("n_live_files")
    )
    got = deltalog.read_snapshot(spark, base).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
    )
    src = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 < 3)
        .agg(
            F.count("*").cast("bigint").alias("__src_n"),
            F.sum("o_orderkey").cast("bigint").alias("__src_sum"),
        )
    )
    return (
        census.crossJoin(F.broadcast(nlive))
        .crossJoin(F.broadcast(got))
        .crossJoin(F.broadcast(src))
        .select(
            "max_version",
            "n_versions",
            "n_live_files",
            F.lit(n_json).cast("bigint").alias("n_json_commits_left"),
            F.lit(has_ckpt).alias("checkpoint_present"),
            "n_rows",
            "key_checksum",
            (
                (F.col("n_rows") == F.col("__src_n"))
                & (F.col("key_checksum") == F.col("__src_sum"))
            ).alias("matches_source"),
        )
    )


def q_delta_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITIONED native Delta table + log-level partition pruning:
    orders written ``partition_by o_orderstatus`` (Hive-layout data
    files whose add actions carry ``partitionValues``, declared in
    metaData.partitionColumns), then read back with a partition
    filter — the pruned snapshot plans ONLY the matching partition's
    file (file census bound in-row), the partition column itself is
    restored from the directory layout and re-typed from the table's
    schemaString, and content equality against the equivalent source
    predicate closes the loop.  This is S14 (partitioned layout)
    carried onto the Delta protocol: at 100 TB the filter never
    touches the other partitions' files, by log metadata alone."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_part")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        deltalog.create_table(
            spark, orders, base, partition_by=["o_orderstatus"]
        )
        _mark(base)

    actions = deltalog.read_log_actions(spark, base)
    live = deltalog.live_files(actions)
    census = live.agg(
        F.count("*").cast("bigint").alias("n_live_files"),
        F.sum(
            (F.col("partitionValues").getItem("o_orderstatus") == "O").cast(
                "bigint"
            )
        ).alias("n_files_status_o"),
    )
    pruned = deltalog.read_snapshot(
        spark, base, partition_filter={"o_orderstatus": "O"}
    )
    got = pruned.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        F.count_distinct("o_orderstatus").cast("bigint").alias("n_statuses"),
    )
    src = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .agg(
            F.count("*").cast("bigint").alias("__src_n"),
            F.sum("o_orderkey").cast("bigint").alias("__src_sum"),
        )
    )
    return (
        census.crossJoin(F.broadcast(got))
        .crossJoin(F.broadcast(src))
        .select(
            "n_live_files",
            "n_files_status_o",
            "n_rows",
            "n_statuses",
            "key_checksum",
            (
                (F.col("n_rows") == F.col("__src_n"))
                & (F.col("key_checksum") == F.col("__src_sum"))
            ).alias("matches_source"),
        )
    )


def q_parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet FOOTER introspection as a DISTRIBUTED operator — the
    scan-planning audit a lakehouse runs over millions of files
    without touching data pages: orders staged key-clustered (one
    file per orderkey-domain quartile, so min/max ranges are disjoint
    and pruning-friendly), then a ``mapInPandas`` pass opens each
    file's FOOTER with pyarrow on the executors (row-group count, row
    count, o_orderkey min/max statistics — bytes read ~ footer size,
    never the data).  The oracle recomputes the same values FROM THE
    DATA, so the check proves footer statistics == truth — exactly
    what min/max pruning relies on.

    Scale shape: the file list is the only driver-side state; footer
    reads parallelize across the fleet (a 100k-file lake audits in
    one short stage)."""
    base, ready = _cache(sf_dir, "footer_stats")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        orders = _t(spark, sf_dir, "orders")
        rng = orders.agg(F.max("o_orderkey").alias("hi")).first()
        width = int(rng["hi"]) // 4 + 1
        (
            orders.withColumn(
                "bucket", F.expr(f"o_orderkey div {width}").cast("int")
            )
            .repartition("bucket")
            .sortWithinPartitions("o_orderkey")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(base)
        )
        _mark(base)

    files = sorted(
        os.path.join(base, d, f)
        for d in os.listdir(base)
        if d.startswith("bucket=")
        for f in os.listdir(os.path.join(base, d))
        if f.endswith(".parquet")
    )
    paths = spark.createDataFrame(
        [(p,) for p in files], "path string"
    ).repartition(len(files))

    def _footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                idx = md.schema.names.index("o_orderkey")
                mins, maxs = [], []
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(idx).statistics
                    mins.append(st.min)
                    maxs.append(st.max)
                bucket = int(p.split("bucket=")[1].split("/")[0])
                rows.append(
                    {
                        "bucket": bucket,
                        "n_rows": md.num_rows,
                        "n_row_groups": md.num_row_groups,
                        "min_key": min(mins),
                        "max_key": max(maxs),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "bucket", "n_rows", "n_row_groups", "min_key", "max_key",
                ],
            )

    schema = (
        "bucket bigint, n_rows bigint, n_row_groups bigint, "
        "min_key bigint, max_key bigint"
    )
    return paths.mapInPandas(_footers, schema)


QUERIES["io_delta_time_travel"] = q_delta_time_travel
QUERIES["io_delta_checkpoint"] = q_delta_checkpoint
QUERIES["io_delta_partitioned_prune"] = q_delta_partitioned_prune
def q_delta_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protocol-level INVARIANT AUDIT over a native Delta table (the
    QA gate an operator schedules against every production table):
    on the writer fixture's log it verifies — in one bounded pass
    over the action rows — that commit versions are contiguous from
    0, exactly one protocol and one metaData action exist, no LIVE
    path is added twice without an intervening remove, every add
    carries a positive size, every live file exists on disk with
    EXACTLY the logged byte size, and the live-file byte total equals
    the disk total.  Each invariant publishes as its own boolean next
    to the counts that witnessed it, so a corrupted log (or a writer
    bug) fails the hash with the violated invariant visible."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_writer")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        orders = _t(spark, sf_dir, "orders")
        m = F.col("o_orderkey") % 4
        deltalog.create_table(spark, orders.filter(m == 0), base)
        deltalog.append(spark, orders.filter(m == 1), base)
        deltalog.compact(spark, base)
        deltalog.append(spark, orders.filter(m == 2), base)
        _mark(base)

    actions = deltalog.read_log_actions(spark, base).localCheckpoint(
        eager=True
    )
    live = deltalog.live_files(actions)
    disk = {
        f: os.path.getsize(os.path.join(base, f))
        for f in os.listdir(base)
        if f.endswith(".parquet")
    }
    disk_df = F.broadcast(
        spark.createDataFrame(
            [(k, v) for k, v in sorted(disk.items())],
            "path string, disk_size bigint",
        )
    )
    versions = actions.agg(
        F.max("version").alias("vmax"),
        F.count_distinct("version").alias("nv"),
        F.sum(F.col("protocol").isNotNull().cast("bigint")).alias("np"),
        F.sum(F.col("metaData").isNotNull().cast("bigint")).alias("nm"),
        F.sum(
            (F.col("add").isNotNull() & (F.col("add.size") <= 0)).cast(
                "bigint"
            )
        ).alias("bad_sizes"),
    )
    dup_adds = (
        actions.filter(F.col("add").isNotNull())
        .groupBy("add.path")
        .agg(F.count("*").alias("c"))
        .agg(
            F.sum((F.col("c") > 1).cast("bigint")).alias("n_readded_paths")
        )
    )
    tracked = actions.select(
        F.coalesce(F.col("add.path"), F.col("remove.path")).alias("path")
    ).filter(F.col("path").isNotNull()).distinct()
    untracked = disk_df.join(tracked, "path", "left_anti").agg(
        F.count("*").cast("bigint").alias("n_untracked")
    )
    live_check = (
        live.join(disk_df, "path", "left")
        .agg(
            F.count("*").cast("bigint").alias("n_live_files"),
            F.sum(
                (
                    F.col("disk_size").isNull()
                    | (F.col("disk_size") != F.col("size"))
                ).cast("bigint")
            ).alias("n_size_mismatches"),
            F.sum("size").cast("bigint").alias("live_bytes"),
        )
    )
    return (
        versions.crossJoin(F.broadcast(dup_adds))
        .crossJoin(F.broadcast(live_check))
        .crossJoin(F.broadcast(untracked))
        .select(
            (F.col("vmax") + 1 == F.col("nv")).alias("versions_contiguous"),
            ((F.col("np") == 1) & (F.col("nm") == 1)).alias(
                "single_protocol_metadata"
            ),
            (F.col("bad_sizes") == 0).alias("all_sizes_positive"),
            F.col("n_readded_paths").cast("bigint").alias("n_readded_paths"),
            "n_live_files",
            (F.col("n_size_mismatches") == 0).alias("disk_matches_log"),
            (F.col("live_bytes") > 0).alias("live_bytes_positive"),
            # tombstoned files legitimately stay on disk (time travel
            # reads them until vacuum) — the invariant is that every
            # disk file is TRACKED: either live or removed in the log
            (F.col("n_untracked") == 0).alias("no_untracked_files"),
        )
    )


def q_delta_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Delta SCHEMA EVOLUTION (the mergeSchema leg
    ``delta_merge.py`` could only exercise behind the absent
    delta-spark package — now protocol-native): a 3-column orders
    table takes an append whose frame carries a NEW ``o_band`` column;
    the commit updates ``metaData.schemaString`` to the union schema
    and the reader surfaces pre-evolution rows with NULL in the new
    column (mergeSchema union + latest-declared-schema alignment).
    Published: per-band row counts with the NULL band carrying exactly
    the pre-evolution rows, plus the evolved column list pinned by the
    driver's schema check itself."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_evolve")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        m = F.col("o_orderkey") % 3
        deltalog.create_table(spark, orders.filter(m == 0), base)
        wide = orders.filter(m == 1).withColumn(
            "o_band", (F.col("o_orderkey") % 5).cast("bigint")
        )
        deltalog.append_evolve(spark, wide, base)
        _mark(base)

    snap = deltalog.read_snapshot(spark, base)
    return (
        snap.groupBy("o_band")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        )
        .select(
            F.col("o_band").cast("bigint").alias("o_band"),
            "n_rows",
            "key_checksum",
        )
    )


QUERIES["io_parquet_footer_stats"] = q_parquet_footer_stats
QUERIES["qa_delta_invariants"] = q_delta_invariants
QUERIES["io_delta_schema_evolution"] = q_delta_schema_evolution

ORACLE["io_delta_schema_evolution"] = """
SELECT CASE WHEN o_orderkey % 3 = 0 THEN NULL
       ELSE CAST(o_orderkey % 5 AS BIGINT) END AS o_band,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
FROM orders WHERE o_orderkey % 3 < 2
GROUP BY 1"""

ORACLE["qa_delta_invariants"] = """
SELECT TRUE AS versions_contiguous,
  TRUE AS single_protocol_metadata,
  TRUE AS all_sizes_positive,
  CAST(0 AS BIGINT) AS n_readded_paths,
  CAST(2 AS BIGINT) AS n_live_files,
  TRUE AS disk_matches_log,
  TRUE AS live_bytes_positive,
  TRUE AS no_untracked_files"""

ORACLE["io_parquet_footer_stats"] = """
WITH rng AS (SELECT max(o_orderkey) // 4 + 1 AS width FROM orders)
SELECT CAST(o_orderkey // width AS BIGINT) AS bucket,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(1 AS BIGINT) AS n_row_groups,
  CAST(min(o_orderkey) AS BIGINT) AS min_key,
  CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders, rng GROUP BY 1"""

ORACLE["io_delta_partitioned_prune"] = """
SELECT
  (SELECT CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders)
    AS n_live_files,
  CAST(1 AS BIGINT) AS n_files_status_o,
  (SELECT CAST(count(*) AS BIGINT) FROM orders
   WHERE o_orderstatus = 'O') AS n_rows,
  CAST(1 AS BIGINT) AS n_statuses,
  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
   WHERE o_orderstatus = 'O') AS key_checksum,
  TRUE AS matches_source"""

ORACLE["io_delta_checkpoint"] = """
SELECT CAST(2 AS BIGINT) AS max_version,
  CAST(2 AS BIGINT) AS n_versions,
  CAST(3 AS BIGINT) AS n_live_files,
  CAST(1 AS BIGINT) AS n_json_commits_left,
  TRUE AS checkpoint_present,
  (SELECT CAST(count(*) AS BIGINT) FROM orders
   WHERE o_orderkey % 4 < 3) AS n_rows,
  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
   WHERE o_orderkey % 4 < 3) AS key_checksum,
  TRUE AS matches_source"""

ORACLE["io_delta_time_travel"] = """
WITH m AS (
  SELECT o_orderkey % 4 AS g, o_orderkey FROM orders),
agg AS (
  SELECT
    (SELECT count(*) FROM m WHERE g = 0) AS n0,
    (SELECT sum(o_orderkey) FROM m WHERE g = 0) AS s0,
    (SELECT count(*) FROM m WHERE g < 2) AS n01,
    (SELECT sum(o_orderkey) FROM m WHERE g < 2) AS s01,
    (SELECT count(*) FROM m WHERE g < 3) AS n012,
    (SELECT sum(o_orderkey) FROM m WHERE g < 3) AS s012)
SELECT CAST(0 AS BIGINT) AS version, 'CREATE TABLE' AS operation,
  CAST(1 AS BIGINT) AS n_adds, CAST(0 AS BIGINT) AS n_removes,
  CAST(1 AS BIGINT) AS n_live_files,
  CAST(n0 AS BIGINT) AS n_rows, CAST(s0 AS BIGINT) AS key_checksum
FROM agg
UNION ALL
SELECT 1, 'WRITE', 1, 0, 2, CAST(n01 AS BIGINT), CAST(s01 AS BIGINT)
FROM agg
UNION ALL
SELECT 2, 'OPTIMIZE', 1, 2, 1, CAST(n01 AS BIGINT), CAST(s01 AS BIGINT)
FROM agg
UNION ALL
SELECT 3, 'WRITE', 1, 0, 2, CAST(n012 AS BIGINT), CAST(s012 AS BIGINT)
FROM agg"""

ORACLE["cdc_scd2_delta_native"] = """
WITH history AS (
  SELECT CAST(user_id AS VARCHAR) AS key_value, value, ts AS valid_from,
    lead(ts) OVER w AS valid_to,
    lead(ts) OVER w IS NULL AS is_current
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, value ASC))
SELECT key_value, value, valid_from, valid_to, is_current FROM history"""

ORACLE["io_delta_native_writer"] = """
SELECT CAST(4 AS BIGINT) AS n_commits,
  CAST(4 AS BIGINT) AS n_adds,
  CAST(2 AS BIGINT) AS n_removes,
  CAST(2 AS BIGINT) AS n_live_files,
  (SELECT CAST(count(*) AS BIGINT) FROM orders
   WHERE o_orderkey % 4 < 3) AS n_rows,
  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
   WHERE o_orderkey % 4 < 3) AS key_checksum,
  TRUE AS matches_source"""

ORACLE["io_delta_log_scan"] = """
SELECT CAST(3 AS BIGINT) AS n_commits,
  CAST(5 AS BIGINT) AS n_adds,
  CAST(1 AS BIGINT) AS n_removes,
  CAST(4 AS BIGINT) AS n_live_files,
  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders) AS key_checksum,
  TRUE AS matches_source"""


def q_json_parse_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JSON malformed-record MODE MATRIX (S12/S13 hardening —
    the three production answers to poison messages, contrasted in
    one verdict row): PERMISSIVE keeps every line and captures the
    raw bytes of bad ones in ``_corrupt_record`` (counted — Spark
    requires materializing before filtering on the corrupt column,
    hence the cache), DROPMALFORMED silently sheds them, FAILFAST
    kills the job on the first one (asserted by catching the raised
    error — the mode a replayable upstream wants).  Every 97th
    staged line is mangled (the reference's poison shape,
    consumer.py:394)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from cdc_pipe_line_spark.queries.streaming_q import (
        RAW_SCHEMA,
        _TS_FMT,
        _stage,
    )

    base = _stage(spark, sf_dir, "raw_corrupt")
    path = os.path.join(base, "d0")
    # StructType.add MUTATES in place — never extend the shared
    # RAW_SCHEMA; build a fresh struct.
    schema_c = StructType(
        list(RAW_SCHEMA.fields)
        + [StructField("_corrupt_record", StringType(), True)]
    )
    perm = (
        spark.read.schema(schema_c)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("timestampFormat", _TS_FMT)
        .json(path)
        .cache()
    )
    perm_counts = perm.agg(
        F.count("*").cast("bigint").alias("n_permissive"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("bigint")).alias(
            "n_corrupt"
        ),
    )
    dropped = (
        spark.read.schema(RAW_SCHEMA)
        .option("mode", "DROPMALFORMED")
        .option("timestampFormat", _TS_FMT)
        .json(path)
        .agg(F.count("*").cast("bigint").alias("n_dropmalformed"))
    )
    try:
        (
            spark.read.schema(RAW_SCHEMA)
            .option("mode", "FAILFAST")
            .option("timestampFormat", _TS_FMT)
            .json(path)
            .count()
        )
        failfast_raised = False
    except Exception:
        failfast_raised = True
    out = perm_counts.crossJoin(F.broadcast(dropped)).select(
        "n_permissive",
        "n_corrupt",
        "n_dropmalformed",
        F.lit(failfast_raised).alias("failfast_raised"),
    )
    out = out.localCheckpoint(eager=True)
    perm.unpersist()
    return out


QUERIES["io_json_parse_modes"] = q_json_parse_modes

ORACLE["io_json_parse_modes"] = """
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_permissive,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 97 = 0)
    AS n_corrupt,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 97 != 0)
    AS n_dropmalformed,
  TRUE AS failfast_raised"""


def q_delta_vacuum_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta VACUUM + RESTORE through the native protocol writer —
    the two lifecycle ops the round-9/10 writer deliberately deferred
    ("tombstones stay until vacuum"): create (keys %5==0) →
    OVERWRITE (%5==1, tombstoning the original file) → append
    (%5==2) → RESTORE TO VERSION 1 (pure metadata: the append's file
    is tombstoned, nothing rewritten) → VACUUM retaining 2 versions
    (exactly the original create's file is deletable — tombstoned at
    v1 and outside the retention floor).  Published in one row: the
    restored current state (== version 1's rows, closed-form in
    o_orderkey), the RESTORE commit in DESCRIBE HISTORY, the
    post-vacuum physical file census (the overwrite's and append's
    files survive — retained time travel to v2 still reconstructs,
    probed by checksum), and the now-unreadable v0 (its file was
    vacuumed; the scan fails — the spec's own restore-after-vacuum
    caveat, probed at build time and published as a literal).

    Scale shape: the vacuum keep-set is the same distributed
    last-action-wins replay every reader uses; only the bounded path
    census is driver-side."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_lifecycle")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        m = F.col("o_orderkey") % 5
        deltalog.create_table(spark, orders.filter(m == 0), base)   # v0
        deltalog.overwrite(spark, orders.filter(m == 1), base)      # v1
        deltalog.append(spark, orders.filter(m == 2), base)         # v2
        deltalog.restore(spark, base, 1)                            # v3
        deltalog.vacuum(spark, base, retain_versions=2)
        _mark(base)

    import glob as _glob

    n_files = len(
        [
            p
            for p in _glob.glob(
                os.path.join(base, "**", "*.parquet"), recursive=True
            )
            if "_delta_log" not in p
        ]
    )
    try:
        deltalog.read_snapshot(spark, base, version_as_of=0).agg(
            F.count("*")
        ).first()
        v0_unreadable = False
    except Exception:
        v0_unreadable = True
    cur = deltalog.read_snapshot(spark, base).agg(
        F.count("*").cast("bigint").alias("n_rows_current"),
        F.sum("o_orderkey").cast("bigint").alias("checksum_current"),
    )
    v2 = deltalog.read_snapshot(spark, base, version_as_of=2).agg(
        F.count("*").cast("bigint").alias("n_rows_v2"),
        F.sum("o_orderkey").cast("bigint").alias("checksum_v2"),
    )
    op = (
        deltalog.table_history(spark, base)
        .filter(F.col("version") == 3)
        .select(F.col("operation").alias("restore_op"))
    )
    return (
        cur.crossJoin(F.broadcast(v2))
        .crossJoin(F.broadcast(op))
        .select(
            "n_rows_current",
            "checksum_current",
            "n_rows_v2",
            "checksum_v2",
            "restore_op",
            F.lit(n_files).cast("bigint").alias("n_data_files"),
            F.lit(v0_unreadable).alias("v0_unreadable"),
        )
    )


QUERIES["io_delta_vacuum_restore"] = q_delta_vacuum_restore

ORACLE["io_delta_vacuum_restore"] = """
SELECT
  CAST(count(CASE WHEN o_orderkey % 5 = 1 THEN 1 END) AS BIGINT)
    AS n_rows_current,
  CAST(sum(CASE WHEN o_orderkey % 5 = 1 THEN o_orderkey END) AS BIGINT)
    AS checksum_current,
  CAST(count(CASE WHEN o_orderkey % 5 IN (1, 2) THEN 1 END) AS BIGINT)
    AS n_rows_v2,
  CAST(sum(CASE WHEN o_orderkey % 5 IN (1, 2) THEN o_orderkey END)
    AS BIGINT) AS checksum_v2,
  'RESTORE TO VERSION 1' AS restore_op,
  CAST(2 AS BIGINT) AS n_data_files,
  TRUE AS v0_unreadable
FROM orders"""


def q_delta_ict_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEC IN-COMMIT TIMESTAMPS end-to-end (the ``inCommitTimestamp``
    writer feature, Delta PROTOCOL.md): a five-commit lifecycle —
    create (%4==0) → append (%4==1) → ENABLE ICT → append (%4==2) →
    DELETE (key%8==2) — with the two PRE-enablement commit files
    pinned to known mtimes.  Published in one row: row counts time
    travelled BY TIMESTAMP on both sides of the enablement boundary
    (mtime resolution before it, ``commitInfo.inCommitTimestamp``
    binary-searched at and past it — the exact split a Delta 3.x
    reader applies), a key checksum binding the post-DML state, and
    the spec's structural contract probed from the raw log: pre-
    enablement commits carry NO ICT, every post-enablement commit's
    FIRST action is its stamped commitInfo, stamps are strictly
    monotonic, the enablement version/timestamp properties and the
    writer-feature protocol gate are recorded, and every DESCRIBE
    HISTORY timestamp ROUND-TRIPS through resolve_timestamp back to
    its own version (history and time travel share one timeline).

    Scale shape: resolution is pure driver metadata — one directory
    scan plus O(log n) one-line commit reads — zero Spark jobs at
    any log size; the snapshots are the ordinary pruned parquet
    scans."""
    import json as _json

    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_ict")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        m = F.col("o_orderkey") % 4
        deltalog.create_table(spark, orders.filter(m == 0), base)    # v0
        deltalog.append(spark, orders.filter(m == 1), base)          # v1
        deltalog.enable_in_commit_timestamps(spark, base)            # v2
        deltalog.append(spark, orders.filter(m == 2), base)          # v3
        deltalog.delete_where(spark, base, "o_orderkey % 8 = 2")     # v4
        # pin the PRE-enablement mtimes (their resolution clock) so
        # the mtime-side probe is deterministic
        log = os.path.join(base, "_delta_log")
        os.utime(os.path.join(log, f"{0:020d}.json"), (1.0, 1.0))
        os.utime(os.path.join(log, f"{1:020d}.json"), (2.0, 2.0))
        _mark(base)

    log = os.path.join(base, "_delta_log")
    icts: dict[int, int | None] = {
        v: deltalog._read_commit_ict(base, v) for v in range(5)
    }
    pre_unstamped = icts[0] is None and icts[1] is None
    post = [icts[2], icts[3], icts[4]]
    ict_monotonic = (
        all(i is not None for i in post) and post == sorted(post)
        and len(set(post)) == 3
    )
    ci_first = True
    for v in (2, 3, 4):
        with open(os.path.join(log, f"{v:020d}.json")) as fh:
            first = _json.loads(fh.readline())
        ci_first = ci_first and "commitInfo" in first and (
            first["commitInfo"].get("inCommitTimestamp") is not None
        )
    cfg = deltalog.snapshot(base).configuration
    props_ok = (
        cfg.get("delta.enableInCommitTimestamps") == "true"
        and cfg.get("delta.inCommitTimestampEnablementVersion") == "2"
        and cfg.get("delta.inCommitTimestampEnablementTimestamp")
        == str(icts[2])
    )
    proto = deltalog.snapshot(base).protocol
    feature_gated = int(proto.get("minWriterVersion") or 0) == 7 and (
        "inCommitTimestamp" in (proto.get("writerFeatures") or [])
    )
    hist_roundtrip = all(
        deltalog.resolve_timestamp(spark, base, r["timestamp"])
        == r["version"]
        for r in deltalog.table_history(spark, base).collect()
    )
    mtime_v1 = deltalog.read_snapshot(
        spark, base, timestamp_as_of=2500
    ).agg(F.count("*").cast("bigint").alias("n_rows_mtime_v1"))
    ict_v3 = deltalog.read_snapshot(
        spark, base, timestamp_as_of=icts[3]
    ).agg(F.count("*").cast("bigint").alias("n_rows_ict_v3"))
    ict_v4 = deltalog.read_snapshot(
        spark, base, timestamp_as_of=icts[4]
    ).agg(
        F.count("*").cast("bigint").alias("n_rows_ict_v4"),
        F.sum("o_orderkey").cast("bigint").alias("checksum_ict_v4"),
    )
    return (
        mtime_v1.crossJoin(F.broadcast(ict_v3))
        .crossJoin(F.broadcast(ict_v4))
        .select(
            "n_rows_mtime_v1",
            "n_rows_ict_v3",
            "n_rows_ict_v4",
            "checksum_ict_v4",
            F.lit(pre_unstamped).alias("pre_commits_unstamped"),
            F.lit(ict_monotonic).alias("ict_strictly_monotonic"),
            F.lit(ci_first).alias("commitinfo_first_and_stamped"),
            F.lit(props_ok).alias("enablement_props_ok"),
            F.lit(feature_gated).alias("feature_gated"),
            F.lit(hist_roundtrip).alias("history_ts_roundtrip"),
        )
    )


def q_delta_v2_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 CHECKPOINT read path (the spec's ``v2Checkpoint`` reader
    feature): create (%4==0) → append (%4==1) → classic checkpoint →
    log cleanup → CONVERT the checkpoint to the spec's V2 shape
    (UUID-named manifest + ``_sidecars/`` parquet files holding the
    add/remove actions, ``deltalog.convert_checkpoint_to_v2``) →
    append (%4==2).  The pre-checkpoint JSON is gone and the classic
    checkpoint file is deleted, so the published row-count/checksum
    probes — current state AND ``version_as_of`` the checkpoint —
    provably reconstruct through the manifest + sidecars, alongside a
    structural census (exactly one UUID-named manifest, two sidecar
    files, one surviving JSON commit, no classic file).

    Scale shape: sidecars are ordinary parquet legs of the same
    bounded log scan; the manifest parse is one driver-side
    metadata-sized read.  Read-side only — the engine still writes
    classic checkpoints and refuses tables that GATE WRITES on
    v2Checkpoint (VERDICT r13 next-item 2)."""
    import re as _re

    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_v2ckpt")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        m = F.col("o_orderkey") % 4
        deltalog.create_table(spark, orders.filter(m == 0), base)   # v0
        deltalog.append(spark, orders.filter(m == 1), base)         # v1
        deltalog.write_checkpoint(spark, base)
        deltalog.cleanup_log_before_checkpoint(base)
        deltalog.convert_checkpoint_to_v2(base, fmt="parquet")
        deltalog.append(spark, orders.filter(m == 2), base)         # v2
        _mark(base)

    log_dir = os.path.join(base, "_delta_log")
    names = os.listdir(log_dir)
    n_json = sum(
        1 for f in names if f.endswith(".json") and f.split(".")[0].isdigit()
    )
    manifests = [
        f
        for f in names
        if _re.fullmatch(
            r"\d{20}\.checkpoint\.[0-9a-f]{32}\.(parquet|json)", f
        )
    ]
    classic_absent = not any(
        _re.fullmatch(r"\d{20}\.checkpoint(\.\d+\.\d+)?\.parquet", f)
        for f in names
    )
    side_dir = os.path.join(log_dir, "_sidecars")
    n_sidecars = (
        len([f for f in os.listdir(side_dir) if f.endswith(".parquet")])
        if os.path.isdir(side_dir)
        else 0
    )
    cur = deltalog.read_snapshot(spark, base).agg(
        F.count("*").cast("bigint").alias("n_rows_current"),
        F.sum("o_orderkey").cast("bigint").alias("checksum_current"),
    )
    ck = deltalog._checkpoint_version(base)
    at_ck = deltalog.read_snapshot(spark, base, version_as_of=ck).agg(
        F.count("*").cast("bigint").alias("n_rows_at_ckpt"),
        F.sum("o_orderkey").cast("bigint").alias("checksum_at_ckpt"),
    )
    return cur.crossJoin(F.broadcast(at_ck)).select(
        "n_rows_current",
        "checksum_current",
        "n_rows_at_ckpt",
        "checksum_at_ckpt",
        F.lit(len(manifests)).cast("bigint").alias("n_v2_manifests"),
        F.lit(n_sidecars).cast("bigint").alias("n_sidecar_files"),
        F.lit(n_json).cast("bigint").alias("n_json_commits"),
        F.lit(classic_absent).alias("classic_absent"),
    )


QUERIES["io_delta_v2_checkpoint"] = q_delta_v2_checkpoint

ORACLE["io_delta_v2_checkpoint"] = """
SELECT
  CAST(count(CASE WHEN o_orderkey % 4 IN (0, 1, 2) THEN 1 END)
    AS BIGINT) AS n_rows_current,
  CAST(sum(CASE WHEN o_orderkey % 4 IN (0, 1, 2) THEN o_orderkey END)
    AS BIGINT) AS checksum_current,
  CAST(count(CASE WHEN o_orderkey % 4 IN (0, 1) THEN 1 END) AS BIGINT)
    AS n_rows_at_ckpt,
  CAST(sum(CASE WHEN o_orderkey % 4 IN (0, 1) THEN o_orderkey END)
    AS BIGINT) AS checksum_at_ckpt,
  CAST(1 AS BIGINT) AS n_v2_manifests,
  CAST(2 AS BIGINT) AS n_sidecar_files,
  CAST(1 AS BIGINT) AS n_json_commits,
  TRUE AS classic_absent
FROM orders"""


QUERIES["io_delta_ict_time_travel"] = q_delta_ict_time_travel

ORACLE["io_delta_ict_time_travel"] = """
SELECT
  CAST(count(CASE WHEN o_orderkey % 4 IN (0, 1) THEN 1 END) AS BIGINT)
    AS n_rows_mtime_v1,
  CAST(count(CASE WHEN o_orderkey % 4 IN (0, 1, 2) THEN 1 END)
    AS BIGINT) AS n_rows_ict_v3,
  CAST(count(CASE WHEN o_orderkey % 4 IN (0, 1, 2)
    AND o_orderkey % 8 <> 2 THEN 1 END) AS BIGINT) AS n_rows_ict_v4,
  CAST(sum(CASE WHEN o_orderkey % 4 IN (0, 1, 2)
    AND o_orderkey % 8 <> 2 THEN o_orderkey END) AS BIGINT)
    AS checksum_ict_v4,
  TRUE AS pre_commits_unstamped,
  TRUE AS ict_strictly_monotonic,
  TRUE AS commitinfo_first_and_stamped,
  TRUE AS enablement_props_ok,
  TRUE AS feature_gated,
  TRUE AS history_ts_roundtrip
FROM orders"""


def q_delta_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED over the native Delta log
    (``deltalog.read_changes`` — the table_changes read): a
    five-commit lifecycle — create (%7==0) → append (%7==1) →
    OPTIMIZE (pure rewrite: dataChange=false adds AND removes, so it
    must be INVISIBLE to the feed) → overwrite (%7==2: deletes of
    everything then live + inserts) → append (%7==3) — consumed as
    per-commit insert/delete row sets and aggregated per
    (_commit_version, _change_type) with key checksums, all
    closed-form in o_orderkey for the oracle.  The OPTIMIZE version
    must be absent from the output entirely (the round-11 compact
    dataChange fix is load-bearing for this hash).

    Scale shape: one bounded metadata pass plans the file lists; the
    data reads are plain parquet scans unioned per commit."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_cdf")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        m = F.col("o_orderkey") % 7
        deltalog.create_table(spark, orders.filter(m == 0), base)   # v0
        deltalog.append(spark, orders.filter(m == 1), base)         # v1
        deltalog.compact(spark, base)                               # v2
        deltalog.overwrite(spark, orders.filter(m == 2), base)      # v3
        deltalog.append(spark, orders.filter(m == 3), base)         # v4
        _mark(base)

    ch = deltalog.read_changes(spark, base, starting_version=0)
    return ch.groupBy("_commit_version", "_change_type").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
    )


QUERIES["cdc_delta_changes"] = q_delta_changes

ORACLE["cdc_delta_changes"] = """
WITH feed AS (
  SELECT 1 AS v, 'insert' AS ct, o_orderkey AS k
  FROM orders WHERE o_orderkey % 7 = 1
  UNION ALL
  SELECT 3, 'delete', o_orderkey
  FROM orders WHERE o_orderkey % 7 IN (0, 1)
  UNION ALL
  SELECT 3, 'insert', o_orderkey
  FROM orders WHERE o_orderkey % 7 = 2
  UNION ALL
  SELECT 4, 'insert', o_orderkey
  FROM orders WHERE o_orderkey % 7 = 3)
SELECT CAST(v AS BIGINT) AS _commit_version, ct AS _change_type,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(k) AS BIGINT) AS key_checksum
FROM feed GROUP BY 1, 2"""


def q_delta_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATS-BASED DATA SKIPPING over the native Delta log: every
    add action carries the protocol's per-file column statistics
    (``numRecords``/``minValues``/``maxValues``/``nullCount``, read
    from the parquet footers at write time), and
    ``read_snapshot(skipping=...)`` prunes files whose envelopes
    refute the predicate before any data is read — the mechanism
    that makes a selective read on a 100 TB table touch a handful of
    files instead of all of them.

    The fixture writes orders as EIGHT key-range files (one commit
    per range, ``K = max_key // 8 + 1`` keys each) so the candidate
    census is closed-form; four probes then publish, per predicate,
    the number of candidate files the planner kept NEXT TO the exact
    row count/checksum the pruned read returned: a point key-range
    (2 files), a mid-table band (2), a string equality that every
    envelope straddles (all files — skipping correctly refuses), and
    an unclustered float predicate (all files — the motivation for
    ``optimize_zorder``).  The oracle replays the ENVELOPE arithmetic
    itself (per-bucket min/max in SQL), so a stats or pruning bug
    flips ``n_candidate_files`` and fails the hash — correctness of
    the returned rows AND of the planning decision are both bound.

    Scale shape: pruning is one filter over the bounded live-file
    frame (metadata-sized); each probe's data leg scans only the
    surviving files.  Reference parity: the protocol stats the
    reference's own Delta tables carry (`data/delta/123/balance/
    delta_table/_delta_log/*.json` add.stats)."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_skipping")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    k = mx // 8 + 1
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        key = F.col("o_orderkey")
        deltalog.create_table(
            spark, orders.filter(key < k), base, n_files=1
        )
        for i in range(1, 8):
            deltalog.append(
                spark,
                orders.filter((key >= i * k) & (key < (i + 1) * k)),
                base,
                n_files=1,
            )
        _mark(base)

    probes = [
        ("key_lt_mid2", [("o_orderkey", "<", k + k // 2)]),
        (
            "key_band",
            [
                ("o_orderkey", ">=", 3 * k + k // 3),
                ("o_orderkey", "<", 5 * k),
            ],
        ),
        ("status_eq_F", [("o_orderstatus", "==", "F")]),
        ("price_gt_100k", [("o_totalprice", ">", 100000.0)]),
    ]
    parts = []
    for name, skipping in probes:
        n_cand = deltalog.candidate_files(spark, base, skipping).count()
        leg = deltalog.read_snapshot(spark, base, skipping=skipping).agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        )
        parts.append(
            leg.select(
                F.lit(name).alias("probe"),
                F.lit(n_cand).cast("bigint").alias("n_candidate_files"),
                "n_rows",
                "key_checksum",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


QUERIES["io_delta_stats_skipping"] = q_delta_stats_skipping

ORACLE["io_delta_stats_skipping"] = """
WITH prm AS (
  SELECT CAST(max(o_orderkey) AS BIGINT) // 8 + 1 AS k FROM orders),
b AS (
  SELECT o_orderkey // (SELECT k FROM prm) AS f,
         min(o_orderkey) AS mn, max(o_orderkey) AS mx,
         min(o_orderstatus) AS smn, max(o_orderstatus) AS smx,
         min(o_totalprice) AS pmn, max(o_totalprice) AS pmx
  FROM orders GROUP BY 1)
SELECT 'key_lt_mid2' AS probe,
  (SELECT CAST(count(*) AS BIGINT) FROM b
    WHERE mn < (SELECT k + k // 2 FROM prm)) AS n_candidate_files,
  (SELECT CAST(count(*) AS BIGINT) FROM orders
    WHERE o_orderkey < (SELECT k + k // 2 FROM prm)) AS n_rows,
  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
    WHERE o_orderkey < (SELECT k + k // 2 FROM prm)) AS key_checksum
UNION ALL
SELECT 'key_band',
  (SELECT CAST(count(*) AS BIGINT) FROM b
    WHERE mx >= (SELECT 3 * k + k // 3 FROM prm)
      AND mn < (SELECT 5 * k FROM prm)),
  (SELECT CAST(count(*) AS BIGINT) FROM orders
    WHERE o_orderkey >= (SELECT 3 * k + k // 3 FROM prm)
      AND o_orderkey < (SELECT 5 * k FROM prm)),
  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
    WHERE o_orderkey >= (SELECT 3 * k + k // 3 FROM prm)
      AND o_orderkey < (SELECT 5 * k FROM prm))
UNION ALL
SELECT 'status_eq_F',
  (SELECT CAST(count(*) AS BIGINT) FROM b
    WHERE smn <= 'F' AND smx >= 'F'),
  (SELECT CAST(count(*) AS BIGINT) FROM orders
    WHERE o_orderstatus = 'F'),
  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
    WHERE o_orderstatus = 'F')
UNION ALL
SELECT 'price_gt_100k',
  (SELECT CAST(count(*) AS BIGINT) FROM b WHERE pmx > 100000.0),
  (SELECT CAST(count(*) AS BIGINT) FROM orders
    WHERE o_totalprice > 100000.0),
  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
    WHERE o_totalprice > 100000.0)"""


def q_delta_row_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE + UPDATE on the native Delta log — the
    copy-on-write DML the reference issues through delta-spark (its
    per-change SCD2 UPDATE, ``deltaprocessing.py:116``), here
    end-to-end on the protocol implementation: stats prune the
    candidate files, one scan locates the files with matching rows,
    ONLY those are rewritten (tombstone + replacement add in one
    atomic commit), everything else is never touched.

    Fixture: customer as eight key-range files (``K = max_key // 8
    + 1``).  v8 DELETEs every third key inside bucket 0 (skipping
    pins the candidate set to one file); v9 UPDATEs
    ``c_acctbal += 100`` for the top quarter (buckets 6-7 — their
    rows ALL match, so exactly two files rewrite into one).  The
    output row publishes the final row count, the integer-exact
    balance checksums (cents as BIGINT) of the deleted-range
    survivors / updated range / untouched middle, and the
    copy-on-write evidence: how many ORIGINAL files are still live
    untouched (5 — buckets 1-5) and the final live-file census (7:
    five originals + one delete rewrite + one update rewrite).

    Scale shape: both mutations scan only their stats-pruned
    candidates and rewrite only matched files — the touched-bytes
    bound a 100 TB table needs; the census legs are metadata-sized."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_dml")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    mx = cust.agg(F.max("c_custkey")).first()[0]
    k = mx // 8 + 1
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        key = F.col("c_custkey")
        deltalog.create_table(
            spark, cust.filter(key < k), base, n_files=1
        )
        for i in range(1, 8):
            deltalog.append(
                spark,
                cust.filter((key >= i * k) & (key < (i + 1) * k)),
                base,
                n_files=1,
            )
        deltalog.delete_where(                                       # v8
            spark,
            base,
            f"c_custkey % 3 = 0 AND c_custkey < {k}",
            skipping=[("c_custkey", "<", k)],
        )
        deltalog.update_where(                                       # v9
            spark,
            base,
            f"c_custkey >= {6 * k}",
            {"c_acctbal": "c_acctbal + 100.0"},
            skipping=[("c_custkey", ">=", 6 * k)],
        )
        _mark(base)

    acts = deltalog.read_log_actions(spark, base)
    lf = deltalog.live_files(acts)
    first_add = (
        acts.filter(F.col("add").isNotNull())
        .groupBy(F.col("add.path").alias("path"))
        .agg(F.min("version").alias("v0"))
    )
    census = lf.join(first_add, "path").agg(
        F.count("*").cast("bigint").alias("n_live_files"),
        F.sum((F.col("v0") <= 7).cast("bigint")).alias(
            "n_untouched_originals"
        ),
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    snap = deltalog.read_snapshot(spark, base)
    body = snap.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("c_custkey") < k, cents)).alias(
            "deleted_range_cents"
        ),
        F.sum(
            F.when(
                (F.col("c_custkey") >= k) & (F.col("c_custkey") < 6 * k),
                cents,
            )
        ).alias("middle_cents"),
        F.sum(F.when(F.col("c_custkey") >= 6 * k, cents)).alias(
            "updated_range_cents"
        ),
    )
    return body.crossJoin(F.broadcast(census)).select(
        "n_rows",
        "deleted_range_cents",
        "middle_cents",
        "updated_range_cents",
        "n_untouched_originals",
        "n_live_files",
    )


QUERIES["cdc_delta_row_dml"] = q_delta_row_dml

ORACLE["cdc_delta_row_dml"] = """
WITH prm AS (
  SELECT CAST(max(c_custkey) AS BIGINT) // 8 + 1 AS k FROM customer),
final AS (
  SELECT c_custkey,
         CASE WHEN c_custkey >= 6 * (SELECT k FROM prm)
              THEN c_acctbal + 100.0 ELSE c_acctbal END AS bal
  FROM customer
  WHERE NOT (c_custkey % 3 = 0 AND c_custkey < (SELECT k FROM prm)))
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN c_custkey < (SELECT k FROM prm)
      THEN CAST(round(bal * 100) AS BIGINT) END) AS BIGINT)
    AS deleted_range_cents,
  CAST(sum(CASE WHEN c_custkey >= (SELECT k FROM prm)
      AND c_custkey < 6 * (SELECT k FROM prm)
      THEN CAST(round(bal * 100) AS BIGINT) END) AS BIGINT)
    AS middle_cents,
  CAST(sum(CASE WHEN c_custkey >= 6 * (SELECT k FROM prm)
      THEN CAST(round(bal * 100) AS BIGINT) END) AS BIGINT)
    AS updated_range_cents,
  CAST(5 AS BIGINT) AS n_untouched_originals,
  CAST(7 AS BIGINT) AS n_live_files
FROM final"""


def q_delta_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER BY on the native Delta log + the skipping
    reads it unlocks: the live table rewrites along the Morton
    interleave of (user_id, value) — ``width_bucket`` codes over
    each column's global range, one range exchange on the z-key —
    so file stat envelopes become tight in BOTH dimensions and
    ``read_snapshot(skipping=...)`` prunes on either predicate
    (a linear sort would only serve the leading key;
    `io_zorder_clustering` pins that envelope geometry analytically,
    this query runs the real rewrite).

    The fixture hash-scatters events into 8 files (worst case: every
    envelope spans both full domains), zorders, then probes three
    skipping reads — low user band, high value band, and their
    conjunction — publishing exact row counts/checksums, plus the
    zorder commit's data-change census (MUST be zero: a pure rewrite
    is invisible to change-data readers).  File-level pruning ratios
    are runtime-layout-dependent (range-exchange sampling), so they
    are pinned by the pytest suite and BENCH_NOTES, not hashed here;
    the oracle binds that the clustered rewrite LOST AND INVENTED
    NOTHING under every pruned read — the correctness half of the
    zorder contract.

    Scale shape: one repartitionByRange of the table (the shuffle
    real OPTIMIZE ZORDER pays), bounded bounds-agg, metadata-sized
    commit census."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_zorder")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    bounds = ev.agg(
        F.max("user_id").alias("umax"), F.max("value").alias("vmax")
    ).first()
    u_mid = bounds["umax"] // 2
    v_thr = float(bounds["vmax"]) * 0.75
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        deltalog.create_table(
            spark, ev.repartition(8), base, n_files=8
        )                                                            # v0
        deltalog.optimize_zorder(
            spark, base, ["user_id", "value"], n_files=8
        )                                                            # v1
        _mark(base)

    zorder_changed = (
        deltalog.read_log_actions(spark, base)
        .filter(F.col("version") == 1)
        .agg(
            F.sum(
                (
                    F.coalesce(F.col("add.dataChange"), F.lit(False))
                    | F.coalesce(F.col("remove.dataChange"), F.lit(False))
                ).cast("bigint")
            ).alias("n")
        )
        .first()["n"]
    )
    probes = [
        ("user_low", [("user_id", "<", u_mid // 2)]),
        ("value_high", [("value", ">", v_thr)]),
        (
            "both_dims",
            [("user_id", "<", u_mid), ("value", ">", v_thr)],
        ),
    ]
    parts = []
    for name, skipping in probes:
        leg = deltalog.read_snapshot(spark, base, skipping=skipping).agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("event_id").cast("bigint").alias("id_checksum"),
        )
        parts.append(
            leg.select(
                F.lit(name).alias("probe"),
                "n_rows",
                "id_checksum",
                F.lit(int(zorder_changed))
                .cast("bigint")
                .alias("zorder_datachange_actions"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


QUERIES["io_delta_zorder_skipping"] = q_delta_zorder_skipping

ORACLE["io_delta_zorder_skipping"] = """
WITH prm AS (
  SELECT CAST(max(user_id) AS BIGINT) // 2 AS umid,
         max("value") * 0.75 AS vthr
  FROM events)
SELECT 'user_low' AS probe,
  (SELECT CAST(count(*) AS BIGINT) FROM events
    WHERE user_id < (SELECT umid // 2 FROM prm)) AS n_rows,
  (SELECT CAST(sum(event_id) AS BIGINT) FROM events
    WHERE user_id < (SELECT umid // 2 FROM prm)) AS id_checksum,
  CAST(0 AS BIGINT) AS zorder_datachange_actions
UNION ALL
SELECT 'value_high',
  (SELECT CAST(count(*) AS BIGINT) FROM events
    WHERE "value" > (SELECT vthr FROM prm)),
  (SELECT CAST(sum(event_id) AS BIGINT) FROM events
    WHERE "value" > (SELECT vthr FROM prm)),
  CAST(0 AS BIGINT)
UNION ALL
SELECT 'both_dims',
  (SELECT CAST(count(*) AS BIGINT) FROM events
    WHERE user_id < (SELECT umid FROM prm)
      AND "value" > (SELECT vthr FROM prm)),
  (SELECT CAST(sum(event_id) AS BIGINT) FROM events
    WHERE user_id < (SELECT umid FROM prm)
      AND "value" > (SELECT vthr FROM prm)),
  CAST(0 AS BIGINT)"""


def q_delta_merge_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical SCD2 ``MERGE INTO`` — expire-current + insert
    pre-chained versions in ONE statement, the null-merge-key idiom
    from the public Delta docs (`delta_merge.build_scd2_merge`'s
    recipe) — executed as a REAL copy-on-write statement on the
    native log via :class:`deltalog.NativeDeltaTable` (the
    delta-spark ``DeltaTable`` protocol stand-in; the recipe was
    previously executable only against delta-spark or the test
    fake).  Batch 1 of the events upsert stream creates the table;
    batch 2 builds the merge source (batch-local chains with
    ``__mergeKey = NULL`` so they never match, plus one expiry row
    per touched key carrying the key's first batch timestamp) and
    lands through ``alias / merge / whenMatchedUpdate /
    whenNotMatchedInsert / execute``.

    The published result is the final snapshot read back from the
    log; the ORACLE is the one-shot lead()-window history over the
    WHOLE stream — incremental MERGE == batch ground truth, the same
    bar `cdc_scd2_delta_native` sets for its overwrite-based apply.

    Scale shape: the statement's cost is (touched files scanned
    once) + (touched files rewritten) + (inserts appended) in one
    atomic commit — the reference's per-row 1.4-19.3 s Delta UPDATE
    loop (deltaprocessing.py:116, BASELINE.md) collapsed into one
    set-based merge."""
    from cdc_pipe_line_spark import deltalog
    from cdc_pipe_line_spark.cdc.scd2 import scd2_from_upserts

    base, ready = _cache(sf_dir, "delta_merge_native")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
        cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
        h1 = scd2_from_upserts(
            ev.filter(F.col("ts") < cut), "user_id", "ts", ["value"]
        )
        deltalog.create_table(spark, h1, base, n_files=2)
        b2 = ev.filter(F.col("ts") >= cut).select(
            F.col("user_id").cast("string").alias("key_value"),
            "ts",
            "value",
        )
        chains = scd2_from_upserts(b2, "key_value", "ts", ["value"])
        scd2_cols = [
            "key_value", "value", "valid_from", "valid_to", "is_current",
        ]
        inserts = chains.select(
            *scd2_cols,
            F.lit(None).cast("string").alias("__mergeKey"),
            F.lit("insert").alias("__action"),
            F.lit(None).cast("timestamp").alias("__first_ts"),
        )
        expiries = (
            b2.groupBy("key_value")
            .agg(F.min("ts").alias("__first_ts"))
            .select(
                F.col("key_value"),
                F.lit(None).cast("double").alias("value"),
                F.lit(None).cast("timestamp").alias("valid_from"),
                F.lit(None).cast("timestamp").alias("valid_to"),
                F.lit(None).cast("boolean").alias("is_current"),
                F.col("key_value").alias("__mergeKey"),
                F.lit("expire").alias("__action"),
                "__first_ts",
            )
        )
        source = inserts.unionByName(expiries)
        table = deltalog.NativeDeltaTable.forPath(spark, base)
        (
            table.alias("t")
            .merge(
                source.alias("s"),
                "t.key_value = s.__mergeKey AND t.is_current",
            )
            .whenMatchedUpdate(
                condition="s.__action = 'expire'",
                set={
                    "valid_to": "s.__first_ts",
                    "is_current": "false",
                },
            )
            .whenNotMatchedInsert(
                condition="s.__action = 'insert'",
                values={c: f"s.{c}" for c in scd2_cols},
            )
            .execute()
        )
        _mark(base)
    snap = deltalog.read_snapshot(spark, base)
    return snap.select(
        "key_value", "value", "valid_from", "valid_to", "is_current"
    )


QUERIES["cdc_delta_merge_native"] = q_delta_merge_native

ORACLE["cdc_delta_merge_native"] = """
WITH history AS (
  SELECT CAST(user_id AS VARCHAR) AS key_value, value, ts AS valid_from,
    lead(ts) OVER w AS valid_to,
    lead(ts) OVER w IS NULL AS is_current
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, value ASC))
SELECT key_value, value, valid_from, valid_to, is_current FROM history"""


def q_delta_changes_rowlevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL change data feed — the spec's ``cdc`` actions: the
    DML writers (DELETE / UPDATE / MERGE) persist change-data files
    under ``_change_data/`` holding exactly the mutated rows
    (insert / delete / update_preimage / update_postimage), and
    ``read_changes`` serves those commits from THEM instead of the
    file-level add/remove derivation — without this, a copy-on-write
    rewrite shows every unchanged row of a touched file as a
    delete+insert pair (phantom churn), which is what downstream CDC
    consumers must never see.

    Fixture: orders (%3==0 keys) → DELETE (%9==0) → UPDATE
    (status 'F': price += 1) → MERGE (source = %9!=0 keys in
    %3∈{0,1}: matched rows price *= 2, unmatched insert) — then one
    output row per (version, change_type) with row count, key
    checksum, and integer-cents VALUE checksum, so a feed that
    reported passthrough rows, skipped a post-image, or served stale
    values fails the hash.  All legs closed-form in o_orderkey
    arithmetic for the oracle.

    Scale shape: change files are written once per DML commit,
    sized by the MUTATED rows only; the feed read plans one bounded
    metadata pass + per-commit scans of exactly those files."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_cdf_rowlevel")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        m = F.col("o_orderkey") % 3
        deltalog.create_table(
            spark, orders.filter(m == 0), base, n_files=2
        )                                                            # v0
        deltalog.delete_where(spark, base, "o_orderkey % 9 = 0")     # v1
        deltalog.update_where(                                       # v2
            spark,
            base,
            "o_orderstatus = 'F'",
            {"o_totalprice": "o_totalprice + 1.0"},
        )
        src = orders.filter(
            ((m == 0) | (m == 1)) & (F.col("o_orderkey") % 9 != 0)
        ).select(F.col("o_orderkey").alias("k"))
        deltalog.merge_into(                                         # v3
            spark,
            base,
            src,
            "t.o_orderkey = s.k",
            when_matched_update={"o_totalprice": "t.o_totalprice * 2"},
            when_not_matched_insert={
                "o_orderkey": "s.k",
                "o_orderstatus": "'N'",
                "o_totalprice": "0.0",
            },
        )
        _mark(base)

    ch = deltalog.read_changes(spark, base, starting_version=0)
    return ch.groupBy("_commit_version", "_change_type").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("price_cents"),
    )


QUERIES["cdc_delta_changes_rowlevel"] = q_delta_changes_rowlevel

ORACLE["cdc_delta_changes_rowlevel"] = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS p
  FROM orders WHERE o_orderkey % 3 = 0),
after_del AS (
  SELECT * FROM base WHERE k % 9 != 0),
feed AS (
  SELECT 1 AS v, 'delete' AS ct, k, p FROM base WHERE k % 9 = 0
  UNION ALL
  SELECT 2, 'update_preimage', k, p FROM after_del WHERE st = 'F'
  UNION ALL
  SELECT 2, 'update_postimage', k, p + 1.0 FROM after_del WHERE st = 'F'
  UNION ALL
  SELECT 3, 'update_preimage', k,
         CASE WHEN st = 'F' THEN p + 1.0 ELSE p END
  FROM after_del
  UNION ALL
  SELECT 3, 'update_postimage', k,
         (CASE WHEN st = 'F' THEN p + 1.0 ELSE p END) * 2
  FROM after_del
  UNION ALL
  SELECT 3, 'insert', o_orderkey, 0.0 FROM orders
  WHERE o_orderkey % 3 = 1 AND o_orderkey % 9 != 0)
SELECT CAST(v AS BIGINT) AS _commit_version, ct AS _change_type,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(k) AS BIGINT) AS key_checksum,
  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS price_cents
FROM feed GROUP BY 1, 2"""


def q_delta_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK CONSTRAINTS on the native writer — the protocol's
    ``delta.constraints.*`` metaData configuration with writer-side
    enforcement (``deltalog.add_constraint`` / ``drop_constraint`` /
    ``_enforce_constraints``): ADD validates existing data first (a
    constraint present rows violate is refused), every subsequent
    data-adding commit — append, overwrite, evolve, txn, DML,
    MERGE — rejects a batch whose rows violate any registered
    constraint (SQL-standard semantics: only FALSE violates, NULL
    passes), the ADD commit raises minWriterVersion to 3 (the spec's
    writer-feature gate), and schema evolution carries the registry
    forward.

    Fixture on customer: add a satisfiable floor constraint; attempt
    an unsatisfiable one (negative balances exist — refused);
    attempt a violating append (refused, nothing committed); land a
    valid append; DROP the floor and land the previously-refused
    batch.  One output row binds the refusal booleans, registry
    census, min-writer-version bump, and the final integer-cents
    state — a writer that ever let a bad batch through, or lost the
    registry across evolution, fails the hash.

    Scale shape: enforcement is ONE bounded aggregate over the batch
    per commit (all constraints in one pass), never a table scan;
    ADD's existing-data validation is the one full scan the real
    ALTER TABLE pays."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_constraints")
    flags_path = os.path.join(base, "_flags.txt")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        cust = _t(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )
        deltalog.create_table(spark, cust, base)                    # v0
        deltalog.add_constraint(
            spark, base, "bal_floor", "c_acctbal >= -1000.0"
        )                                                           # v1
        try:
            deltalog.add_constraint(
                spark, base, "bal_positive", "c_acctbal >= 0.0"
            )
            add_refused = False
        except ValueError:
            add_refused = True
        mx = cust.agg(F.max("c_custkey")).first()[0]
        bad = spark.range(3).select(
            (F.col("id") + mx + 1).alias("c_custkey"),
            F.lit(-5000.0).alias("c_acctbal"),
        )
        try:
            deltalog.append(spark, bad, base)
            append_refused = False
        except ValueError:
            append_refused = True
        good = spark.range(3).select(
            (F.col("id") + mx + 1).alias("c_custkey"),
            F.lit(100.5).alias("c_acctbal"),
        )
        deltalog.append(spark, good, base)                          # v2
        deltalog.drop_constraint(spark, base, "bal_floor")          # v3
        deltalog.append(spark, bad, base)                           # v4
        with open(flags_path, "w") as fh:
            fh.write(f"{add_refused},{append_refused}")
        _mark(base)

    with open(flags_path) as fh:
        add_refused_s, append_refused_s = fh.read().split(",")
    n_constraints = len(deltalog.table_constraints(spark, base))
    acts = deltalog.read_log_actions(spark, base)
    wv = (
        acts.filter(F.col("protocol").isNotNull())
        .agg(F.max("protocol.minWriterVersion").alias("w"))
        .first()["w"]
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    snap = deltalog.read_snapshot(spark, base)
    body = snap.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(cents).alias("balance_cents"),
    )
    return body.select(
        "n_rows",
        "balance_cents",
        F.lit(add_refused_s == "True").alias("unsatisfiable_add_refused"),
        F.lit(append_refused_s == "True").alias(
            "violating_append_refused"
        ),
        F.lit(n_constraints).cast("bigint").alias("n_constraints_now"),
        F.lit(int(wv)).cast("bigint").alias("min_writer_version"),
    )


QUERIES["qa_delta_check_constraints"] = q_delta_check_constraints

ORACLE["qa_delta_check_constraints"] = """
SELECT
  CAST(count(*) + 6 AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
       + 3 * 10050 + 3 * (-500000) AS BIGINT) AS balance_cents,
  TRUE AS unsatisfiable_add_refused,
  TRUE AS violating_append_refused,
  CAST(0 AS BIGINT) AS n_constraints_now,
  CAST(3 AS BIGINT) AS min_writer_version
FROM customer"""


def q_delta_generated_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED COLUMNS (the protocol's
    ``delta.generationExpression`` field metadata) driving a
    partitioned layout — the canonical Delta pattern: the table
    declares ``event_date`` generated from ``date_format(ts)``, AND
    partitions on it, so the WRITER owns the derivation and
    partition pruning stays trustworthy by construction.  One batch
    lands without the column (computed), one supplies it correctly
    (validated value-for-value), one supplies it WRONG (refused —
    published as a literal; a wrong generated partition value would
    silently misroute rows out of pruned reads).  Output binds the
    full-table census, a partition-pruned read at the earliest date,
    the refusal, and the registry/protocol gate (minWriterVersion 4).

    Scale shape: generation is a projection on the batch;
    validation one bounded aggregate; the pruned read plans from log
    partitionValues only."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_generated")
    flags_path = os.path.join(base, "_flags.txt")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id"
        )
        m = F.col("event_id") % 3
        deltalog.create_table(
            spark,
            ev.filter(m == 0),
            base,
            partition_by=["event_date"],
            generated={"event_date": "date_format(ts, 'yyyy-MM-dd')"},
        )                                                           # v0
        deltalog.append(spark, ev.filter(m == 1), base)             # v1
        bad = ev.filter(m == 2).withColumn(
            "event_date", F.lit("1999-01-01")
        )
        try:
            deltalog.append(spark, bad, base)
            refused = False
        except ValueError:
            refused = True
        deltalog.append(                                            # v2
            spark,
            ev.filter(m == 2).withColumn(
                "event_date", F.date_format("ts", "yyyy-MM-dd")
            ),
            base,
        )
        with open(flags_path, "w") as fh:
            fh.write(str(refused))
        _mark(base)

    with open(flags_path) as fh:
        refused_s = fh.read()
    snap = deltalog.read_snapshot(spark, base)
    total = snap.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
    )
    d0 = snap.agg(F.min("event_date")).first()[0]
    pruned = deltalog.read_snapshot(
        spark, base, partition_filter={"event_date": str(d0)}
    ).agg(
        F.count("*").cast("bigint").alias("n_rows_day0"),
        F.sum("event_id").cast("bigint").alias("id_checksum_day0"),
    )
    n_gen = len(deltalog.generation_expressions(spark, base))
    wv = (
        deltalog.read_log_actions(spark, base)
        .filter(F.col("protocol").isNotNull())
        .agg(F.max("protocol.minWriterVersion").alias("w"))
        .first()["w"]
    )
    return total.crossJoin(F.broadcast(pruned)).select(
        "n_rows",
        "id_checksum",
        "n_rows_day0",
        "id_checksum_day0",
        F.lit(refused_s == "True").alias("wrong_value_refused"),
        F.lit(n_gen).cast("bigint").alias("n_generated_columns"),
        F.lit(int(wv)).cast("bigint").alias("min_writer_version"),
    )


QUERIES["io_delta_generated_partition"] = q_delta_generated_partition

ORACLE["io_delta_generated_partition"] = """
WITH d0 AS (
  SELECT strftime(min(ts), '%Y-%m-%d') AS d FROM events)
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(event_id) AS BIGINT) AS id_checksum,
  (SELECT CAST(count(*) AS BIGINT) FROM events
    WHERE strftime(ts, '%Y-%m-%d') = (SELECT d FROM d0))
    AS n_rows_day0,
  (SELECT CAST(sum(event_id) AS BIGINT) FROM events
    WHERE strftime(ts, '%Y-%m-%d') = (SELECT d FROM d0))
    AS id_checksum_day0,
  TRUE AS wrong_value_refused,
  CAST(1 AS BIGINT) AS n_generated_columns,
  CAST(4 AS BIGINT) AS min_writer_version
FROM events"""


def q_delta_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAME-BASED COLUMN MAPPING (``delta.columnMapping.mode=name``)
    — RENAME COLUMN as a METADATA-ONLY commit: enable assigns every
    field a stable ``columnMapping.id``/``physicalName`` and raises
    the protocol gate to (2, 5); the rename changes the LOGICAL name
    in schemaString only, so the table's data files are never
    rewritten (the operation that renames a column on a 100 TB table
    without touching a byte).  Readers remap physical -> logical
    centrally; writers land new files under the PHYSICAL name; stats
    skipping translates logical predicates to the physical stats
    keys; DML and the change feed speak logical names throughout.

    Fixture: orders as four key-range files -> enable mapping ->
    rename ``o_totalprice`` to ``price_usd`` -> append (new logical
    name) -> targeted UPDATE (+1 on the top key quarter,
    stats-pruned).  The output row binds: the logical-name census
    and cents checksum, a logical-name skipping read over the
    renamed column, the THREE pre-rename files still live untouched
    (the metadata-only proof), the physical name persisting inside a
    post-rename data file (footer probe), and the protocol gate.

    Scale shape: the rename is one metaData commit; every read since
    pays one projection of renames — nothing else changes."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_colmap")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    k = mx // 4 + 1
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        key = F.col("o_orderkey")
        half = orders.filter(key % 2 == 0)
        deltalog.create_table(
            spark, half.filter(key < k), base, n_files=1
        )                                                           # v0
        for i in range(1, 4):
            deltalog.append(                                        # v1-3
                spark,
                half.filter((key >= i * k) & (key < (i + 1) * k)),
                base,
                n_files=1,
            )
        deltalog.enable_column_mapping(spark, base)                 # v4
        deltalog.rename_column(
            spark, base, "o_totalprice", "price_usd"
        )                                                           # v5
        deltalog.append(                                            # v6
            spark,
            orders.filter(key % 2 == 1).select(
                "o_orderkey",
                F.col("o_totalprice").alias("price_usd"),
            ),
            base,
        )
        deltalog.update_where(                                      # v7
            spark,
            base,
            f"o_orderkey >= {3 * k}",
            {"price_usd": "price_usd + 1.0"},
            skipping=[("o_orderkey", ">=", 3 * k)],
        )
        _mark(base)

    acts = deltalog.read_log_actions(spark, base)
    lf = deltalog.live_files(acts)
    first_add = (
        acts.filter(F.col("add").isNotNull())
        .groupBy(F.col("add.path").alias("path"))
        .agg(F.min("version").alias("v0"))
    )
    pre_rename_live = (
        lf.join(first_add, "path")
        .filter(F.col("v0") <= 3)
        .count()
    )
    # footer probe: the newest live file (the update rewrite) stores
    # the PHYSICAL name, not the renamed logical one
    import pyarrow.parquet as _pq

    newest = (
        lf.join(first_add, "path")
        .orderBy(F.col("v0").desc())
        .select("path")
        .first()["path"]
    )
    phys_cols = _pq.ParquetFile(
        os.path.join(base, newest)
    ).schema_arrow.names
    physical_persists = (
        "o_totalprice" in phys_cols and "price_usd" not in phys_cols
    )
    rv, wv = (
        acts.filter(F.col("protocol").isNotNull())
        .agg(
            F.max("protocol.minReaderVersion"),
            F.max("protocol.minWriterVersion"),
        )
        .first()
    )
    cents = F.round(F.col("price_usd") * 100).cast("bigint")
    snap = deltalog.read_snapshot(spark, base)
    body = snap.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(cents).alias("price_cents"),
    )
    skim = deltalog.read_snapshot(
        spark, base, skipping=[("price_usd", ">", 100000.0)]
    ).agg(
        F.count("*").cast("bigint").alias("n_expensive"),
        F.sum("o_orderkey").cast("bigint").alias("expensive_keysum"),
    )
    return body.crossJoin(F.broadcast(skim)).select(
        "n_rows",
        "price_cents",
        "n_expensive",
        "expensive_keysum",
        F.lit(pre_rename_live).cast("bigint").alias(
            "pre_rename_files_untouched"
        ),
        F.lit(bool(physical_persists)).alias("physical_name_persists"),
        F.lit(int(rv)).cast("bigint").alias("min_reader_version"),
        F.lit(int(wv)).cast("bigint").alias("min_writer_version"),
    )


QUERIES["io_delta_column_mapping"] = q_delta_column_mapping

ORACLE["io_delta_column_mapping"] = """
WITH prm AS (
  SELECT CAST(max(o_orderkey) AS BIGINT) // 4 + 1 AS k FROM orders),
final AS (
  SELECT o_orderkey AS okey,
         CASE WHEN o_orderkey >= 3 * (SELECT k FROM prm)
              THEN o_totalprice + 1.0 ELSE o_totalprice END AS p
  FROM orders)
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS price_cents,
  (SELECT CAST(count(*) AS BIGINT) FROM final WHERE p > 100000.0)
    AS n_expensive,
  (SELECT CAST(sum(okey) AS BIGINT) FROM final WHERE p > 100000.0)
    AS expensive_keysum,
  CAST(3 AS BIGINT) AS pre_rename_files_untouched,
  TRUE AS physical_name_persists,
  CAST(2 AS BIGINT) AS min_reader_version,
  CAST(5 AS BIGINT) AS min_writer_version
FROM final"""


def q_delta_describe_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE DETAIL over the native log (`deltalog.table_detail`):
    the operator's one-stop summary — live-file census (count + the
    LOG's byte total, cross-checked against disk in one boolean so a
    size drift fails the hash), partition columns, the feature
    registries (constraints / generated columns / column-mapping
    mode), protocol gate, commit count — computed entirely from
    metadata; no data file is opened.  Runs over the four-commit
    writer fixture (create → append → OPTIMIZE → append), whose
    detail is closed-form."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_writer")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        orders = _t(spark, sf_dir, "orders")
        m = F.col("o_orderkey") % 4
        deltalog.create_table(spark, orders.filter(m == 0), base)
        deltalog.append(spark, orders.filter(m == 1), base)
        deltalog.compact(spark, base)
        deltalog.append(spark, orders.filter(m == 2), base)
        _mark(base)

    detail = deltalog.table_detail(spark, base).first()
    disk = sum(
        os.path.getsize(os.path.join(base, f))
        for f in os.listdir(base)
        if f.endswith(".parquet")
        and os.path.join(base, f)
        in {
            os.path.join(base, r.path)
            for r in deltalog.live_files(
                deltalog.read_log_actions(spark, base)
            ).collect()
        }
    )
    rows = deltalog.read_snapshot(spark, base).count()
    return spark.createDataFrame(
        [
            (
                detail["format"],
                int(detail["num_files"]),
                detail["partition_columns"],
                int(detail["num_constraints"]),
                int(detail["num_generated_columns"]),
                detail["column_mapping_mode"],
                int(detail["min_reader_version"]),
                int(detail["min_writer_version"]),
                int(detail["num_commits"]),
                bool(int(detail["size_in_bytes"]) == disk),
                int(rows),
            )
        ],
        "format string, num_files bigint, partition_columns string, "
        "num_constraints bigint, num_generated_columns bigint, "
        "column_mapping_mode string, min_reader_version bigint, "
        "min_writer_version bigint, num_commits bigint, "
        "log_size_matches_disk boolean, n_rows bigint",
    )


QUERIES["qa_delta_describe_detail"] = q_delta_describe_detail

ORACLE["qa_delta_describe_detail"] = """
SELECT 'parquet' AS format,
  CAST(2 AS BIGINT) AS num_files,
  '' AS partition_columns,
  CAST(0 AS BIGINT) AS num_constraints,
  CAST(0 AS BIGINT) AS num_generated_columns,
  'none' AS column_mapping_mode,
  CAST(1 AS BIGINT) AS min_reader_version,
  CAST(2 AS BIGINT) AS min_writer_version,
  CAST(4 AS BIGINT) AS num_commits,
  TRUE AS log_size_matches_disk,
  (SELECT CAST(count(*) AS BIGINT) FROM orders
   WHERE o_orderkey % 4 <= 2) AS n_rows"""


def q_delta_history_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY ``operationMetrics`` — the per-commit
    telemetry the reference's own Delta log exposes (its SCD2 UPDATE
    commit records numAddedFiles / numUpdatedRows / executionTimeMs,
    ``data/delta/123/balance/delta_table/_delta_log/
    00000000000000000005.json:1``), now recorded by every native
    writer from metadata already in hand: file counts and byte sizes
    from the commit's own actions, row counts from the add-actions'
    footer stats, DML/MERGE row splits from the change-data file's
    ``_change_type`` census — never an extra data scan.

    Fixture: customer split ``c_custkey % 4`` — v0 CREATE (bucket 0),
    v1 WRITE (bucket 1), v2 DELETE (keys divisible by 12), v3 UPDATE
    (bucket-1 keys divisible by 5), v4 MERGE (update bucket-0
    survivors, insert bucket 2).  One row per commit with the
    deterministic metric fields (executionTimeMs and byte sizes are
    real but non-reproducible, so excluded); the oracle recomputes
    every count from the customer table plus the file-layout
    constants the fixture pins."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_history_metrics")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    m = F.col("c_custkey") % 4
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        deltalog.create_table(spark, cust.filter(m == 0), base)   # v0
        deltalog.append(spark, cust.filter(m == 1), base)         # v1
        deltalog.delete_where(spark, base, "c_custkey % 12 = 0")  # v2
        deltalog.update_where(                                    # v3
            spark,
            base,
            "c_custkey % 4 = 1 AND c_custkey % 5 = 0",
            {"c_acctbal": "c_acctbal + 10.0"},
        )
        deltalog.merge_into(                                      # v4
            spark,
            base,
            cust.filter((m == 0) | (m == 2)),
            "t.c_custkey = s.c_custkey",
            when_matched_update={"c_acctbal": "s.c_acctbal + 1.0"},
            when_not_matched_insert={
                "c_custkey": "s.c_custkey",
                "c_mktsegment": "s.c_mktsegment",
                "c_acctbal": "s.c_acctbal",
            },
        )
        _mark(base)

    hist = deltalog.table_history(spark, base)

    def _m(key):
        return F.element_at(F.col("operationMetrics"), key).cast(
            "bigint"
        ).alias(key)

    return (
        hist.filter(F.col("version") <= 4)
        .select(
            F.col("version").cast("bigint").alias("version"),
            "operation",
            _m("numAddedFiles"),
            _m("numRemovedFiles"),
            _m("numOutputRows"),
            _m("numDeletedRows"),
            _m("numUpdatedRows"),
            _m("numCopiedRows"),
            _m("numTargetRowsInserted"),
            _m("numTargetRowsUpdated"),
            _m("numTargetRowsDeleted"),
            _m("numTargetRowsCopied"),
        )
    )


QUERIES["qa_delta_history_metrics"] = q_delta_history_metrics

ORACLE["qa_delta_history_metrics"] = """
WITH c AS (
  SELECT CAST(count(*) FILTER (c_custkey % 4 = 0) AS BIGINT) AS b0,
         CAST(count(*) FILTER (c_custkey % 4 = 1) AS BIGINT) AS b1,
         CAST(count(*) FILTER (c_custkey % 4 = 2) AS BIGINT) AS b2,
         CAST(count(*) FILTER (c_custkey % 12 = 0) AS BIGINT) AS del12,
         CAST(count(*) FILTER (c_custkey % 4 = 1 AND c_custkey % 5 = 0)
              AS BIGINT) AS upd15
  FROM customer)
SELECT CAST(0 AS BIGINT) AS version, 'CREATE TABLE' AS operation,
  CAST(1 AS BIGINT) AS numAddedFiles, CAST(0 AS BIGINT) AS numRemovedFiles,
  b0 AS numOutputRows,
  CAST(NULL AS BIGINT) AS numDeletedRows,
  CAST(NULL AS BIGINT) AS numUpdatedRows,
  CAST(NULL AS BIGINT) AS numCopiedRows,
  CAST(NULL AS BIGINT) AS numTargetRowsInserted,
  CAST(NULL AS BIGINT) AS numTargetRowsUpdated,
  CAST(NULL AS BIGINT) AS numTargetRowsDeleted,
  CAST(NULL AS BIGINT) AS numTargetRowsCopied
FROM c
UNION ALL
SELECT 1, 'WRITE', 1, 0, b1,
  NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM c
UNION ALL
SELECT 2, 'DELETE', 1, 1, b0 - del12,
  del12, NULL, b0 - del12, NULL, NULL, NULL, NULL
FROM c
UNION ALL
SELECT 3, 'UPDATE', 1, 1, b1,
  NULL, upd15, b1 - upd15, NULL, NULL, NULL, NULL
FROM c
UNION ALL
-- the v2-deleted keys are in the merge source and NOT MATCHED, so
-- they re-insert: inserted = bucket2 + the deleted twelves
SELECT 4, 'MERGE', 1, 1, b0 + b2,
  NULL, NULL, NULL, b2 + del12, b0 - del12, 0, 0
FROM c"""


def q_delta_dv_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ row DML via DELETION VECTORS — the modern-Delta
    feature that removes the copy-on-write amplification the
    reference's own telemetry shows (19 s single-row SCD2 UPDATEs,
    its ``_delta_log`` operationMetrics): the same fixture and
    mutations as ``cdc_delta_row_dml``, but with
    ``delta.enableDeletionVectors`` set, so the DELETE and UPDATE
    write spec-encoded deletion vectors (roaring bitmaps, inline or
    ``deletion_vector_*.bin``) and
    re-commit the touched adds with the spec's ``deletionVector``
    descriptor — NO data file is rewritten (the DELETE commit's
    ``numAddedFiles`` metric is published and must be 0), the
    UPDATE appends only its post-image rows, and every one of the
    eight original files stays live byte-identical.

    Readers mask the DV'd positions on both scan routes; the value
    checksums here must equal the copy-on-write query's — the
    strategies differ only in TOUCHED BYTES (DV-rows + post-images
    vs whole files), which is the entire 100 TB point."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_dv_dml")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    mx = cust.agg(F.max("c_custkey")).first()[0]
    k = mx // 8 + 1
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        key = F.col("c_custkey")
        deltalog.create_table(
            spark, cust.filter(key < k), base, n_files=1
        )
        for i in range(1, 8):
            deltalog.append(
                spark,
                cust.filter((key >= i * k) & (key < (i + 1) * k)),
                base,
                n_files=1,
            )
        deltalog.enable_deletion_vectors(spark, base)                # v8
        deltalog.delete_where(                                       # v9
            spark,
            base,
            f"c_custkey % 3 = 0 AND c_custkey < {k}",
            skipping=[("c_custkey", "<", k)],
        )
        deltalog.update_where(                                       # v10
            spark,
            base,
            f"c_custkey >= {6 * k}",
            {"c_acctbal": "c_acctbal + 100.0"},
            skipping=[("c_custkey", ">=", 6 * k)],
        )
        _mark(base)

    acts = deltalog.read_log_actions(spark, base)
    lf = deltalog.live_files(acts)
    first_add = (
        acts.filter(F.col("add").isNotNull())
        .groupBy(F.col("add.path").alias("path"))
        .agg(F.min("version").alias("v0"))
    )
    census = lf.join(first_add, "path").agg(
        F.count("*").cast("bigint").alias("n_live_files"),
        F.sum((F.col("v0") <= 7).cast("bigint")).alias(
            "n_live_originals"
        ),
        F.sum(
            F.col("deletionVector").isNotNull().cast("bigint")
        ).alias("n_files_with_dv"),
        F.coalesce(
            F.sum("deletionVector.cardinality"), F.lit(0)
        ).cast("bigint").alias("dv_cardinality"),
    )
    # operationMetrics straight off the already-parsed actions frame:
    # table_history() built the full mtime timeline + a broadcast join
    # only for this one scalar (optimization r14 — same value, the
    # version-9 commitInfo row is unique).
    del_files = (
        acts.filter(
            (F.col("version") == 9) & F.col("commitInfo").isNotNull()
        )
        .select(
            F.element_at(
                F.col("commitInfo.operationMetrics"), "numAddedFiles"
            ).cast("bigint").alias("delete_added_files")
        )
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    snap = deltalog.read_snapshot(spark, base)
    body = snap.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("c_custkey") < k, cents)).alias(
            "deleted_range_cents"
        ),
        F.sum(
            F.when(
                (F.col("c_custkey") >= k) & (F.col("c_custkey") < 6 * k),
                cents,
            )
        ).alias("middle_cents"),
        F.sum(F.when(F.col("c_custkey") >= 6 * k, cents)).alias(
            "updated_range_cents"
        ),
    )
    return (
        body.crossJoin(F.broadcast(census))
        .crossJoin(F.broadcast(del_files))
        .select(
            "n_rows",
            "deleted_range_cents",
            "middle_cents",
            "updated_range_cents",
            "n_live_originals",
            "n_live_files",
            "n_files_with_dv",
            "dv_cardinality",
            "delete_added_files",
        )
    )


QUERIES["cdc_delta_dv_dml"] = q_delta_dv_dml

ORACLE["cdc_delta_dv_dml"] = """
WITH prm AS (
  SELECT CAST(max(c_custkey) AS BIGINT) // 8 + 1 AS k FROM customer),
final AS (
  SELECT c_custkey,
         CASE WHEN c_custkey >= 6 * (SELECT k FROM prm)
              THEN c_acctbal + 100.0 ELSE c_acctbal END AS bal
  FROM customer
  WHERE NOT (c_custkey % 3 = 0 AND c_custkey < (SELECT k FROM prm)))
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN c_custkey < (SELECT k FROM prm)
      THEN CAST(round(bal * 100) AS BIGINT) END) AS BIGINT)
    AS deleted_range_cents,
  CAST(sum(CASE WHEN c_custkey >= (SELECT k FROM prm)
      AND c_custkey < 6 * (SELECT k FROM prm)
      THEN CAST(round(bal * 100) AS BIGINT) END) AS BIGINT)
    AS middle_cents,
  CAST(sum(CASE WHEN c_custkey >= 6 * (SELECT k FROM prm)
      THEN CAST(round(bal * 100) AS BIGINT) END) AS BIGINT)
    AS updated_range_cents,
  -- merge-on-read: every original file is STILL LIVE
  CAST(8 AS BIGINT) AS n_live_originals,
  -- 8 originals + the update's one post-image file
  CAST(9 AS BIGINT) AS n_live_files,
  -- bucket 0 (delete) + buckets 6 and 7 (update) carry DVs
  CAST(3 AS BIGINT) AS n_files_with_dv,
  (SELECT CAST(count(*) AS BIGINT) FROM customer
    WHERE (c_custkey % 3 = 0 AND c_custkey < (SELECT k FROM prm))
       OR c_custkey >= 6 * (SELECT k FROM prm)) AS dv_cardinality,
  -- the DELETE rewrote NOTHING
  CAST(0 AS BIGINT) AS delete_added_files
FROM final"""


def q_delta_dv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO under deletion vectors — the reference's SCD2
    MERGE statement shape (``deltaprocessing.py:96-116``) executed
    MERGE-ON-READ: matched rows are DV-deleted in place, update
    post-images and inserts append as new files, and the unchanged
    rows of touched files are NEVER re-emitted — the commit's
    ``numTargetRowsCopied`` metric is published and must be 0 (the
    copy-on-write MERGE's copied-rows cost is exactly what this
    removes at 100 TB).

    Fixture: customer split ``c_custkey % 4`` into four files, DVs
    enabled; the source updates every key divisible by 6 (those land
    in buckets 0 and 2 only — ``6k mod 4`` cycles {2, 0}) and
    inserts 100 synthetic keys above the max.  Published: per-range
    integer checksums, the live-file census (all four originals
    still live), the DV census (2 files masked, cardinality = the
    updated-key count), and the zero-copy metric."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_dv_merge")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    mx = cust.agg(F.max("c_custkey")).first()[0]
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        m = F.col("c_custkey") % 4
        deltalog.create_table(spark, cust.filter(m == 0), base)
        for i in range(1, 4):
            deltalog.append(spark, cust.filter(m == i), base)
        deltalog.enable_deletion_vectors(spark, base)               # v4
        upd = cust.filter(F.col("c_custkey") % 6 == 0).select(
            "c_custkey",
            (F.col("c_acctbal") + 50.0).alias("new_bal"),
        )
        ins = spark.range(1, 101).select(
            (F.lit(mx) + F.col("id")).cast("long").alias("c_custkey"),
            F.lit(0.0).alias("new_bal"),
        )
        deltalog.merge_into(                                        # v5
            spark,
            base,
            upd.unionByName(ins),
            "t.c_custkey = s.c_custkey",
            when_matched_update={"c_acctbal": "s.new_bal"},
            when_not_matched_insert={
                "c_custkey": "s.c_custkey",
                "c_mktsegment": "'SYNTH'",
                "c_acctbal": "s.new_bal",
            },
        )
        _mark(base)

    acts = deltalog.read_log_actions(spark, base)
    lf = deltalog.live_files(acts)
    first_add = (
        acts.filter(F.col("add").isNotNull())
        .groupBy(F.col("add.path").alias("path"))
        .agg(F.min("version").alias("v0"))
    )
    census = lf.join(first_add, "path").agg(
        F.count("*").cast("bigint").alias("n_live_files"),
        F.sum((F.col("v0") <= 3).cast("bigint")).alias(
            "n_live_originals"
        ),
        F.sum(
            F.col("deletionVector").isNotNull().cast("bigint")
        ).alias("n_files_with_dv"),
        F.coalesce(
            F.sum("deletionVector.cardinality"), F.lit(0)
        ).cast("bigint").alias("dv_cardinality"),
    )
    copied = (
        deltalog.table_history(spark, base)
        .filter(F.col("version") == 5)
        .select(
            F.element_at(
                F.col("operationMetrics"), "numTargetRowsCopied"
            ).cast("bigint").alias("merge_copied_rows"),
            F.element_at(
                F.col("operationMetrics"), "numTargetRowsInserted"
            ).cast("bigint").alias("merge_inserted_rows"),
        )
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    snap = deltalog.read_snapshot(spark, base)
    body = snap.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(
            F.when(F.col("c_custkey") % 6 == 0, cents)
        ).alias("updated_cents"),
        F.sum(
            F.when(
                (F.col("c_custkey") % 6 != 0)
                & (F.col("c_custkey") <= mx),
                cents,
            )
        ).alias("untouched_cents"),
        F.sum(
            F.when(F.col("c_custkey") > mx, F.lit(1)).cast("bigint")
        ).alias("n_inserted"),
    )
    return body.crossJoin(F.broadcast(census)).crossJoin(
        F.broadcast(copied)
    ).select(
        "n_rows",
        "updated_cents",
        "untouched_cents",
        "n_inserted",
        "n_live_originals",
        "n_live_files",
        "n_files_with_dv",
        "dv_cardinality",
        "merge_copied_rows",
        "merge_inserted_rows",
    )


QUERIES["cdc_delta_dv_merge"] = q_delta_dv_merge

ORACLE["cdc_delta_dv_merge"] = """
WITH c AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all,
         CAST(count(*) FILTER (c_custkey % 6 = 0) AS BIGINT) AS n_upd,
         CAST(sum(CASE WHEN c_custkey % 6 = 0
             THEN CAST(round((c_acctbal + 50.0) * 100) AS BIGINT) END)
           AS BIGINT) AS upd_cents,
         CAST(sum(CASE WHEN c_custkey % 6 <> 0
             THEN CAST(round(c_acctbal * 100) AS BIGINT) END)
           AS BIGINT) AS untouched
  FROM customer)
SELECT n_all + 100 AS n_rows,
  upd_cents AS updated_cents,
  untouched AS untouched_cents,
  CAST(100 AS BIGINT) AS n_inserted,
  CAST(4 AS BIGINT) AS n_live_originals,
  -- 4 originals + 1 merge output file (post-images + inserts)
  CAST(5 AS BIGINT) AS n_live_files,
  -- keys divisible by 6 land only in buckets 0 and 2 (6k mod 4)
  CAST(2 AS BIGINT) AS n_files_with_dv,
  n_upd AS dv_cardinality,
  CAST(0 AS BIGINT) AS merge_copied_rows,
  CAST(100 AS BIGINT) AS merge_inserted_rows
FROM c"""


def q_delta_dv_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION-VECTOR INVARIANT AUDIT (the DV extension of
    ``qa_delta_invariants`` — VERDICT r11 next-item 2's accounting
    leg): on a table mutated merge-on-read it verifies that every
    live add's deletion vector DECODES through the spec codec
    (RoaringBitmapArray payload, CRC-32, z85 naming — r13), every
    on-disk ``deletion_vector_*.bin`` is referenced by some add
    action (no orphans), each decoded vector's row count equals its
    descriptor's ``cardinality`` and stays inside the file's footer
    ``numRecords``, and the descriptors are spec-shaped (storage
    type ``u``/``i``, z85 path, offset) — next to the masked-read
    row count and checksum the DuckDB oracle recomputes
    relationally.

    Fixture: orders buckets ``o_orderkey % 4 in (0,1,2)`` as three
    files; DELETE every key divisible by 10 (lands in buckets 0 and
    2 — ``10k mod 4`` cycles {2,0}), UPDATE ``+1.00`` every key
    ``≡ 1 (mod 10)`` present (only ``≡ 1 (mod 20)``, bucket 1) —
    so ALL THREE originals stay live carrying DVs plus one
    post-image file."""
    import json as _json

    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_dv_invariants")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        m = F.col("o_orderkey") % 4
        deltalog.create_table(spark, orders.filter(m == 0), base)
        deltalog.append(spark, orders.filter(m == 1), base)
        deltalog.append(spark, orders.filter(m == 2), base)
        deltalog.enable_deletion_vectors(spark, base)            # v3
        deltalog.delete_where(spark, base, "o_orderkey % 10 = 0")  # v4
        deltalog.update_where(                                     # v5
            spark,
            base,
            "o_orderkey % 10 = 1",
            {"o_totalprice": "o_totalprice + 1.0"},
        )
        _mark(base)

    acts = deltalog.read_log_actions(spark, base).localCheckpoint(
        eager=True
    )
    lf = deltalog.live_files(acts)
    from cdc_pipe_line_spark import dvbitmap as _dvb

    # LIVE descriptor census: bounded (one row per DV-carrying add).
    # Each vector is DECODED through the spec codec — read_dv
    # validates CRC-32 / sizeInBytes / cardinality, so a vector that
    # decodes at all has a consistent descriptor; spec shape is
    # audited explicitly (storage type, z85 path, offset).
    live_rows = (
        lf.filter(F.col("deletionVector").isNotNull())
        .select(
            F.col("deletionVector").alias("dv"),
            F.get_json_object(F.col("stats"), "$.numRecords")
            .cast("bigint")
            .alias("n_rec"),
        )
        .collect()
    )
    n_files_with_dv = len(live_rows)
    dv_cardinality = 0
    all_readable = True
    decoded_match = True
    bounded = True
    spec_shaped = True
    for r in live_rows:
        d = {k: v for k, v in r.dv.asDict().items() if v is not None}
        dv_cardinality += int(d["cardinality"])
        st = d.get("storageType")
        if st == "u":
            enc = d["pathOrInlineDv"]
            if len(enc) < 20 or d.get("offset") is None:
                spec_shaped = False
        elif st != "i":
            spec_shaped = False
        try:
            idx = _dvb.read_dv(base, d)
        except ValueError:
            all_readable = False
            continue
        if idx.size != int(d["cardinality"]):
            decoded_match = False
        if r.n_rec is not None and idx.size and int(idx.max()) >= int(
            r.n_rec
        ):
            bounded = False
    # disk census: every on-disk vector file must be referenced by
    # some add action in the log (no orphans) — bounded driver walk
    referenced = set()
    for r in (
        acts.filter(F.col("add.deletionVector").isNotNull())
        .select(F.col("add.deletionVector").alias("dv"))
        .distinct()
        .collect()
    ):
        rel = _dvb.dv_file_relpath(
            {k: v for k, v in r.dv.asDict().items() if v is not None}
        )
        if rel:
            referenced.add(rel)
    on_disk = set()
    for root, _dirs, files in os.walk(base):
        if "_delta_log" in root:
            continue
        for f in files:
            if (
                f.startswith("deletion_vector_") and f.endswith(".bin")
            ) or (f.endswith(".parquet") and "_deletion_vectors" in root):
                on_disk.add(os.path.relpath(os.path.join(root, f), base))
    no_orphans = not (on_disk - referenced)
    dv_checks = F.broadcast(
        spark.createDataFrame(
            [
                (
                    n_files_with_dv,
                    dv_cardinality,
                    all_readable,
                    decoded_match,
                    bounded,
                    spec_shaped,
                )
            ],
            "n_files_with_dv bigint, dv_cardinality bigint, "
            "all_vectors_readable boolean, "
            "decoded_rows_match_cardinality boolean, "
            "cardinality_bounded_by_stats boolean, "
            "descriptors_spec_shaped boolean",
        )
    )
    orphans = F.broadcast(
        spark.createDataFrame(
            [(no_orphans,)], "no_orphan_dv_files boolean"
        )
    )
    first_add = (
        acts.filter(F.col("add").isNotNull())
        .groupBy(F.col("add.path").alias("path"))
        .agg(F.min("version").alias("v0"))
    )
    census = lf.join(first_add, "path").agg(
        F.count("*").cast("bigint").alias("n_live_files"),
        F.sum((F.col("v0") <= 2).cast("bigint")).alias(
            "n_live_originals"
        ),
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    body = deltalog.read_snapshot(spark, base).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(cents).cast("bigint").alias("price_cents"),
    )
    return (
        body.crossJoin(F.broadcast(census))
        .crossJoin(F.broadcast(dv_checks))
        .crossJoin(F.broadcast(orphans))
        .select(
            "n_rows",
            "price_cents",
            "n_live_originals",
            "n_live_files",
            "n_files_with_dv",
            "dv_cardinality",
            "all_vectors_readable",
            "decoded_rows_match_cardinality",
            "cardinality_bounded_by_stats",
            "descriptors_spec_shaped",
            "no_orphan_dv_files",
        )
    )


QUERIES["qa_delta_dv_invariants"] = q_delta_dv_invariants

ORACLE["qa_delta_dv_invariants"] = """
WITH t AS (
  SELECT * FROM orders WHERE o_orderkey % 4 < 3),
final AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 1
              THEN o_totalprice + 1.0 ELSE o_totalprice END AS price
  FROM t WHERE o_orderkey % 10 <> 0)
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
    AS price_cents,
  CAST(3 AS BIGINT) AS n_live_originals,
  -- three DV'd originals + the update's post-image file
  CAST(4 AS BIGINT) AS n_live_files,
  CAST(3 AS BIGINT) AS n_files_with_dv,
  (SELECT CAST(count(*) AS BIGINT) FROM t
    WHERE o_orderkey % 10 = 0 OR o_orderkey % 10 = 1)
    AS dv_cardinality,
  TRUE AS all_vectors_readable,
  TRUE AS decoded_rows_match_cardinality,
  TRUE AS cardinality_bounded_by_stats,
  TRUE AS descriptors_spec_shaped,
  TRUE AS no_orphan_dv_files
FROM final"""


def q_scd2_dv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's SCD2 maintenance flow — expire-current +
    insert-new-versions in one MERGE (``deltaprocessing.py:96-116``)
    — executed MERGE-ON-READ: same staging and statement as
    ``cdc_delta_merge_native``, but the table enables deletion
    vectors first, so the expiry UPDATE leg lands as DV rows +
    post-image appends and the merge re-emits ZERO unchanged rows
    (``numTargetRowsCopied`` is published and must be 0).  This is
    the head-to-head against the reference's own telemetry: its
    per-row SCD2 UPDATEs pay file-rewrite amplification 1.4-19.3 s
    PER ROW (BASELINE.md); here the whole batch's expiry cost is
    DV-rows + post-images, one atomic commit.

    Published: a digest of the final history (row/current counts,
    integer cent checksums split by currency, microsecond-exact
    valid_from binding) plus the DV census — cardinality equals the
    expired-current count the oracle recomputes relationally — so
    the hash binds both the SEMANTICS (incremental merge == one-shot
    window ground truth) and the merge-on-read EVIDENCE."""
    from cdc_pipe_line_spark import deltalog
    from cdc_pipe_line_spark.cdc.scd2 import scd2_from_upserts

    base, ready = _cache(sf_dir, "delta_scd2_dv")
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
        cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
        h1 = scd2_from_upserts(
            ev.filter(F.col("ts") < cut), "user_id", "ts", ["value"]
        )
        deltalog.create_table(spark, h1, base, n_files=2)
        deltalog.enable_deletion_vectors(spark, base)            # v1
        b2 = ev.filter(F.col("ts") >= cut).select(
            F.col("user_id").cast("string").alias("key_value"),
            "ts",
            "value",
        )
        chains = scd2_from_upserts(b2, "key_value", "ts", ["value"])
        scd2_cols = [
            "key_value", "value", "valid_from", "valid_to", "is_current",
        ]
        inserts = chains.select(
            *scd2_cols,
            F.lit(None).cast("string").alias("__mergeKey"),
            F.lit("insert").alias("__action"),
            F.lit(None).cast("timestamp").alias("__first_ts"),
        )
        expiries = (
            b2.groupBy("key_value")
            .agg(F.min("ts").alias("__first_ts"))
            .select(
                F.col("key_value"),
                F.lit(None).cast("double").alias("value"),
                F.lit(None).cast("timestamp").alias("valid_from"),
                F.lit(None).cast("timestamp").alias("valid_to"),
                F.lit(None).cast("boolean").alias("is_current"),
                F.col("key_value").alias("__mergeKey"),
                F.lit("expire").alias("__action"),
                "__first_ts",
            )
        )
        source = inserts.unionByName(expiries)
        table = deltalog.NativeDeltaTable.forPath(spark, base)
        (
            table.alias("t")
            .merge(
                source.alias("s"),
                "t.key_value = s.__mergeKey AND t.is_current",
            )
            .whenMatchedUpdate(
                condition="s.__action = 'expire'",
                set={
                    "valid_to": "s.__first_ts",
                    "is_current": "false",
                },
            )
            .whenNotMatchedInsert(
                condition="s.__action = 'insert'",
                values={c: f"s.{c}" for c in scd2_cols},
            )
            .execute()                                           # v2
        )
        _mark(base)

    lf = deltalog.live_files(deltalog.read_log_actions(spark, base))
    dv_census = lf.agg(
        (
            F.sum(F.col("deletionVector").isNotNull().cast("bigint"))
            >= 1
        ).alias("dv_present"),
        F.coalesce(
            F.sum("deletionVector.cardinality"), F.lit(0)
        ).cast("bigint").alias("dv_cardinality"),
    )
    copied = (
        deltalog.table_history(spark, base)
        .filter(F.col("version") == 2)
        .select(
            F.element_at(
                F.col("operationMetrics"), "numTargetRowsCopied"
            ).cast("bigint").alias("merge_copied_rows")
        )
    )
    snap = deltalog.read_snapshot(spark, base)
    cents = F.round(F.col("value") * 100).cast("bigint")
    body = snap.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("is_current").cast("bigint")).alias("n_current"),
        F.sum(F.when(F.col("is_current"), cents)).alias(
            "current_cents"
        ),
        F.sum(F.when(~F.col("is_current"), cents)).alias(
            "expired_cents"
        ),
        # microsecond binding mod 1e9: the raw epoch_us sum overflows
        # BIGINT at 2*10^4 rows (1.7e15 each)
        F.sum(F.unix_micros(F.col("valid_from")) % 1000000000).alias(
            "from_us_checksum"
        ),
    )
    return body.crossJoin(F.broadcast(dv_census)).crossJoin(
        F.broadcast(copied)
    ).select(
        "n_rows",
        "n_current",
        "current_cents",
        "expired_cents",
        "from_us_checksum",
        "dv_present",
        "dv_cardinality",
        "merge_copied_rows",
    )


QUERIES["cdc_scd2_dv_merge"] = q_scd2_dv_merge

ORACLE["cdc_scd2_dv_merge"] = """
WITH history AS (
  SELECT CAST(user_id AS VARCHAR) AS key_value, value, ts AS valid_from,
    lead(ts) OVER w AS valid_to,
    lead(ts) OVER w IS NULL AS is_current
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, value ASC)),
expired AS (
  -- keys current in batch 1 that batch 2 touches = the DV rows
  SELECT count(*) AS n FROM (
    SELECT DISTINCT user_id FROM events
    WHERE ts <  TIMESTAMP '2024-01-16 00:00:00'
    INTERSECT
    SELECT DISTINCT user_id FROM events
    WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'))
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN is_current THEN 1 ELSE 0 END) AS BIGINT)
    AS n_current,
  CAST(sum(CASE WHEN is_current
      THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
    AS current_cents,
  CAST(sum(CASE WHEN NOT is_current
      THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
    AS expired_cents,
  CAST(sum(epoch_us(valid_from) % 1000000000) AS BIGINT)
    AS from_us_checksum,
  TRUE AS dv_present,
  (SELECT CAST(n AS BIGINT) FROM expired) AS dv_cardinality,
  CAST(0 AS BIGINT) AS merge_copied_rows
FROM history"""


def q_delta_cdf_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE FEED over OVERWRITE + RESTORE of a DELETION-VECTOR
    table — the round-13 DV-aware file-level legs (ADVICE r12
    medium): commits WITHOUT ``cdc`` actions serve changes from the
    touched files, and when those files carry deletion vectors the
    legs must mask them — an OVERWRITE tombstoning a DV'd file
    reports only the rows live at the predecessor version as
    deletes, and a RESTORE re-adding the file reports only the
    surviving rows as inserts.  Without the masking every DV-deleted
    row is double-counted by downstream CDC consumers (its deletion
    was already surfaced by the DV-DML commit's own cdc file).

    Fixture: orders as one file (v0) → enable DVs (v1) → DELETE
    ``o_orderkey % 10 = 0`` merge-on-read (v2) → OVERWRITE with one
    sentinel row (v3) → RESTORE to v2 (v4).  Published: per
    (commit_version, change_type) row counts + key and cents
    checksums over the feed ``(2, 4]`` — all four legs closed-form
    for the oracle.  Scale shape: the feed plans one file scan per
    touched file with the mask as a broadcast anti-join keyed by
    decoded vector rows; cost tracks mutated files, never table
    size."""
    from cdc_pipe_line_spark import deltalog

    base, ready = _cache(sf_dir, "delta_cdf_restore")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    if not ready:
        import shutil as _shutil

        _shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        deltalog.create_table(spark, orders, base, n_files=1)      # v0
        deltalog.enable_deletion_vectors(spark, base)              # v1
        deltalog.delete_where(spark, base, "o_orderkey % 10 = 0")  # v2
        repl = spark.range(1).select(
            F.lit(900000001)
            .cast(orders.schema["o_orderkey"].dataType)
            .alias("o_orderkey"),
            F.lit(10.0)
            .cast(orders.schema["o_totalprice"].dataType)
            .alias("o_totalprice"),
        )
        deltalog.overwrite(spark, repl, base)                      # v3
        deltalog.restore(spark, base, 2)                           # v4
        _mark(base)
    ch = deltalog.read_changes(
        spark, base, starting_version=2, ending_version=4
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        ch.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            F.sum(cents).cast("bigint").alias("cents_sum"),
        )
        .orderBy("commit_version", "change_type")
    )


QUERIES["cdc_delta_cdf_restore"] = q_delta_cdf_restore

ORACLE["cdc_delta_cdf_restore"] = """
WITH kept AS (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_orderkey % 10 <> 0),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents_sum
  FROM kept)
SELECT * FROM (
  SELECT CAST(3 AS BIGINT) AS commit_version, 'delete' AS change_type,
         n, key_sum, cents_sum FROM agg
  UNION ALL
  SELECT CAST(3 AS BIGINT), 'insert', CAST(1 AS BIGINT),
         CAST(900000001 AS BIGINT), CAST(1000 AS BIGINT)
  UNION ALL
  SELECT CAST(4 AS BIGINT), 'delete', CAST(1 AS BIGINT),
         CAST(900000001 AS BIGINT), CAST(1000 AS BIGINT)
  UNION ALL
  SELECT CAST(4 AS BIGINT), 'insert', n, key_sum, cents_sum FROM agg
) ORDER BY commit_version, change_type"""
