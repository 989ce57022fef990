"""Driver-visible source/sink queries — format roundtrips with oracles.

Each query writes a slice of a test table through one of the engine's
sinks, reads it back through the matching reader, and aggregates. The
oracle aggregates the original table directly — so a hash match proves
write+read fidelity (values, types, nulls) for that format, not just
that the code ran. Doubles go through DECIMAL so the check is exact.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hcdc_spark.catalog import load_tables
from hcdc_spark.registry import Registry
from hcdc_spark.session import run_concurrently

REG = Registry()

_AGG_ORACLE = """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS total_price,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    GROUP BY o_orderstatus
"""


def _agg(df: DataFrame) -> DataFrame:
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    from hcdc_spark.sources import readers, writers

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    work = tempfile.mkdtemp(prefix=f"hcdc_rt_{fmt}_")
    try:
        path = os.path.join(work, f"orders_{fmt}")
        if fmt == "csv":
            # CSV is text: timestamps serialize ISO; read back with the
            # explicit schema (production contract — see read_csv doc).
            writers.write_table(orders, path, fmt="csv", header=True)
            back = readers.read_csv(spark, path, schema=orders.schema)
        elif fmt == "json":
            writers.write_table(orders, path, fmt="json")
            back = readers.read_json(spark, path, schema=orders.schema)
        elif fmt == "avro":
            # Connector-first, spec-codec fallback (avro_codec.py) —
            # the reference's change-set output format (K6/T17,
            # AvroConverter.java:47-57). Schema comes from the OCF
            # header (self-describing), not from the caller.
            writers.write_table(orders, path, fmt="avro")
            back = readers.read_avro(spark, path)
        else:
            writers.write_table(orders, path, fmt=fmt)
            back = (
                readers.read_orc(spark, path)
                if fmt == "orc"
                else readers.read_parquet(spark, path)
            )
        out = _agg(back)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


for _fmt in ("csv", "json", "orc", "avro"):
    def _mk(fmt):
        def q(spark: SparkSession, sf_dir: str) -> DataFrame:
            return _roundtrip(spark, sf_dir, fmt)
        q.__name__ = f"q39_{fmt}_roundtrip"
        return q

    REG.add(
        f"q39_{_fmt}_roundtrip",
        _AGG_ORACLE,
        doc=f"{_fmt.upper()} sink+source roundtrip of the orders table; "
        "the oracle aggregates the original parquet, so a hash match "
        "proves full write/read fidelity for the format "
        "(SURVEY §2B scans/sinks rows; reference converters "
        "CDCDataConverter.java:28).",
        tags=("sources", "roundtrip"),
    )(_mk(_fmt))


@REG.add(
    "q40_partitioned_write_prune",
    """
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    doc="Partitioned write (partitionBy o_orderstatus) then a read with "
    "a partition filter — the scan touches only the o_orderstatus=F "
    "directory (partition pruning; K3/K5 staging-layout contract).",
    tags=("sources", "partitioning"),
)
def q40_partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hcdc_spark.sources import writers

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    work = tempfile.mkdtemp(prefix="hcdc_part_")
    try:
        path = os.path.join(work, "orders_part")
        writers.write_table(
            orders, path, partition_by=["o_orderstatus"]
        )
        back = spark.read.parquet(path).where(F.col("o_orderstatus") == "F")
        out = back.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@REG.add(
    "q41_binary_listing",
    r"""
    SELECT regexp_extract(filename, '([^/]+)\.parquet$', 1) AS tbl,
           CAST(octet_length(content) AS BIGINT) AS length
    FROM read_blob('/root/testdata/sf0.01/*.parquet')
    """,
    doc="binaryFile metadata listing (S9 recursive-listing analogue): "
    "table name + byte length, content never read (lazy column). The "
    "oracle independently re-lists the same files with DuckDB's "
    "read_blob and measures octet_length, so a hash match proves the "
    "listing returns exact sizes. Both sides pin the sf0.01 dir (the "
    "q61 convention — read_blob has no view indirection and the "
    "driver's oracle contract runs at sf0.01).",
    tags=("sources", "binary"),
)
def q41_binary_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hcdc_spark.sources.readers import read_binary

    return (
        read_binary(spark, "/root/testdata/sf0.01", pattern="*.parquet")
        .select(
            F.regexp_extract("path", r"([^/]+)\.parquet$", 1).alias("tbl"),
            "length",
        )
        .orderBy("tbl")
    )


@REG.add(
    "q61_block_range_read",
    """
    SELECT regexp_extract(filename, '[^/]+$') AS fname,
           substring(hex(content), 1, 8) AS head_hex,
           substring(hex(content), octet_length(content) * 2 - 7, 8)
             AS tail_hex,
           octet_length(content) AS nbytes
    FROM read_blob('/root/testdata/sf0.01/*.parquet')
    """,
    doc="S7 block byte-range read: seek-read the first and last 4 bytes "
    "of every parquet file through readers.read_block_ranges (the "
    "HDFSBlockReader analogue — tasks open files and read only the "
    "requested spans, never whole contents). The oracle re-reads the "
    "same spans with DuckDB's read_blob, so a hash match proves exact "
    "offset arithmetic and byte fidelity (every parquet file must "
    "bracket with PAR1 = 50415231). Both sides pin the sf0.01 dir: "
    "the oracle must name raw files literally (read_blob has no view "
    "indirection), and the driver's oracle contract runs at sf0.01 — "
    "so the Spark side reads the same fixed dir no matter which "
    "sf_dir the session passes (the spans are 4 bytes; scale of the "
    "input dir is irrelevant to what this query proves).",
    tags=("sources", "binary", "cdc"),
)
def q61_block_range_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hcdc_spark.sources.readers import read_binary, read_block_ranges

    files = read_binary(
        spark, "/root/testdata/sf0.01", pattern="*.parquet"
    ).select("path", "length")
    ranges = files.select(
        "path", F.lit(0).cast("long").alias("offset"),
        F.lit(4).cast("long").alias("length"),
    ).unionByName(
        files.select(
            "path", (F.col("length") - 4).alias("offset"),
            F.lit(4).cast("long").alias("length"),
        )
    )
    got = read_block_ranges(spark, ranges)
    return (
        got.groupBy("path")
        .agg(
            F.max(
                F.when(F.col("offset") == 0, F.hex("content"))
            ).alias("head_hex"),
            F.max(
                F.when(F.col("offset") > 0, F.hex("content"))
            ).alias("tail_hex"),
            F.max(F.col("offset") + F.col("length")).alias("nbytes"),
        )
        .select(
            F.regexp_extract("path", r"[^/]+$", 0).alias("fname"),
            "head_hex", "tail_hex", "nbytes",
        )
    )


# ------------------------------------------------- bucketed co-located join

def bucketed_join_frame(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
):
    """Write orders+lineitem as bucketed tables and return the lazy
    shuffle-free join aggregate (plus the table names for cleanup).

    Bucketing is THE staging-layout lever at 100 TB: both fact tables
    are written pre-hashed into the same number of buckets on the join
    key (``bucketBy`` + ``sortBy``), so the subsequent equi-join reads
    co-located, pre-sorted buckets — the SortMergeJoin runs with ZERO
    exchange under it (gated in tests/test_plans.py). The reference's
    per-entity staging layout (K3/K5) is the same idea one level up:
    lay data out once so downstream consumers never reshuffle it.
    """
    from hcdc_spark.catalog import load_tables

    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    work = tempfile.mkdtemp(prefix="hcdc_bucketed_")
    names = ("hcdc_b_orders", "hcdc_b_lineitem")

    def _write(name: str, df: DataFrame, key: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", os.path.join(work, name))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )

    # The two bucketed writes are independent jobs on distinct tables;
    # submitting them from two driver threads lets the second job's
    # tasks back-fill executors freed by the first job's straggler tail
    # (guide §2.6) instead of serializing two full job latencies. The
    # Spark scheduler is made for concurrent jobs; catalog ops touch
    # different table names. NOTE: concurrent CREATE TABLE assumes the
    # session's in-memory catalog (thread-safe); a Derby-backed Hive
    # metastore serializes — and occasionally fails — concurrent DDL,
    # so serialize these writes if the session ever gains
    # catalogImplementation=hive.
    run_concurrently(spark, [
        partial(_write, names[0],
                t["orders"].select("o_orderkey", "o_orderpriority"),
                "o_orderkey"),
        partial(_write, names[1],
                t["lineitem"].select("l_orderkey", "l_quantity"),
                "l_orderkey"),
    ])
    joined = (
        spark.table(names[0])
        .join(
            spark.table(names[1]),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_qty"),
        )
    )
    return joined, names, work


@REG.add(
    "q74_bucketed_join",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    doc="Bucketed co-located join: orders and lineitem written with "
    "bucketBy(8, orderkey) + sortBy, then equi-joined — the join stage "
    "reads matching buckets directly, no shuffle on either fact side "
    "(the q70-style result-invariance oracle: the plain join SQL must "
    "produce the identical aggregate, proving the bucketed layout "
    "changes the PLAN, never the ANSWER). Broadcast is disabled in "
    "scope so the bucketed SortMergeJoin path actually executes at "
    "test scale the way it would at 100 TB.",
    tags=("sources", "partitioning", "join"),
)
def q74_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    try:
        prev = spark.conf.get(bcast_key)
    except Exception:
        prev = None
    spark.conf.set(bcast_key, "-1")
    # Everything after the conf change sits under the finally: a failed
    # table write must still restore broadcast joins for the shared
    # driver session and drop whatever tables/dirs it managed to create.
    work = None
    try:
        joined, names, work = bucketed_join_frame(spark, sf_dir)
        return spark.createDataFrame(joined.collect(), joined.schema)
    finally:
        for name in ("hcdc_b_orders", "hcdc_b_lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        if work is not None:
            shutil.rmtree(work, ignore_errors=True)
        if prev is not None:
            spark.conf.set(bcast_key, prev)
        else:
            spark.conf.unset(bcast_key)
