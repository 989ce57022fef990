"""Materializer: physically replicate changed entity files to staging
(SURVEY §2A T14-T19).

The reference's FileDeltaProcessor reads the changed byte ranges of each
closed file out of HDFS block by block, stitches them into a change-set
file, converts Parquet→Avro, uploads to a staging FS (local or S3), and
emits a DFSChangeData pointer message
(namenode-agent/.../pipeline/FileTransactionProcessor.java:449-632,
common/CDCDataConverter.java:54-72, common/ChangeSetHelper.java:18-56).

Spark operates at *file* granularity, which turns the whole block
machinery into three declarative steps per (domain, entity, format)
group:

1. ``spark.read.<fmt>(changed_paths)`` — one distributed read per
   group, not per file; the vectorized readers replace the 8 KB
   byte-copy loop (ChangeSetHelper.java:28-29).
2. ``.write.<fmt>(staging/<domain>/<entity>/batch=<tag>)`` — the
   staging-FS writers (LocalFileSystem/S3FileSystem,
   core/.../io/impl/*) collapse into a path scheme; "s3a://" staging
   works unchanged.
3. append pointer rows to the ``change_data`` table — the analogue of
   the DFSChangeData Kafka message (data_block.proto:130-141).

The *current view* of an entity is the staging data semi-joined with
the latest pointer per source file — re-materializing a file supersedes
its old batch without rewriting it (idempotent under streaming replay,
and no read-modify-write of a huge table per micro-batch).

Schema extraction (T19/T20): per-entity schemas are inferred by the
same grouped read and versioned in a registry table — the analogue of
the per-inode ``.avsc`` files (CDCDataConverter.java:74-108), but
versioned per entity so drift is visible (mergeSchema handles the read
side).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hcdc_spark.cdc import logs
from hcdc_spark.cdc.snapshot import block_offsets_sql, file_type_of
from hcdc_spark.functions.localframe import local_df
from hcdc_spark.session import run_concurrently

#: file_type → Spark batch reader format (EFileType,
#: core/.../model/EFileType.java:5-11; ORC is declared there without a
#: converter — Spark has one built in, so it is first-class here).
READ_FORMATS = {
    "CSV": "csv",
    "JSON": "json",
    "PARQUET": "parquet",
    "ORC": "orc",
    "AVRO": "avro",  # connector when present, else sources/avro_codec
}

#: Magic prefixes for content-based detection (T18 — the reference
#: checks PAR1 / Obj¹ on the first block, ParquetConverter.java:102-109,
#: AvroConverter.java:66-73).
_MAGIC = [
    ("PAR1", "PARQUET"),
    ("Obj\x01", "AVRO"),
    ("ORC", "ORC"),
]


#: Probe result per application id (a new session re-probes).
_AVRO_AVAILABLE: dict = {}


def avro_available(spark: SparkSession) -> bool:
    """spark-avro is a separate jar in OSS Spark; probe once per
    application (the probe is a failing read analysis)."""
    app = spark.sparkContext.applicationId
    if app not in _AVRO_AVAILABLE:
        try:
            spark.read.format("avro").schema("x int").load(
                "/nonexistent_hcdc_avro_probe"
            ).schema
            ok = True
        except Exception as e:  # AnalysisException: FAILED_FIND_AVRO_SOURCE
            msg = str(e)
            ok = "FIND_AVRO" not in msg and "path does not exist" in (
                msg.lower()
            )
        _AVRO_AVAILABLE[app] = ok
    return _AVRO_AVAILABLE[app]


def detect_format(spark: SparkSession, path_glob: str) -> DataFrame:
    """(path, detected file_type) via magic-byte prefix; the extension
    rule (``snapshot.file_type_of``) is the fallback, UNKNOWN otherwise.

    The listing is a metadata-only binaryFile projection; the magic
    bytes come from a seek-read of each file's FIRST 8 BYTES through
    ``read_block_ranges`` — referencing binaryFile's ``content`` column
    materializes whole files (substring does not push down), which at
    TB-directory scale would read every byte just to inspect four
    (review r4; same S7 machinery as q61).
    """
    from hcdc_spark.sources.readers import read_block_ranges

    listing = (
        spark.read.format("binaryFile").load(path_glob)
        .select("path", "length")
    )
    ranges = listing.select(
        "path",
        F.lit(0).cast("long").alias("offset"),
        F.least(F.col("length"), F.lit(8)).cast("long").alias("length"),
    )
    bin_df = read_block_ranges(spark, ranges)
    head = F.substring(F.col("content").cast("string"), 1, 4)
    by_magic = F.lit(None).cast("string")
    for magic, ftype in reversed(_MAGIC):
        by_magic = F.when(
            head.startswith(magic), F.lit(ftype)
        ).otherwise(by_magic)
    return bin_df.select(
        "path", F.coalesce(by_magic, file_type_of("path")).alias("file_type")
    )


@dataclass(frozen=True)
class MaterializeResult:
    pointers: DataFrame  # change_data rows written this call
    n_groups: int
    #: ERROR_SCHEMA tuples, one per Finalized, entity-matched file with
    #: no reader for its file_type (the caller's dead letter)
    skipped: tuple = ()


_POINTER_SCHEMA = (
    "domain string, entity string, src_path string, inode_id long,"
    " last_tx_id long, file_type string, staging_path string,"
    " batch_tag string"
)


def _reader(spark: SparkSession, fmt: str):
    r = spark.read.format(READ_FORMATS[fmt])
    if fmt == "CSV":
        r = r.option("header", "true").option("inferSchema", "true")
    if fmt == "PARQUET":
        r = r.option("mergeSchema", "true")
    return r


def _load_group(spark: SparkSession, fmt: str, paths: list[str]) -> DataFrame:
    """One group's source files as rows + ``_src_path`` provenance.
    AVRO without the spark-avro jar routes through the spec codec
    (sources/avro_codec.py), which carries the path itself."""
    if fmt == "AVRO" and not avro_available(spark):
        from hcdc_spark.sources import avro_codec

        return avro_codec.read_avro(spark, paths, with_path=True)
    return _reader(spark, fmt).load(paths).withColumn(
        "_src_path", F.col("_metadata.file_path")
    )


def staging_root(
    staging_dir: str, domain: str, bucket_map: dict[str, str] | None
) -> str:
    """K4 domain→staging-root resolver: the reference's S3FileSystem
    routes each domain to its own bucket with a default fallback
    (S3FileSystem.java:58-63's findBucket). Values are any Hadoop-FS
    URI — ``s3a://bucket/prefix`` on a cluster, local paths in tests —
    so one code path covers the Local/S3 writer split (io/impl/*)."""
    if bucket_map and domain in bucket_map:
        return bucket_map[domain]
    return staging_dir


def materialize(
    spark: SparkSession,
    file_state: DataFrame,
    staging_dir: str,
    batch_tag: str,
    target_format: str = "parquet",
    registry_dir: str | None = None,
    bucket_map: dict[str, str] | None = None,
) -> MaterializeResult:
    """Replicate every Finalized, entity-matched file to staging. A
    file whose ``file_type`` has no reader (READ_FORMATS; UNKNOWN
    included) is not staged: it comes back on ``skipped``.

    One distributed read+write per (domain, entity, file_type) group.
    The group list (not the data) is collected to the driver — it is
    file-metadata scale and bounded by the micro-batch, the same
    cardinality the reference handles one Kafka message at a time.

    ``bucket_map`` routes a domain to its own staging root (bucket);
    unmapped domains use ``staging_dir`` — but pointer rows always land
    under ``staging_dir``/change_data, one control table across buckets.
    """
    todo = (
        file_state.where(
            (F.col("state") == "Finalized") & F.col("domain").isNotNull()
        )
        .select("domain", "entity", "path", "inode_id", "last_tx_id",
                "file_type")
        .collect()
    )
    groups: dict[tuple[str, str, str], list] = {}
    skipped = []
    for r in todo:
        if r["file_type"] not in READ_FORMATS:
            skipped.append((
                r["last_tx_id"], r["inode_id"], r["path"], None,
                f"materialize: no reader for file_type {r['file_type']}",
            ))
            continue
        groups.setdefault(
            (r["domain"], r["entity"], r["file_type"]), []
        ).append(r)

    def one_group(item):
        (domain, entity, ftype), rows = item
        paths = [r["path"] for r in rows]
        # src_fmt in the path: groups of one entity must not clobber
        # each other inside the same batch directory.
        out = os.path.join(
            staging_root(staging_dir, domain, bucket_map), "data",
            domain, entity, f"batch={batch_tag}", f"src_fmt={ftype}",
        )
        df = _load_group(spark, ftype, paths)
        df.write.mode("overwrite").format(target_format).save(out)
        ptrs = [
            (domain, entity, r["path"], r["inode_id"], r["last_tx_id"],
             ftype, out, batch_tag)
            for r in rows
        ]
        return ptrs, (domain, entity, df.drop("_src_path").schema)

    # Group jobs submit from a thread pool — Spark job submission is
    # thread-safe, and the scheduler interleaves the groups' tasks, so a
    # batch touching thousands of entities isn't serialized through one
    # driver loop. Results come back in deterministic (sorted) order.
    items = sorted(groups.items())
    if len(items) > 1:
        results = run_concurrently(
            spark, [partial(one_group, i) for i in items], min(16, len(items))
        )
    else:
        results = [one_group(i) for i in items]

    pointers: list[tuple] = []
    for ptrs, (domain, entity, schema) in results:
        pointers.extend(ptrs)
        # registry writes stay serial (in sorted group order, same as the
        # old loop): several groups appending the same schemas table from
        # the pool would race.
        if registry_dir is not None:
            register_schema(spark, registry_dir, domain, entity, schema)

    # JVM-local frame (LocalTableScan), not createDataFrame(list):
    # this append fires per materialize batch, and a pickled-rows
    # frame costs a Python-worker stage per write (localframe)
    pdf = local_df(spark, pointers, _POINTER_SCHEMA)
    if pointers:
        pdf.coalesce(1).write.mode("append").parquet(
            logs.POINTERS.at(staging_dir)
        )
    return MaterializeResult(
        pointers=pdf, n_groups=len(groups), skipped=tuple(skipped)
    )


def change_data(spark: SparkSession, staging_dir: str) -> DataFrame:
    """The pointer table (DFSChangeData analogue), after finishing an
    interrupted gc_change_data swap."""
    return logs.read(spark, logs.POINTERS.at(staging_dir))


#: Replica block struct with cumulative byte offsets — the
#: DFSReplicaState/DFSBlockReplicaState analogue (core/.../model/
#: DFSBlockReplicaState.java fields; offsets as in DFSBlockState's
#: chain arithmetic). Built with transform/aggregate over the state
#: block chain — JVM-side, no UDF, no shuffle.
_REPLICA_BLOCKS = f"""
    transform(coalesce(blocks, array()), (b, i) -> struct(
      b.block_id AS block_id,
      b.prev_block_id AS prev_block_id,
      b.data_size AS data_size,
      b.block_size AS block_size,
      b.last_tx_id AS last_tx_id,
      b.generation_stamp AS generation_stamp,
      b.state AS state,
      {block_offsets_sql("data_size")}
    ))
"""


def write_replica_state(
    spark: SparkSession,
    file_state: DataFrame,
    staging_dir: str,
    batch_tag: str,
) -> None:
    """T13 replica-state bookkeeping: one distributed append (no
    driver collect) of the per-file block ledger — every tracked file's
    chain with cumulative byte offsets, keyed by (inode, batch). The
    current view is latest-batch-per-inode (same append-log +
    latest-view pattern as file_state itself); feeding a row's
    ``replicas`` through ``sources.readers.read_block_ranges`` re-reads
    exactly the bytes a block-granular copy would move."""
    (
        file_state.where(F.col("state") != "Unknown")
        .select(
            "inode_id", "path", "domain", "entity", "state",
            "last_tx_id", "num_blocks", "data_size",
            F.expr(_REPLICA_BLOCKS).alias("replicas"),
            F.lit(batch_tag).alias("batch_tag"),
        )
        .write.mode("append")
        .parquet(logs.REPLICAS.at(staging_dir))
    )


def replica_state(spark: SparkSession, staging_dir: str) -> DataFrame:
    """Current replica ledger: latest batch row per inode."""
    return logs.latest(
        logs.REPLICAS, logs.read(spark, logs.REPLICAS.at(staging_dir))
    )


def block_ranges(file_state: DataFrame) -> DataFrame:
    """Explode live file states into per-block (path, offset, length)
    rows — the input contract of ``readers.read_block_ranges`` (S7)."""
    return (
        file_state.where(
            F.col("state").isin("Finalized", "Updating", "New")
        )
        .select(
            "inode_id", "path",
            F.posexplode(F.expr(_REPLICA_BLOCKS)).alias("pos", "b"),
        )
        .select(
            "inode_id", "path",
            F.col("b.block_id").alias("block_id"),
            F.col("b.start_offset").alias("offset"),
            F.col("b.data_size").alias("length"),
        )
    )


def read_entity(
    spark: SparkSession,
    staging_dir: str,
    domain: str,
    entity: str,
    bucket_map: dict[str, str] | None = None,
) -> DataFrame:
    """Current view of one entity: staging rows from each source file's
    *latest* materialization. The pointer table is file-count scale →
    the semi-join broadcasts; stale batches prune at the scan via the
    `_src_path` filter, never get re-read wholesale."""
    ptr = change_data(spark, staging_dir).where(
        (F.col("domain") == domain) & (F.col("entity") == entity)
    )
    latest = logs.latest(logs.POINTERS, ptr).select(
        F.col("src_path").alias("_ptr_src"),
        F.col("batch_tag").alias("_ptr_batch"),
    )
    data = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(
            staging_root(staging_dir, domain, bucket_map),
            "data", domain, entity,
        )
    )
    # _metadata.file_path stores a URI (file:/…, s3a://…); the state
    # table stores plain paths — normalize both sides. A logical source
    # "file" may be a directory (multi-part parquet), in which case
    # _src_path points at a part file under it → prefix match. The
    # batch match is on the discovered `batch` partition column, so
    # stale batches prune at the scan.
    strip = lambda c: F.regexp_replace(c, r"^[a-zA-Z0-9]+:/+", "/")  # noqa: E731
    d_src, p_src = strip(data["_src_path"]), strip(latest["_ptr_src"])
    return data.join(
        F.broadcast(latest),
        ((d_src == p_src) | d_src.startswith(F.concat(p_src, F.lit("/"))))
        & (data["batch"] == latest["_ptr_batch"]),
        "left_semi",
    )


# ----------------------------------------------------- schema registry


def register_schema(
    spark: SparkSession, registry_dir: str, domain: str, entity: str, schema
) -> None:
    """Versioned per-entity schema registry (T19; versioning per entity
    instead of the reference's one .avsc per inode). Appends a new
    version row only when the schema JSON changed; only a registry with
    no version yet is a first version. Per materialized group: a top-1
    read (no shuffle), no recovery (nothing swaps this log)."""
    sj = schema.json()
    path = logs.SCHEMAS.at(registry_dir)
    log = logs.read(spark, path, missing_ok=True, recover_first=False)
    prev = [] if log is None else (
        log.where((F.col("domain") == domain) & (F.col("entity") == entity))
        .orderBy(*logs.SCHEMAS.winner_first())
        .limit(1)
        .collect()
    )
    if prev and prev[0]["schema_json"] == sj:
        return
    prev_version = prev[0]["version"] if prev else 0
    local_df(
        spark, [(domain, entity, prev_version + 1, sj)],
        "domain string, entity string, version int, schema_json string",
    ).coalesce(1).write.mode("append").parquet(path)


def latest_schemas(spark: SparkSession, registry_dir: str) -> DataFrame:
    return logs.latest(
        logs.SCHEMAS, logs.read(spark, logs.SCHEMAS.at(registry_dir))
    )


def entity_schema(spark: SparkSession, registry_dir: str, domain: str,
                  entity: str):
    from pyspark.sql import types as T

    rows = (
        latest_schemas(spark, registry_dir)
        .where((F.col("domain") == domain) & (F.col("entity") == entity))
        .collect()
    )
    return T.StructType.fromJson(__import__("json").loads(rows[0]["schema_json"])) if rows else None
