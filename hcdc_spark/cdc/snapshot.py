"""Snapshot & backfill (SURVEY §2A S1/T22/T23).

Three batch jobs closing the CDC loop:

- ``bootstrap_from_listing`` — the fsimage bootstrap (S1): the
  reference dumps the NameNode fsimage to XML, parses inodes, and
  seeds file/block state (NameNodeReplicator.java:98-190). Spark-first:
  a ``binaryFile`` listing *is* the inode table; each file becomes a
  synthetic CLOSE event (mode=Snapshot) that the ordinary reconciler
  folds — no separate bootstrap code path through the state machine.
- ``generate_snapshot`` — T22: current file_state → synthetic CLOSE
  events carrying all blocks (HDFSSnapshotProcessor.generateSnapshot,
  namenode-agent/.../namenode/HDFSSnapshotProcessor.java:288-337). Used
  when a new domain filter registers and already-existing files must
  flow downstream (FilterAddCallback → snapshot, :396-430).
- ``backlog_events`` — T23: files whose live tx advanced past the
  snapshot tx get a Backlog CLOSE covering ``(snapshot_tx, last_tx]``
  with the T16-compressed per-block intervals
  (HDFSSnapshotProcessor.snapshotDone, :234-286;
  SourceChangeDeltaProcessor.buildBacklogTransactions, :178-211).

All three are set-based single-pass DataFrame transforms: at 10^9 files
the bootstrap is one distributed listing + projection, and snapshot/
backlog generation is a scan of the state table — no driver loops.

The event-shape rules every synthetic-event source shares live here,
once:

- ``as_events`` — the one synthetic-event builder: a source names only
  the columns it sets; every other CHANGE_EVENT_SCHEMA field is a
  typed null, in schema order. The three jobs above, the fsimage
  bootstrap (``cdc/fsimage.py``) and the reconciler's directory-cascade
  and overwrite DELETE/RENAME synthesis (``cdc/reconcile.py``) build
  their events through it.
- ``file_type_of`` — the one extension → ``file_type`` rule (both
  bootstraps, and ``materialize.detect_format``'s fallback when no
  magic prefix matches).
- ``block_offsets_sql`` — the one cumulative block-offset fragment
  (the fsimage block list and ``materialize``'s replica ledger).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hcdc_spark.cdc.model import CHANGE_EVENT_SCHEMA

#: File extension (any case) → file_type (EFileType,
#: core/.../model/EFileType.java:5-11); anything else is UNKNOWN.
_EXT_TYPES = {
    "csv": "CSV",
    "json": "JSON",
    "jsonl": "JSON",
    "ndjson": "JSON",
    "parquet": "PARQUET",
    "avro": "AVRO",
    "orc": "ORC",
}


def file_type_of(path: Column | str) -> Column:
    """The file_type a path's extension names, UNKNOWN otherwise."""
    ext = F.lower(F.regexp_extract(path, r"\.(\w+)$", 1))
    out = F.lit("UNKNOWN")
    for e, ftype in _EXT_TYPES.items():
        out = F.when(ext == e, ftype).otherwise(out)
    return out


def as_events(df: DataFrame, **cols: Column | str) -> DataFrame:
    """Project ``df`` onto CHANGE_EVENT_SCHEMA: each keyword names an
    event field and the column (or column name) that sets it; every
    field not named is a typed null. Fields come out in schema order,
    cast to their schema types."""
    unknown = set(cols) - set(CHANGE_EVENT_SCHEMA.fieldNames())
    if unknown:
        raise ValueError(f"as_events: not event fields: {sorted(unknown)}")
    setters = {
        k: F.col(c) if isinstance(c, str) else c for k, c in cols.items()
    }
    return df.select(*[
        setters.get(f.name, F.lit(None)).cast(f.dataType).alias(f.name)
        for f in CHANGE_EVENT_SCHEMA.fields
    ])


def block_offsets_sql(size: str) -> str:
    """SQL struct fields ``start_offset, end_offset`` for block ``b`` at
    index ``i`` of a ``transform(coalesce(blocks, array()), (b, i) ->
    struct(...))`` over a block chain whose byte count is field
    ``size``: block i starts at the byte sum of blocks < i."""
    start = (
        "aggregate(slice(coalesce(blocks, array()), 1, i), 0L,"
        f" (acc, x) -> acc + x.{size})"
    )
    return f"{start} AS start_offset, {start} + b.{size} - 1 AS end_offset"


def contiguous_rank(df: DataFrame, order_col: str) -> DataFrame:
    """Append ``_rank``: a globally contiguous 1-based rank by
    ``order_col`` — computed DISTRIBUTED, not via the single-task
    ``Window.orderBy`` global window (which funnels every row through
    one partition; at the advertised 10^9-file bootstrap scale that
    serializes or OOMs — review r4; detect_tx_gaps documents the same
    trap). Shape: range-partition by the key, rank within partitions,
    add per-partition offsets (a partition-count-sized driver list).
    The range partitioning is pinned with an eager localCheckpoint so
    the offset pass and the final pass see identical partitions."""
    from pyspark.sql import Window

    n = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    parted = (
        df.repartitionByRange(n, F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("_pid").orderBy(order_col)
    local = parted.withColumn("_lrank", F.row_number().over(w))
    counts = {
        r["_pid"]: r["cnt"]
        for r in parted.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    from hcdc_spark.functions.localframe import local_df

    off_df = local_df(
        df.sparkSession, offsets or [(0, 0)], "_pid int, _off long"
    )
    return (
        local.join(F.broadcast(off_df), "_pid", "left")
        .withColumn(
            "_rank", F.col("_lrank") + F.coalesce(F.col("_off"), F.lit(0))
        )
        .drop("_pid", "_lrank", "_off")
    )


def bootstrap_from_listing(
    spark: SparkSession,
    path_glob: str,
    namespace: str = "ns1",
    base_tx: int = 0,
    block_size: int = 128 << 20,
) -> DataFrame:
    """Distributed listing → synthetic Snapshot CLOSE events.

    Inode ids are synthesized as a 63-bit hash of the path (stable,
    collision-checked by the reconciler's duplicate-block guard);
    tx ids are ``base_tx`` + the file's rank so the log is contiguous.
    One block per file models the data extent (offsets [0, len-1]) —
    at file granularity that is all downstream consumers need.
    """
    listing = (
        spark.read.format("binaryFile")
        # listing only: never read file contents into the plan
        .option("pathGlobFilter", "*")
        .load(path_glob)
        .select("path", "length", "modificationTime")
    )
    ranked = contiguous_rank(listing, "path")
    mtime = F.unix_millis("modificationTime")
    return as_events(
        ranked,
        tx_id=F.lit(base_tx) + F.col("_rank"),
        op=F.lit("CLOSE"),
        ts=mtime,
        namespace=F.lit(namespace),
        path=F.regexp_replace("path", r"^[a-zA-Z0-9]+:/+", "/"),
        inode_id=F.abs(F.xxhash64("path")) % F.lit(1 << 62),
        length="length",
        block_size=F.lit(block_size),
        modified_time=mtime,
        accessed_time=mtime,
        blocks=F.array(
            F.struct(
                (F.abs(F.xxhash64("path", F.lit(1))) % F.lit(1 << 62)).alias("block_id"),
                F.col("length").alias("size"),
                F.lit(block_size).alias("block_size"),
                F.lit(1).alias("generation_stamp"),
                F.lit(0).alias("start_offset"),
                (F.col("length") - 1).alias("end_offset"),
                F.col("length").alias("delta_size"),
                F.lit(False).alias("deleted"),
            )
        ),
        file_type=file_type_of("path"),
        mode=F.lit("Snapshot"),
    )


def generate_snapshot(
    file_state: DataFrame, namespace: str = "ns1"
) -> DataFrame:
    """T22: live file_state rows → synthetic Snapshot CLOSE events.

    Replaying these into an *empty* reconciler reproduces the state
    (round-trip gated in tests) — which is exactly how a downstream
    target bootstraps without the full event history. ``namespace``
    stamps the events (FILE_STATE_SCHEMA carries none): pass the
    pipeline's real namespace or downstream eqNullSafe cascade joins
    silently skip the snapshot-seeded rows.
    """
    live = file_state.where(F.col("state") != "Deleted")
    blocks = F.transform(
        F.filter("blocks", lambda b: b["state"] != F.lit("Deleted")),
        lambda b: F.struct(
            b["block_id"].alias("block_id"),
            b["data_size"].alias("size"),
            b["block_size"].alias("block_size"),
            b["generation_stamp"].alias("generation_stamp"),
            F.lit(0).alias("start_offset"),
            (b["data_size"] - 1).alias("end_offset"),
            b["data_size"].alias("delta_size"),
            F.lit(False).alias("deleted"),
        ),
    )
    return _state_closes(live, namespace, "Snapshot", blocks)


def backlog_events(
    file_state: DataFrame, snapshot_tx: int, namespace: str = "ns1"
) -> DataFrame:
    """T23: Backlog CLOSE for files that moved past the snapshot tx.

    Each block carries the T16-compressed covering interval of its
    deltas in ``(snapshot_tx, last_tx]`` — the exact contract of
    ``DFSBlockState.compressedChangeSet`` (DFSBlockState.java:75-106),
    expressed as array-function min/max instead of a Java loop.
    """
    behind = file_state.where(
        (F.col("state") != "Deleted") & (F.col("last_tx_id") > snapshot_tx)
    )

    def recent(b):
        return F.filter(b["deltas"], lambda d: d["tx_id"] > F.lit(snapshot_tx))

    def struct(b):
        start = F.array_min(F.transform(recent(b), lambda d: d["start_offset"]))
        end = F.array_max(F.transform(recent(b), lambda d: d["end_offset"]))
        return F.struct(
            b["block_id"].alias("block_id"),
            b["data_size"].alias("size"),
            b["block_size"].alias("block_size"),
            b["generation_stamp"].alias("generation_stamp"),
            start.alias("start_offset"),
            end.alias("end_offset"),
            (end - start + 1).alias("delta_size"),
            F.array_contains(
                F.transform(recent(b), lambda d: d["deleted"]), True
            ).alias("deleted"),
        )

    blocks = F.transform(
        F.filter(
            "blocks",
            lambda b: (b["state"] != F.lit("Deleted"))
            & (F.size(recent(b)) > 0),
        ),
        struct,
    )
    return _state_closes(behind, namespace, "Backlog", blocks)


def _state_closes(
    file_state: DataFrame, namespace: str, mode: str, blocks: Column
) -> DataFrame:
    """file_state rows → CLOSE events carrying each row's own identity,
    size, times and entity match, with the given block list (T22/T23)."""
    return as_events(
        file_state,
        tx_id="last_tx_id",
        op=F.lit("CLOSE"),
        ts="updated_time",
        namespace=F.lit(namespace),
        path="path",
        inode_id="inode_id",
        length="data_size",
        block_size="block_size",
        modified_time="updated_time",
        accessed_time="updated_time",
        blocks=blocks,
        file_type="file_type",
        mode=F.lit(mode),
        domain="domain",
        entity="entity",
    )
