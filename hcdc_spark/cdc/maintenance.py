"""State maintenance jobs (SURVEY §2A T27).

The reference garbage-collects Deleted file-state nodes and compacts
aged per-tx deltas inside ZooKeeper (CDCChangeDeltaProcessor.
cleanFileState, pipeline/CDCChangeDeltaProcessor.java:122-138;
FileStateHelper.compact, FileStateHelper.java:250-274). Here state is
an append-only parquet log, so maintenance is batch rewrites:

- ``compact_state_log`` — fold the log to latest-per-inode (the same
  window ``latest_state`` applies at read time), optionally dropping
  Deleted rows and aged per-tx deltas. Run OFFLINE (no concurrent
  streaming writer). On a real deployment this is a Delta/Iceberg
  rewrite/expire operation; the parquet-directory swap is the
  dependency-free equivalent.
- ``gc_change_data`` — drop superseded pointer rows and delete staging
  batch directories no pointer references (the byte-level analogue of
  deleting replaced block files).

Both rewrite their table through fsutil.swap_dir — the same commit the
IVF-PQ index rebuild and compaction use — so readers see the old or the
new log, never a missing one. recover_state_dirs finishes a swap a
crash interrupted; it runs at the start of both jobs and of every
query that writes or reads the state log (run_reconciler,
run_cdc_pipeline, latest_state) — once per query start, never per
micro-batch. Without it, a crash between the swap's two renames would
leave ``file_state_log`` missing, the next stream would append a fresh
log beside the stranded stage, and latest_state would silently lose
every inode not touched since.

Storage-scheme-safe (round-13 verdict #1, applied to the T27 legs the
index takedown inherited its discipline from): all existence/list/
delete calls route through the Hadoop FS API (hcdc_spark.fsutil), and
the rename-as-commit directory swaps are fenced to atomic-rename
filesystems (file:/hdfs:) — on object storage these jobs are the
table format's rewrite/expire operations, and the fence says so
instead of half-running a copy+delete "rename".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hcdc_spark import fsutil


def recover_state_dirs(
    out_dir: str | None = None, staging_dir: str | None = None
) -> None:
    """Finish an interrupted compact_state_log / gc_change_data swap
    (fsutil.recover_swap) under ``out_dir`` and ``staging_dir``."""
    if out_dir is not None:
        fsutil.recover_swap(fsutil.join(out_dir, "file_state_log"))
    if staging_dir is not None:
        fsutil.recover_swap(fsutil.join(staging_dir, "change_data"))


def compact_state_log(
    spark: SparkSession,
    out_dir: str,
    drop_deleted: bool = True,
    delta_min_tx: int | None = None,
) -> int:
    """Rewrite the state log to one row per inode. Returns row count.

    ``delta_min_tx``: drop per-block tx deltas at or below this txid
    (the reference's age-based compaction, keyed by tx instead of
    wall-clock so it is deterministic and replay-safe).
    """
    log_path = fsutil.join(out_dir, "file_state_log")
    fsutil.require_atomic_rename(log_path, "compact_state_log")
    recover_state_dirs(out_dir=out_dir)
    log = spark.read.parquet(log_path)
    # The streaming reconciler stamps batch_id; batch outputs written by
    # the CLI's bootstrap/reconcile commands don't carry it — compaction
    # must work on both (review r4: compact after reconcile crashed).
    if "batch_id" not in log.columns:
        log = log.withColumn("batch_id", F.lit(0).cast("long"))
    w = Window.partitionBy("inode_id").orderBy(
        F.col("batch_id").desc(), F.col("last_tx_id").desc()
    )
    latest = (
        log.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    if drop_deleted:
        latest = latest.where(F.col("state") != "Deleted")
    if delta_min_tx is not None:
        latest = latest.withColumn(
            "blocks",
            F.transform(
                "blocks",
                lambda b: b.withField(
                    "deltas",
                    F.filter(
                        b["deltas"], lambda d: d["tx_id"] > F.lit(delta_min_tx)
                    ),
                ),
            ),
        )
    fsutil.swap_dir(
        log_path,
        lambda stage: latest.write.mode("overwrite").parquet(stage),
        "compact_state_log",
    )
    return spark.read.parquet(log_path).count()


def gc_change_data(spark: SparkSession, staging_dir: str) -> int:
    """Drop superseded pointers; delete unreferenced batch dirs.
    Returns the number of live pointer rows. The pointer table is
    swapped first and the batch dirs deleted after, so a crash in
    between leaves only unreferenced garbage for the next run."""
    ptr_path = fsutil.join(staging_dir, "change_data")
    fsutil.require_atomic_rename(ptr_path, "gc_change_data")
    recover_state_dirs(staging_dir=staging_dir)
    ptr = spark.read.parquet(ptr_path)
    # batch_tag desc as tie-breaker: re-materializations of the same
    # file carry the same last_tx_id, and the kept pointer must be the
    # one read_entity serves (same ordering, materialize.read_entity).
    w = Window.partitionBy("src_path").orderBy(
        F.col("last_tx_id").desc(), F.col("batch_tag").desc()
    )
    live = (
        ptr.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    fsutil.swap_dir(
        ptr_path,
        lambda stage: live.write.mode("overwrite").parquet(stage),
        "gc_change_data",
    )
    kept = spark.read.parquet(ptr_path)
    n = kept.count()

    live_batches = {
        (r["domain"], r["entity"], r["batch_tag"])
        for r in kept.select("domain", "entity", "batch_tag")
        .distinct()
        .collect()
    }
    data_root = fsutil.join(staging_dir, "data")
    if fsutil.is_dir(data_root):
        for domain in fsutil.list_names(data_root):
            dpath = fsutil.join(data_root, domain)
            for entity in fsutil.list_names(dpath):
                epath = fsutil.join(dpath, entity)
                for batch in fsutil.list_names(epath):
                    if not batch.startswith("batch="):
                        continue
                    tag = batch.split("=", 1)[1]
                    if (domain, entity, tag) not in live_batches:
                        fsutil.delete(fsutil.join(epath, batch))
    return n
