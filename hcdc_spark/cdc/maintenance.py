"""State maintenance jobs (SURVEY §2A T27).

The reference garbage-collects Deleted file-state nodes and compacts
aged per-tx deltas inside ZooKeeper (CDCChangeDeltaProcessor.
cleanFileState, pipeline/CDCChangeDeltaProcessor.java:122-138;
FileStateHelper.compact, FileStateHelper.java:250-274). Here state is
an append-only parquet log, so maintenance is batch rewrites:

- ``compact_state_log`` — fold the log to its latest view (the one
  ``latest_state`` reads), optionally dropping Deleted rows and aged
  per-tx deltas. On a real deployment this is a Delta/Iceberg
  rewrite/expire operation; the parquet-directory swap is the
  dependency-free equivalent.
- ``gc_change_data`` — drop superseded pointer rows and delete staging
  batch directories no pointer references (the byte-level analogue of
  deleting replaced block files).

Both are ``logs.compact`` calls: recovery of an interrupted swap, the
latest view and the fsutil.swap_dir commit live there, shared with the
rewriter's path log. Run them OFFLINE (no concurrent streaming writer).

Storage-scheme-safe (round-13 verdict #1, applied to the T27 legs the
index takedown inherited its discipline from): all existence/list/
delete calls route through the Hadoop FS API (hcdc_spark.fsutil), and
the rename-as-commit directory swaps are fenced to atomic-rename
filesystems (file:/hdfs:) — on object storage these jobs are the
table format's rewrite/expire operations, and the fence says so
instead of half-running a copy+delete "rename".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hcdc_spark import fsutil
from hcdc_spark.cdc import logs


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

    def prune(latest: DataFrame) -> DataFrame:
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
                            b["deltas"],
                            lambda d: d["tx_id"] > F.lit(delta_min_tx),
                        ),
                    ),
                ),
            )
        return latest

    return logs.compact(
        spark, logs.STATE, logs.STATE.at(out_dir), "compact_state_log", prune
    ).count()


def gc_change_data(spark: SparkSession, staging_dir: str) -> int:
    """Drop superseded pointers; delete unreferenced batch dirs.
    Returns the number of live pointer rows. The pointer table is
    swapped first and the batch dirs deleted after, so a crash in
    between leaves only unreferenced garbage for the next run."""
    kept = logs.compact(
        spark, logs.POINTERS, logs.POINTERS.at(staging_dir), "gc_change_data"
    )
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
