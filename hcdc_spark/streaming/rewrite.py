"""Streaming directory-cascade rewrite stage (SURVEY §2A T11/T12 on the
streaming path).

Directory DELETE/RENAME cascades need a scan of the *live path table* —
state the per-inode fold cannot see (``applyInPandasWithState`` groups
by inode; a directory op fans out to other inodes' groups). The
reference solves this with ZK prefix scans inside one serialized
processor (SourceTransactionProcessor.java:187-296). The Spark-native
shape is a **two-stage pipeline**: a rewrite query that expands
directory ops into per-child synthetic events, feeding the stateful
fold through segment files — the same agent-chained-by-topic topology
the reference runs, with Spark checkpoints replacing ZK offsets.

The rewriter keeps its own compact **path log** (inode → current path,
an append-only latest-wins log like the reconciler's state log,
hcdc_spark.cdc.logs.PATHS): the prior-batch live paths seed
``expand_directory_events`` so cascades reach files created in earlier
micro-batches. The log is O(live files), not O(events);
``compact_path_log`` folds it down through ``logs.compact``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hcdc_spark import fsutil
from hcdc_spark.cdc import logs
from hcdc_spark.cdc.reconcile import _path_history, expand_directory_events

#: path-log schema: one row per (inode, update); latest wins
_PATH_LOG_COLS = ("inode_id", "path", "namespace", "last_tx", "batch_id")


def _live(log: DataFrame | None) -> DataFrame | None:
    if log is None:
        return None
    return (
        logs.latest(logs.PATHS, log)
        .where(F.col("path").isNotNull())
        .select(*_PATH_LOG_COLS[:3])
    )


def live_paths(spark: SparkSession, paths_dir: str) -> DataFrame | None:
    """Current (inode_id, path, namespace) of live files from the path
    log; None when the log doesn't exist yet (first batch). Only the
    path-missing error is treated as 'first batch' — any other read
    failure (corrupt footer, permissions, transient FS outage) must
    surface, because silently expanding with prior_paths=None drops
    directory-cascade coverage of every earlier micro-batch."""
    return _live(logs.read(spark, paths_dir, missing_ok=True))


def _path_updates(expanded: DataFrame, batch_id: int) -> DataFrame:
    """Latest entry per inode of this batch's path history → path-log
    rows (path NULL ⇒ deleted). The history is the reconciler's own
    ``_path_history``, so the path log and the cascade expansion agree
    on which ops set a path: ADD_FILE creates, RENAME moves, DELETE
    ends, CLOSE re-asserts — including Snapshot/Backlog bootstrap
    CLOSEs, which create files with NO ADD_FILE; without them a
    bootstrapped file never entered the path log and later directory
    cascades (and even its own file DELETE's classification) missed it.
    """
    w = Window.partitionBy("inode_id").orderBy(F.col("tx_id").desc())
    return (
        _path_history(expanded)
        .where(F.col("inode_id").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "inode_id", "path", "namespace",
            F.col("tx_id").alias("last_tx"), F.lit(batch_id).alias("batch_id"),
        )
    )


def compact_path_log(spark: SparkSession, paths_dir: str) -> None:
    """Fold the append-only path log to its live rows (T27 analogue):
    the latest view minus deleted inodes, reset to the base generation
    (last_tx and batch_id -1) so every later batch wins over it.

    Run OFFLINE like compact_state_log — the rewriter stream must not
    be appending concurrently. logs.compact commits the folded log with
    fsutil.swap_dir, so a crash at any step leaves the old or the new
    log for live_paths (an in-place overwrite would delete the log
    before its write job ran, and a crash in between would make every
    later directory cascade silently miss all earlier batches).
    """
    fsutil.recover_swap(paths_dir, spark)
    if not fsutil.is_dir(paths_dir, spark):
        return
    logs.compact(
        spark, logs.PATHS, paths_dir, "compact_path_log",
        lambda latest: latest.where(F.col("path").isNotNull())
        .withColumn("last_tx", F.lit(-1))
        .withColumn("batch_id", F.lit(-1))
        .select(*_PATH_LOG_COLS),
    )


def run_rewriter(
    spark: SparkSession,
    source_dir: str,
    rewritten_dir: str,
    checkpoint_dir: str,
    paths_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """source segments → dir-expanded segments + path log.

    Per micro-batch (foreachBatch — the batch DF is static, so the
    expansion's joins/windows are unrestricted):

    1. seed = live paths from the path log (prior batches),
    2. rewrite the batch with ``expand_directory_events`` (fixpoint),
    3. append the rewritten events as a new segment under
       ``rewritten_dir`` (the downstream reconciler tails it),
    4. append this batch's path updates to the path log.

    Replay safety: a re-run batch overwrites its own segment directory
    (idempotent by batch_id) and re-appends identical path rows (the
    latest-wins read collapses them).
    """
    from hcdc_spark.streaming.source import read_event_stream

    # finish an interrupted compact_path_log once per query start, so
    # no batch appends a fresh log beside a stranded generation
    fsutil.recover_swap(paths_dir, spark)
    events = read_event_stream(spark, source_dir, max_files_per_trigger)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        prior = _live(logs.read(
            spark, paths_dir, missing_ok=True, recover_first=False
        ))
        expanded = expand_directory_events(batch_df, prior_paths=prior)
        expanded.persist()
        try:
            # One file per rewritten segment — the same atomicity contract
            # as write_event_segment: the downstream fold sorts by tx_id
            # *within* a micro-batch, so a segment must never split into
            # several source files that could land in different batches
            # out of tx order. The coalesce serializes one micro-batch of
            # events (bounded by maxFilesPerTrigger), not the stream.
            expanded.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(rewritten_dir, f"segment_{batch_id:010d}")
            )
            _path_updates(expanded, batch_id).write.mode("append").parquet(
                paths_dir
            )
        finally:
            expanded.unpersist()

    writer = (
        events.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
