"""Latest-wins logs: the one shape every CDC output is stored in.

Where the reference keeps per-file state in ZooKeeper versioned nodes,
each CDC output here is an append-only parquet directory read "latest
row per key": the file-state log, the rewriter's path log, the
``change_data`` pointers, the replica ledger and the schema registry.
A ``Log`` names its directory, key and winning-row order once; three
functions serve all five: ``read`` (recover, then read), ``latest``
(one row per key) and ``compact`` (the latest view committed by
fsutil.swap_dir, offline: no stream may append meanwhile).

Recovery (fsutil.recover_swap) runs once per entry point — every
reader and compaction, every stream start for the logs it appends to —
never per micro-batch. Without it a crash between a swap's two renames
would leave the live log missing, and the next append would start a
fresh log beside the stranded generation.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hcdc_spark import fsutil


@dataclass(frozen=True)
class Log:
    name: str  # directory name under the log's root
    key: tuple[str, ...]
    order: tuple[str, ...]  # descending: the first row per key wins

    def at(self, root: str) -> str:
        return fsutil.join(root, self.name)

    def winner_first(self) -> list[Column]:
        return [F.col(c).desc() for c in self.order]


#: stream batches stamp batch_id >= 0; a base generation written outside
#: the stream (cli bootstrap/reconcile, a compacted path log) has -1
STATE = Log("file_state_log", ("inode_id",), ("batch_id", "last_tx_id"))
PATHS = Log("paths_log", ("inode_id",), ("batch_id", "last_tx"))
#: batch_tag breaks ties: re-materializations of an unchanged file carry
#: the same last_tx_id, and the latest batch must win every time
POINTERS = Log("change_data", ("src_path",), ("last_tx_id", "batch_tag"))
REPLICAS = Log("replica_state", ("inode_id",), ("last_tx_id", "batch_tag"))
SCHEMAS = Log("schemas", ("domain", "entity"), ("version",))


def read(
    spark: SparkSession,
    path: str,
    missing_ok: bool = False,
    recover_first: bool = True,
) -> DataFrame | None:
    """The log at ``path``. With ``missing_ok`` a log that holds no
    version yet reads as None: one that does not exist (PATH_NOT_FOUND)
    or has no committed data file (a first append that died with only
    its ``_temporary`` dir written). Any other failure (corrupt footer,
    permissions, an FS outage) raises. Per-micro-batch reads pass
    ``recover_first=False``."""
    from pyspark.errors import AnalysisException

    if recover_first:
        fsutil.recover_swap(path, spark)
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if missing_ok and (
            "PATH_NOT_FOUND" in str(exc)
            or ("UNABLE_TO_INFER_SCHEMA" in str(exc)
                and not fsutil.list_files(path, spark))
        ):
            return None
        raise


def latest(log: Log, df: DataFrame) -> DataFrame:
    """The latest view of ``df`` (rows of ``log``): one row per key."""
    w = Window.partitionBy(*log.key).orderBy(*log.winner_first())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def compact(
    spark: SparkSession, log: Log, path: str, op: str, transform=None
) -> DataFrame:
    """Rewrite the log at ``path`` to ``transform(latest view)`` through
    one fsutil.swap_dir (rename-as-commit, so fenced to atomic-rename
    filesystems); returns the new generation."""
    # swap_dir fences too; fencing here fails fast before the read job
    fsutil.require_atomic_rename(path, op)
    folded = latest(log, read(spark, path))
    if transform is not None:
        folded = transform(folded)
    fsutil.swap_dir(
        path,
        lambda stage: folded.write.mode("overwrite").parquet(stage),
        op, spark,
    )
    return spark.read.parquet(path)
