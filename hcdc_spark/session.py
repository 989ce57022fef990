"""SparkSession factory tuned for the engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same configuration
keys are the ones that matter on a real cluster (AQE, shuffle partition
sizing, broadcast threshold, Arrow batching). Nothing here is
local-mode-specific except the master URL default.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Spark's out-of-the-box shuffle-partition count — seeing it means the
#: session was never tuned (our own factory below always overrides it).
_UNTUNED_SHUFFLE = "200"


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int = 8):
    """Right-size ``spark.sql.shuffle.partitions`` for one small query.

    Only applies when the session still carries Spark's untuned default
    (200): an externally created session (the driver's correctness
    harness) gets partitions sized to the query's actual data, while a
    session tuned by ``get_spark``/bench/cluster submit is respected.
    Stateful streaming allocates one state store per shuffle partition
    per micro-batch, and tiny synthetic CDC folds pay per-task overhead,
    so 200 partitions turns seconds into minutes at sf0.01 (measured
    15-38 s in round 1). The conf is read at *execution* time — callers
    must materialize results inside this scope, not just build the plan.
    """
    key = "spark.sql.shuffle.partitions"
    try:
        cur = spark.conf.get(key)
    except Exception:
        cur = None
    if cur != _UNTUNED_SHUFFLE:
        yield
        return
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, cur)


def run_concurrently(
    spark: SparkSession, calls, max_workers: int | None = None
) -> list:
    """Run independent zero-argument Spark calls from a driver thread
    pool and return their results in call order (the first failure
    raises). The scheduler interleaves the jobs' tasks, so a short job
    runs beside a long one instead of queueing behind it.

    Each call runs through ``pyspark.util.inheritable_thread_target``
    with ``spark``: a pool thread is a fresh JVM thread that does not
    inherit the caller's local properties or session tags, so without
    it the jobs it submits lose the caller's job group, description and
    scheduler pool, and ``statusTracker().getJobIdsForGroup`` misses
    them."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    calls = [inheritable_thread_target(spark)(c) for c in calls]
    with ThreadPoolExecutor(max_workers=max_workers or len(calls)) as pool:
        futures = [pool.submit(c) for c in calls]
        return [f.result() for f in futures]


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


#: Configuration applied to every session. On a 1000-executor cluster the
#: same keys hold; only instance sizing (memory, shuffle partitions ≈ 2-3×
#: total cores, s3a committers) moves to spark-submit conf.
ENGINE_CONF: dict[str, str] = {
    # Adaptive execution: runtime re-plan, partition coalescing, skew-join
    # splitting. This is the 100TB insurance policy — static plans go stale
    # at scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalescing sizes post-shuffle partitions by BYTES, which is
    # wrong for compute-dense intermediates: a collapsed rep frame of a
    # few MB (LSH signatures, array_intersect verification, window
    # packs) lands on ONE partition and serializes a 32-core box
    # (measured: q29 1.8 s -> 0.66 s, q73 3.4 s -> 0.96 s at sf0.1
    # from this key alone). With parallelismFirst (default on) Spark
    # already prefers parallelism over the advisory size and only
    # respects this FLOOR — the default 1 MB floor is what forced the
    # single partition. 64 KB is scale-invariant: at 100 TB every
    # partition is >> 64 KB so the floor never binds; it only stops
    # small-but-expensive stages from losing the cluster's parallelism.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # Whole-stage-codegen class cache (STATIC conf, default 100
    # entries). The engine serves ~140 distinct query shapes, several
    # compiling wide generated classes (72-expression MinHash
    # signatures, 32-agg SimHash votes); at 100 entries a pass over
    # the query suite evicts every class before its query comes back,
    # so each run re-generates + re-Janino-compiles its stages
    # (measured: the bench's third pass 16.7 s -> 11.8 s and q29
    # 3.0 s -> 1.4 s from this key alone). A long-running production
    # engine thrashes identically; 4096 compiled classes are tens of
    # MB of driver/executor metaspace — noise against any real driver
    # sizing.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # Dimension tables (region/nation/supplier/part at any SF, the domain
    # filter registry) must broadcast — never shuffle a fact table to join
    # a dim.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for every pandas UDF / toPandas hop.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Vectorized parquet + pushdown (defaults, pinned so a packaging change
    # can't silently regress them).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Read parquet NTZ timestamps as NTZ (testdata events.ts is ns, no tz).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # Partition sizing: 128MB scan splits is the right grain for 100TB too.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Deterministic UTC timestamp semantics regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "auto-set-below",
}


def get_spark(
    app_name: str = "hcdc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine configuration.

    ``shuffle_partitions`` defaults to 2× local cores — on a cluster pass
    ~2-3× total executor cores instead (AQE coalesces the excess).
    """
    cpus = _cpus()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or max(cpus, 8))
    conf.setdefault("spark.driver.memory", "8g")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
