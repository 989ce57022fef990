"""The full CDC pipeline as one streaming query (SURVEY §3, all three
reference agents fused).

The reference runs five processes wired by Kafka topics — edit-log
capture, source reconciliation, target mirror, file replication,
snapshotting — each single-threaded behind ZK locks (SURVEY §0). Here
the same dataflow is ONE Structured Streaming query:

    segment files ──readStream──► registry match (T7, plan-compiled)
        ──► applyInPandasWithState fold (T1-T6, §2C)
        ──► foreachBatch:
              • append file_state log + error dead-letter (T25)
              • materialize changed Finalized entities → staging
                parquet + change_data pointers (T14-T17); a matched
                file with no reader for its type is a dead-letter row

Crash recovery is the checkpoint; replay idempotence is the T4 guard +
latest-wins reads of every appended log (hcdc_spark.cdc.logs). With
``rules=None`` and no staging the same query is the bare streaming
reconciler. Per-batch work is bounded by
maxFilesPerTrigger exactly like the reference's batched Kafka pulls.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from hcdc_spark.cdc.registry import DomainFilter, apply_registry


def run_cdc_pipeline(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    rules: list[DomainFilter] | None = None,
    staging_dir: str | None = None,
    registry_dir: str | None = None,
    target_format: str = "parquet",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    deleted_ttl_ms: int | None = None,
):
    """Wire the whole pipeline; returns the StreamingQuery.

    ``rules=None`` skips the registry match (events keep their own
    domain/entity); ``staging_dir=None`` runs state-tracking only (the
    reference's SourceChangeDeltaProcessor without FileDeltaProcessor).
    Both unset is the bare streaming reconciler. Compaction swaps a
    crash interrupted are finished before the query starts, once, for
    the logs it appends to.

    ``deleted_ttl_ms`` evicts Deleted tombstones from the state store
    (T27's streaming leg; scripts/bench_ttl_reconciler.py, round 13,
    100k inodes / 75% churn-deleted: the store stays at the LIVE set,
    peak 91,069 entries -> 8,959, for ~25% micro-batch throughput).
    Opt IN for long-running continuous queries; it is refused with
    ``available_now=True``, because a drain under ProcessingTimeTimeout
    never self-terminates in this Spark (reconciler.
    DEFAULT_DELETED_TTL_MS). Drains keep the NoTimeout fold and let
    compact_state_log (c24) reclaim Deleted rows offline.
    """
    from hcdc_spark import fsutil
    from hcdc_spark.cdc import logs
    from hcdc_spark.cdc.materialize import materialize
    from hcdc_spark.functions.localframe import local_df
    from hcdc_spark.streaming.reconciler import (
        reconcile_stream,
        state_log_sink,
    )
    from hcdc_spark.streaming.source import read_event_stream

    if deleted_ttl_ms is not None and available_now:
        raise ValueError(
            "deleted_ttl_ms needs a continuous query (available_now="
            "False): an availableNow drain under ProcessingTimeTimeout "
            "never terminates"
        )
    fsutil.recover_swap(logs.STATE.at(out_dir), spark)
    if staging_dir is not None:
        fsutil.recover_swap(logs.POINTERS.at(staging_dir), spark)
    events = read_event_stream(spark, source_dir, max_files_per_trigger)
    # registry rules compile into the plan (T7); refreshing rules means
    # restarting the query with new rules — same cadence as the
    # reference's per-batch refresh, but checkpoint-safe.
    if rules is not None:
        events = apply_registry(events, rules)
    updates = reconcile_stream(events, deleted_ttl_ms=deleted_ttl_ms)

    def _materialize_batch(batch_df: DataFrame, batch_id: int) -> None:
        res = materialize(
            spark, batch_df, staging_dir, batch_tag=f"b{batch_id:010d}",
            target_format=target_format, registry_dir=registry_dir,
        )
        if res.skipped:  # matched files with no reader: dead letter
            local_df(
                spark, [(batch_id, *e) for e in res.skipped],
                "batch_id int, tx_id bigint, inode_id bigint, path string,"
                " op string, error string",  # the <out>/errors columns
            ).write.mode("append").parquet(os.path.join(out_dir, "errors"))

    sink = state_log_sink(
        out_dir, extra=None if staging_dir is None else _materialize_batch
    )
    writer = (
        updates.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_cdc_pipeline_cascading(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    rules: list[DomainFilter],
    staging_dir: str | None = None,
    registry_dir: str | None = None,
    target_format: str = "parquet",
    max_files_per_trigger: int | None = None,
):
    """The full pipeline with directory-cascade support (T11/T12 on the
    streaming path): rewrite stage → stateful fold, chained by segment
    files — the reference's agent-chained-by-topic topology
    (EditLogProcessor → SourceChangeDeltaProcessor).

    availableNow-only composition: the rewriter drains the source fully,
    then the fold query drains the rewritten segments. For continuous
    deployment start both queries concurrently — the fold tails the
    segment directory the rewriter appends to.
    """
    from hcdc_spark.cdc import logs
    from hcdc_spark.streaming.rewrite import run_rewriter

    rewritten = os.path.join(out_dir, "rewritten")
    rw = run_rewriter(
        spark,
        source_dir,
        rewritten,
        os.path.join(checkpoint_dir, "rewrite"),
        logs.PATHS.at(out_dir),
        max_files_per_trigger=max_files_per_trigger,
        available_now=True,
    )
    rw.awaitTermination()
    return run_cdc_pipeline(
        spark,
        rewritten,
        out_dir,
        os.path.join(checkpoint_dir, "fold"),
        rules,
        staging_dir=staging_dir,
        registry_dir=registry_dir,
        target_format=target_format,
        max_files_per_trigger=max_files_per_trigger,
        available_now=True,
    )
