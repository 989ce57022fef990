"""Streaming reconciler: the per-file CDC state machine under
``applyInPandasWithState``.

Same fold as the batch reconciler (hcdc_spark/cdc/statemachine.py — one
implementation, two callers), but the state lives in Spark's streaming
state store keyed by ``inode_id`` and survives across micro-batches and
restarts (checkpointed). This replaces the reference's ZK-backed file
state + global/replication locks (FileStateHelper.java:50-225,
SourceChangeDeltaProcessor.java:87-99): per-key serial execution is a
property of the state store, so no locks exist at any scale — 1000
executors fold disjoint inode groups concurrently.

Ordering contract: events for one inode are folded in ``tx_id`` order
*within* each micro-batch; across micro-batches the T4 idempotence guard
(tx_id <= last_tx_id → no-op, SourceTransactionProcessor.java:154-158)
makes replays and duplicates harmless, exactly what Spark's
at-least-once replay after failure needs. Directory cascades (T11/T12)
need a live-path-table scan and therefore run in a separate **rewrite
stage** upstream of this query (``hcdc_spark.streaming.rewrite``,
chained via segment files — use ``run_cdc_pipeline_cascading``),
mirroring the reference's split between per-message handlers and ZK
prefix scans (SourceTransactionProcessor.java:187-296). The fold fed
directly (``run_cdc_pipeline``) assumes a dir-op-free log; with
``rules=None`` it is the bare reconciler: no registry match, no
staging, events keep their own domain/entity.

The sink appends each batch's updated states to a **state log**
(``file_state_log/``) plus a dead-letter table (``errors/``, T25). The
*current* snapshot is ``latest_state`` over the log — an append-only
pattern that scales (no read-modify-write of a 100 TB table per
micro-batch) and keeps history queryable, the same event-sourcing
shape the reference gets from ZK versioned nodes (hcdc_spark.cdc.logs).
"""

from __future__ import annotations

import json
import os
from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from hcdc_spark.cdc import logs
from hcdc_spark.cdc.model import FOLD_OUTPUT_SCHEMA
from hcdc_spark.cdc.reconcile import fold_group, reconcile_errors


class _JsonStateCodec:
    """State store value: the state-machine dict as one JSON string.
    A string survives schema evolution of the dict (new keys) without
    state-store migration, and the store-side UnsafeRow is a single
    variable-length field. (A typed FILE_STATE_SCHEMA struct codec was
    measured against it in round 11 and never won — COVERAGE.md.)"""

    schema = T.StructType([T.StructField("state_json", T.StringType())])

    @staticmethod
    def load(value: tuple) -> dict[str, Any]:
        return json.loads(value[0])

    @staticmethod
    def dump(state: dict[str, Any]) -> tuple:
        return (json.dumps(state),)


#: Suggested Deleted-tombstone TTL for CONTINUOUS deployments (T27's
#: streaming half): how long a Deleted inode's state lingers in the
#: store before the ProcessingTimeTimeout evicts it. The window exists
#: ONLY to absorb upstream at-least-once duplicates with the T4 tx
#: guard — a stray re-delivery of a pre-delete event inside the window
#: is a no-op; after eviction it would re-create the inode (the
#: reference has the same exposure once
#: CDCChangeDeltaProcessor.java:122-138 deletes the file-state node).
#: Size it to the source's re-delivery horizon (Kafka redeliveries are
#: seconds, not days); the store then holds live files + files deleted
#: within the window, instead of every inode ever seen.
#:
#: DRAIN-MODE CAVEAT (measured, not guessed): with
#: ProcessingTimeTimeout registered, an ``availableNow`` drain NEVER
#: self-terminates in this Spark — it keeps committing no-data
#: micro-batches indefinitely, and not only until pending timeouts
#: fire (A/B on the 40-file log: NoTimeout drain 8.3 s / 4 batches;
#: with a ttl=3 s tombstone the drain evicted correctly ~3 s in and
#: was STILL spinning no-data batches at 240 s, hundreds of batches
#: past the fire). So eviction is OPT-IN: ``deleted_ttl_ms=None``
#: (the default) keeps the NoTimeout fold — right for drains and
#: backfills, where compact_state_log (c24) is the GC leg — and a
#: continuous deployment (the production crawl shape: the query stays
#: up, batches keep coming, the operator stops it explicitly) passes
#: a real TTL and gets the store bound for free. The TTL tests run
#: exactly that way: default-trigger queries polled to condition,
#: then stopped.
DEFAULT_DELETED_TTL_MS = 10 * 60 * 1000


def _make_fold(deleted_ttl_ms: int | None):
    """Build the stateful fold with the Deleted-tombstone TTL bound in
    (the applyInPandasWithState callback takes no user arguments).
    ``deleted_ttl_ms=None`` = no eviction (NoTimeout fold — timeout
    APIs untouched, which the runtime enforces: setTimeoutDuration
    raises under NoTimeout)."""

    def _fold_with_state(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # T27 (streaming half): the Deleted tombstone outlived the
            # duplicate-absorption window — evict the key, mirroring
            # the reference's deletion of file-state nodes (namenode-
            # agent CDCChangeDeltaProcessor.java:122-138). The final
            # Deleted row was already emitted when the DELETE folded,
            # so the state LOG keeps its tombstone and latest_state is
            # unchanged — only the live store shrinks. Without this
            # the store grows with every inode ever seen: on a
            # multi-year 100 TB crawl that is every file ever deleted.
            # Crash safety: the remove commits with the batch; a
            # replay re-runs against the rolled-back store version and
            # re-times-out deterministically.
            state.remove()
            return
        prev = _JsonStateCodec.load(state.get) if state.exists else None
        new_state, row = fold_group(prev, pdfs)
        # all events errored before a create: the row surfaces the
        # errors, no state is kept
        if new_state is not None:
            state.update(_JsonStateCodec.dump(new_state))
            if (
                deleted_ttl_ms is not None
                and new_state["state"] == "Deleted"
            ):
                # Full-fidelity tombstone: keeps the T4 guard (a
                # duplicate of any pre-delete tx inside the window is
                # absorbed exactly as before — the cascading
                # generator's cross-segment duplicate ADD_FILE is the
                # gated case), then the timeout above evicts. The
                # timeout must be re-armed on every invocation that
                # leaves the state Deleted (GroupState clears it each
                # call); a re-created inode takes the live branch and
                # never re-arms, so it never times out.
                state.setTimeoutDuration(deleted_ttl_ms)
        yield pd.DataFrame([row], columns=FOLD_OUTPUT_SCHEMA.fieldNames())

    return _fold_with_state


def reconcile_stream(
    events: DataFrame,
    deleted_ttl_ms: int | None = None,
) -> DataFrame:
    """events (streaming DF, CHANGE_EVENT_SCHEMA) → updated file_state
    rows per micro-batch (update output mode). ``deleted_ttl_ms``
    bounds how long Deleted tombstones stay in the state store (T27's
    streaming TTL leg — pass it in continuous deployments; ``None``
    keeps the NoTimeout fold for availableNow drains, whose GC leg is
    compact_state_log. See DEFAULT_DELETED_TTL_MS for the drain-mode
    spin measurement behind the split)."""
    return (
        events.where(F.col("inode_id").isNotNull())
        .groupBy("inode_id")
        .applyInPandasWithState(
            _make_fold(deleted_ttl_ms),
            outputStructType=FOLD_OUTPUT_SCHEMA,
            stateStructType=_JsonStateCodec.schema,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.NoTimeout
                if deleted_ttl_ms is None
                else GroupStateTimeout.ProcessingTimeTimeout
            ),
        )
    )


def write_state_log(state: DataFrame, out_dir: str, mode: str = "append"):
    """Write one generation of the state log and its dead-letter rows
    (T25) under ``out_dir``. ``state`` is the fold output (with its
    ``errors`` column) already stamped with ``batch_id``; the stream
    appends one generation per micro-batch, the CLI writes the base
    generation (batch_id -1) that every stream batch wins over."""
    state.drop("errors").write.mode(mode).parquet(logs.STATE.at(out_dir))
    errs = reconcile_errors(state)
    if not errs.isEmpty():
        errs.write.mode(mode).parquet(os.path.join(out_dir, "errors"))


def state_log_sink(out_dir: str, extra=None):
    """foreachBatch sink: append the batch's updated states to the
    state log + exploded errors to the dead-letter table (T25), then
    run ``extra(batch_df, batch_id)`` for per-batch follow-on work
    (the pipeline's materialize step)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.withColumn("batch_id", F.lit(batch_id))
        batch_df.persist()
        try:
            write_state_log(batch_df, out_dir)
            if extra is not None:
                extra(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return sink


def latest_state(spark: SparkSession, out_dir: str) -> DataFrame:
    """Current file_state: last update per inode from the state log
    (after finishing an interrupted compact_state_log swap)."""
    log = logs.read(spark, logs.STATE.at(out_dir))
    return logs.latest(logs.STATE, log).drop("batch_id")
