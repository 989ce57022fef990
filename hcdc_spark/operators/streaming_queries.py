"""Driver-visible Structured Streaming queries.

These run real streaming queries (availableNow trigger drains the whole
input, so results are deterministic and comparable):

- ``c04``: the streaming reconciler end-to-end (file-segment source →
  applyInPandasWithState fold → state log → latest_state). Rows-only;
  the semantic gate is tests/test_streaming.py's batch-equivalence.
- ``c05``: watermarked tumbling-window aggregation over the driver's
  ``events`` table read *as a stream* — fully oracle-checked, proving
  the streaming plan computes exactly what the batch SQL does.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hcdc_spark.operators import cdc_oracle, goldens
from hcdc_spark.operators.similarity import _ivfpq_oracle
from hcdc_spark.registry import Registry, values_oracle
from hcdc_spark.session import scoped_shuffle_partitions as _small_shuffle

REG = Registry()


@REG.add(
    "c04_stream_reconcile",
    cdc_oracle.c04_oracle(),
    doc="Streaming CDC reconciler (applyInPandasWithState keyed by "
    "inode) over a deterministic event log split into two segment "
    "files / micro-batches. The oracle re-derives the seed-7 log's "
    "final file_state INDEPENDENTLY in DuckDB window SQL from the raw "
    "events (operators/cdc_oracle.py) — a hash match means the "
    "stateful streaming fold across the micro-batch boundary agrees "
    "with a from-scratch relational formulation, not with its own "
    "pinned output. Batch-equivalence and restart recovery gated in "
    "tests/test_streaming.py; goldens.C04_ROWS stays as the pytest pin.",
    tags=("cdc", "streaming"),
)
def c04_stream_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hcdc_spark.cdc.generator import generate_events
    from hcdc_spark.streaming.pipeline import run_cdc_pipeline
    from hcdc_spark.streaming.reconciler import latest_state
    from hcdc_spark.streaming.source import write_event_segment

    events = generate_events(n_files=40, seed=7, with_dir_ops=False)
    work = tempfile.mkdtemp(prefix="hcdc_c04_")
    try:
        with _small_shuffle(spark):
            src = os.path.join(work, "segments")
            out = os.path.join(work, "out")
            ckpt = os.path.join(work, "ckpt")
            half = len(events) // 2
            write_event_segment(spark, events[:half], src, "edits_0000001")
            write_event_segment(spark, events[half:], src, "edits_0000002")
            q = run_cdc_pipeline(
                spark, src, out, ckpt, max_files_per_trigger=1,
                available_now=True,
            )
            _await_drained(q, "c04_stream_reconcile")
            res = (
                latest_state(spark, out)
                .select(
                    "inode_id", "path", "state", "data_size", "num_blocks",
                    "last_tx_id",
                )
                .orderBy("inode_id")
            )
            # pass the schema explicitly: row-based inference crashes on
            # an empty or all-NULL-column result, masking the real
            # failure the golden oracle would otherwise surface
            return spark.createDataFrame(res.collect(), res.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@REG.add(
    "c29_continuous_ttl_reconcile",
    cdc_oracle.c04_oracle(),
    doc="The TTL'd CONTINUOUS reconciler as a driver row (round-11 "
    "verdict 'next' #3) — the production operating shape c04's "
    "availableNow drain cannot exercise: a default-trigger query "
    "stays UP while (1) the first log segment folds, (2) the "
    "Deleted tombstone's ProcessingTimeTimeout fires MID-RUN and "
    "evicts the deleted inode from the state store — the reference "
    "deletes file-state nodes while the processor keeps running "
    "(namenode-agent CDCChangeDeltaProcessor.java:122-138) — and "
    "(3) the SECOND segment arrives and folds against the "
    "post-eviction store. Store-side eviction is asserted in-row "
    "via the state data source (a missed eviction raises — the "
    "driver row goes red), and the returned latest_state is "
    "hash-exact against the SAME independent DuckDB window-SQL fold "
    "oracle as c04: eviction bounds the STORE, never the state LOG, "
    "so latest_state is TTL-invariant by design — that invariance "
    "IS the oracle.",
    tags=("cdc", "streaming", "ttl"),
)
def c29_continuous_ttl_reconcile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import time

    from hcdc_spark.cdc.generator import events_df, generate_events
    from hcdc_spark.cdc.reconcile import reconcile_batch
    from hcdc_spark.streaming.pipeline import run_cdc_pipeline
    from hcdc_spark.streaming.reconciler import latest_state
    from hcdc_spark.streaming.source import write_event_segment

    events = generate_events(n_files=40, seed=7, with_dir_ops=False)
    half = len(events) // 2

    def fold_inodes(evs):
        """(all, live) inode sets per the pytest-gated batch fold —
        poll targets only; correctness rides on the DuckDB oracle."""
        st = reconcile_batch(
            events_df(spark, evs), expand_dirs=False
        ).select("inode_id", "state")
        rows = st.collect()
        alln = {r["inode_id"] for r in rows}
        return alln, {
            r["inode_id"] for r in rows if r["state"] != "Deleted"
        }

    def store_inodes(ckpt: str) -> set[int]:
        return {
            r.inode_id
            for r in spark.read.format("statestore")
            .load(ckpt)
            .select("key.inode_id")
            .collect()
        }

    def poll(predicate, deadline_s: float, what: str) -> None:
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            try:
                if predicate():
                    return
            except Exception:  # noqa: BLE001 — store/log mid-write
                pass
            time.sleep(0.25)
        raise TimeoutError(
            f"c29_continuous_ttl_reconcile: timed out waiting for {what}"
        )

    work = tempfile.mkdtemp(prefix="hcdc_c29_")
    try:
        with _small_shuffle(spark):
            src = os.path.join(work, "segments")
            out = os.path.join(work, "out")
            ckpt = os.path.join(work, "ckpt")
            all_1, live_1 = fold_inodes(events[:half])
            all_2, live_2 = fold_inodes(events)
            if live_1 == all_1 or live_2 == all_2:
                raise AssertionError(
                    "c29 premise broken: each segment must contain a "
                    "delete so eviction is observable mid-run"
                )
            write_event_segment(spark, events[:half], src, "edits_0000001")
            q = run_cdc_pipeline(
                spark, src, out, ckpt, max_files_per_trigger=1,
                available_now=False, deleted_ttl_ms=1500,
            )
            def logged_inodes() -> int:
                import pathlib

                p = pathlib.Path(out, "file_state_log")
                if not p.exists():
                    return 0
                return (
                    spark.read.parquet(str(p))
                    .select("inode_id").distinct().count()
                )

            try:
                # phase 1: every segment-1 inode folded (the store can
                # transiently equal the live set before the victim's
                # events arrive — gate on log completeness first), then
                # the tombstones evict MID-RUN: the store holds exactly
                # the live inodes while the query stays up
                poll(lambda: logged_inodes() >= len(all_1), 120,
                     "segment-1 fold to reach every inode")
                poll(lambda: store_inodes(ckpt) == live_1, 120,
                     "segment-1 Deleted tombstones to evict")
                # phase 2: the second segment lands while the processor
                # keeps running; its fold sees the post-eviction store
                # and its own delete evicts in turn
                write_event_segment(
                    spark, events[half:], src, "edits_0000002"
                )
                poll(lambda: store_inodes(ckpt) == live_2, 120,
                     "segment-2 fold + eviction to converge")
            finally:
                # stop right after the in-flight micro-batch commits:
                # under ProcessingTimeTimeout the query runs no-data
                # batches back to back, so it is never idle, and a
                # stop that lands inside the foreachBatch sink
                # interrupts its write (InterruptedException, then a
                # StackOverflowError in the stream thread). Right after
                # a commit the thread is in the next batch's offset and
                # planning steps, where an interrupt ends it cleanly.
                done = (q.lastProgress or {}).get("batchId")
                t0 = time.time()
                while (q.isActive and time.time() - t0 < 30
                       and (q.lastProgress or {}).get("batchId") == done):
                    time.sleep(0.005)
                q.stop()
            res = (
                latest_state(spark, out)
                .select(
                    "inode_id", "path", "state", "data_size",
                    "num_blocks", "last_tx_id",
                )
                .orderBy("inode_id")
            )
            return spark.createDataFrame(res.collect(), res.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _event_stream(spark: SparkSession, sf_dir: str):
    """The events table as a stream, ts canonicalized to epoch nanos."""
    from hcdc_spark.catalog import event_stream

    return event_stream(spark, sf_dir)


def _await_drained(q, label: str, timeout: int = 300) -> None:
    """awaitTermination with the timeout made LOUD: on a hung stream
    the memory table would otherwise be read half-filled (a silent
    wrong answer) and the caller's cleanup would rmtree the source out
    from under a still-running query."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"{label}: stream did not drain within {timeout}s"
        )


def _drain(df, name: str, ckpt: str, mode: str = "append"):
    """Drain the stream ``df`` to its end (availableNow) into the
    memory table ``name`` and return that table."""
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q, name)
    return df.sparkSession.table(name)


def _drain_batches(
    spark: SparkSession, schema, src: str, fn, ckpt: str, name: str
) -> None:
    """The foreachBatch twin of _drain: stream the parquet files under
    ``src`` one file per micro-batch (oldest first, so batch_id i is
    file i of an mtime-ordered directory) through ``fn(batch_df,
    batch_id)`` until the input is drained."""
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(fn)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q, name)


def _land(df: DataFrame, batch, path: str) -> None:
    """Write ``df`` as partition ``batch=<batch>`` under ``path`` by
    dynamic partition overwrite, so a replayed micro-batch re-lands its
    own partition instead of appending a second copy."""
    (
        df.withColumn("batch", F.lit(str(batch)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(path)
    )


@REG.add(
    "c09_stream_static_join",
    """
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    GROUP BY c.c_mktsegment
    """,
    doc="Stream-static join: the events stream joined to the customer "
    "dim (broadcast — a static side never shuffles the stream), then a "
    "streaming aggregation. Oracle-checked against the batch SQL join: "
    "the streaming plan computes exactly the batch answer.",
    tags=("streaming", "join"),
)
def c09_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hcdc_spark.catalog import load_tables

    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    stream = _event_stream(spark, sf_dir)
    joined = (
        stream.where(F.col("event_type") == "purchase")
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
        )
    )
    ckpt = tempfile.mkdtemp(prefix="hcdc_c09_")
    try:
        with _small_shuffle(spark):
            out = _drain(joined, "c09_join", ckpt, mode="complete").select(
                "segment", "n_events",
                F.col("sv").cast("double").alias("sum_value"),
            )
            return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@REG.add(
    "c10_stream_stream_join",
    """
    WITH p AS (SELECT user_id, event_id, epoch_ms(ts) AS pms FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT user_id, event_id AS click_id, epoch_ms(ts) AS cms
               FROM events WHERE event_type = 'click')
    SELECT p.user_id, p.event_id, c.click_id
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.cms BETWEEN p.pms - 600000 AND p.pms
    """,
    doc="Stream-stream inner join with an event-time interval "
    "condition (clicks within 10 min before a purchase), both sides "
    "watermarked — the watermark bounds join state at scale; "
    "availableNow drains everything so the result equals the batch "
    "interval join, which is the oracle.",
    tags=("streaming", "join"),
)
def c10_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _event_stream(spark, sf_dir).withColumn(
        "event_time", F.timestamp_millis(F.expr("ts DIV 1000000"))
    )
    p = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            "user_id", "event_id", F.col("event_time").alias("p_time")
        )
        .withWatermark("p_time", "30 minutes")
    )
    c = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("event_time").alias("c_time"),
        )
        .withWatermark("c_time", "30 minutes")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_time") >= F.col("p_time") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_time") <= F.col("p_time")),
    ).select("user_id", "event_id", "click_id")
    ckpt = tempfile.mkdtemp(prefix="hcdc_c10_")
    try:
        with _small_shuffle(spark):
            out = _drain(joined, "c10_join", ckpt)
            return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@REG.add(
    "c08_cdc_pipeline",
    values_oracle(goldens.C08_SCHEMA, goldens.C08_ROWS),
    doc="Full CDC pipeline in one streaming query: event segments → "
    "registry match → stateful fold → staging materialization + "
    "change_data pointers. Returns the entity row counts read back "
    "through the latest-pointer view, pinned by a golden VALUES "
    "oracle (50 distinct payload rows must survive the pipeline "
    "exactly once). The full semantic gate (restart, supersede, "
    "unmatched exclusion) is tests/test_pipeline_e2e.py.",
    tags=("cdc", "streaming", "materialize"),
)
def c08_cdc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hcdc_spark.cdc.materialize import read_entity
    from hcdc_spark.cdc.model import empty_event
    from hcdc_spark.cdc.registry import DomainFilter, scratch_dir
    from hcdc_spark.streaming.pipeline import run_cdc_pipeline
    from hcdc_spark.streaming.source import write_event_segment

    work = scratch_dir("c08")
    try:
        with _small_shuffle(spark):
            df = spark.range(50).select(
                F.col("id"), F.sha1(F.col("id").cast("string")).alias("payload")
            )
            src_file = os.path.join(work, "data", "sales", "cust_1.parquet")
            df.coalesce(1).write.mode("overwrite").parquet(src_file)
            blk = {
                "block_id": 1, "size": 100, "block_size": 1 << 20,
                "generation_stamp": 1, "start_offset": 0, "end_offset": 99,
                "delta_size": 100, "deleted": False,
            }
            events = [
                empty_event(tx_id=1, op="ADD_FILE", ts=1, namespace="ns1",
                            path=src_file, inode_id=1, overwrite=False,
                            blocks=[blk], mode="New"),
                empty_event(tx_id=2, op="CLOSE", ts=2, namespace="ns1",
                            path=src_file, inode_id=1, length=100,
                            file_type="PARQUET", blocks=[blk], mode="New"),
            ]
            seg_dir = os.path.join(work, "segments")
            write_event_segment(spark, events, seg_dir, "edits_0000001")
            rules = [
                DomainFilter("sales", "customers",
                             os.path.join(work, "data", "sales"), r".*\.parquet")
            ]
            q = run_cdc_pipeline(
                spark, seg_dir, os.path.join(work, "out"),
                os.path.join(work, "ckpt"), rules,
                staging_dir=os.path.join(work, "staging"),
                available_now=True,
            )
            _await_drained(q, "c08_cdc_pipeline")
            ent = read_entity(
                spark, os.path.join(work, "staging"), "sales", "customers"
            )
            out = ent.groupBy().agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count_distinct("payload").alias("n_payloads"),
            ).select(F.lit("sales.customers").alias("entity"), "n_rows",
                     "n_payloads")
            return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@REG.add(
    "c05_stream_window_agg",
    """
    SELECT (epoch_ms(ts) // 3600000) * 3600000 AS win_start_ms,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour watermarked window over the events table read "
    "as a stream (availableNow) — the streaming plan is oracle-checked "
    "against batch SQL. Map-side partial agg + bounded state eviction "
    "is what keeps this viable on an unbounded stream.",
    tags=("streaming", "window-agg"),
)
def c05_stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _event_stream(spark, sf_dir)
    agg = (
        stream.withColumn(
            "event_time", F.timestamp_millis(F.expr("ts DIV 1000000"))
        )
        .withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value_dec"),
        )
    )
    ckpt = tempfile.mkdtemp(prefix="hcdc_c05_ckpt_")
    try:
        with _small_shuffle(spark):
            out = _drain(agg, "c05_win_agg", ckpt, mode="complete").select(
                F.unix_millis(F.col("win.start")).alias("win_start_ms"),
                "event_type",
                "n_events",
                F.col("sum_value_dec").cast("double").alias("sum_value"),
            )
            # materialize before the memory sink is dropped
            return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@REG.add(
    "c11_protobuf_roundtrip",
    """
    WITH base AS (
      SELECT event_id, event_type, user_id, props,
             CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
      FROM events
    )
    SELECT 'hdfs' AS namespace,
           event_id AS tx_id,
           event_type AS entity,
           'DFSAddFile' AS type,
           ts_ms,
           props AS body_str,
           CASE WHEN user_id % 2 = 0 THEN 'sales' END AS domain,
           CASE WHEN user_id % 2 = 0 THEN event_type END AS entity_name,
           CAST(
             1 + 1 + 4
             + 1 + 1 + STRLEN(CAST(event_id AS VARCHAR))
             + 1 + 1 + STRLEN(event_type)
             + 1 + 1 + 10
             + 1 + CASE WHEN ts_ms < 128 THEN 1
                        WHEN ts_ms < 16384 THEN 2
                        WHEN ts_ms < 2097152 THEN 3
                        WHEN ts_ms < 268435456 THEN 4
                        WHEN ts_ms < 34359738368 THEN 5
                        WHEN ts_ms < 4398046511104 THEN 6
                        WHEN ts_ms < 562949953421312 THEN 7
                        WHEN ts_ms < 72057594037927936 THEN 8
                        ELSE 9 END
             + 1 + CASE WHEN STRLEN(props) < 128 THEN 1 ELSE 2 END
                 + STRLEN(props)
             + CASE WHEN user_id % 2 = 0
                    THEN 1 + 1 + 5 + 1 + 1 + STRLEN(event_type)
                    ELSE 0 END
           AS INT) AS proto_len
    FROM base
    """,
    doc="DFSChangeDelta protobuf wire-format round-trip (T26): encode "
    "each event into the reference's Kafka envelope "
    "(data_block.proto:143-152) with a pure wire-format codec, decode "
    "it back, and surface the decoded fields plus the encoded byte "
    "length. The oracle recomputes every field AND the exact wire size "
    "(tag + varint-length arithmetic) relationally — a mismatch in any "
    "varint boundary or field ordering breaks the hash.",
    tags=("cdc", "codec"),
)
def c11_protobuf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hcdc_spark.catalog import event_ts_ms, load_tables
    from hcdc_spark.streaming.protobuf_codec import (
        from_protobuf_delta,
        to_protobuf_delta,
    )

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    even = F.col("user_id") % 2 == 0
    prepared = ev.select(
        F.lit("hdfs").alias("namespace"),
        F.col("event_id").alias("tx_id"),
        F.col("event_type").alias("entity"),
        F.lit("DFSAddFile").alias("type"),
        event_ts_ms().alias("timestamp"),
        F.col("props").cast("binary").alias("body"),
        F.when(even, F.lit("sales")).alias("domain"),
        F.when(even, F.col("event_type")).alias("entity_name"),
    )
    dec = from_protobuf_delta(to_protobuf_delta(prepared, "pb"), "pb")
    return dec.select(
        F.col("delta.namespace").alias("namespace"),
        F.col("delta.tx_id").alias("tx_id"),
        F.col("delta.entity").alias("entity"),
        F.col("delta.type").alias("type"),
        F.col("delta.timestamp").alias("ts_ms"),
        F.col("delta.body").cast("string").alias("body_str"),
        F.col("delta.domain").alias("domain"),
        F.col("delta.entity_name").alias("entity_name"),
        F.length("pb").alias("proto_len"),
    )


@REG.add(
    "c13_stream_session_window",
    """
    WITH t AS (
      SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
      FROM events
    ), s AS (
      SELECT *,
             CASE WHEN LAG(ts_ms) OVER w IS NULL
                       OR ts_ms - LAG(ts_ms) OVER w >= 1800000
                  THEN 1 ELSE 0 END AS brk
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
    ), g AS (
      SELECT *,
             CAST(SUM(brk) OVER (PARTITION BY user_id
                                 ORDER BY ts_ms, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM s
    )
    SELECT user_id,
           MIN(ts_ms) AS session_start_ms,
           COUNT(*) AS n_events,
           MIN(event_id) AS min_event_id
    FROM g GROUP BY user_id, sid
    """,
    doc="Streaming session windows (30-min gap) per user over the "
    "events stream — the session_window + watermark state machine "
    "oracle-checked against the relational gaps-and-islands form "
    "(break on diff >= gap matches Spark's half-open [t, t+gap) "
    "merge rule exactly). Session state is per-key and watermark-"
    "evicted, so state size tracks active users, not history — the "
    "unbounded-stream analogue of q25's batch sessionization.",
    tags=("streaming", "session-window"),
)
def c13_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _event_stream(spark, sf_dir)
    agg = (
        stream.withColumn(
            "event_time", F.timestamp_millis(F.expr("ts DIV 1000000"))
        )
        .withWatermark("event_time", "1 hour")
        .groupBy(
            F.session_window("event_time", "30 minutes").alias("sess"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("min_event_id"),
        )
    )
    ckpt = tempfile.mkdtemp(prefix="hcdc_c13_ckpt_")
    try:
        with _small_shuffle(spark):
            out = _drain(agg, "c13_sessions", ckpt, mode="complete").select(
                "user_id",
                F.unix_millis(F.col("sess.start")).alias("session_start_ms"),
                "n_events",
                "min_event_id",
            )
            return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@REG.add(
    "c14_stream_dedup",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    doc="Streaming deduplication (T4 at the query surface): "
    "dropDuplicatesWithinWatermark on (user_id, event_type) over the "
    "events stream — per-key state evicted once the watermark passes, "
    "so state is bounded by the dedup horizon instead of the full key "
    "history. Only the key columns are projected before the final "
    "batch count, so whichever duplicate the stream keeps, the result "
    "is the exact distinct-user count per type the oracle computes.",
    tags=("streaming", "dedup"),
)
def c14_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = (
        _event_stream(spark, sf_dir)
        .withColumn(
            "event_time", F.timestamp_millis(F.expr("ts DIV 1000000"))
        )
        .withWatermark("event_time", "3650 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    ckpt = tempfile.mkdtemp(prefix="hcdc_c14_ckpt_")
    try:
        with _small_shuffle(spark):
            out = (
                _drain(deduped, "c14_dedup", ckpt)
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n_users"))
            )
            return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@REG.add(
    "c19_stream_doc_dedup",
    """
    SELECT lang, COUNT(DISTINCT md5(text)) AS n_unique_docs
    FROM documents
    GROUP BY lang
    """,
    doc="Streaming content-level document dedup — the training-data "
    "ingest gate as a stateful stream: documents arrive as a parquet "
    "file stream, each keyed by md5 of its full text, and "
    "dropDuplicates on (lang, content-hash) keeps first-arrival per "
    "key; the batch tail counts survivors per lang, which whichever "
    "arrival order the stream chose must equal the oracle's "
    "COUNT(DISTINCT md5(text)). State here is the distinct-hash set — "
    "inherently unbounded for exact content dedup; at 100 TB the "
    "state store is RocksDB (disk-bounded, parity-tested in "
    "tests/test_streaming.py) and the horizon is bounded with "
    "dropDuplicatesWithinWatermark or a Bloom pre-filter exactly as "
    "c14 demonstrates on the events stream.",
    tags=("streaming", "dedup", "pipeline"),
)
def c19_stream_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hcdc_spark.catalog import table_path

    path = table_path(sf_dir, "documents")
    schema = spark.read.parquet(path).schema
    # documents.parquet is a single file; the file streaming source
    # needs a directory, so stream the sf dir filtered to that file
    deduped = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", os.path.basename(path))
        .parquet(os.path.dirname(path))
        .select("lang", F.md5("text").alias("h"))
        .dropDuplicates(["lang", "h"])
    )
    ckpt = tempfile.mkdtemp(prefix="hcdc_c19_ckpt_")
    try:
        with _small_shuffle(spark):
            out = (
                _drain(deduped, "c19_doc_dedup", ckpt)
                .groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n_unique_docs"))
            )
            return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@REG.add(
    "c17_watermark_late_drop",
    """
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(5 AS BIGINT)),
      (CAST(20 AS BIGINT), CAST(1 AS BIGINT))
    ) AS t(win_start_min, n_events)
    """,
    doc="Watermark LATE-DATA DROP, driver-visible: a 10-min tumbling "
    "window aggregate in APPEND mode over three forced micro-batches "
    "(maxFilesPerTrigger=1). Batch A (minutes 0-4, 35) advances the "
    "watermark to minute 25; batch B (minute 26) finalizes + evicts "
    "window [0,10) with count 5; batch C then delivers a LATE row at "
    "minute 5 — its window is already evicted, so the row must be "
    "DROPPED (observed as numRowsDroppedByWatermark=1), never "
    "re-opened as a duplicate appended window — plus minute 45, which "
    "pushes the final watermark to 35 and flushes [20,30). The "
    "literal oracle pins the exact append-mode output: (0,5) and "
    "(20,1) — windows [30,40)/[40,50) are still above the final "
    "watermark and must be WITHHELD in state. This is the semantics "
    "that bounds streaming state at scale, and unlike c05 "
    "(availableNow drain == batch) the result is NOT derivable from "
    "the raw table — only from correct watermark mechanics. NOTE the "
    "one-batch subtlety this fixture dodges: a late row arriving in "
    "the SAME batch that evicts its window still merges (Spark's drop "
    "guarantee is best-effort within the delay) — the eviction must "
    "happen a batch earlier for the drop to be deterministic.",
    tags=("streaming", "watermark"),
)
def c17_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = 1_699_999_800  # multiple of 600s: windows align at minute 0

    def seg(path, minutes, mtime):
        ts = pa.array(
            [(base + m * 60) * 1_000_000 for m in minutes],
            type=pa.timestamp("us", tz="UTC"),
        )
        uid = pa.array(range(len(minutes)), type=pa.int64())
        pq.write_table(pa.table({"user_id": uid, "ts": ts}), path)
        os.utime(path, (mtime, mtime))

    work = tempfile.mkdtemp(prefix="hcdc_c17_")
    try:
        src = os.path.join(work, "src")
        os.makedirs(src)
        # batch A: window [0,10) gets 5 rows; minute 35 pushes the
        # watermark to 25 once the batch commits
        seg(os.path.join(src, "seg_a.parquet"),
            [0, 1, 2, 3, 4, 35], mtime=1_000_000_000)
        # batch B: on-time row; its trigger evicts window [0,10)
        seg(os.path.join(src, "seg_b.parquet"), [26], mtime=1_000_000_100)
        # batch C: minute 5 is LATE (window already evicted -> drop);
        # minute 45 advances the final watermark to 35
        seg(os.path.join(src, "seg_c.parquet"),
            [5, 45], mtime=1_000_000_200)
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("win"))
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        with _small_shuffle(spark):
            out = _drain(
                agg, "c17_late_drop", os.path.join(work, "ckpt")
            ).select(
                ((F.unix_timestamp(F.col("win.start")) - base) / 60)
                .cast("bigint")
                .alias("win_start_min"),
                "n_events",
            )
            return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@REG.add(
    "c20_stream_index_upsert",
    _ivfpq_oracle(" AND vec_id % 10 <> 7"),
    doc="STREAMING IVF-PQ index maintenance — q104's upsert driven by "
    "a real Structured Streaming pipeline: the base corpus "
    "(vec_id % 10 <> 7) is indexed once, then the delta arrives as a "
    "parquet file stream (3 files, maxFilesPerTrigger=1 -> 3 true "
    "micro-batches) and every foreachBatch runs append_ivfpq_delta "
    "with ITS OWN batch_id — a dynamic partition overwrite of "
    "exactly that batch's (gen, cell) directories, so Spark's "
    "at-least-once foreachBatch replay re-lands the same partitions "
    "instead of double-appending (the replay pytest pins the table "
    "byte-identical after a deliberate re-run; the same idempotence "
    "contract as the CDC state-log sink). The partition-pruned "
    "search then serves base + streamed vectors together, and the "
    "result hash-checks against the same base-quantizer SQL oracle "
    "as q104 — per-vector encoding is batch-split-invariant, so "
    "WHICH micro-batch a vector rode in cannot change the ranking. "
    "At 100 TB this is the online vector-store shape: embeddings "
    "stream off the ingest pipeline and become searchable within a "
    "micro-batch, quantizers frozen per corpus version.",
    tags=("streaming", "similarity", "index", "pipeline"),
)
def c20_stream_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hcdc_spark.catalog import table_path
    from hcdc_spark.operators import similarity as S

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    base = emb.where(F.col("vec_id") % 10 != 7)
    delta = emb.where(F.col("vec_id") % 10 == 7)
    work = tempfile.mkdtemp(prefix="hcdc_c20_")
    try:
        idx = os.path.join(work, "ivfpq")
        S.write_ivfpq_index(spark, base, idx)
        delta_dir = os.path.join(work, "delta")
        delta.repartition(3).write.parquet(delta_dir)
        with _small_shuffle(spark):
            _drain_batches(
                spark, delta.schema, delta_dir,
                lambda b, bid: S.append_ivfpq_delta(
                    spark, b, idx, batch_id=bid
                ),
                os.path.join(work, "ckpt"), "c20_stream_index_upsert",
            )
        qv = (
            emb.where(F.col("vec_id") == 0)
            .select("embedding")
            .collect()[0][0]
        )
        out = S.ivfpq_index_search(spark, idx, qv, exclude_id=0)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _c21_oracle() -> str:
    from hcdc_spark.operators.similarity import _cosine_sql, _sign_collide_sql

    collide = _sign_collide_sql("a", "b")
    sim = _cosine_sql("a", "b")
    return f"""
    SELECT a.vec_id, a.label
    FROM embeddings a
    WHERE a.vec_id % 10 = 7 AND a.vec_id < 100000
      AND NOT EXISTS (
        SELECT 1 FROM embeddings b
        WHERE b.vec_id % 10 <> 7 AND b.vec_id < 100000
          AND ({collide}) AND {sim} > 0.45
      )
    ORDER BY a.vec_id
    """


@REG.add(
    "c21_stream_ingest_dedup",
    _c21_oracle(),
    doc="The training-data DEDUP-ON-INGEST loop, end to end as a "
    "stream: the corpus (vec_id % 10 <> 7, q35-style cap) is banded "
    "once into the BUCKETED LSH index; new embeddings arrive as a "
    "3-file stream (maxFilesPerTrigger=1 -> 3 true micro-batches) "
    "and every foreachBatch probes the index (incremental_neardup_"
    "pairs: batch bands only itself, corpus side bucket-aligned, "
    "never re-shuffled), REJECTS rows with an exact-cosine > 0.45 "
    "near-dup in the corpus, and lands survivors in the clean sink "
    "under their own batch partition (dynamic overwrite -> replay-"
    "idempotent, the c20 contract). After the drain the survivors "
    "are ADMITTED to the index via append_band_index (insertInto "
    "keeps the bucket spec), closing the cycle: the next ingest "
    "dedups against the grown corpus with no rebuild. Admission "
    "decisions are made against the pre-stream corpus, so the result "
    "is micro-batch-order-invariant and hash-checks against a static "
    "NOT EXISTS oracle (greedy intra-delta chains are a different "
    "operator: q58/q68 clustering). Per-cycle cost is O(|batch|) "
    "probe + O(|survivors|) append — never O(corpus). At scale the "
    "admission loop also checks band_index_needs_rebuild each cycle "
    "(appends maintain the index's n_rows statistic) and re-sizes via "
    "rebuild_band_index when the grown corpus calls for more bits — "
    "gated in tests/test_text_dedup_similarity.py::"
    "test_band_index_rebuild_policy; the demo's fixed sign geometry "
    "is capped instead (q103's contract).",
    tags=("streaming", "dedup", "lsh", "index", "pipeline"),
)
def c21_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hcdc_spark.catalog import table_path
    from hcdc_spark.operators import similarity as S

    emb = spark.read.parquet(table_path(sf_dir, "embeddings")).where(
        F.col("vec_id") < 100_000  # the q103/q35 oracle-twin cap
    )
    corpus = emb.where(F.col("vec_id") % 10 != 7)
    delta = emb.where(F.col("vec_id") % 10 == 7)
    table = "hcdc_band_index_c21"
    work = tempfile.mkdtemp(prefix="hcdc_c21_")
    try:
        S.write_band_index(
            spark, corpus, table, os.path.join(work, "band_index")
        )
        delta_dir = os.path.join(work, "delta")
        delta.repartition(3).write.parquet(delta_dir)
        clean_dir = os.path.join(work, "clean")

        def gate(batch_df: DataFrame, batch_id: int) -> None:
            hits = (
                S.incremental_neardup_pairs(
                    spark, batch_df, table, corpus, threshold=0.45
                )
                .select(F.col("vec_new").alias("vec_id"))
                .distinct()
            )
            _land(
                batch_df.join(hits, "vec_id", "left_anti")
                .select("vec_id", "label", "embedding"),
                batch_id, clean_dir,
            )

        with _small_shuffle(spark):
            _drain_batches(
                spark, delta.schema, delta_dir, gate,
                os.path.join(work, "ckpt"), "c21_stream_ingest_dedup",
            )
        survivors = spark.read.parquet(clean_dir)
        # close the cycle: admit the accepted vectors to the index so
        # the NEXT ingest dedups against the grown corpus
        S.append_band_index(
            spark, survivors.select("vec_id", "label", "embedding"), table
        )
        out = survivors.select("vec_id", "label").orderBy("vec_id")
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(work, ignore_errors=True)


#: the crawl gates' corpus/new split of the ``t`` CTE (c22, c26; c30 and
#: c31 grow the corpus side per batch)
_CORPUS_IDS = "SELECT doc_id FROM t WHERE doc_id % 10 <> 3"
_NEW_IDS = "SELECT doc_id FROM t WHERE doc_id % 10 = 3"


def _corpus_chunks_sql() -> str:
    """The corpus documents' distinct chunk hashes (h) — the DuckDB
    form of the chunk index write_chunk_index builds (c26, c30)."""
    from hcdc_spark.operators.text import _chunks_sql

    corpus = "(SELECT * FROM documents WHERE doc_id % 10 <> 3)"
    return f"""
      SELECT DISTINCT md5(txt) AS h FROM ({_chunks_sql(corpus)})"""


def _c22_oracle() -> str:
    from hcdc_spark.operators.dedup import _DW, _gate_sql, _minhash_bands_sql

    return f"""
    WITH t AS (
      SELECT doc_id, {_DW} AS ws FROM documents
      WHERE len({_DW}) > 0
    ), {_minhash_bands_sql()}, {_gate_sql(0, _NEW_IDS, _CORPUS_IDS)}
    SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_words
    FROM t
    WHERE t.doc_id % 10 = 3
      AND t.doc_id NOT IN (SELECT doc_new FROM rejected_0)
    ORDER BY t.doc_id
    """


@REG.add(
    "c22_stream_doc_ingest_dedup",
    _c22_oracle(),
    doc="The TEXT dedup-on-ingest gate — c21's loop for documents, "
    "the gate a training-data crawl actually runs: the corpus "
    "(doc_id % 10 <> 3) is MinHash(72)/LSH(6x12)-banded once into the "
    "bucketed doc index (write_doc_band_index, q73's md5 geometry so "
    "every stage is oracle-derivable); new documents arrive as a "
    "3-file stream and each foreachBatch probes the index "
    "(incremental_doc_neardup: the batch bands only itself, corpus "
    "side bucket-aligned), REJECTS docs whose exact word-set Jaccard "
    "vs any corpus doc is >= 0.9, and lands survivors under their own "
    "batch partition (dynamic overwrite -> replay-idempotent); after "
    "the drain the survivors are admitted via append_doc_band_index, "
    "so the next crawl cycle dedups against the grown corpus with no "
    "rebuild. Decisions are made against the pre-stream corpus -> "
    "micro-batch-order-invariant -> hash-exact against the static "
    "NOT EXISTS oracle (q73's CTE pipeline with the (new x corpus) "
    "rectangle and the survivor anti-join). Empty word-sets are "
    "excluded on both sides (q73's convention — no dedup evidence). "
    "Per-cycle cost O(|batch|) probe + O(|survivors|) append, never "
    "O(corpus). A re-crawled (updated) doc's stale band rows are "
    "resolved by similarity.compact_band_index (keep-latest, ghost-removal "
    "gated in tests); the growth policy is c21's.",
    tags=("streaming", "dedup", "lsh", "index", "pipeline", "text"),
)
def c22_stream_doc_ingest_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hcdc_spark.catalog import table_path
    from hcdc_spark.functions.text import distinct_words
    from hcdc_spark.operators import dedup as D

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    t = docs.select("doc_id", distinct_words("text").alias("ws")).where(
        F.size("ws") > 0
    )
    corpus_t = t.where(F.col("doc_id") % 10 != 3)
    delta_t = t.where(F.col("doc_id") % 10 == 3)
    table = "hcdc_doc_band_index_c22"
    work = tempfile.mkdtemp(prefix="hcdc_c22_")
    try:
        D.write_doc_band_index(
            spark, corpus_t, table, os.path.join(work, "doc_index")
        )
        delta_dir = os.path.join(work, "delta")
        delta_t.repartition(3).write.parquet(delta_dir)
        clean_dir = os.path.join(work, "clean")

        def gate(batch_df: DataFrame, batch_id: int) -> None:
            hits = (
                D.incremental_doc_neardup(
                    spark, batch_df, table, corpus_t, threshold=0.9
                )
                .select(F.col("doc_new").alias("doc_id"))
                .distinct()
            )
            _land(
                batch_df.join(hits, "doc_id", "left_anti"), batch_id,
                clean_dir,
            )

        with _small_shuffle(spark):
            _drain_batches(
                spark, delta_t.schema, delta_dir, gate,
                os.path.join(work, "ckpt"), "c22_stream_doc_ingest_dedup",
            )
        survivors = spark.read.parquet(clean_dir)
        # close the cycle: the accepted docs join the corpus index
        D.append_doc_band_index(
            spark, survivors.select("doc_id", "ws"), table
        )
        out = survivors.select(
            "doc_id", F.size("ws").cast("bigint").alias("n_words")
        ).orderBy("doc_id")
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(work, ignore_errors=True)


def _c26_oracle() -> str:
    from hcdc_spark.functions.text import duck_quality_gate
    from hcdc_spark.operators.dedup import _DW, _gate_sql, _minhash_bands_sql
    from hcdc_spark.operators.text import _flag_vs_sql, _regroup_sql

    return f"""
    WITH t AS (
      SELECT doc_id, lang, text, {_DW} AS ws FROM documents
      WHERE len({_DW}) > 0
    ), {_minhash_bands_sql()},
    {_gate_sql(0, _NEW_IDS, _CORPUS_IDS)}, gated AS (
      SELECT doc_id, lang, text FROM t
      WHERE doc_id % 10 = 3
        AND doc_id NOT IN (SELECT doc_new FROM rejected_0)
        AND {duck_quality_gate()}
    ), corpus_chunks AS ({_corpus_chunks_sql()}
    ), flagged AS ({_flag_vs_sql("gated", "corpus_chunks")}
    ), rewritten AS ({_regroup_sql("flagged")}
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
           CAST(SUM(n_kept) AS BIGINT) AS n_kept,
           CAST(SUM(n_kept) AS DOUBLE) / CAST(SUM(n_chunks) AS BIGINT)
             AS kept_rate,
           CAST(SUM(LENGTH(clean_text)) AS BIGINT) AS clean_chars
    FROM rewritten
    GROUP BY lang
    ORDER BY lang
    """


@REG.add(
    "c26_crawl_ingest_pipeline",
    _c26_oracle(),
    doc="The FULL training-data crawl-ingest DAG as one streaming "
    "query — the composition the round-9 verdict mandated (#5): c22's "
    "near-dup gate feeding q98's quality + chunk-dedup + rollup "
    "chain. The document corpus (doc_id % 10 <> 3) is MinHash-banded "
    "once into the bucketed doc index AND its chunk md5 set is built "
    "once as a table BUCKETED on the hash (write_chunk_index — the "
    "rewrite join reads the corpus side bucket-aligned, no corpus "
    "exchange per batch, plan-gated); new documents stream in 3 "
    "micro-batches and every foreachBatch (1) probes the index "
    "(incremental_doc_neardup — batch bands only itself, corpus side "
    "bucket-aligned) and REJECTS docs with exact word-set Jaccard >= "
    "0.9 against the corpus, (2) drops low-quality survivors (the "
    "q30/q98 integer gates: >= 5 words, >= 1 stopword), (3) REWRITES "
    "each surviving doc against the corpus chunk set "
    "(chunk_dedup_rewrite_vs: drop every 10-word chunk already in "
    "the corpus and every within-doc repeat — decisions depend only "
    "on (doc, static corpus), so the stream is micro-batch-order-"
    "invariant), and (4) lands (doc, n_chunks, n_kept, clean_text) "
    "replay-idempotently under its batch partition. After the drain "
    "the landed docs are ADMITTED to BOTH corpus artifacts — the doc "
    "band index (append_doc_band_index: next cycle's near-dup gate) "
    "and, via their KEPT chunks, the chunk index (append_chunk_index: "
    "next cycle's rewrite) — so the crawl loop closes with no "
    "rebuild. Returns the per-language rollup (q98's shape) "
    "over the landed docs — hash-exact against ONE composed SQL "
    "oracle: the c22 NOT-EXISTS gate CTEs feeding the q98 CTE chain "
    "with the corpus-chunk NOT-IN rewrite. Per-cycle cost is "
    "O(|batch|) probe + O(|batch| chunks) hash join + O(|survivors|) "
    "append — never O(corpus).",
    tags=("streaming", "dedup", "text", "pipeline", "index"),
)
def c26_crawl_ingest_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hcdc_spark.catalog import table_path
    from hcdc_spark.functions.text import distinct_words, quality_gate
    from hcdc_spark.operators import dedup as D
    from hcdc_spark.operators.text import (
        append_chunk_index,
        chunk_dedup_rewrite_vs,
        write_chunk_index,
    )

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    t = docs.select(
        "doc_id", "lang", "text", distinct_words("text").alias("ws")
    ).where(F.size("ws") > 0)
    corpus_t = t.where(F.col("doc_id") % 10 != 3)
    delta_t = t.where(F.col("doc_id") % 10 == 3)
    corpus_docs = docs.where(F.col("doc_id") % 10 != 3)
    table = "hcdc_doc_band_index_c26"
    chunk_table = "hcdc_chunk_index_c26"
    work = tempfile.mkdtemp(prefix="hcdc_c26_")
    try:
        D.write_doc_band_index(
            spark, corpus_t.select("doc_id", "ws"), table,
            os.path.join(work, "doc_index"),
        )
        # the corpus chunk set is per-corpus-version, built ONCE as a
        # table bucketed on the hash (16 bytes/distinct chunk) — each
        # micro-batch's rewrite join reads it bucket-aligned, no
        # corpus-side exchange (plan-gated in tests/test_plans.py)
        write_chunk_index(
            spark, corpus_docs, chunk_table,
            os.path.join(work, "chunk_index"),
        )
        ref = spark.table(chunk_table)
        delta_dir = os.path.join(work, "delta")
        delta_t.repartition(3).write.parquet(delta_dir)
        clean_dir = os.path.join(work, "clean")

        def gate(batch_df: DataFrame, batch_id: int) -> None:
            hits = (
                D.incremental_doc_neardup(
                    spark, batch_df.select("doc_id", "ws"), table,
                    corpus_t.select("doc_id", "ws"), threshold=0.9,
                )
                .select(F.col("doc_new").alias("doc_id"))
                .distinct()
            )
            surv = batch_df.join(hits, "doc_id", "left_anti").where(
                quality_gate()
            )
            _land(
                chunk_dedup_rewrite_vs(surv, ref, carry=("lang",)),
                batch_id, clean_dir,
            )

        with _small_shuffle(spark):
            _drain_batches(
                spark, delta_t.schema, delta_dir, gate,
                os.path.join(work, "ckpt"), "c26_crawl_ingest_pipeline",
            )
        landed = spark.read.parquet(clean_dir)
        # close the loop on BOTH corpus artifacts: the ingested docs
        # join the band index (next cycle's near-dup gate sees them)
        # and their KEPT chunks join the chunk index (next cycle's
        # rewrite drops what this cycle already ingested)
        admitted = delta_t.join(
            landed.select("doc_id"), "doc_id", "left_semi"
        )
        D.append_doc_band_index(
            spark, admitted.select("doc_id", "ws"), table
        )
        append_chunk_index(
            spark,
            landed.where(F.col("clean_text") != "").select(
                F.col("clean_text").alias("text")
            ),
            chunk_table,
        )
        out = (
            landed.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chunks").cast("long").alias("n_chunks"),
                F.sum("n_kept").cast("long").alias("n_kept"),
                (
                    F.sum("n_kept").cast("double") / F.sum("n_chunks")
                ).alias("kept_rate"),
                F.sum(F.length("clean_text").cast("long"))
                .cast("long")
                .alias("clean_chars"),
            )
            .orderBy("lang")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {chunk_table}")
        shutil.rmtree(work, ignore_errors=True)


#: c30 plant id offsets: exact copies of batch-0 docs land in batch 2
#: at parent+_C30_COPY; chunk-share plants (parent's first raw-split
#: 10-token chunk + unique filler) at parent+_C30_SHARE. Both keep
#: doc_id % 10 == 3 (offsets are multiples of 10), so the corpus
#: filter excludes them without a magnitude test.
_C30_COPY = 1_000_000
_C30_SHARE = 2_000_000
#: c32's SAME-batch plants: exact copies of batch-1 docs riding in
#: batch 1 itself (parent + 3e6 keeps doc_id % 30 == 13 and % 10 == 3)
#: — the pair the corpus probe structurally cannot catch, and the
#: self_dedup arm must.
_C32_SELF = 3_000_000


def _c30_plant_sqls() -> tuple[str, str]:
    """(exact-copy, chunk-share) plant row SQL over ``documents`` for
    the DuckDB oracle; ``_c30_plants`` is the Spark twin — the text
    constructions must stay byte-identical (raw single-space split,
    first 10 tokens INCLUDING empties, ' '-join keeping empties, the
    PARENT id in the filler tokens)."""
    from hcdc_spark.operators.dedup import _DW

    fill = " || ' the qqa' || CAST(documents.doc_id AS VARCHAR)" + "".join(
        f" || ' qq{c}' || CAST(documents.doc_id AS VARCHAR)"
        for c in "bcd"
    )
    exact = f"""
      SELECT documents.doc_id + {_C30_COPY} AS doc_id, lang, text
      FROM documents WHERE doc_id % 30 = 3 AND len({_DW}) > 0
    """
    share = f"""
      SELECT documents.doc_id + {_C30_SHARE} AS doc_id, lang,
             array_to_string(string_split(text, ' ')[1:10], ' '){fill}
               AS text
      FROM documents WHERE doc_id % 30 = 3 AND len({_DW}) > 0
    """
    return exact, share


def _c30_plants(docs: DataFrame) -> DataFrame:
    """Spark twin of _c30_plant_sqls: the planted batch-2 rows."""
    from hcdc_spark.functions.text import distinct_words

    parents = docs.where(
        (F.col("doc_id") % 30 == 3)
        & (F.size(distinct_words("text")) > 0)
    )
    did = F.col("doc_id").cast("string")
    exact = parents.select(
        (F.col("doc_id") + F.lit(_C30_COPY)).alias("doc_id"),
        "lang", "text",
    )
    share = parents.select(
        (F.col("doc_id") + F.lit(_C30_SHARE)).alias("doc_id"),
        F.col("lang"),
        F.concat(
            F.array_join(F.slice(F.split("text", " "), 1, 10), " "),
            F.lit(" the qqa"), did, F.lit(" qqb"), did,
            F.lit(" qqc"), did, F.lit(" qqd"), did,
        ).alias("text"),
    )
    return exact.unionByName(share)


#: the crawl delta files' schema (one row per crawled document)
_DOC_SCHEMA = "doc_id long, lang string, text string"


def _c32_self_plants(docs: DataFrame) -> DataFrame:
    """c32's SAME-batch plants: exact copies of batch-1 docs riding IN
    batch 1 (parent + _C32_SELF keeps % 10 == 3) — the pair only the
    pre-probe keep-first step can catch."""
    return docs.where(F.col("doc_id") % 30 == 13).select(
        (F.col("doc_id") + F.lit(_C32_SELF)).alias("doc_id"),
        "lang", "text",
    )


def _crawl_words(raw: DataFrame) -> DataFrame:
    """(doc_id, lang, text, ws) rows with a non-empty word set."""
    from hcdc_spark.functions.text import distinct_words

    return raw.select(
        "doc_id", "lang", "text", distinct_words("text").alias("ws")
    ).where(F.size("ws") > 0)


def _write_c30_deltas(work: str, t: DataFrame) -> str:
    """Split the crawl into c30's THREE ordered batches and write them
    as ordered delta files under ``<work>/delta``; returns that dir.
    Batch 0 is doc_id % 30 == 3, batch 1 % 30 == 13 plus any same-batch
    self plants (>= _C32_SELF), batch 2 % 30 == 23 plus the copy/share
    plants. One flat parquet file per batch, mtimes ascending —
    FileStreamSource processes oldest-first, so with
    maxFilesPerTrigger=1 batch_id i IS delta file i."""
    import glob

    batches = [
        t.where((F.col("doc_id") % 30 == 3) & (F.col("doc_id") < _C30_COPY)),
        # the < _C30_COPY bound matters: exact-copy plants are
        # parent + 1e6 and 1e6 % 30 == 10, so plant ids ≡ 13 (mod 30)
        # — without the bound they would ride in BOTH this delta and
        # delta 2, while the oracle's bat CTE assigns them to batch 2
        # only (round-12 advice). Self plants (>= _C32_SELF) ride WITH
        # their parents in this delta by design.
        t.where(
            ((F.col("doc_id") % 30 == 13) & (F.col("doc_id") < _C30_COPY))
            | (F.col("doc_id") >= _C32_SELF)
        ),
        t.where(
            ((F.col("doc_id") % 30 == 23) & (F.col("doc_id") < _C30_COPY))
            | (
                (F.col("doc_id") >= _C30_COPY)
                & (F.col("doc_id") < _C32_SELF)
            )
        ),
    ]
    delta_dir = os.path.join(work, "delta")
    os.makedirs(delta_dir)
    now = int(os.stat(work).st_mtime)
    for i, b in enumerate(batches):
        stage = os.path.join(work, f"stage_{i}")
        b.select("doc_id", "lang", "text").coalesce(1).write.parquet(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        dst = os.path.join(delta_dir, f"d{i}.parquet")
        os.rename(part, dst)
        os.utime(dst, (now - 300 + i * 100, now - 300 + i * 100))
    return delta_dir


def _c30_setup(spark: SparkSession, sf_dir: str, work: str,
               table: str, chunk_table: str, self_plants: bool = False):
    """Build c30's corpus artifacts (doc band index + chunk index) and
    the THREE ordered delta files. Returns (docs, t, corpus_t,
    delta_dir). Shared by the driver row and the mid-drain-kill chaos
    test (tests/test_streaming.py). With ``self_plants`` (c32), batch
    1 additionally carries exact copies of its OWN docs at
    parent + _C32_SELF — the same-batch pair only the self_dedup arm
    can catch."""
    from hcdc_spark.catalog import table_path
    from hcdc_spark.operators import dedup as D
    from hcdc_spark.operators.text import write_chunk_index

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    raw = docs.select("doc_id", "lang", "text").unionByName(
        _c30_plants(docs)
    )
    if self_plants:
        raw = raw.unionByName(_c32_self_plants(docs))
    t = _crawl_words(raw)
    corpus_t = t.where(F.col("doc_id") % 10 != 3)
    D.write_doc_band_index(
        spark, corpus_t.select("doc_id", "ws"), table,
        os.path.join(work, "doc_index"),
    )
    write_chunk_index(
        spark, docs.where(F.col("doc_id") % 10 != 3), chunk_table,
        os.path.join(work, "chunk_index"),
    )
    return docs, t, corpus_t, _write_c30_deltas(work, t)


def _crawl_probe(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, table: str,
    corpus_t: DataFrame, admitted_dir: str, rejected_dir: str,
    self_dedup: bool,
) -> tuple[DataFrame, DataFrame]:
    """The probe half of the crawl admission gate: word-set the batch,
    optionally self-dedup it, probe the doc band index against corpus ∪
    admitted, log the rejections (doc_new, doc_old, batch) to
    ``rejected_dir`` and return (t_b, survivors) — t_b the (doc_id,
    lang, text, ws) batch the probe saw, survivors its rows with no
    near-dup.

    Replay safety: THIS batch's own PRIOR ADMISSIONS are excluded from
    the probe's old side. Admitted/coupling rows carry a batch stamp
    (``b``), and hits whose doc_old was admitted under the CURRENT
    batch id — possible only on a replay — are dropped (left_anti).
    Without the exclusion every replayed doc would self-match its own
    admitted band rows at Jaccard 1.0, be rejected, and the partition
    overwrite would rewrite the batch WITHOUT it. The stamp keeps the
    exclusion EXACT: a doc_id recurring across batches (a re-crawled
    page) still gates against its own earlier admission on a first run
    — anti-joining ALL batch ids would silently skip that gate and
    admit near-dups of re-crawled docs (round-13 review).

    SCOPE: the probe rejects vs corpus ∪ admitted — two near-dup copies
    arriving in the SAME batch both pass (the second is caught only
    next cycle, once the first is indexed) UNLESS ``self_dedup`` is
    set: then dedup.batch_self_neardup_keep_first runs on ``t_b``
    BEFORE the probe (q105's monotone keep-first rule — batch-sized,
    deterministic on batch content, so replay-safe by construction)
    and the pair never co-admits."""
    from pyspark.errors import AnalysisException

    from hcdc_spark.operators import dedup as D

    t_b = _crawl_words(batch_df)
    if self_dedup:
        # the within-batch step FIRST: a doc is dropped iff its exact
        # Jaccard to ANY lower-id doc in the same batch reaches the
        # threshold — the docs the corpus probe below structurally
        # cannot see (q105; batch-sized, O(|batch|))
        t_b = D.batch_self_neardup_keep_first(t_b, threshold=0.9)
    corpus_cur = corpus_t.select("doc_id", "ws")
    own_prior = None
    try:
        admitted = spark.read.parquet(admitted_dir)
        corpus_cur = corpus_cur.unionByName(admitted.select("doc_id", "ws"))
        # rows THIS batch id already admitted — non-empty only on a
        # replay (the batch stamp makes the exclusion exact)
        own_prior = (
            admitted.where(F.col("b") == batch_id)
            .select(F.col("doc_id").alias("doc_old"))
            .distinct()
        )
    except AnalysisException:
        pass  # nothing admitted yet (batch 0)
    hits = D.incremental_doc_neardup(
        spark, t_b.select("doc_id", "ws"), table, corpus_cur,
        threshold=0.9,
    )
    if own_prior is not None:
        hits = hits.join(own_prior, "doc_old", "left_anti")
    (
        hits.select("doc_new", "doc_old", F.lit(batch_id).alias("batch"))
        .distinct()
        .write.mode("append").parquet(rejected_dir)
    )
    rejected = hits.select(F.col("doc_new").alias("doc_id")).distinct()
    return t_b, t_b.join(rejected, "doc_id", "left_anti")


def _crawl_admit(
    spark: SparkSession, t_b: DataFrame, batch_id: int, landed_dir: str,
    table: str, admitted_dir: str, fault=None,
) -> DataFrame:
    """The admit half of the crawl admission gate: re-read batch
    ``batch_id``'s landed partition, write its docs' (doc_id, ws, b)
    coupling frame to ``admitted_dir``, append them to the doc band
    index and refresh it. Returns the landed partition.

    The landed rows are re-read from the sink, NOT taken from the lazy
    landing plan (whose tree may still scan an index table the caller
    appends to next). The coupling frame is written BEFORE the
    band-index append, so the index can never hold a doc the
    verify-join corpus lacks (the ordering that used to make a kill
    between the two a permanent raise_error crash loop on restart);
    its batch stamp ``b`` is _crawl_probe's replay-exclusion key.
    Duplicate admitted/index rows from a replay cost storage only,
    never decisions (probes .distinct() candidates, the verify join
    tolerates duplicate corpus rows). ``fault`` is _c30_gate's test
    seam, called between the two writes."""
    from hcdc_spark.operators import dedup as D

    landed = spark.read.parquet(landed_dir).where(
        F.col("batch") == str(batch_id)
    )
    adm = t_b.join(landed.select("doc_id"), "doc_id", "left_semi").select(
        "doc_id", "ws"
    )
    adm.withColumn("b", F.lit(batch_id)).write.mode("append").parquet(
        admitted_dir
    )
    if fault:
        fault("post_admit_write", batch_id)
    D.append_doc_band_index(spark, adm, table, batch_id=batch_id)
    spark.catalog.refreshTable(table)
    return landed


def _c30_gate(spark: SparkSession, table: str, chunk_table: str,
              corpus_t: DataFrame, clean_dir: str, admitted_dir: str,
              rejected_dir: str, fault=None, self_dedup: bool = False):
    """c30's foreachBatch: probe → reject → quality → chunk-rewrite →
    land → ADMIT (band index + chunk index + coupling frame), all
    inside the batch. Replay-idempotent by construction — a restart
    replays a batch whose admission side effects landed as ANY prefix
    of the gate, and the recompute is byte-identical (round-12 advice;
    certified by the mid-drain-kill test). The probe and admit halves
    (_crawl_probe, _crawl_admit) carry their own replay rules; this
    gate adds the chunk leg's:

    - the chunk-rewrite reference subtracts the batch's OWN
      previously-landed kept chunks (re-chunked from its clean_dir
      partition — exact, since clean_text re-chunks to the kept
      chunks): a replay after the chunk append would otherwise see
      its own chunks in the reference and land the partition empty.
      First runs and pre-append replays subtract nothing (kept chunks
      are by definition absent from the pre-batch reference).
    - the landing is a dynamic partition overwrite; a replayed chunk
      append anti-joins to nothing.

    ``fault`` is a test seam: called as fault(point, batch_id) after
    each admission side effect ('post_land', 'post_admit_write',
    'post_index_append', 'post_chunk_append') so the deterministic
    crash-window test can kill the gate at EXACTLY the prefixes the
    replay contract covers, instead of wherever q.stop() happens to
    land. Production callers pass nothing.

    c30's oracle models the gate WITHOUT the within-batch step
    (self_dedup=False — its registry contract); c32 drives the arm
    with planted same-batch copies and the q105-rule-extended
    oracle."""
    from pyspark.errors import AnalysisException

    from hcdc_spark.functions.text import quality_gate
    from hcdc_spark.operators.text import (
        append_chunk_index,
        chunk_dedup_rewrite_vs,
        corpus_chunk_hashes,
    )

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        t_b, surv = _crawl_probe(
            spark, batch_df, batch_id, table, corpus_t, admitted_dir,
            rejected_dir, self_dedup,
        )
        surv = surv.where(quality_gate())
        # replay safety: subtract the batch's OWN previously-landed
        # kept chunks from the rewrite reference (see docstring)
        ref = spark.table(chunk_table)
        try:
            prev_own = spark.read.parquet(clean_dir).where(
                (F.col("batch") == str(batch_id))
                & (F.col("clean_text") != "")
            )
            ref = ref.join(
                corpus_chunk_hashes(
                    prev_own.select(F.col("clean_text").alias("text"))
                ),
                "h", "left_anti",
            )
        except AnalysisException:
            pass  # no landings yet (first run of batch 0)
        _land(
            chunk_dedup_rewrite_vs(
                surv.select("doc_id", "lang", "text"), ref, carry=("lang",)
            ),
            batch_id, clean_dir,
        )
        if fault:
            fault("post_land", batch_id)
        # ADMIT before the next batch fires — the whole point: band
        # index, chunk index, and the verify-join coupling frame all
        # grow inside the cycle
        landed = _crawl_admit(
            spark, t_b, batch_id, clean_dir, table, admitted_dir, fault
        )
        if fault:
            fault("post_index_append", batch_id)
        append_chunk_index(
            spark,
            landed.where(F.col("clean_text") != "").select(
                F.col("clean_text").alias("text")
            ),
            chunk_table,
        )
        spark.catalog.refreshTable(chunk_table)
        if fault:
            fault("post_chunk_append", batch_id)

    return gate


def _c30_oracle(self_dedup: bool = False) -> str:
    """The ordered-batch crawl-admission fold, unrolled relationally:
    batch i's near-dup gate sees corpus ∪ admitted(<i), batch i's
    chunk rewrite sees corpus chunks ∪ kept chunks(<i) — the SQL
    mirror of per-batch admission (c26's CTE chain iterated, with the
    reference sets growing between iterations). With ``self_dedup``
    (c32) each batch CTE first applies q105's monotone keep-first rule
    over ALL within-batch pairs — docs it rejects never probe, never
    land, never admit — and batch 1 carries the same-batch plants."""
    from hcdc_spark.functions.text import duck_quality_gate
    from hcdc_spark.operators.dedup import _gate_sql, _minhash_bands_sql
    from hcdc_spark.operators.text import _flag_vs_sql, _regroup_sql

    head = _crawl_head_sql(_c30_plant_sqls(), self_dedup)
    parts = [f"""{head}, {_minhash_bands_sql()},
    ref_0 AS ({_corpus_chunks_sql()}
    )"""]
    old_ids = _CORPUS_IDS
    for i in range(3):
        gate = _gate_sql(i, f"SELECT doc_id FROM new_{i}", old_ids)
        parts.append(f""", {_batch_sql(i, self_dedup)}, {gate}, gated_{i} AS (
      SELECT doc_id, lang, text FROM new_{i}
      WHERE doc_id NOT IN (SELECT doc_new FROM rejected_{i})
        AND {duck_quality_gate()}
    ), flagged_{i} AS ({_flag_vs_sql(f"gated_{i}", f"ref_{i}")}
    ), ref_{i + 1} AS (
      SELECT h FROM ref_{i}
      UNION
      SELECT md5(txt) AS h FROM flagged_{i} WHERE keep
    ), rewritten_{i} AS ({_regroup_sql(f"flagged_{i}")}
    )""")
        old_ids += f" UNION SELECT doc_id FROM gated_{i}"
    parts.append("""
    SELECT batch, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
           CAST(SUM(n_kept) AS BIGINT) AS n_kept,
           CAST(SUM(LENGTH(clean_text)) AS BIGINT) AS clean_chars
    FROM (
      SELECT 0 AS batch, * FROM rewritten_0
      UNION ALL SELECT 1 AS batch, * FROM rewritten_1
      UNION ALL SELECT 2 AS batch, * FROM rewritten_2
    )
    GROUP BY batch, lang
    ORDER BY batch, lang
    """)
    return "".join(parts)


def _crawl_head_sql(plants: tuple[str, ...], self_dedup: bool) -> str:
    """The opening CTEs of the ordered-crawl oracles (c30-c33): ``raw``
    (documents plus the planted rows of ``plants`` and, with
    ``self_dedup``, the same-batch copies of _c32_self_plants), ``t``
    (its rows with a non-empty word set) and ``bat`` (each new doc's
    batch number, as _write_c30_deltas splits them)."""
    from hcdc_spark.operators.dedup import _DW

    self_case = ""
    if self_dedup:
        plants += (f"""
      SELECT documents.doc_id + {_C32_SELF} AS doc_id, lang, text
      FROM documents WHERE doc_id % 30 = 13 AND len({_DW}) > 0
    """,)
        self_case = f"WHEN doc_id >= {_C32_SELF} THEN 1\n{' ' * 26}"
    unions = "".join(f"\n      UNION ALL {p}" for p in plants)
    return f"""
    WITH raw AS (
      SELECT doc_id, lang, text FROM documents{unions}
    ), t AS (
      SELECT doc_id, lang, text, {_DW} AS ws FROM raw
      WHERE len({_DW}) > 0
    ), bat AS (
      SELECT doc_id, CASE {self_case}WHEN doc_id >= {_C30_COPY} THEN 2
                          WHEN doc_id % 30 = 3 THEN 0
                          WHEN doc_id % 30 = 13 THEN 1
                          ELSE 2 END AS bno
      FROM t WHERE doc_id % 10 = 3
    )"""


def _batch_sql(i: int, self_dedup: bool) -> str:
    """Batch ``i``'s CTEs in the ordered-crawl oracles (c30-c33):
    ``b_<i>`` its ``t`` rows, ``new_<i>`` the ones that reach the
    corpus gate — with ``self_dedup``, minus q105's keep-first rejects
    within the batch, applied BEFORE the gate as the engine does."""
    from hcdc_spark.operators.dedup import _keep_first_sql

    keep = (
        f"\n      WHERE doc_id NOT IN ({_keep_first_sql(f'b_{i}')})"
        if self_dedup else ""
    )
    return f"""b_{i} AS (
      SELECT * FROM t WHERE doc_id IN (SELECT doc_id FROM bat WHERE bno = {i})
    ), new_{i} AS (
      SELECT * FROM b_{i}{keep}
    )"""


@REG.add(
    "c30_crawl_batch_admission",
    _c30_oracle(),
    doc="The crawl loop with PER-BATCH admission — the increment c26 "
    "leaves on the table: c26 admits survivors to the corpus indexes "
    "AFTER the drain (its gate decisions depend only on the static "
    "corpus, micro-batch-order-invariant by design), while a real "
    "incremental crawl admits INSIDE each cycle so batch N+1's gates "
    "see batch N's admissions. Here three document batches (a "
    "deterministic doc_id % 30 split, file order pinned by mtime, "
    "maxFilesPerTrigger=1) stream through one query whose "
    "foreachBatch (1) probes the MinHash band index and rejects "
    "Jaccard >= 0.9 vs corpus ∪ PREVIOUSLY ADMITTED docs, (2) "
    "applies the quality gates, (3) chunk-rewrites vs corpus chunks "
    "∪ previously KEPT chunks, (4) lands under the batch partition, "
    "and (5) admits — append_doc_band_index + append_chunk_index + "
    "the corpus-coupling frame — BEFORE the next batch fires. Batch "
    "2 carries PLANTED evidence that admission actually happened: "
    "exact copies of batch-0 docs (must be rejected against the "
    "batch-0 ADMISSIONS — their parents are not in the corpus; "
    "asserted in-row from the persisted rejection pairs, a miss "
    "raises) and chunk-share plants (parent's first 10-token chunk + "
    "unique filler: land, but the shared chunk is dropped against "
    "batch-0's KEPT chunks — asserted not-in-corpus-chunks in-row). "
    "The oracle unrolls the ordered fold relationally: c26's CTE "
    "chain iterated 3x with the near-dup old-side and the chunk "
    "reference GROWING between iterations (gated_i feeds old_ids and "
    "ref_{i+1}) — hash-exact per (batch, lang) rollup. Per-cycle "
    "cost stays O(|batch|): the admissions ride the bucketed appends "
    "(one file per bucket), the probes stay band-dir-pruned.",
    tags=("streaming", "dedup", "text", "pipeline", "index"),
)
def c30_crawl_batch_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hcdc_spark.operators.text import corpus_chunk_hashes

    table = "hcdc_doc_band_index_c30"
    chunk_table = "hcdc_chunk_index_c30"
    work = tempfile.mkdtemp(prefix="hcdc_c30_")
    try:
        docs, t, corpus_t, delta_dir = _c30_setup(
            spark, sf_dir, work, table, chunk_table
        )
        corpus_docs = docs.where(F.col("doc_id") % 10 != 3)
        clean_dir = os.path.join(work, "clean")
        admitted_dir = os.path.join(work, "admitted")
        rejected_dir = os.path.join(work, "rejected")
        gate = _c30_gate(
            spark, table, chunk_table, corpus_t,
            clean_dir, admitted_dir, rejected_dir,
        )
        with _small_shuffle(spark):
            _drain_batches(
                spark, _DOC_SCHEMA, delta_dir, gate,
                os.path.join(work, "ckpt"), "c30_crawl_batch_admission",
            )

        # teeth: the planted evidence that admission happened PER
        # BATCH, not post-drain. A miss raises → the driver row reds.
        rej = spark.read.parquet(rejected_dir)
        cross = rej.where(
            (F.col("batch") == 2)
            & (F.col("doc_new") >= _C30_COPY)
            & (F.col("doc_new") < _C30_SHARE)
            & (F.col("doc_old") % 10 == 3)
            & (F.col("doc_old") < _C30_COPY)
        ).count()
        if cross == 0:
            raise AssertionError(
                "c30: no batch-2 exact-copy plant was rejected against "
                "a batch-0 ADMISSION — per-batch admission is broken "
                "(the gate only saw the static corpus)"
            )
        landed_all = spark.read.parquet(clean_dir)
        share_drops = landed_all.where(
            (F.col("doc_id") >= _C30_SHARE)
            & (F.col("n_kept") < F.col("n_chunks"))
        )
        # attribute at least one drop to an EARLIER BATCH's kept
        # chunks (not the static corpus): the plant's shared chunk is
        # its parent's chunk 0 — absent from the corpus chunk set
        dropped_first = (
            t.where(
                (F.col("doc_id") % 30 == 3) & (F.col("doc_id") < _C30_COPY)
            )
            .select(
                (F.col("doc_id") + F.lit(_C30_SHARE)).alias("doc_id"),
                F.md5(
                    F.concat_ws(
                        " ", F.slice(F.split("text", " "), 1, 10)
                    )
                ).alias("h0"),
            )
            .join(share_drops, "doc_id", "left_semi")
            .join(corpus_chunk_hashes(corpus_docs),
                  F.col("h0") == F.col("h"), "left_anti")
        )
        if dropped_first.count() == 0:
            raise AssertionError(
                "c30: no chunk-share plant dropped its parent's chunk "
                "against an earlier batch's KEPT chunks — chunk-index "
                "admission inside the cycle is broken"
            )
        out = (
            landed_all.groupBy(
                F.col("batch").cast("int").alias("batch"), "lang"
            )
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chunks").cast("long").alias("n_chunks"),
                F.sum("n_kept").cast("long").alias("n_kept"),
                F.sum(F.length("clean_text").cast("long"))
                .cast("long")
                .alias("clean_chars"),
            )
            .orderBy("batch", "lang")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {chunk_table}")
        shutil.rmtree(work, ignore_errors=True)


@REG.add(
    "c32_crawl_self_dedup_gate",
    _c30_oracle(self_dedup=True),
    doc="The crawl admission loop with the WITHIN-BATCH self-dedup "
    "arm composed in (round-12 verdict 'next' #3): c30's per-batch "
    "admission gate with self_dedup=True, so each micro-batch first "
    "runs dedup.batch_self_neardup_keep_first (q105's monotone "
    "keep-first rule: a doc is dropped iff its exact word-set Jaccard "
    "to ANY lower-id doc in the SAME batch reaches 0.9 — the pair the "
    "corpus probe structurally cannot see, since neither copy is "
    "indexed yet) and only the survivors probe the band index, pass "
    "quality, chunk-rewrite, land and admit. Batch 1 carries planted "
    "SAME-batch exact copies of its own docs (parent + 3e6): the "
    "in-row teeth assert NO self plant ever lands (the pair never "
    "co-admits — a hit raises, the driver row reds) while at least "
    "one plant PARENT does (keep-first kept the right side). c30's "
    "cross-batch plants stay in place, so per-batch admission is "
    "re-proven in the same run. Oracle: c30's ordered-batch CTE chain "
    "with q105's all-pairs rule applied to each batch CTE before "
    "gating — hash-exact per (batch, lang) rollup, which also "
    "certifies banding recall at the 0.9 threshold (the oracle "
    "computes ALL pairs; the engine only banded candidates). The "
    "step is batch-sized — O(|batch|) banded self-join per trigger, "
    "never corpus-touching — so the composed gate keeps c30's "
    "O(|batch|) per-cycle cost.",
    tags=("streaming", "dedup", "text", "pipeline", "index", "lsh"),
)
def c32_crawl_self_dedup_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    table = "hcdc_doc_band_index_c32"
    chunk_table = "hcdc_chunk_index_c32"
    work = tempfile.mkdtemp(prefix="hcdc_c32_")
    try:
        docs, t, corpus_t, delta_dir = _c30_setup(
            spark, sf_dir, work, table, chunk_table, self_plants=True
        )
        clean_dir = os.path.join(work, "clean")
        admitted_dir = os.path.join(work, "admitted")
        rejected_dir = os.path.join(work, "rejected")
        gate = _c30_gate(
            spark, table, chunk_table, corpus_t,
            clean_dir, admitted_dir, rejected_dir, self_dedup=True,
        )
        with _small_shuffle(spark):
            _drain_batches(
                spark, _DOC_SCHEMA, delta_dir, gate,
                os.path.join(work, "ckpt"), "c32_crawl_self_dedup_gate",
            )

        landed_all = spark.read.parquet(clean_dir)
        # teeth: the same-batch pair NEVER co-admits — no self plant
        # (an exact copy of a doc in its own batch) may land, ever
        leaked = landed_all.where(
            F.col("doc_id") >= _C32_SELF
        ).count()
        if leaked:
            raise AssertionError(
                f"c32: {leaked} same-batch cop(ies) co-admitted — the "
                "self-dedup arm is not running before the gate"
            )
        # ... and non-vacuously: at least one plant PARENT landed
        # (keep-first kept the lower id of the planted pair)
        parents_landed = (
            t.where(F.col("doc_id") >= _C32_SELF)
            .select(
                (F.col("doc_id") - F.lit(_C32_SELF)).alias("doc_id")
            )
            .join(landed_all.where(F.col("batch") == "1"), "doc_id",
                  "left_semi")
            .count()
        )
        if parents_landed == 0:
            raise AssertionError(
                "c32: no planted parent landed — keep-first dropped "
                "the wrong side (or the plants missed the batch)"
            )
        out = (
            landed_all.groupBy(
                F.col("batch").cast("int").alias("batch"), "lang"
            )
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chunks").cast("long").alias("n_chunks"),
                F.sum("n_kept").cast("long").alias("n_kept"),
                F.sum(F.length("clean_text").cast("long"))
                .cast("long")
                .alias("clean_chars"),
            )
            .orderBy("batch", "lang")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {chunk_table}")
        shutil.rmtree(work, ignore_errors=True)


def _c31_oracle(self_dedup: bool = False) -> str:
    """c30's ordered-batch admission fold with a DELETE SET applied
    between iterations: iteration 0's old side is the corpus, and
    every later iteration's old side is (corpus ∪ admissions so far)
    EXCEPT the takedown set — the relational mirror of
    delete_from_band_index firing at the top of cycle 2 (batch 1).
    No chunk leg (c31 isolates the index-lifecycle verb; c30 carries
    the chunk story). With ``self_dedup`` (c33 — the COMPOSITION row
    the round-13 verdict mandated, 'next' #4) batch 1 additionally
    carries exact SAME-batch copies of its own docs and each batch
    CTE first applies q105's monotone keep-first rule — the two new
    round-13 verbs (takedown, self-dedup) proven in ONE gate, both
    firing in cycle 2."""
    from hcdc_spark.operators.dedup import _gate_sql, _minhash_bands_sql

    exact, _ = _c30_plant_sqls()
    head = f"""{_crawl_head_sql((exact,), self_dedup)}, del AS (
      SELECT doc_id FROM t
      WHERE doc_id % 60 = 3 AND doc_id < {_C30_COPY}
    ), {_minhash_bands_sql()}"""
    parts = [head]
    old_ids = _CORPUS_IDS
    for i in range(3):
        live = old_ids if i == 0 else (
            f"{old_ids} EXCEPT SELECT doc_id FROM del"
        )
        gate = _gate_sql(i, f"SELECT doc_id FROM new_{i}", live)
        parts.append(f""", {_batch_sql(i, self_dedup)}, {gate}, gated_{i} AS (
      SELECT doc_id, lang, len(ws) AS n_words FROM new_{i}
      WHERE doc_id NOT IN (SELECT doc_new FROM rejected_{i})
    )""")
        old_ids += f" UNION SELECT doc_id FROM gated_{i}"
    parts.append("""
    SELECT batch, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words
    FROM (
      SELECT 0 AS batch, * FROM gated_0
      UNION ALL SELECT 1 AS batch, * FROM gated_1
      UNION ALL SELECT 2 AS batch, * FROM gated_2
    )
    GROUP BY batch, lang
    ORDER BY batch, lang
    """)
    return "".join(parts)


@REG.add(
    "c31_index_takedown",
    _c31_oracle(),
    doc="Index TAKEDOWN inside the per-batch admission loop — the "
    "lifecycle verb the round-12 verdict mandated (#2; reference "
    "analog: the delete-state leg of T27, CDCChangeDeltaProcessor."
    "java:122-138 / FileStateHelper.markDeleted): three document "
    "batches stream through c30's admission gate halves (probe the "
    "MinHash band index vs corpus ∪ previously admitted, reject "
    "Jaccard >= 0.9, land, admit), and AT THE TOP OF CYCLE 2 a "
    "takedown set (every doc_id % 60 == 3 — half of batch 0's "
    "admissions) is DELETED via delete_from_band_index: an "
    "O(|ids|) tombstone append, no index rewrite, probes anti-join "
    "it broadcast with the index side still bucket-aligned "
    "(plan-gated in tests/test_plans.py). Batch 2 carries planted "
    "BYTE-IDENTICAL copies of every batch-0 doc: copies of DELETED "
    "parents must ADMIT (the takedown removed the only >= 0.9 match "
    "— asserted in-row from the landed partition) while copies of "
    "KEPT parents must be REJECTED against them (deletes are "
    "id-targeted, not a wipe — asserted from the rejection pairs), "
    "and no rejection anywhere may cite a deleted doc_old (asserted; "
    "a miss raises, the driver row reds). The ANN half runs in-row "
    "too: an IVF-PQ index is built, the top result deleted via "
    "delete_from_ivfpq_index, and the re-search must not return it. "
    "Oracle: c30's ordered-batch CTE chain with the delete set "
    "EXCEPTed from every later iteration's old side — hash-exact per "
    "(batch, lang) rollup. Generation discipline: the tombstone at "
    "gen 1 kills the build (-1) and batch-0 (0) rows, while later "
    "admissions (gen >= 2) of the same id would serve again; "
    "compaction physically drops the dead rows and clears the "
    "tombstones (pytest-gated lifecycle).",
    tags=("streaming", "dedup", "index", "maintenance"),
)
def c31_index_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _c31_run(spark, sf_dir, self_dedup=False)


def _c31_run(
    spark: SparkSession, sf_dir: str, self_dedup: bool
) -> DataFrame:
    """Shared engine for c31 (takedown alone) and c33 (takedown
    COMPOSED with the self-dedup arm): c30's admission loop
    with delete_from_band_index firing at the top of cycle 2 —
    and, when ``self_dedup``, batch 1 carrying exact SAME-batch copies
    of its own docs (parent + _C32_SELF) that only the pre-probe
    keep-first step can catch. Both verbs therefore act in the SAME
    cycle, which is the composition c31/c32 each proved only half of
    (round-13 verdict 'next' #4)."""
    from hcdc_spark.catalog import table_path
    from hcdc_spark.operators import dedup as D
    from hcdc_spark.operators import similarity as S

    tag = "c33" if self_dedup else "c31"
    table = f"hcdc_doc_band_index_{tag}"
    work = tempfile.mkdtemp(prefix=f"hcdc_{tag}_")
    try:
        docs = spark.read.parquet(table_path(sf_dir, "documents"))
        # c31's plants: byte-identical batch-2 copies of every batch-0
        # doc (c30's exact-copy plants, without the chunk-share ones)
        raw = docs.select("doc_id", "lang", "text").unionByName(
            _c30_plants(docs).where(F.col("doc_id") < _C30_SHARE)
        )
        if self_dedup:
            raw = raw.unionByName(_c32_self_plants(docs))
        t = _crawl_words(raw)
        corpus_t = t.where(F.col("doc_id") % 10 != 3)
        D.write_doc_band_index(
            spark, corpus_t.select("doc_id", "ws"), table,
            os.path.join(work, "doc_index"),
        )
        delta_dir = _write_c30_deltas(work, t)
        del_ids = sorted(
            r["doc_id"]
            for r in t.where(
                (F.col("doc_id") % 60 == 3) & (F.col("doc_id") < _C30_COPY)
            ).select("doc_id").collect()
        )
        landed_dir = os.path.join(work, "landed")
        admitted_dir = os.path.join(work, "admitted")
        rejected_dir = os.path.join(work, "rejected")

        def gate(batch_df: DataFrame, batch_id: int) -> None:
            # c30's probe and admit halves minus the chunk leg and the
            # quality filter, plus the takedown. The takedown arrives
            # WITH cycle 2 — before its probe, so this cycle's and
            # every later cycle's gates see it. Replayed deletes append
            # duplicate tombstone rows: same max-generation, same
            # decisions.
            if batch_id == 1:
                S.delete_from_band_index(spark, table, del_ids, batch_id=1)
            t_b, surv = _crawl_probe(
                spark, batch_df, batch_id, table, corpus_t, admitted_dir,
                rejected_dir, self_dedup,
            )
            _land(
                surv.select("doc_id", "lang", F.size("ws").alias("n_words")),
                batch_id, landed_dir,
            )
            _crawl_admit(
                spark, t_b, batch_id, landed_dir, table, admitted_dir
            )

        with _small_shuffle(spark):
            _drain_batches(
                spark, _DOC_SCHEMA, delta_dir, gate,
                os.path.join(work, "ckpt"), f"{tag}_index_takedown",
            )

        # teeth 1: no rejection anywhere cites a deleted doc_old
        rej = spark.read.parquet(rejected_dir)
        ghosts = rej.where(F.col("doc_old").isin(del_ids)).count()
        if ghosts:
            raise AssertionError(
                f"{tag}: {ghosts} rejection(s) cite a DELETED doc_old "
                "— the tombstone anti-join is not reaching the probe"
            )
        landed_all = spark.read.parquet(landed_dir)
        adm0 = set(
            r["doc_id"]
            for r in landed_all.where(F.col("batch") == "0")
            .select("doc_id").collect()
        )
        # teeth 2: a byte-identical copy of an admitted-then-DELETED
        # parent ADMITS in cycle 3
        deleted_admitted = [d for d in del_ids if d in adm0]
        if not deleted_admitted:
            raise AssertionError(f"{tag}: takedown set hit no admission")
        readmitted = landed_all.where(
            F.col("doc_id").isin(
                [d + _C30_COPY for d in deleted_admitted]
            )
        ).count()
        if readmitted == 0:
            raise AssertionError(
                f"{tag}: no copy of a deleted parent was re-admitted "
                "— the takedown did not free its near-dup slot"
            )
        # teeth 3: copies of KEPT parents still reject AGAINST them
        kept = [d for d in sorted(adm0) if d not in del_ids]
        targeted = rej.where(
            (F.col("batch") == 2)
            & F.col("doc_old").isin(kept)
            & (F.col("doc_new") == F.col("doc_old") + _C30_COPY)
        ).count()
        if targeted == 0:
            raise AssertionError(
                f"{tag}: no kept parent rejected its own copy — the "
                "delete wiped more than its id set"
            )
        if self_dedup:
            # teeth 5 (c33, the COMPOSITION): no same-batch plant may
            # land — its parent rides in the same delta at Jaccard
            # 1.0, so the keep-first step must drop it even while the
            # takedown is freeing batch-0 slots in the same cycle —
            # and the parents themselves must still be subject to the
            # normal gates (at least one landed proves keep-first
            # didn't nuke the batch)
            leaked = landed_all.where(
                F.col("doc_id") >= _C32_SELF
            ).count()
            if leaked:
                raise AssertionError(
                    f"c33: {leaked} same-batch cop(ies) co-admitted "
                    "alongside the takedown — self_dedup and delete "
                    "do not compose"
                )
            if landed_all.where(
                (F.col("batch") == "1") & (F.col("doc_id") < _C30_COPY)
            ).count() == 0:
                raise AssertionError(
                    "c33: no batch-1 parent landed — keep-first "
                    "dropped originals, not just copies"
                )
        else:
            # teeth 4 (the ANN half, c31 only — c33 isolates the doc
            # gate): a deleted vector stops being returned
            emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
            qv = emb.where(F.col("vec_id") == 0).select(
                "embedding"
            ).collect()[0][0]
            idx = os.path.join(work, "ivfpq")
            S.write_ivfpq_index(spark, emb, idx)
            victim = S.ivfpq_index_search(
                spark, idx, qv, exclude_id=0
            ).collect()[0]["vec_id"]
            S.delete_from_ivfpq_index(spark, idx, [victim], batch_id=1)
            still = {
                r["vec_id"]
                for r in S.ivfpq_index_search(
                    spark, idx, qv, exclude_id=0
                ).collect()
            }
            if victim in still:
                raise AssertionError(
                    f"c31: deleted vector {victim} still returned by "
                    "the IVF-PQ search"
                )
        out = (
            landed_all.groupBy(
                F.col("batch").cast("int").alias("batch"), "lang"
            )
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_words").cast("long").alias("n_words"),
            )
            .orderBy("batch", "lang")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(work, ignore_errors=True)


@REG.add(
    "c33_takedown_self_dedup_gate",
    _c31_oracle(self_dedup=True),
    doc="The two round-13 lifecycle verbs COMPOSED in one admission "
    "gate (round-13 verdict 'next' #4): c31 proved the takedown "
    "inside a c30-style loop WITHOUT the self-dedup arm, c32 proved "
    "the self-dedup arm WITHOUT a takedown — this row runs BOTH in "
    "the same cycle. Batch 1 carries exact SAME-batch copies of its "
    "own docs (parent + 3e6 — the pair the corpus probe structurally "
    "cannot catch) while delete_from_band_index fires at the top "
    "of that very cycle (tombstoning half of batch 0's admissions), "
    "and batch 2 carries byte-identical copies of every batch-0 doc. "
    "All the individual teeth hold simultaneously: no rejection "
    "cites a deleted doc_old, deleted parents' copies RE-ADMIT, kept "
    "parents' copies still REJECT, and — the composition tooth — no "
    "same-batch plant ever lands (q105's keep-first rule drops it "
    "against its in-batch parent even while the takedown is freeing "
    "slots in the same trigger). Oracle: c31's ordered-batch CTE "
    "chain with BOTH the per-batch keep-first selfrej CTE (c32's "
    "extension) and the delete set EXCEPTed from later old sides — "
    "hash-exact per (batch, lang) rollup. Both oracles already "
    "existed as parameters of the shared builder; the composition is "
    "one flag, which is the point: the verbs were designed to "
    "commute.",
    tags=("streaming", "dedup", "index", "maintenance"),
)
def c33_takedown_self_dedup_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _c31_run(spark, sf_dir, self_dedup=True)


def _c28_oracle() -> str:
    # The admitted set is banding-INVARIANT by construction (see the
    # registry doc): planted rejects are EXACT vector copies, which
    # collide with their source in every band of every geometry, and
    # fresh synthetic vectors never reach the 0.99 verify threshold
    # (the corpus' max cross-cosine is < 0.9 — the q100 doc's measured
    # property). So the oracle is pure slice arithmetic over the same
    # relative splits the engine computes.
    return """
    WITH n AS (SELECT COUNT(*) AS c FROM embeddings),
         p AS (
           -- FLOOR, not CAST: CAST rounds in DuckDB while the engine's
           -- int() truncates; both sides must floor the same double
           SELECT CAST(FLOOR(0.48 * c) AS BIGINT) AS n0,
                  CAST(FLOOR(0.16 * c) AS BIGINT) AS g
           FROM n
         )
    SELECT CAST(1 + (vec_id - n0) // g AS INT) AS cycle, vec_id
    FROM embeddings, p
    WHERE vec_id >= n0 AND vec_id < n0 + 3 * g
    ORDER BY vec_id
    """


@REG.add(
    "c28_stream_rebuild_cycle",
    _c28_oracle(),
    doc="The index GROWTH LOOP closed end-to-end inside the ingest "
    "stream (round-10 verdict next #4): a hyperplane (scale-geometry) "
    "band index serves a 3-cycle dedup-on-ingest loop in which the "
    "admitted corpus DOUBLES (0.48N -> 0.96N), so the "
    "neardup_scaled_bits crossing fires EXACTLY once mid-loop — a "
    "factor-2 growth window always contains one ceil(log2) increment, "
    "making the trigger scale-factor-independent by construction — "
    "and rebuild_band_index re-bands the live index at the geometry "
    "the grown corpus calls for while the stream keeps ingesting "
    "against it. Each cycle drains one availableNow micro-batch "
    "(shared checkpoint), probes via incremental_neardup_pairs (the "
    "pruned band-partitioned read), rejects verified near-dups, lands "
    "survivors idempotently, admits them via append_band_index "
    "(n_rows statistic feeds the policy), checks "
    "band_index_needs_rebuild, and rebuilds when it fires. The "
    "deltas plant EXACT COPIES of (a) pre-stream corpus vectors and "
    "(b) cycle-1 ADMITTED vectors re-delivered in cycle 3 — the "
    "post-rebuild index must still reject text admitted before the "
    "rebuild, proving the re-banded artifact serves, not a stale "
    "generation. Copies collide in EVERY band of EVERY geometry "
    "(identical vector -> identical bucket), so admissions are "
    "banding-invariant and the oracle is static slice arithmetic "
    "even though bits/bands are runtime-sized. Engine-side invariants "
    "RAISE on violation (driver would record err): the rebuild fired "
    "exactly once, the policy is quiet at end-of-run, and a final "
    "keep-latest compaction lands on exactly n_bands_final x "
    "|corpus_final| rows. Per-cycle cost is O(|batch|) probe + "
    "O(|survivors|) append; the rebuild is corpus-linear and "
    "explicitly OFFLINE-priced (c27/COVERAGE scale table).",
    tags=("streaming", "dedup", "lsh", "index", "pipeline",
          "maintenance"),
)
def c28_stream_rebuild_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hcdc_spark.catalog import table_path
    from hcdc_spark.operators import similarity as S

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    n_total = emb.count()
    n0 = int(0.48 * n_total)
    g = int(0.16 * n_total)
    corpus0 = emb.where(F.col("vec_id") < n0)
    slices = [
        emb.where((F.col("vec_id") >= n0 + k * g)
                  & (F.col("vec_id") < n0 + (k + 1) * g))
        for k in range(3)
    ]
    # planted rejects: exact copies under shifted ids — (a) of the
    # pre-stream corpus (every cycle), (b) of cycle-1's FRESH vectors,
    # re-delivered in cycle 3 (post-rebuild rejection proof)
    def copies(src: DataFrame, modulus: int, shift: int) -> DataFrame:
        return src.where(F.col("vec_id") % modulus == 0).select(
            (F.col("vec_id") + shift).alias("vec_id"), "label", "embedding"
        )

    deltas = [
        slices[0].unionByName(copies(corpus0, 7, 1_000_000)),
        slices[1].unionByName(copies(corpus0, 11, 1_100_000)),
        slices[2]
        .unionByName(copies(corpus0, 13, 1_200_000))
        .unionByName(copies(slices[0], 3, 2_000_000)),
    ]

    table = "hcdc_band_index_c28"
    work = tempfile.mkdtemp(prefix="hcdc_c28_")
    try:
        bits = S.neardup_scaled_bits(n0)
        bands = S.neardup_scaled_bands(bits)
        S.write_band_index(
            spark, corpus0, table, os.path.join(work, "band_index"),
            n_bands=bands, bits=bits, geometry="hyperplane",
        )
        clean_dir = os.path.join(work, "clean")
        delta_dir = os.path.join(work, "delta")
        rebuilds: list[int] = []
        corpus_now = corpus0

        with _small_shuffle(spark):
            for cycle, delta in enumerate(deltas, start=1):
                delta.coalesce(1).write.mode("overwrite").parquet(
                    os.path.join(delta_dir, f"cycle_{cycle}")
                )
                meta = S.read_band_index_meta(spark, table)
                corpus_ref = corpus_now  # pin for the closure

                def gate(batch_df: DataFrame, batch_id: int,
                         _cy=cycle, _meta=meta, _corpus=corpus_ref) -> None:
                    hits = (
                        S.incremental_neardup_pairs(
                            spark, batch_df, table, _corpus,
                            threshold=0.99,
                            n_bands=_meta["n_bands"], bits=_meta["bits"],
                            geometry="hyperplane",
                        )
                        .select(F.col("vec_new").alias("vec_id"))
                        .distinct()
                    )
                    _land(
                        batch_df.join(hits, "vec_id", "left_anti")
                        .select("vec_id", "label", "embedding"),
                        _cy, clean_dir,
                    )

                _drain_batches(
                    spark, delta.schema,
                    os.path.join(delta_dir, f"cycle_{cycle}"), gate,
                    os.path.join(work, f"ckpt_{cycle}"),
                    "c28_stream_rebuild_cycle",
                )

                survivors = spark.read.parquet(clean_dir).where(
                    F.col("batch") == cycle
                ).select("vec_id", "label", "embedding")
                S.append_band_index(
                    spark, survivors, table,
                    n_bands=meta["n_bands"], bits=meta["bits"],
                    geometry="hyperplane", batch_id=cycle,
                )
                corpus_now = corpus_now.unionByName(survivors)
                if S.band_index_needs_rebuild(spark, table):
                    S.rebuild_band_index(spark, corpus_now, table)
                    rebuilds.append(cycle)

        # engine-side invariants: violations raise -> driver records err
        if len(rebuilds) != 1:
            raise AssertionError(
                f"c28: expected exactly one bits crossing in a 2x "
                f"growth window, got rebuilds at cycles {rebuilds}"
            )
        if S.band_index_needs_rebuild(spark, table):
            raise AssertionError("c28: policy still firing at end-of-run")
        final_meta = S.read_band_index_meta(spark, table)
        n_rows = S.compact_band_index(spark, table)
        n_final = corpus_now.count()
        if n_rows != final_meta["n_bands"] * n_final:
            raise AssertionError(
                f"c28: compacted index has {n_rows} rows, want "
                f"n_bands({final_meta['n_bands']}) x corpus({n_final})"
            )

        out = (
            spark.read.parquet(clean_dir)
            .select(F.col("batch").cast("int").alias("cycle"), "vec_id")
            .orderBy("vec_id")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__stage")
        shutil.rmtree(work, ignore_errors=True)
