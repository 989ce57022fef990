"""Streaming reconciler + watermarked windows: semantic gates.

The key invariant: the streaming fold (applyInPandasWithState across
micro-batches, with a checkpoint restart in the middle) produces exactly
the same file_state table as the batch reconciler over the same event
log — one state machine, two execution modes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hcdc_spark.cdc.generator import events_df, generate_events
from hcdc_spark.cdc.reconcile import reconcile_batch
from hcdc_spark.streaming.pipeline import run_cdc_pipeline
from hcdc_spark.streaming.reconciler import latest_state
from hcdc_spark.streaming.source import write_event_segment
from hcdc_spark.streaming import windows


def _comparable(df):
    """file_state rows → canonical comparable tuples (blocks summarized:
    full nested-equality is covered by the batch golden tests)."""
    rows = df.select(
        "inode_id", "path", "num_blocks", "data_size", "last_tx_id",
        "file_type", "state",
        F.expr(
            "aggregate(coalesce(blocks, array()), 0L,"
            " (acc, b) -> acc + coalesce(size(b.deltas), 0))"
        ).alias("n_deltas"),
    ).collect()
    return sorted(tuple(r) for r in rows)


@pytest.fixture(scope="module")
def event_log():
    # no dir ops: directory cascades are a foreachBatch pre-pass, and the
    # stream test exercises the stateful fold itself.
    return generate_events(
        n_files=40, seed=7, with_dir_ops=False, with_duplicates=True
    )


@pytest.fixture(scope="module")
def error_log():
    """The event_log shape plus the reconciler's error cases: a ghost
    APPEND and an IGNORE-only inode (Unknown stubs, with and without an
    error row), a duplicate ADD_FILE, ERROR/CONCAT_DELETE on live and
    deleted files."""
    return generate_events(
        n_files=40, seed=7, with_dir_ops=False, with_duplicates=True,
        with_anomalies=True, with_recreates=True,
    )


def test_stream_matches_batch_across_restart(spark, tmp_path, error_log):
    """State, dead-letter rows and Unknown stubs of the stream (two
    queries over one checkpoint) equal the batch fold's."""
    from hcdc_spark.cdc.reconcile import reconcile_errors

    src = str(tmp_path / "segments")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    third = len(error_log) // 3
    write_event_segment(
        spark, error_log[:third], src, "edits_0000001"
    )
    write_event_segment(
        spark, error_log[third : 2 * third], src, "edits_0000002"
    )

    q = run_cdc_pipeline(
        spark, src, out, ckpt, max_files_per_trigger=1, available_now=True
    )
    q.awaitTermination(120)

    # restart with more segments arriving — checkpoint must resume state
    write_event_segment(
        spark, error_log[2 * third :], src, "edits_0000003"
    )
    # replay of segment 2 events inside 3 would be deduped by T4 anyway;
    # here segment 3 is new data after a cold restart.
    q2 = run_cdc_pipeline(
        spark, src, out, ckpt, max_files_per_trigger=1, available_now=True
    )
    q2.awaitTermination(120)

    batch_fold = reconcile_batch(
        events_df(spark, error_log), expand_dirs=False
    )
    stream_state = latest_state(spark, out)

    assert _comparable(stream_state) == _comparable(batch_fold.drop("errors"))

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    batch_errors = rows(reconcile_errors(batch_fold))
    assert batch_errors  # the log plants errors
    stream_errors = spark.read.parquet(f"{out}/errors")
    assert rows(stream_errors.drop("batch_id")) == batch_errors

    def stubs(df):
        return rows(df.where(F.col("state") == "Unknown").select("inode_id"))

    assert stubs(batch_fold) and stubs(stream_state) == stubs(batch_fold)


def test_stream_duplicate_replay_is_noop(spark, tmp_path, event_log):
    """Re-delivering an already-processed segment must not change state
    (T4 guard under at-least-once delivery)."""
    src = str(tmp_path / "segments")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    write_event_segment(spark, event_log, src, "edits_0000001")
    q = run_cdc_pipeline(spark, src, out, ckpt, available_now=True)
    q.awaitTermination(120)
    before = _comparable(latest_state(spark, out))

    # same events, new file name → source treats it as new input
    write_event_segment(spark, event_log[: len(event_log) // 2], src,
                        "edits_0000001_replay")
    q2 = run_cdc_pipeline(spark, src, out, ckpt, available_now=True)
    q2.awaitTermination(120)
    after = _comparable(latest_state(spark, out))
    assert before == after


def test_windowed_op_rates(spark, tmp_path, event_log):
    """Watermarked tumbling window counts == batch groupBy on the same
    minute buckets (availableNow drains everything, so no late drops)."""
    src = str(tmp_path / "segments")
    write_event_segment(spark, event_log, src, "edits_0000001")
    from hcdc_spark.streaming.source import read_event_stream

    stream = read_event_stream(spark, src)
    agg = windows.op_rates(stream, window="1 minute")
    # complete mode: append would hold back the final (still-open) windows
    # that the end-of-stream watermark never passes.
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("op_rates_test")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["win"]["start"], r["op"]): r["n_events"]
        for r in spark.sql("select * from op_rates_test").collect()
    }

    expected = {
        (r["ws"], r["op"]): r["n"]
        for r in events_df(spark, event_log)
        .select(
            F.window(F.timestamp_millis("ts"), "1 minute")["start"].alias("ws"),
            "op",
        )
        .groupBy("ws", "op")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected


def test_streaming_dedup_events(spark, tmp_path, event_log):
    src = str(tmp_path / "segments")
    write_event_segment(spark, event_log, src, "edits_0000001")
    from hcdc_spark.streaming.source import read_event_stream

    stream = windows.dedup_events(read_event_stream(spark, src))
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_test")
        .option("checkpointLocation", str(tmp_path / "ckpt_d"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("select count(distinct tx_id) c, count(*) n from dedup_test").collect()[0]
    assert n["c"] == n["n"]  # one row per tx_id survived
    distinct_in_log = len({e["tx_id"] for e in event_log})
    assert n["n"] == distinct_in_log


def test_file_sessions(spark, tmp_path, event_log):
    src = str(tmp_path / "segments")
    write_event_segment(spark, event_log, src, "edits_0000001")
    from hcdc_spark.streaming.source import read_event_stream

    sess = windows.file_sessions(read_event_stream(spark, src), gap="5 seconds")
    q = (
        sess.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sessions_test")
        .option("checkpointLocation", str(tmp_path / "ckpt_s"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from sessions_test").collect()
    assert rows, "no sessions detected"
    # session invariant: first_tx <= last_tx, n_ops >= 1
    for r in rows:
        assert r["first_tx"] <= r["last_tx"] and r["n_ops"] >= 1


def test_cascading_pipeline_matches_batch_with_dir_ops(spark, tmp_path):
    # dir ops in the stream: the rewrite stage must cascade them over
    # files created in EARLIER micro-batches (path log seed), and the
    # end state must equal the batch reconciler on the same full log.
    from hcdc_spark.streaming.pipeline import run_cdc_pipeline_cascading

    events = generate_events(n_files=30, seed=13, with_dir_ops=True)
    src = str(tmp_path / "segments")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # all ADD_FILEs land in segment 1; the trailing dir ops (generator
    # appends them last) land in segment 2 → cascade needs prior state
    half = len(events) - 4
    write_event_segment(spark, events[:half], src, "edits_0000001")
    write_event_segment(spark, events[half:], src, "edits_0000002")

    q = run_cdc_pipeline_cascading(
        spark, src, out, ckpt, rules=[], max_files_per_trigger=1
    )
    q.awaitTermination(300)

    batch_state = reconcile_batch(events_df(spark, events)).drop("errors")
    stream_state = latest_state(spark, out)
    assert _comparable(stream_state) == _comparable(batch_state)


def test_rewriter_path_log_compaction(spark, tmp_path):
    from hcdc_spark.streaming.rewrite import (
        compact_path_log,
        live_paths,
        run_rewriter,
    )

    events = generate_events(n_files=10, seed=3, with_dir_ops=False)
    src = str(tmp_path / "segments")
    write_event_segment(spark, events[: len(events) // 2], src, "e1")
    write_event_segment(spark, events[len(events) // 2 :], src, "e2")
    paths_dir = str(tmp_path / "paths")
    q = run_rewriter(
        spark, src, str(tmp_path / "rw"), str(tmp_path / "ck"), paths_dir,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    before = sorted(
        tuple(r) for r in live_paths(spark, paths_dir).collect()
    )
    compact_path_log(spark, paths_dir)
    after = sorted(
        tuple(r) for r in live_paths(spark, paths_dir).collect()
    )
    assert before == after


def test_stream_reconcile_under_rocksdb_state_store(spark, tmp_path, event_log):
    """100 TB state posture: the stateful fold must run unchanged on the
    RocksDB state store provider (the scale choice — state spills to
    local disk instead of living on the JVM heap, so per-executor state
    is bounded by disk, not memory). Same fold, same result."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    src = str(tmp_path / "segments_rdb")
    out = str(tmp_path / "out_rdb")
    ckpt = str(tmp_path / "ckpt_rdb")
    write_event_segment(spark, event_log, src, "edits_0000001")
    spark.conf.set(key, rocks)
    try:
        q = run_cdc_pipeline(spark, src, out, ckpt, available_now=True)
        q.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    batch_state = reconcile_batch(
        events_df(spark, event_log), expand_dirs=False
    ).drop("errors")
    assert _comparable(latest_state(spark, out)) == _comparable(batch_state)


def test_kafka_transport_roundtrip_broker_less(spark, tmp_path):
    """S6/K1 end-to-end minus the broker socket: producer projection
    (kafka_envelope) -> (key, value) topic log -> Structured Streaming
    transport -> consumer decode (parse_kafka_envelope) -> typed
    events. The file stream stands in for the broker; both projections
    are the exact production plans the Kafka hookups compose
    (write_kafka_events / read_kafka_events differ only in the
    .format("kafka") transport options)."""
    from hcdc_spark.streaming.kafka_sink import kafka_envelope
    from hcdc_spark.streaming.source import parse_kafka_envelope

    events = generate_events(n_files=25, seed=21, with_dir_ops=False)
    ev = events_df(spark, events)

    wire = kafka_envelope(ev)
    # K2 key contract: domain-tagged rows key by domain::entity (the
    # per-entity ordering unit in Kafka), untagged rows by namespace.
    keys = wire.collect()
    evs = ev.collect()
    assert len(keys) == len(evs)
    for w, e in zip(keys, evs):
        expect = (
            f"{e['domain']}::{e['entity']}" if e["domain"] is not None
            else (e["namespace"] or "default")
        )
        assert w["key"] == expect

    topic_dir = str(tmp_path / "topic")
    wire.drop("headers").write.parquet(topic_dir)

    raw = spark.readStream.schema("key string, value string").parquet(
        topic_dir
    )
    q = (
        parse_kafka_envelope(raw)
        .writeStream.format("memory")
        .queryName("kafka_rt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    back = spark.sql("SELECT * FROM kafka_rt")
    assert sorted(back.columns) == sorted(ev.columns)
    orig = {r["tx_id"]: r.asDict(recursive=True) for r in evs}
    got = {r["tx_id"]: r.asDict(recursive=True) for r in back.collect()}
    assert got == orig


def test_kafka_protobuf_transport_roundtrip(spark):
    """Same transport contract with the reference's actual wire format:
    kafka_envelope_protobuf produces DFSChangeDelta bytes; the consumer
    decodes envelope (from_protobuf_delta) then body JSON back to the
    full event row. Field-level round-trip for every event."""
    import json

    from hcdc_spark.streaming.protobuf_codec import (
        from_protobuf_delta,
        kafka_envelope_protobuf,
    )

    events = generate_events(n_files=15, seed=22, with_dir_ops=False)
    ev = events_df(spark, events)
    wire = kafka_envelope_protobuf(ev)
    dec = from_protobuf_delta(wire, "value")
    rows = dec.select("key", "delta").collect()
    assert len(rows) == ev.count()
    orig = {r["tx_id"]: r.asDict(recursive=True) for r in ev.collect()}
    for r in rows:
        d = r["delta"]
        body = json.loads(bytes(d["body"]).decode())
        e = orig[d["tx_id"]]
        assert body["op"] == e["op"] and body["path"] == e["path"]
        assert r["key"] == d["entity"]  # partitioning key == envelope entity


def test_cascade_reaches_bootstrap_close_files(spark, tmp_path):
    # Files created by Snapshot CLOSE (no ADD_FILE — the fsimage/listing
    # bootstrap shape) in batch 1 must enter the rewriter's path log so
    # a directory DELETE in batch 2 cascades over them (review r4: the
    # path log recorded ADD_FILE only).
    from hcdc_spark.cdc.model import empty_event
    from hcdc_spark.streaming.pipeline import run_cdc_pipeline_cascading

    def blk(bid, size):
        return {
            "block_id": bid, "size": size, "block_size": 1 << 20,
            "generation_stamp": 1, "start_offset": 0,
            "end_offset": size - 1, "delta_size": size, "deleted": False,
        }

    seg1 = [
        empty_event(tx_id=1, op="CLOSE", ts=1000, namespace="ns1",
                    path="/boot/d/f1", inode_id=11, length=10,
                    file_type="CSV", blocks=[blk(1, 10)], mode="Snapshot"),
        empty_event(tx_id=2, op="CLOSE", ts=2000, namespace="ns1",
                    path="/boot/other/f2", inode_id=12, length=10,
                    file_type="CSV", blocks=[blk(2, 10)], mode="Snapshot"),
    ]
    seg2 = [
        empty_event(tx_id=3, op="DELETE", ts=3000, namespace="ns1",
                    path="/boot/d", inode_id=900, mode="New"),
    ]
    src = str(tmp_path / "segments")
    write_event_segment(spark, seg1, src, "edits_0000001")
    write_event_segment(spark, seg2, src, "edits_0000002")

    q = run_cdc_pipeline_cascading(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        rules=[], max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    state = {r["inode_id"]: r for r in
             latest_state(spark, str(tmp_path / "out")).collect()}
    assert state[11]["state"] == "Deleted"     # cascaded over bootstrap
    assert state[12]["state"] == "Finalized"   # sibling dir untouched


# ---------------------------------------------------- chaos recovery


def _commits(ckpt: str) -> list[int]:
    import pathlib

    d = pathlib.Path(ckpt, "commits")
    if not d.exists():
        return []
    return sorted(int(p.name) for p in d.iterdir() if p.name.isdigit())


def _write_segments(spark, event_log, src: str, k: int) -> None:
    n = len(event_log)
    step = max(1, n // k)
    for i in range(k):
        lo = i * step
        hi = (i + 1) * step if i < k - 1 else n
        if lo >= n:
            break
        write_event_segment(spark, event_log[lo:hi], src,
                            f"edits_{i + 1:07d}")


@pytest.mark.parametrize("provider", ["default", "rocksdb"])
def test_stream_kill_mid_drain_resumes_exactly(
    spark, tmp_path, event_log, provider
):
    """The at-least-once crash path the clean-restart test never hits:
    kill the query DURING an availableNow drain (after >=1 committed
    micro-batch, with most segments still unread), then cold-restart
    from the checkpoint. The resumed fold must land on exactly the
    batch reconciler's state — no lost batches, no double-applied
    events (T4 guards replays). Parametrized over the HDFS and RocksDB
    state-store providers: recovery must not depend on the store."""
    import time

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(key, None)
    if provider == "rocksdb":
        spark.conf.set(key, rocks)
    src = str(tmp_path / "segments")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    try:
        _write_segments(spark, event_log, src, 8)
        q = run_cdc_pipeline(
            spark, src, out, ckpt,
            max_files_per_trigger=1, available_now=True,
        )
        deadline = time.time() + 120
        while (
            time.time() < deadline
            and len(_commits(ckpt)) < 2
            and q.isActive
        ):
            time.sleep(0.1)
        q.stop()  # the kill: mid-drain, most segments unprocessed
        try:
            q.awaitTermination(60)
        except Exception:  # noqa: BLE001 — interrupted batch may surface
            pass
        assert len(_commits(ckpt)) < 8, (
            "drain finished before the kill — raise the segment count"
        )
        q2 = run_cdc_pipeline(
            spark, src, out, ckpt,
            max_files_per_trigger=1, available_now=True,
        )
        q2.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    batch_state = reconcile_batch(
        events_df(spark, event_log), expand_dirs=False
    ).drop("errors")
    assert _comparable(latest_state(spark, out)) == _comparable(batch_state)


@pytest.mark.parametrize("provider", ["default", "rocksdb"])
def test_stream_lost_commit_replays_batch_idempotently(
    spark, tmp_path, event_log, provider
):
    """Crash BETWEEN the sink's parquet append and the checkpoint
    commit — the exact window where at-least-once means a committed
    side effect gets replayed. Simulated faithfully: drain, then
    delete the final commits/<N> marker (offsets/<N> stays, so the
    restarted query re-executes batch N against state version N and
    re-appends its rows), add a new segment, restart. latest_state
    must still equal the batch fold — the state log's last-writer-wins
    read plus the deterministic re-fold absorb the duplicate batch.
    Parametrized over both state-store providers: the RocksDB store
    must serve version N again after N+1 was already written."""
    import os as _os

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(key, None)
    if provider == "rocksdb":
        spark.conf.set(key, rocks)
    src = str(tmp_path / "segments")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    try:
        third = len(event_log) // 3
        write_event_segment(spark, event_log[:third], src, "edits_0000001")
        write_event_segment(spark, event_log[third: 2 * third], src,
                            "edits_0000002")
        q = run_cdc_pipeline(
            spark, src, out, ckpt,
            max_files_per_trigger=1, available_now=True,
        )
        q.awaitTermination(120)

        commits = _commits(ckpt)
        assert commits, "drain produced no committed batches"
        last = max(commits)
        log_path = f"{out}/file_state_log"
        rows_before = spark.read.parquet(log_path).where(
            F.col("batch_id") == last
        ).count()
        _os.remove(f"{ckpt}/commits/{last}")  # the simulated crash window
        crc = f"{ckpt}/commits/.{last}.crc"   # local-FS checksum sidecar
        if _os.path.exists(crc):
            _os.remove(crc)

        write_event_segment(spark, event_log[2 * third:], src,
                            "edits_0000003")
        q2 = run_cdc_pipeline(
            spark, src, out, ckpt,
            max_files_per_trigger=1, available_now=True,
        )
        q2.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    # the replay REALLY happened: batch `last` appended a second copy
    rows_after = spark.read.parquet(log_path).where(
        F.col("batch_id") == last
    ).count()
    assert rows_after == 2 * rows_before

    batch_state = reconcile_batch(
        events_df(spark, event_log), expand_dirs=False
    ).drop("errors")
    assert _comparable(latest_state(spark, out)) == _comparable(batch_state)


def test_stream_index_upsert_survives_mid_drain_kill(spark, tmp_path):
    """End-to-end certification of the c20 claim: kill the streaming
    IVF-PQ maintainer DURING its drain (after >=2 committed upserts,
    most delta files unread), cold-restart from the checkpoint — the
    in-flight batch replays under the SAME batch_id and its dynamic
    partition overwrite makes the replay a no-op — then the
    partition-pruned search over the recovered index must equal a
    one-shot upsert of the whole delta. Exactly-once EFFECT from
    at-least-once execution, the same contract the state-log sink
    carries."""
    import time

    from pyspark.sql import functions as SF

    from hcdc_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.where(SF.col("vec_id") % 10 != 7)
    delta = emb.where(SF.col("vec_id") % 10 == 7)
    qv = emb.where(SF.col("vec_id") == 0).select("embedding").collect()[0][0]

    # the reference answer: one-shot upsert into a fresh copy
    ref_idx = str(tmp_path / "ref")
    S.write_ivfpq_index(spark, base, ref_idx)
    S.append_ivfpq_delta(spark, delta, ref_idx, batch_id=999)
    expected = [
        tuple(r)
        for r in S.ivfpq_index_search(spark, ref_idx, qv, exclude_id=0)
        .collect()
    ]

    idx = str(tmp_path / "live")
    S.write_ivfpq_index(spark, base, idx)
    delta_dir = str(tmp_path / "delta")
    delta.repartition(12).write.parquet(delta_dir)
    ckpt = str(tmp_path / "ckpt")

    def start():
        return (
            spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(delta_dir)
            .writeStream.foreachBatch(
                lambda b, bid: S.append_ivfpq_delta(
                    spark, b, idx, batch_id=bid
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while (
        time.time() < deadline and len(_commits(ckpt)) < 2 and q.isActive
    ):
        time.sleep(0.05)
    q.stop()  # the kill, mid-drain
    try:
        q.awaitTermination(60)
    except Exception:  # noqa: BLE001 — interrupted batch may surface
        pass
    assert len(_commits(ckpt)) < 12, "drain finished before the kill"

    q2 = start()  # recovery: replay the in-flight batch, finish the rest
    q2.awaitTermination(120)

    got = [
        tuple(r)
        for r in S.ivfpq_index_search(spark, idx, qv, exclude_id=0)
        .collect()
    ]
    assert got == expected


def test_crawl_ingest_gate_survives_mid_drain_kill(spark, tmp_path):
    """End-to-end certification of the c26 claim: kill the composed
    crawl-ingest gate DURING its drain (after >=2 committed batches,
    most delta files unread), cold-restart from the checkpoint — the
    in-flight batch replays and its dynamic partition overwrite makes
    the replay a no-op — and the landed corpus must equal a one-shot
    run of the same gate over the whole delta (legal because every
    decision depends only on (doc, static corpus): near-dup probe vs
    the pre-stream index, quality gate, chunk rewrite vs the corpus
    chunk set)."""
    import time

    from pyspark.sql import functions as SF

    from hcdc_spark.functions.text import (
        STOPWORDS,
        count_in_set,
        distinct_words,
        word_count,
    )
    from hcdc_spark.operators import dedup as D
    from hcdc_spark.operators.text import (
        chunk_dedup_rewrite_vs,
        corpus_chunk_hashes,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    t = docs.select(
        "doc_id", "lang", "text", distinct_words("text").alias("ws")
    ).where(SF.size("ws") > 0)
    corpus_t = t.where(SF.col("doc_id") % 10 != 3)
    delta_t = t.where(SF.col("doc_id") % 10 == 3)
    corpus_docs = docs.where(SF.col("doc_id") % 10 != 3)
    table = "hcdc_doc_band_index_chaos"
    try:
        D.write_doc_band_index(
            spark, corpus_t.select("doc_id", "ws"), table,
            str(tmp_path / "doc_index"),
        )
        ref_hashes = corpus_chunk_hashes(corpus_docs)
        ref_hashes = spark.createDataFrame(
            ref_hashes.collect(), ref_hashes.schema
        )

        def gate_into(clean_dir):
            def gate(batch_df, batch_id):
                hits = (
                    D.incremental_doc_neardup(
                        spark, batch_df.select("doc_id", "ws"), table,
                        corpus_t.select("doc_id", "ws"), threshold=0.9,
                    )
                    .select(SF.col("doc_new").alias("doc_id"))
                    .distinct()
                )
                surv = batch_df.join(hits, "doc_id", "left_anti").where(
                    (word_count("text") >= 5)
                    & (count_in_set("text", STOPWORDS) >= 1)
                )
                (
                    chunk_dedup_rewrite_vs(surv, ref_hashes,
                                           carry=("lang",))
                    .withColumn("batch", SF.lit(str(batch_id)))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch")
                    .parquet(clean_dir)
                )

            return gate

        # reference: the whole delta through the gate as ONE batch
        ref_clean = str(tmp_path / "ref_clean")
        gate_into(ref_clean)(delta_t, 0)
        cols = ["doc_id", "lang", "n_chunks", "n_kept", "clean_text"]
        expected = sorted(
            tuple(r)
            for r in spark.read.parquet(ref_clean).select(*cols).collect()
        )

        delta_dir = str(tmp_path / "delta")
        delta_t.repartition(12).write.parquet(delta_dir)
        clean_dir = str(tmp_path / "clean")
        ckpt = str(tmp_path / "ckpt")

        def start():
            return (
                spark.readStream.schema(delta_t.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(delta_dir)
                .writeStream.foreachBatch(gate_into(clean_dir))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        q = start()
        deadline = time.time() + 120
        while (
            time.time() < deadline and len(_commits(ckpt)) < 2
            and q.isActive
        ):
            time.sleep(0.05)
        q.stop()  # the kill, mid-drain
        try:
            q.awaitTermination(60)
        except Exception:  # noqa: BLE001 — interrupted batch may surface
            pass
        assert len(_commits(ckpt)) < 12, "drain finished before the kill"

        q2 = start()  # recovery: replay in-flight batch, finish the rest
        q2.awaitTermination(120)

        got = sorted(
            tuple(r)
            for r in spark.read.parquet(clean_dir).select(*cols).collect()
        )
        assert got == expected and got
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# --------------------------------------------------------------------------
# T27 streaming half: TTL eviction of Deleted state from the state store.
# The reference deletes file-state nodes on Deleted (namenode-agent
# CDCChangeDeltaProcessor.java:122-138); here the tombstone lingers for
# deleted_ttl_ms so the T4 guard still absorbs upstream at-least-once
# duplicates (the cascading generator's cross-segment duplicate
# ADD_FILE), then the ProcessingTimeTimeout evicts. Eviction is the
# CONTINUOUS-deployment mode (deleted_ttl_ms opt-in): an availableNow
# drain with pending processing-time timeouts never self-terminates
# (measured — see reconciler.DEFAULT_DELETED_TTL_MS), so these tests
# run default-trigger queries, poll to condition, and stop them — the
# production operating shape.
# --------------------------------------------------------------------------


def test_ttl_drain_is_refused(spark, tmp_path):
    """A TTL'd availableNow drain never terminates, so the pipeline
    refuses the combination before any stream starts."""
    ckpt = tmp_path / "ckpt"
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="available_now"):
        run_cdc_pipeline(
            spark, str(tmp_path / "src"), str(tmp_path / "out"), str(ckpt),
            available_now=True, deleted_ttl_ms=1000,
        )
    assert len(spark.streams.active) == active
    assert not ckpt.exists()


def _store_inodes(spark, ckpt: str) -> set[int]:
    """Live keys in the streaming state store (state data source v2)."""
    return {
        r.inode_id
        for r in spark.read.format("statestore")
        .load(ckpt)
        .select("key.inode_id")
        .collect()
    }


def _poll(predicate, deadline_s: float, what: str):
    import time

    t0 = time.time()
    while time.time() - t0 < deadline_s:
        try:
            if predicate():
                return
        except Exception:  # noqa: BLE001 — log/store mid-write
            pass
        time.sleep(0.5)
    raise AssertionError(f"timed out waiting for: {what}")


def _log_rows(spark, out: str) -> int:
    import pathlib

    p = pathlib.Path(out, "file_state_log")
    if not p.exists():
        return 0
    return spark.read.parquet(str(p)).count()


def test_stream_evicts_deleted_state_after_ttl(spark, tmp_path, event_log):
    """Continuous mode with a TTL: the final Deleted row reaches the
    state LOG (latest_state == batch fold — the tombstone row is
    permanent), and the STORE drops the deleted inodes once the TTL
    fires — only live inodes stay keyed. The drain default (ttl=None)
    keeps the historical NoTimeout contract: nothing evicts."""
    batch_state = reconcile_batch(
        events_df(spark, event_log), expand_dirs=False
    ).drop("errors")
    n_states = batch_state.count()
    all_inodes = {e["inode_id"] for e in event_log if e["inode_id"]}
    deleted = {
        r.inode_id
        for r in batch_state.where(F.col("state") == "Deleted").collect()
    }
    assert deleted, "fixture log has no deletes — eviction untested"

    # (a) continuous query, short TTL: eviction observable
    src = str(tmp_path / "segments")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_segments(spark, event_log, src, 4)
    q = run_cdc_pipeline(
        spark, src, out, ckpt, available_now=False, deleted_ttl_ms=1500
    )
    try:
        _poll(lambda: _log_rows(spark, out) >= n_states, 120,
              "all file states logged")
        _poll(lambda: _store_inodes(spark, ckpt) == all_inodes - deleted,
              120, "deleted inodes evicted from the store")
    finally:
        q.stop()
    # the log keeps its tombstone rows: latest_state unchanged
    assert _comparable(latest_state(spark, out)) == _comparable(batch_state)

    # (b) drain default (ttl=None): NoTimeout, store retains everything
    out2 = str(tmp_path / "out2")
    ckpt2 = str(tmp_path / "ckpt2")
    q2 = run_cdc_pipeline(spark, src, out2, ckpt2, available_now=True)
    q2.awaitTermination(180)
    assert _store_inodes(spark, ckpt2) == all_inodes


def test_stream_tombstone_absorbs_duplicates_then_evicts(spark, tmp_path):
    """The T4 contract across the TTL boundary, in continuous mode.
    Inside the window a re-delivered pre-delete event is a no-op (the
    tombstone's tx guard absorbs it). After eviction a re-delivered
    create-prefix transiently resurrects the inode — the documented
    window, same exposure as the reference after its node delete — and
    once the duplicated range finishes arriving (the DELETE
    re-delivers), the fold lands back on Deleted and re-converges."""
    from hcdc_spark.cdc.generator import generate_events as gen

    log = gen(n_files=12, seed=7, with_dir_ops=False, with_duplicates=False)
    deleted = {e["inode_id"] for e in log if e["op"] == "DELETE"}
    assert deleted, "seed produced no deletes — pick another seed"
    victim = sorted(deleted)[0]
    victim_events = [e for e in log if e["inode_id"] == victim]
    prefix = [e for e in victim_events if e["op"] != "DELETE"]
    suffix = [e for e in victim_events if e["op"] == "DELETE"]

    src = str(tmp_path / "segments")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n_states = reconcile_batch(
        events_df(spark, log), expand_dirs=False
    ).count()

    # phase 1: LONG ttl — the tombstone window. Duplicate prefix is
    # absorbed; the victim stays keyed the whole time.
    write_event_segment(spark, log, src, "edits_0000001")
    q = run_cdc_pipeline(
        spark, src, out, ckpt, available_now=False,
        deleted_ttl_ms=300_000,
    )
    try:
        _poll(lambda: _log_rows(spark, out) >= n_states, 120,
              "initial log complete")
        truth = _comparable(latest_state(spark, out))
        assert victim in _store_inodes(spark, ckpt)
        rows_before = _log_rows(spark, out)
        write_event_segment(spark, prefix, src, "edits_0000001_dup_a")
        _poll(lambda: _log_rows(spark, out) > rows_before, 120,
              "dup prefix processed")
        assert _comparable(latest_state(spark, out)) == truth  # T4 no-op
        assert victim in _store_inodes(spark, ckpt)  # still tombstoned
    finally:
        q.stop()

    # phase 2: SHORT ttl — re-deliver the DELETE (T4 no-op that re-arms
    # the timeout at the short ttl), wait out the eviction, then the
    # post-eviction resurrection + convergence.
    q2 = run_cdc_pipeline(
        spark, src, out, ckpt, available_now=False, deleted_ttl_ms=1000
    )
    try:
        write_event_segment(spark, suffix, src, "edits_0000001_rearm")
        _poll(lambda: victim not in _store_inodes(spark, ckpt), 120,
              "victim evicted after short ttl")
        assert _comparable(latest_state(spark, out)) == truth

        rows_before = _log_rows(spark, out)
        write_event_segment(spark, prefix, src, "edits_0000001_dup_b")
        _poll(lambda: _log_rows(spark, out) > rows_before, 120,
              "post-eviction dup prefix processed")
        live_now = {
            r.inode_id
            for r in latest_state(spark, out)
            .where(F.col("state") != "Deleted")
            .collect()
        }
        assert victim in live_now  # the documented transient window

        write_event_segment(spark, suffix, src, "edits_0000001_dup_c")
        _poll(
            lambda: _comparable(latest_state(spark, out)) == truth,
            120, "re-delivered DELETE re-converges",
        )
        _poll(lambda: victim not in _store_inodes(spark, ckpt), 120,
              "victim re-evicted")
    finally:
        q2.stop()


@pytest.mark.parametrize("provider", ["default", "rocksdb"])
def test_stream_evict_survives_lost_commit(spark, tmp_path, provider):
    """Chaos: crash AFTER the eviction committed, losing the last
    commit marker — the restarted query re-executes that batch against
    the rolled-back store version, so whatever it held (the eviction
    itself, or a trailing batch) must re-apply deterministically.
    Final latest_state == batch fold, store holds live inodes only."""
    import os as _os

    from hcdc_spark.cdc.generator import generate_events as gen

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(key, None)
    if provider == "rocksdb":
        spark.conf.set(key, rocks)
    src = str(tmp_path / "segments")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    log = gen(n_files=12, seed=7, with_dir_ops=False, with_duplicates=False)
    deletes = {e["inode_id"] for e in log if e["op"] == "DELETE"}
    all_inodes = {e["inode_id"] for e in log if e["inode_id"]}
    assert deletes, "seed produced no deletes — pick another seed"
    try:
        write_event_segment(spark, log, src, "edits_0000001")
        q = run_cdc_pipeline(
            spark, src, out, ckpt, available_now=False,
            deleted_ttl_ms=1000,
        )
        try:
            _poll(
                lambda: _store_inodes(spark, ckpt)
                == all_inodes - deletes,
                120, "eviction committed",
            )
        finally:
            q.stop()

        last = max(_commits(ckpt))
        _os.remove(f"{ckpt}/commits/{last}")
        crc = f"{ckpt}/commits/.{last}.crc"
        if _os.path.exists(crc):
            _os.remove(crc)

        q2 = run_cdc_pipeline(
            spark, src, out, ckpt, available_now=False,
            deleted_ttl_ms=1000,
        )
        try:
            _poll(
                lambda: max(_commits(ckpt)) >= last,
                120, "lost batch re-committed",
            )
            _poll(
                lambda: _store_inodes(spark, ckpt)
                == all_inodes - deletes,
                120, "eviction state re-converged",
            )
        finally:
            q2.stop()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    batch_state = reconcile_batch(
        events_df(spark, log), expand_dirs=False
    ).drop("errors")
    assert _comparable(latest_state(spark, out)) == _comparable(batch_state)


def test_table_num_buckets_refuses_unbucketed(spark, tmp_path):
    import pytest as _pytest

    from hcdc_spark.operators.text import _table_num_buckets

    spark.sql("DROP TABLE IF EXISTS hcdc_unbucketed_gate")
    try:
        spark.range(10).write.option(
            "path", str(tmp_path / "unbucketed")
        ).saveAsTable("hcdc_unbucketed_gate")
        with _pytest.raises(ValueError, match="Num Buckets"):
            _table_num_buckets(spark, "hcdc_unbucketed_gate")
    finally:
        spark.sql("DROP TABLE IF EXISTS hcdc_unbucketed_gate")


def test_c30_batch_admission_survives_mid_drain_kill(
    spark, tmp_path, oracle, sf_dir
):
    """c30's replay contract: kill the per-batch-admission crawl
    DURING its drain — after at least one committed batch, so the
    restart replays an in-flight batch whose ADMISSION side effects
    may be half-applied (band rows appended, admitted/coupling rows
    written, chunk append landed: any prefix of the gate) — and the
    final landed rollup must still equal the ordered-fold oracle.
    Why it holds: the landing is a dynamic partition overwrite (the
    replay overwrites its own partition), a replayed chunk append
    anti-joins to nothing, and duplicated band-index/admitted rows
    never change decisions (probes .distinct() their candidates and
    the verify join tolerates duplicate corpus rows)."""
    import os as _os
    import time

    from hcdc_spark.operators import streaming_queries as SQ
    from tests.conftest import assert_matches_oracle

    table = "hcdc_band_c30_chaos"
    chunk_table = "hcdc_chunk_c30_chaos"
    work = str(tmp_path / "w")
    _os.makedirs(work)
    try:
        docs, t, corpus_t, delta_dir = SQ._c30_setup(
            spark, sf_dir, work, table, chunk_table
        )
        clean_dir = str(tmp_path / "clean")
        admitted_dir = str(tmp_path / "adm")
        rejected_dir = str(tmp_path / "rej")
        ckpt = str(tmp_path / "ckpt")
        gate = SQ._c30_gate(
            spark, table, chunk_table, corpus_t,
            clean_dir, admitted_dir, rejected_dir,
        )

        def start():
            return (
                spark.readStream
                .schema("doc_id long, lang string, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(delta_dir)
                .writeStream.foreachBatch(gate)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        q = start()
        deadline = time.time() + 120
        while (
            time.time() < deadline and len(_commits(ckpt)) < 1
            and q.isActive
        ):
            time.sleep(0.2)
        q.stop()  # mid-drain: a later batch is in flight (or queued)
        q2 = start()
        assert q2.awaitTermination(300)

        out = (
            spark.read.parquet(clean_dir)
            .groupBy(F.col("batch").cast("int").alias("batch"), "lang")
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
        assert_matches_oracle(
            out, oracle,
            SQ.REG.specs["c30_crawl_batch_admission"].oracle,
            "c30_mid_drain_kill",
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {chunk_table}")


@pytest.mark.parametrize(
    "point",
    ["post_land", "post_admit_write", "post_index_append",
     "post_chunk_append"],
)
def test_c30_replay_safe_at_every_admission_prefix(
    spark, tmp_path, oracle, sf_dir, point
):
    """DETERMINISTIC replay-window coverage for the c30 gate (the
    mid-drain-kill test above kills wherever q.stop() lands; round-12
    advice showed specific windows used to break): crash the gate via
    its fault seam immediately after each admission side effect of
    batch 1 — landed-but-not-admitted, coupling-frame-written-but-no-
    index, index-appended-but-no-chunks (the window where replayed
    docs would self-match their own admitted band rows at Jaccard
    1.0), and fully-admitted-but-uncommitted (the window where the
    chunk rewrite would see its own kept chunks in the reference and
    land the partition empty) — then restart clean and require the
    landed rollup hash-exact vs the ordered-fold oracle."""
    import os as _os

    from pyspark.errors import StreamingQueryException

    from hcdc_spark.operators import streaming_queries as SQ
    from tests.conftest import assert_matches_oracle

    table = f"hcdc_band_c30_fault_{point}"
    chunk_table = f"hcdc_chunk_c30_fault_{point}"
    work = str(tmp_path / "w")
    _os.makedirs(work)
    try:
        docs, t, corpus_t, delta_dir = SQ._c30_setup(
            spark, sf_dir, work, table, chunk_table
        )
        clean_dir = str(tmp_path / "clean")
        admitted_dir = str(tmp_path / "adm")
        rejected_dir = str(tmp_path / "rej")
        ckpt = str(tmp_path / "ckpt")
        fired = []

        def fault(at: str, batch_id: int) -> None:
            if at == point and batch_id == 1 and not fired:
                fired.append(at)
                raise RuntimeError(f"injected crash at {at}")

        def start(f):
            gate = SQ._c30_gate(
                spark, table, chunk_table, corpus_t,
                clean_dir, admitted_dir, rejected_dir, fault=f,
            )
            return (
                spark.readStream
                .schema("doc_id long, lang string, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(delta_dir)
                .writeStream.foreachBatch(gate)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        q = start(fault)
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(300)
        assert fired, "fault seam never fired — test covers nothing"
        q2 = start(None)
        assert q2.awaitTermination(300)

        out = (
            spark.read.parquet(clean_dir)
            .groupBy(F.col("batch").cast("int").alias("batch"), "lang")
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
        assert_matches_oracle(
            out, oracle,
            SQ.REG.specs["c30_crawl_batch_admission"].oracle,
            f"c30_replay_{point}",
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {chunk_table}")


def test_c30_gate_recrawl_still_gates_on_first_run(
    spark, tmp_path, sf_dir
):
    """Round-13 review: the replay-safety exclusion must be EXACT — a
    doc_id recurring across batches (a re-crawled page) still gates
    against its own earlier-batch admission on a FIRST run. Batch 1
    re-delivers batch 0's docs byte-identically: every one must be
    REJECTED (Jaccard 1.0 vs its own admitted row), not silently
    re-admitted. (An anti-join on ALL batch ids — the first cut —
    would skip that gate; the batch-stamped admitted frame keeps only
    true replays excluded.)"""
    import glob
    import os as _os

    from hcdc_spark.operators import streaming_queries as SQ

    table = "hcdc_band_c30_recrawl"
    chunk_table = "hcdc_chunk_c30_recrawl"
    work = str(tmp_path / "w")
    _os.makedirs(work)
    try:
        from hcdc_spark.functions.text import distinct_words
        from hcdc_spark.operators import dedup as D
        from hcdc_spark.operators.text import write_chunk_index

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        t = docs.select(
            "doc_id", "lang", "text", distinct_words("text").alias("ws")
        ).where(F.size("ws") > 0)
        corpus_t = t.where(F.col("doc_id") % 10 != 3)
        crawl = t.where(F.col("doc_id") % 30 == 3).limit(20)
        crawl_ids = {r["doc_id"] for r in crawl.select("doc_id").collect()}
        crawl = t.where(F.col("doc_id").isin(list(crawl_ids)))
        D.write_doc_band_index(
            spark, corpus_t.select("doc_id", "ws"), table,
            _os.path.join(work, "doc_index"),
        )
        write_chunk_index(
            spark, docs.where(F.col("doc_id") % 10 != 3), chunk_table,
            _os.path.join(work, "chunk_index"),
        )
        delta_dir = _os.path.join(work, "delta")
        _os.makedirs(delta_dir)
        now = int(_os.stat(work).st_mtime)
        for i in range(2):  # the SAME docs, twice — batch 1 re-crawls
            stage = _os.path.join(work, f"stage_{i}")
            crawl.select("doc_id", "lang", "text").coalesce(
                1
            ).write.parquet(stage)
            (part,) = glob.glob(_os.path.join(stage, "part-*.parquet"))
            dst = _os.path.join(delta_dir, f"d{i}.parquet")
            _os.rename(part, dst)
            _os.utime(dst, (now - 300 + i * 100,) * 2)
        clean_dir = _os.path.join(work, "clean")
        admitted_dir = _os.path.join(work, "adm")
        rejected_dir = _os.path.join(work, "rej")
        gate = SQ._c30_gate(
            spark, table, chunk_table, corpus_t,
            clean_dir, admitted_dir, rejected_dir,
        )
        q = (
            spark.readStream
            .schema("doc_id long, lang string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(delta_dir)
            .writeStream.foreachBatch(gate)
            .option("checkpointLocation", _os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        landed = spark.read.parquet(clean_dir)
        adm0 = {
            r["doc_id"]
            for r in landed.where(F.col("batch") == "0")
            .select("doc_id").collect()
        }
        assert adm0, "batch 0 admitted nothing — test is vacuous"
        readmitted = landed.where(
            (F.col("batch") == "1") & F.col("doc_id").isin(list(adm0))
        ).count()
        assert readmitted == 0, (
            f"{readmitted} re-crawled doc(s) skipped the gate against "
            "their own earlier admission on a FIRST run"
        )
        # and the rejections cite the doc's OWN earlier admission
        rej = spark.read.parquet(rejected_dir)
        self_rej = rej.where(
            (F.col("batch") == 1)
            & (F.col("doc_new") == F.col("doc_old"))
        ).count()
        assert self_rej >= len(adm0)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {chunk_table}")
