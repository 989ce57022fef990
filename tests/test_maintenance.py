"""Maintenance jobs (T27) + Kafka envelope projection (K1/K2)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hcdc_spark.cdc import maintenance as MNT
from hcdc_spark.cdc.generator import generate_events
from hcdc_spark.cdc.registry import DomainFilter
from hcdc_spark.streaming.kafka_sink import kafka_envelope
from hcdc_spark.streaming.pipeline import run_cdc_pipeline
from hcdc_spark.streaming.reconciler import latest_state
from hcdc_spark.streaming.source import write_event_segment


def test_compact_state_log(spark, tmp_path):
    events = generate_events(n_files=30, seed=3, with_dir_ops=False)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    half = len(events) // 2
    write_event_segment(spark, events[:half], src, "e1")
    write_event_segment(spark, events[half:], src, "e2")
    q = run_cdc_pipeline(spark, src, out, ckpt, max_files_per_trigger=1,
                       available_now=True)
    q.awaitTermination(120)

    before = latest_state(spark, out)
    before_rows = {
        r["inode_id"]: (r["state"], r["last_tx_id"], r["data_size"])
        for r in before.collect()
    }
    log = spark.read.parquet(os.path.join(out, "file_state_log"))
    assert log.count() > len(before_rows)  # multi-batch updates exist

    n = MNT.compact_state_log(spark, out, drop_deleted=True)
    log2 = spark.read.parquet(os.path.join(out, "file_state_log"))
    assert log2.count() == n
    # compacted log == previous latest view minus Deleted
    live = {k: v for k, v in before_rows.items() if v[0] != "Deleted"}
    after_rows = {
        r["inode_id"]: (r["state"], r["last_tx_id"], r["data_size"])
        for r in latest_state(spark, out).collect()
    }
    assert after_rows == live


def test_compact_drops_aged_deltas(spark, tmp_path):
    events = generate_events(n_files=10, seed=5, with_dir_ops=False)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    write_event_segment(spark, events, src, "e1")
    run_cdc_pipeline(spark, src, out, ckpt, available_now=True).awaitTermination(120)

    mid = max(e["tx_id"] for e in events) // 2
    MNT.compact_state_log(spark, out, delta_min_tx=mid)
    log = spark.read.parquet(os.path.join(out, "file_state_log"))
    stale = log.select(
        F.explode("blocks").alias("b")
    ).select(F.explode("b.deltas").alias("d")).where(
        F.col("d.tx_id") <= mid
    )
    assert stale.count() == 0


def test_gc_change_data(spark, tmp_path):
    from hcdc_spark.cdc.materialize import change_data, materialize

    staging = str(tmp_path / "staging")
    src = spark.createDataFrame([(1, "x")], "id int, v string")
    p = str(tmp_path / "f.parquet")
    src.coalesce(1).write.parquet(p)
    state_schema = (
        "inode_id long, path string, state string, domain string,"
        " entity string, last_tx_id long, file_type string"
    )
    st1 = spark.createDataFrame(
        [(1, p, "Finalized", "d", "e", 10, "PARQUET")], state_schema
    )
    st2 = spark.createDataFrame(
        [(1, p, "Finalized", "d", "e", 20, "PARQUET")], state_schema
    )
    materialize(spark, st1, staging, batch_tag="b0")
    materialize(spark, st2, staging, batch_tag="b1")
    assert change_data(spark, staging).count() == 2
    assert os.path.isdir(f"{staging}/data/d/e/batch=b0")

    n = MNT.gc_change_data(spark, staging)
    assert n == 1
    left = change_data(spark, staging).collect()
    assert len(left) == 1 and left[0]["batch_tag"] == "b1"
    assert not os.path.isdir(f"{staging}/data/d/e/batch=b0")
    assert os.path.isdir(f"{staging}/data/d/e/batch=b1")


def test_kafka_envelope_projection(spark):
    from hcdc_spark.cdc.generator import events_df
    from hcdc_spark.cdc.registry import apply_registry

    events = events_df(spark, generate_events(n_files=5, seed=1,
                                              with_dir_ops=False))
    rules = [DomainFilter("dom", "ent", "/data/d0", r".*\.parquet")]
    env = kafka_envelope(apply_registry(events, rules))
    assert [f.name for f in env.schema.fields] == ["key", "value", "headers"]
    rows = env.collect()
    keys = {r["key"] for r in rows}
    assert "dom::ent" in keys  # matched paths carry the entity key
    assert "ns1" in keys  # unmatched fall back to namespace
    import json

    v = json.loads(rows[0]["value"])
    assert {"tx_id", "op", "path"} <= set(v.keys())
    hdr = {h["key"]: bytes(h["value"]).decode() for h in rows[0]["headers"]}
    assert hdr["op"] in ("ADD_FILE", "CLOSE", "UPDATE_BLOCKS", "ADD_BLOCK",
                         "APPEND", "TRUNCATE", "RENAME", "DELETE")
