"""End-to-end CDC pipeline: real files on a fake HDFS, event segments,
registry rules → streaming query → staging parquet + pointers.

This is the full reference dataflow (capture → reconcile → replicate,
SURVEY §3) in one test: data written to staging must equal the source
files of every Finalized, registry-matched path — after a mid-stream
restart and a file rewrite (supersede)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hcdc_spark.cdc.materialize import change_data, read_entity
from hcdc_spark.cdc.model import empty_event
from hcdc_spark.cdc.registry import DomainFilter
from hcdc_spark.streaming.pipeline import run_cdc_pipeline
from hcdc_spark.streaming.source import write_event_segment

RULES = [
    DomainFilter("sales", "customers", "/data/sales", r"cust.*\.parquet"),
    DomainFilter("sales", "orders", "/data/sales", r"ord.*\.parquet"),
]


def _close_events(tx0, path, inode, size=1000, file_type="PARQUET"):
    """ADD_FILE + CLOSE pair for one file."""
    blk = {
        "block_id": inode * 10, "size": size, "block_size": 1 << 20,
        "generation_stamp": 1, "start_offset": 0, "end_offset": size - 1,
        "delta_size": size, "deleted": False,
    }
    return [
        empty_event(tx_id=tx0, op="ADD_FILE", ts=1_700_000_000_000 + tx0,
                    namespace="ns1", path=path, inode_id=inode,
                    block_size=1 << 20, overwrite=False, blocks=[blk],
                    mode="New"),
        empty_event(tx_id=tx0 + 1, op="CLOSE", ts=1_700_000_000_000 + tx0 + 1,
                    namespace="ns1", path=path, inode_id=inode, length=size,
                    file_type=file_type, blocks=[blk], mode="New"),
    ]


@pytest.fixture()
def fake_hdfs(spark, tmp_path):
    """Real parquet files at registry-matched paths.

    NOT under /tmp: the reference's global ignore regex
    (DomainManager.java:38, kept verbatim in hcdc_spark.cdc.registry)
    excludes every /tmp path from entity matching — so the fake HDFS
    lives in a gitignored scratch dir instead.
    """
    import shutil

    from hcdc_spark.cdc.registry import scratch_dir

    root = scratch_dir("hdfs")
    cust = spark.createDataFrame(
        [(1, "alice"), (2, "bob")], "id int, name string"
    )
    ords = spark.createDataFrame(
        [(10, 99.5), (11, 12.25), (12, 7.75)], "oid int, total double"
    )
    os.makedirs(f"{root}/data/sales", exist_ok=True)
    cust_path = f"{root}/data/sales/cust_1.parquet"
    ord_path = f"{root}/data/sales/ord_1.parquet"
    unmatched = f"{root}/data/other/misc_1.parquet"
    cust.coalesce(1).write.mode("overwrite").parquet(cust_path)
    ords.coalesce(1).write.mode("overwrite").parquet(ord_path)
    cust.coalesce(1).write.mode("overwrite").parquet(unmatched)
    yield {
        "root": root, "cust": cust_path, "ord": ord_path,
        "unmatched": unmatched, "cust_df": cust, "ord_df": ords,
    }
    shutil.rmtree(root, ignore_errors=True)


def _rules(root):
    return [
        DomainFilter(f.domain, f.entity, root + f.path_prefix, f.regex)
        for f in RULES
    ]


def test_pipeline_end_to_end_with_restart(spark, tmp_path, fake_hdfs):
    root = fake_hdfs["root"]
    src = str(tmp_path / "segments")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    staging = str(tmp_path / "staging")
    sreg = str(tmp_path / "schemas")

    # batch 1: customers file + an unmatched file
    ev1 = _close_events(1, fake_hdfs["cust"], 101)
    ev1 += _close_events(3, fake_hdfs["unmatched"], 102)
    write_event_segment(spark, ev1, src, "edits_0000001")
    q = run_cdc_pipeline(
        spark, src, out, ckpt, _rules(root), staging, sreg,
        available_now=True,
    )
    q.awaitTermination(180)

    got = read_entity(spark, staging, "sales", "customers")
    assert sorted(
        (r["id"], r["name"]) for r in got.select("id", "name").collect()
    ) == [(1, "alice"), (2, "bob")]
    # unmatched path must NOT be materialized anywhere
    ptr = change_data(spark, staging)
    assert ptr.where(F.col("src_path").contains("other")).count() == 0

    # batch 2 (after restart): orders file arrives
    write_event_segment(
        spark, _close_events(10, fake_hdfs["ord"], 103), src, "edits_0000002"
    )
    q2 = run_cdc_pipeline(
        spark, src, out, ckpt, _rules(root), staging, sreg,
        available_now=True,
    )
    q2.awaitTermination(180)

    ords = read_entity(spark, staging, "sales", "orders")
    assert ords.count() == 3
    assert abs(
        ords.agg(F.sum("total")).collect()[0][0] - (99.5 + 12.25 + 7.75)
    ) < 1e-9

    # batch 3: customers file rewritten (append + re-close at higher tx)
    cust2 = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (3, "carol")], "id int, name string"
    )
    cust2.coalesce(1).write.mode("overwrite").parquet(fake_hdfs["cust"])
    write_event_segment(
        spark, _close_events(20, fake_hdfs["cust"], 101, size=1500), src,
        "edits_0000003",
    )
    q3 = run_cdc_pipeline(
        spark, src, out, ckpt, _rules(root), staging, sreg,
        available_now=True,
    )
    q3.awaitTermination(180)

    cur = read_entity(spark, staging, "sales", "customers")
    # latest pointer supersedes: exactly the rewritten 3 rows
    assert sorted(r["name"] for r in cur.select("name").collect()) == [
        "alice", "bob", "carol"
    ]

    # schema registry recorded the entity schemas
    from hcdc_spark.cdc.materialize import latest_schemas

    assert latest_schemas(spark, sreg).count() == 2


def test_matched_file_without_reader_reaches_dead_letter(
    spark, tmp_path, fake_hdfs
):
    """A Finalized, entity-matched file whose type has no reader is not
    staged, and it is not dropped without a word either: the batch's
    materialize step appends one dead-letter row naming the type."""
    root = fake_hdfs["root"]
    src, out = str(tmp_path / "segments"), str(tmp_path / "out")
    staging = str(tmp_path / "staging")
    rules = _rules(root) + [
        DomainFilter("sales", "notes", root + "/data/sales", r"note.*\.txt")
    ]
    note = f"{root}/data/sales/note_1.txt"
    ev = _close_events(1, fake_hdfs["cust"], 101)
    ev += _close_events(3, note, 104, file_type="UNKNOWN")
    write_event_segment(spark, ev, src, "edits_0000001")
    run_cdc_pipeline(
        spark, src, out, str(tmp_path / "ckpt"), rules, staging,
        available_now=True,
    ).awaitTermination(180)

    assert read_entity(spark, staging, "sales", "customers").count() == 2
    ptr = change_data(spark, staging)
    assert ptr.where(F.col("src_path") == note).count() == 0
    dead = spark.read.parquet(os.path.join(out, "errors")).collect()
    assert [
        (r["batch_id"], r["tx_id"], r["inode_id"], r["path"]) for r in dead
    ] == [(0, 4, 104, note)]
    assert "UNKNOWN" in dead[0]["error"]
