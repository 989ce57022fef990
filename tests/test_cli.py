"""CLI control plane: each subcommand end-to-end on tmp dirs."""

from __future__ import annotations

import os

from hcdc_spark import cli
from hcdc_spark.cdc.generator import events_df, generate_events
from hcdc_spark.streaming.reconciler import latest_state


def test_cli_bootstrap(spark, sf_dir, tmp_path, capsys):
    out = str(tmp_path / "out")
    rc = cli.main(["bootstrap", "--source", sf_dir, "--out", out])
    assert rc == 0
    assert "bootstrapped" in capsys.readouterr().out
    st = spark.read.parquet(os.path.join(out, "file_state_log"))
    assert st.count() >= 10
    assert set(r["state"] for r in st.select("state").distinct().collect()) == {
        "Finalized"
    }
    # the base generation reads like a stream-written log
    assert latest_state(spark, out).count() == st.count()


def test_cli_reconcile_and_compact(spark, tmp_path, capsys):
    events = events_df(
        spark, generate_events(n_files=20, seed=9, with_anomalies=True)
    )
    ev_path = str(tmp_path / "events.parquet")
    events.write.parquet(ev_path)
    out = str(tmp_path / "out")
    assert cli.main(["reconcile", "--events", ev_path, "--out", out]) == 0
    st = spark.read.parquet(os.path.join(out, "file_state_log"))
    n_before = st.count()
    assert n_before >= 20
    assert os.path.isdir(os.path.join(out, "errors"))  # anomalies landed

    # the CLI writes the stream's log shape: latest_state reads it and
    # compact folds it as it is
    def current():
        return {
            tuple(r) for r in latest_state(spark, out)
            .select("inode_id", "state", "last_tx_id", "path").collect()
        }

    cur = current()
    assert len(cur) == n_before
    assert cli.main(["compact", "--out", out]) == 0
    after = spark.read.parquet(os.path.join(out, "file_state_log"))
    assert after.where(after["state"] == "Deleted").count() == 0
    assert current() == {r for r in cur if r[1] != "Deleted"}


def test_cli_pipeline(spark, tmp_path, capsys):
    import shutil

    from hcdc_spark.cdc.model import empty_event
    from hcdc_spark.cdc.registry import scratch_dir
    from hcdc_spark.streaming.source import write_event_segment

    root = scratch_dir("cli")
    try:
        df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
        src_file = f"{root}/data/sales/t1.parquet"
        df.coalesce(1).write.parquet(src_file)
        blk = {"block_id": 1, "size": 10, "block_size": 1 << 20,
               "generation_stamp": 1, "start_offset": 0, "end_offset": 9,
               "delta_size": 10, "deleted": False}
        events = [
            empty_event(tx_id=1, op="ADD_FILE", ts=1, namespace="ns1",
                        path=src_file, inode_id=1, overwrite=False,
                        blocks=[blk], mode="New"),
            empty_event(tx_id=2, op="CLOSE", ts=2, namespace="ns1",
                        path=src_file, inode_id=1, length=10,
                        file_type="PARQUET", blocks=[blk], mode="New"),
        ]
        seg = f"{root}/segments"
        write_event_segment(spark, events, seg, "edits_1")
        rules_csv = f"{root}/rules.csv"
        os.makedirs(root, exist_ok=True)
        with open(rules_csv, "w") as f:
            f.write(f"sales;t1;{root}/data/sales;.*\\.parquet\n")
        rc = cli.main([
            "pipeline", "--segments", seg, "--out", f"{root}/out",
            "--rules", rules_csv, "--staging", f"{root}/staging",
        ])
        assert rc == 0
        from hcdc_spark.cdc.materialize import read_entity

        got = read_entity(spark, f"{root}/staging", "sales", "t1")
        assert got.count() == 2

        assert cli.main(["gc-staging", "--staging", f"{root}/staging"]) == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_cli_takedown(spark, sf_dir, tmp_path, capsys):
    """The one-call takedown entry point (round-13 verdict 'next'
    #5): ids from a file, routed to a doc band index AND an IVF-PQ
    artifact in one invocation; deleted ids stop serving both; with
    --compact the tombstones are reclaimed in the same call."""
    from pyspark.sql import functions as F

    from hcdc_spark import fsutil
    from hcdc_spark.functions.text import distinct_words
    from hcdc_spark.operators import dedup, similarity as S

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    t = docs.select("doc_id", distinct_words("text").alias("ws")).where(
        F.size("ws") > 0
    )
    corpus_t = t.where(F.col("doc_id") % 10 != 3)
    parent_ids = sorted(
        r["doc_id"]
        for r in corpus_t.where(F.col("doc_id") % 20 == 4)
        .select("doc_id").collect()
    )[:4]
    batch = corpus_t.where(F.col("doc_id").isin(parent_ids)).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "ws"
    )
    emb = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).limit(300)
    qv = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    tbl = "hcdc_doc_bi_cli_takedown"
    idx = str(tmp_path / "ivfpq")
    try:
        dedup.write_doc_band_index(spark, corpus_t, tbl,
                                   str(tmp_path / "bi"))
        S.write_ivfpq_index(spark, emb, idx)
        victim = S.ivfpq_index_search(
            spark, idx, qv, exclude_id=0
        ).collect()[0]["vec_id"]
        # one id file drives both indexes (id spaces differ — the doc
        # ids double as vec ids here only to prove the routing; a
        # deployment passes per-family files or a parquet column)
        ids_file = tmp_path / "takedown_ids.txt"
        ids_file.write_text(
            "\n".join(str(i) for i in [*parent_ids[:2], victim])
        )
        rc = cli.main([
            "takedown", "--ids", str(ids_file),
            "--index", tbl, "--ivfpq", idx, "--batch-id", "1",
        ])
        assert rc == 0
        out = capsys.readouterr().out
        assert "2 index(es)" in out and "retained" in out
        old = {
            r["doc_old"]
            for r in dedup.incremental_doc_neardup(
                spark, batch, tbl, corpus_t, threshold=0.9
            ).collect()
        }
        assert not (old & set(parent_ids[:2])), "deleted ids still serve"
        assert set(parent_ids[2:]) <= old, "takedown over-deleted"
        got = {
            r["vec_id"]
            for r in S.ivfpq_index_search(
                spark, idx, qv, exclude_id=0
            ).collect()
        }
        assert victim not in got
        # --compact reclaims in the same call
        rc = cli.main([
            "takedown", "--ids", str(ids_file),
            "--index", tbl, "--ivfpq", idx, "--batch-id", "1",
            "--compact",
        ])
        assert rc == 0
        assert not fsutil.is_dir(
            fsutil.join(S._table_location(spark, tbl), "_tombstones")
        )
        assert not fsutil.is_dir(fsutil.join(idx, "codes", "_tombstones"))
        left = {
            r["doc_id"]
            for r in spark.table(tbl).select("doc_id").distinct().collect()
        }
        assert not (left & set(parent_ids[:2]))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
