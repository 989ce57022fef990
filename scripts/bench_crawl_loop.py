"""Per-cycle cost of the crawl loop WITH per-batch admission (c30's
shape): each cycle probes the doc band index, quality-gates,
chunk-rewrites vs the chunk index, lands, and ADMITS — growing both
corpus artifacts before the next cycle. The probe and admit halves are
the production gate's own (streaming_queries._crawl_probe and
_crawl_admit), so the bench times what c30/c31 run. The scale claim
is the one the c30 docstring makes: per-cycle cost is O(|batch|) — probe reads are
band-dir-pruned, the rewrite join is bucket-aligned on the corpus
side, and the admissions are bucketed appends — so a FIXED-SIZE cycle
must cost roughly the same against a 40x bigger corpus.

Measures at sf0.1 and a synthesized point (default .benchdata/sf4):
corpus artifact build (once) + three 160-190-doc admission cycles
(the SAME document rows at both scales — copy 0 of the scale-up is
byte-identical to sf0.1). Gate and admit walls are reported per cycle,
min over passes with fresh artifacts per pass.

Prints one JSON line:
  {sf: {"n_corpus_docs": n, "build": s,
        "cycles": [{"gate": s, "admit": s, "landed": n, "rejected": n},
                   ...]}}

Usage: python scripts/bench_crawl_loop.py [passes=2] [sf_label=sf4]
                                          [takedown=0]

With ``takedown=1`` (round-14: the c33 composition's scale evidence)
cycle 2 additionally DELETES half of cycle-1's admissions via
similarity.delete_from_band_index before its probe — the c31/c33
shape. The claim measured: the delete is O(|ids|) (batch-sized wall, flat
across scale points) and the later cycles' gate walls stay in the
same family with tombstones pending (the probe's anti-join is a
broadcast against O(|ids|) rows). Off by default so the gate/admit
series stays comparable with the round-12/13 numbers.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import sys
import tempfile
import time

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

#: fixed delta: three ~170-doc cycles drawn from doc_id < 5000 (rows
#: present and identical at every scale point)
CYCLE_RANGES = [(0, 1670), (1670, 3340), (3340, 5000)]


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    big = sys.argv[2] if len(sys.argv) > 2 else "sf4"
    takedown = bool(int(sys.argv[3])) if len(sys.argv) > 3 else False
    sf_dirs = {"sf0.1": "/root/testdata/sf0.1",
               big: str(ROOT / ".benchdata" / big)}
    from pyspark.sql import functions as F

    from hcdc_spark.functions.text import distinct_words, quality_gate
    from hcdc_spark.operators import dedup as D
    from hcdc_spark.operators.similarity import delete_from_band_index
    from hcdc_spark.operators.streaming_queries import (
        _crawl_admit,
        _crawl_probe,
        _land,
    )
    from hcdc_spark.operators.text import (
        append_chunk_index,
        chunk_dedup_rewrite_vs,
        write_chunk_index,
    )
    from hcdc_spark.session import get_spark

    spark = get_spark("hcdc-bench-crawl-loop")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    for sf, d in sf_dirs.items():
        docs = spark.read.parquet(f"{d}/documents.parquet")
        t = docs.select(
            "doc_id", "lang", "text", distinct_words("text").alias("ws")
        ).where(F.size("ws") > 0)
        corpus_t = t.where(F.col("doc_id") % 10 != 3)
        corpus_docs = docs.where(F.col("doc_id") % 10 != 3)
        cycles_src = [
            t.where(
                (F.col("doc_id") % 10 == 3)
                & (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            for lo, hi in CYCLE_RANGES
        ]
        table = "hcdc_crawl_loop_bench"
        chunk_table = "hcdc_crawl_loop_chunks_bench"
        best: list[dict] | None = None
        build = None
        for _ in range(passes):
            work = tempfile.mkdtemp(prefix="hcdc_crawl_loop_")
            try:
                t0 = time.time()
                D.write_doc_band_index(
                    spark, corpus_t.select("doc_id", "ws"), table,
                    os.path.join(work, "doc_index"),
                )
                write_chunk_index(
                    spark, corpus_docs, chunk_table,
                    os.path.join(work, "chunk_index"),
                )
                b = time.time() - t0
                build = b if build is None else min(build, b)
                admitted_dir = os.path.join(work, "admitted")
                rejected_dir = os.path.join(work, "rejected")
                clean_dir = os.path.join(work, "clean")
                cycles = []
                for i, t_b in enumerate(cycles_src):
                    # round-13: the self_dedup arm (c32's composed
                    # step) measured STANDALONE per cycle — the claim
                    # is that it is batch-sized: the batches are
                    # byte-identical at every scale point, so its wall
                    # must be corpus-independent (flat across sf),
                    # unlike the probe whose index grows 40x. Kept out
                    # of the gate timing so the gate/admit series stays
                    # comparable with the round-12 numbers.
                    t0 = time.time()
                    n_sd = D.batch_self_neardup_keep_first(
                        t_b, threshold=0.9
                    ).count()
                    sd_s = time.time() - t0
                    del_s, n_del = None, 0
                    if takedown and i == 1:
                        # the c31/c33 shape: delete HALF of the prior
                        # cycle's admissions before this cycle's probe
                        # (doc_id % 20 == 3 — the batch universe is
                        # % 10 == 3, so ids split ~evenly between the
                        # 3 and 13 residues mod 20; deterministic,
                        # batch-sized); later probes run with the
                        # tombstones pending
                        del_ids = [
                            r["doc_id"]
                            for r in spark.read.parquet(admitted_dir)
                            .where(F.col("doc_id") % 20 == 3)
                            .select("doc_id").distinct().collect()
                        ]
                        n_del = len(del_ids)
                        t0 = time.time()
                        delete_from_band_index(
                            spark, table, del_ids, batch_id=i
                        )
                        del_s = time.time() - t0
                    # the production gate's halves (c30/c31): probe,
                    # then this bench's quality + chunk-rewrite landing,
                    # then admit
                    t0 = time.time()
                    t_p, surv = _crawl_probe(
                        spark, t_b.select("doc_id", "lang", "text"), i,
                        table, corpus_t, admitted_dir, rejected_dir,
                        self_dedup=False,
                    )
                    surv = surv.where(quality_gate())
                    _land(
                        chunk_dedup_rewrite_vs(
                            surv.select("doc_id", "lang", "text"),
                            spark.table(chunk_table), carry=("lang",),
                        ),
                        i, clean_dir,
                    )
                    gate_s = time.time() - t0
                    t0 = time.time()
                    landed_b = _crawl_admit(
                        spark, t_p, i, clean_dir, table, admitted_dir
                    )
                    append_chunk_index(
                        spark,
                        landed_b.where(F.col("clean_text") != "").select(
                            F.col("clean_text").alias("text")
                        ),
                        chunk_table,
                    )
                    spark.catalog.refreshTable(chunk_table)
                    admit_s = time.time() - t0
                    n_rej = (
                        spark.read.parquet(rejected_dir)
                        .where(F.col("batch") == i)
                        .select("doc_new").distinct().count()
                    )
                    row = {
                        "gate": round(gate_s, 3),
                        "admit": round(admit_s, 3),
                        "landed": landed_b.count(),
                        "rejected": n_rej,
                        "self_dedup": round(sd_s, 3),
                        "self_survivors": n_sd,
                    }
                    if del_s is not None:
                        row["delete"] = round(del_s, 3)
                        row["n_deleted"] = n_del
                    cycles.append(row)
                if best is None or sum(
                    c["gate"] + c["admit"] for c in cycles
                ) < sum(c["gate"] + c["admit"] for c in best):
                    best = cycles
            finally:
                spark.sql(f"DROP TABLE IF EXISTS {table}")
                spark.sql(f"DROP TABLE IF EXISTS {chunk_table}")
                shutil.rmtree(work, ignore_errors=True)
        out[sf] = {
            "n_corpus_docs": corpus_docs.count(),
            "build": round(build, 3),
            "cycles": best,
        }
        print(f"# {sf}: {out[sf]}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
