"""Per-ingest-batch cost of the COMPOSED crawl gate (c26's shape) as
the corpus grows 40x: build the two corpus artifacts once (MinHash
band index + bucketed chunk-hash index), then run the full gate —
near-dup probe, quality gate, chunk-dedup rewrite — over the SAME
fixed 200-document batch and time it min-of-N.

Both corpus-side operands are build-once bucketed tables, so the
per-batch gate must track the BATCH (candidate verify + batch-chunk
join), not the corpus: flat-ish wall while the corpus grows 40x is
the pass condition; corpus-linear growth would mean an artifact is
being re-shuffled per batch.

Prints one JSON line:
  {sf: {"n_docs": n, "build_band": s, "build_chunks": s,
        "gate": s, "landed": n, "rejected": n}}

Usage: python scripts/bench_crawl_gate.py [passes=3] [sf_label=sf4]
"""

from __future__ import annotations

import json
import pathlib
import sys
import tempfile
import time

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    big = sys.argv[2] if len(sys.argv) > 2 else "sf4"
    sf_dirs = {"sf0.1": "/root/testdata/sf0.1",
               big: str(ROOT / ".benchdata" / big)}
    from pyspark.sql import functions as F

    from hcdc_spark.functions.text import distinct_words, quality_gate
    from hcdc_spark.operators import dedup as D
    from hcdc_spark.operators.text import (
        chunk_dedup_rewrite_vs,
        write_chunk_index,
    )
    from hcdc_spark.session import get_spark

    spark = get_spark("hcdc-bench-crawlgate")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict[str, float]] = {}
    for sf, d in sf_dirs.items():
        docs = spark.read.parquet(f"{d}/documents.parquet")
        n_docs = docs.count()
        # fixed ingest batch: the first 200 doc_ids (copy 0 is
        # byte-identical across the synthesized corpora)
        batch = docs.where(F.col("doc_id") < 200)
        corpus = docs.where(F.col("doc_id") >= 200)
        t = lambda df: df.select(  # noqa: E731
            "doc_id", "lang", "text", distinct_words("text").alias("ws")
        ).where(F.size("ws") > 0)
        corpus_t, batch_t = t(corpus), t(batch)
        band_tbl, chunk_tbl = "hcdc_cg_band", "hcdc_cg_chunks"
        work = tempfile.mkdtemp(prefix="hcdc_crawlgate_")
        try:
            t0 = time.time()
            D.write_doc_band_index(
                spark, corpus_t.select("doc_id", "ws"), band_tbl,
                f"{work}/band",
            )
            build_band = time.time() - t0
            t0 = time.time()
            write_chunk_index(spark, corpus, chunk_tbl, f"{work}/chunks")
            build_chunks = time.time() - t0
            ref = spark.table(chunk_tbl)

            def gate() -> tuple[int, int]:
                hits = (
                    D.incremental_doc_neardup(
                        spark, batch_t.select("doc_id", "ws"), band_tbl,
                        corpus_t.select("doc_id", "ws"), threshold=0.9,
                    )
                    .select(F.col("doc_new").alias("doc_id"))
                    .distinct()
                )
                surv = batch_t.join(hits, "doc_id", "left_anti").where(
                    quality_gate()
                )
                landed = chunk_dedup_rewrite_vs(surv, ref).count()
                return landed, batch_t.count() - landed

            gate()  # warmup
            best, landed, rejected = float("inf"), 0, 0
            for _ in range(passes):
                t0 = time.time()
                landed, rejected = gate()
                best = min(best, time.time() - t0)
            out[sf] = {
                "n_docs": int(n_docs),
                "build_band": round(build_band, 3),
                "build_chunks": round(build_chunks, 3),
                "gate": round(best, 3),
                "landed": landed,
                "rejected": rejected,
            }
        finally:
            for tbl in (band_tbl, chunk_tbl):
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            import shutil

            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
