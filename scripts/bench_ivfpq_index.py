"""Read-side win of the MATERIALIZED IVF-PQ index (q102 vs q101).

q101 re-encodes the whole corpus inline on every query (subvector
scoring against the codebook + argmax window = the index BUILD cost,
paid per query). q102's split pays the build once (write_ivfpq_index)
and serves every query from a partition-pruned scan of one-byte codes.
This script measures all three legs at sf0.1 and a synthesized scale
point (default .benchdata/sf4, scripts/gen_sf_scale.py 40):

  inline  = q101 end-to-end (the per-query cost WITHOUT the index)
  build   = write_ivfpq_index (paid once per corpus version)
  search  = ivfpq_index_search over the prebuilt index (per-query cost)

Prints one JSON line:
  {sf: {"inline": s, "build": s, "search": s, "win": inline/search}}

Usage: python scripts/bench_ivfpq_index.py [passes=3] [sf_label=sf4]
"""

from __future__ import annotations

import json
import pathlib
import shutil
import sys
import tempfile
import time

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def _best(fn, passes: int) -> float:
    fn()  # warmup (codegen/JIT)
    best = float("inf")
    for _ in range(passes):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return best


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    big = sys.argv[2] if len(sys.argv) > 2 else "sf4"
    sf_dirs = {"sf0.1": "/root/testdata/sf0.1",
               big: str(ROOT / ".benchdata" / big)}
    from pyspark.sql import functions as F

    from hcdc_spark.operators import similarity as S
    from hcdc_spark.session import get_spark

    spark = get_spark("hcdc-bench-ivfpq")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict[str, float]] = {}
    for sf, d in sf_dirs.items():
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        qv = (
            emb.where(F.col("vec_id") == 0)
            .select("embedding")
            .collect()[0][0]
        )
        work = tempfile.mkdtemp(prefix="hcdc_ivfpq_bench_")
        try:
            idx = f"{work}/ivfpq"
            inline = _best(lambda: S.q101_ivfpq_ann(spark, d).collect(),
                           passes)
            t0 = time.time()
            S.write_ivfpq_index(spark, emb, idx)
            build = time.time() - t0
            search = _best(
                lambda: S.ivfpq_index_search(
                    spark, idx, qv, exclude_id=0
                ).collect(),
                passes,
            )
            out[sf] = {
                "inline": round(inline, 3),
                "build": round(build, 3),
                "search": round(search, 3),
                "win": round(inline / search, 2),
            }
            if sf == big:
                # the growth policy's read-side claim: at the 40x
                # point the FIXED 16-cell geometry probes 4/16 of the
                # corpus, sqrt-sized cells (ivfpq_scaled_cells) probe
                # 4/n_cells — the probed code rows shrink from a
                # constant corpus fraction to ~sqrt-tracking
                n = S.read_ivfpq_meta(spark, idx)["n_rows"]
                cells = S.ivfpq_scaled_cells(n)
                sized = f"{work}/ivfpq_sized"
                S.write_ivfpq_index(spark, emb, sized, n_cells=cells)

                def probed_rows(path: str, nc: int) -> int:
                    # probe selection must be ivfpq_index_search's
                    # EXACT cosine ranking (dot / (|q||c|)) — raw dot
                    # would pick different cells whenever a large-norm
                    # centroid out-dots a better-aligned one, and the
                    # row count would describe partitions the measured
                    # search never reads
                    cents = spark.read.parquet(f"{path}/centroids")
                    qarr = F.array(
                        *[F.lit(float(x)).cast("double") for x in qv]
                    )

                    def dot(a, b):
                        return F.aggregate(
                            F.zip_with(a, b, lambda x, y: x * y),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        )

                    cs = dot(qarr, F.col("c")) / (
                        F.sqrt(dot(qarr, qarr))
                        * F.sqrt(dot(F.col("c"), F.col("c")))
                    )
                    qcs = cents.select("ccid", cs.alias("cs")).collect()
                    probes = [
                        r["ccid"]
                        for r in sorted(qcs,
                                        key=lambda r: (-r["cs"], r["ccid"]))
                    ][:4]
                    return (
                        spark.read.parquet(f"{path}/codes")
                        .where(F.col("cell").isin(probes))
                        .count()
                    )

                search_sized = _best(
                    lambda: S.ivfpq_index_search(
                        spark, sized, qv, exclude_id=0
                    ).collect(),
                    passes,
                )
                out[sf].update(
                    n_cells_sized=cells,
                    probed_rows_16=probed_rows(idx, 16),
                    probed_rows_sized=probed_rows(sized, cells),
                    search_sized=round(search_sized, 3),
                )

                # round-13 TAKEDOWN arm (delete_from_ivfpq_index):
                # deleting 1/20th of the corpus must be O(|ids|) — a
                # tombstone append — the tombstoned search keeps its
                # cell partition pruning (plan-gated) and pays only a
                # broadcast anti-join, and compaction drops the dead
                # rows physically, clearing the tombstones with the
                # index swap.
                del_ids = emb.where(
                    F.col("vec_id") % 20 == 14
                ).select("vec_id")
                n_del = del_ids.count()
                t0 = time.time()
                S.delete_from_ivfpq_index(spark, idx, del_ids,
                                          batch_id=1)
                delete_s = time.time() - t0
                search_tomb = _best(
                    lambda: S.ivfpq_index_search(
                        spark, idx, qv, exclude_id=0
                    ).collect(),
                    passes,
                )
                t0 = time.time()
                S.compact_ivfpq_index(spark, idx)
                compact_tomb = time.time() - t0
                tomb_cleared = not pathlib.Path(
                    idx, "codes", "_tombstones"
                ).is_dir()
                search_post = _best(
                    lambda: S.ivfpq_index_search(
                        spark, idx, qv, exclude_id=0
                    ).collect(),
                    passes,
                )
                out[sf].update(
                    n_deleted=int(n_del),
                    delete=round(delete_s, 3),
                    search_tombstoned=round(search_tomb, 3),
                    compact_tombstoned=round(compact_tomb, 3),
                    tombstones_cleared=tomb_cleared,
                    search_post_compact=round(search_post, 3),
                )
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
