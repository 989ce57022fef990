"""index_lifecycle: an IVF-PQ index and a band index over seeded
embeddings, driven through their whole lifecycle in a fixed cycle.

A cycle is this fixed sequence of operations, and one timed step is one
operation of it:

1. every other cycle, ``compact_ivfpq_index`` and ``compact_band_index``
   (the warm-up cycle and then every odd one, so the timed window opens
   with a compaction and its searches see one, then two cycles of
   deltas and tombstones);
2. a band probe of the next ingest batch (``incremental_neardup_pairs``);
3. ``append_band_index`` and ``append_ivfpq_delta`` of that batch;
4. ``takedown`` of a few live ids from both indexes;
5. several ``ivfpq_index_search`` calls.

The seed makes the vectors (with planted near-duplicates in the ingest
batches) and picks the deleted ids and the query vectors. The latency
samples are the searches; their cost grows with uncompacted batches and
tombstones.
"""

from __future__ import annotations

import glob
import os
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.workload import BaseWorkload, Step

SIZES = {
    # vectors, base corpus, ingest batch, cycles available
    "full": (2000, 1000, 40, 25),
    "tiny": (400, 200, 20, 4),
}
DIM = 64
SEARCHES = 4
DELETES = 3
COMPACT_EVERY = 2
DUP_SHARE = 0.1


def make_embeddings(path: str, n: int, n_base: int, seed: int) -> np.ndarray:
    """Unit vectors; a share of those after the base corpus are small
    perturbations of base vectors, so the probes find pairs."""
    rng = np.random.default_rng(seed)
    vec = rng.standard_normal((n, DIM)).astype("float32")
    dups = rng.choice(np.arange(n_base, n), size=int((n - n_base) * DUP_SHARE),
                      replace=False)
    src = rng.integers(0, n_base, len(dups))
    vec[dups] = vec[src] + 0.05 * rng.standard_normal((len(dups), DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }), path)
    return vec


class Workload(BaseWorkload):
    n_checks = 2

    def _prepare(self) -> None:
        from pyspark.sql import functions as F

        n, self.n_base, self.batch, self.max_cycles = SIZES[self.size]
        os.makedirs(self.work, exist_ok=True)
        emb_path = os.path.join(self.work, "embeddings.parquet")
        self.vec = make_embeddings(emb_path, n, self.n_base, self.seed)
        self.emb = self.spark.read.parquet(emb_path)
        self.base = self.emb.where(F.col("vec_id") < self.n_base)
        self.ivf = os.path.join(self.work, "ivfpq")
        self.table = f"band_idx_{self.seed}"
        self.band_path = os.path.join(self.work, "band")
        self.rng = random.Random(self.seed)

    def _build(self, tag: str = "") -> None:
        from hcdc_spark.operators import similarity as S

        S.write_ivfpq_index(self.spark, self.base, self.ivf + tag)
        S.write_band_index(self.spark, self.base, self.table + tag,
                           self.band_path + tag)

    def setup(self) -> None:
        self._prepare()
        t0 = time.perf_counter()
        self._build()
        self.build_s = time.perf_counter() - t0
        self.cycle = 0
        self.live = set(range(self.n_base))
        self.deleted: set[int] = set()
        self.results: list[tuple[frozenset[int], list[int]]] = []
        self.pending: list = []
        for op in self._cycle_ops(compact=True):   # warm-up: every verb
            op()

    def _cycle_ops(self, compact: bool) -> list:
        """The operations of the next cycle, in order. Each is a callable
        returning its search latency, or None for the other verbs."""
        from pyspark.sql import functions as F

        from hcdc_spark.operators import similarity as S

        spark, tr, i = self.spark, self.tracer, self.cycle + 1
        lo = self.n_base + self.cycle * self.batch
        self.cycle += 1
        batch = self.emb.where(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + self.batch)
        )
        corpus = self.emb.where(F.col("vec_id") < lo)

        def probe():
            with tr.span("operators.index_probe"):
                S.incremental_neardup_pairs(
                    spark, batch, self.table, corpus).collect()

        def append_band():
            with tr.span("operators.index_append"):
                S.append_band_index(spark, batch, self.table, batch_id=i)

        def append_ivf():
            with tr.span("operators.index_append"):
                S.append_ivfpq_delta(spark, batch, self.ivf, batch_id=i)
            self.live |= set(range(lo, lo + self.batch))

        def delete():
            gone = self.rng.sample(sorted(self.live), DELETES)
            with tr.span("operators.index_delete"):
                S.takedown(spark, gone, band_tables=(self.table,),
                           ivfpq_paths=(self.ivf,), batch_id=i)
            self.live -= set(gone)
            self.deleted |= set(gone)

        def search():
            qid = self.rng.choice(sorted(self.live))
            qv = [float(x) for x in self.vec[qid]]
            t0 = time.perf_counter()
            with tr.span("operators.index_search"):
                rows = self.run_query(
                    "ivfpq_index_search",
                    lambda: S.ivfpq_index_search(spark, self.ivf, qv,
                                                 exclude_id=qid),
                    lambda df: df.collect(),
                )
            lat = time.perf_counter() - t0
            self.results.append((frozenset(self.deleted),
                                 [r["vec_id"] for r in rows]))
            return lat

        def compact_ivf():
            with tr.span("operators.index_compact"):
                S.compact_ivfpq_index(spark, self.ivf)

        def compact_band():
            with tr.span("operators.index_compact"):
                S.compact_band_index(spark, self.table)

        ops = [probe, append_band, append_ivf, delete] + [search] * SEARCHES
        return ([compact_ivf, compact_band] if compact else []) + ops

    def step(self) -> Step:
        if not self.pending:
            if self.cycle >= self.max_cycles:
                return Step(units=0, ops=0, exhausted=True)
            compact = self.cycle % COMPACT_EVERY == 1
            self.pending = self._cycle_ops(compact)
        lat = self.pending.pop(0)()
        return Step(units=1, latencies=[] if lat is None else [lat])

    def checks(self, corrupt: bool = False) -> list[str]:
        from hcdc_spark.operators import similarity as S

        fails = []
        if corrupt:
            self.results[-1][1].append(min(self.deleted))
        leaked = sum(1 for dead, ids in self.results if dead & set(ids))
        if leaked:
            fails.append(f"{leaked} searches returned a tombstoned id")
        S.compact_ivfpq_index(self.spark, self.ivf)
        ids = {r[0] for r in self.spark.read.parquet(
            os.path.join(self.ivf, "codes")).select("vec_id").collect()}
        if ids != self.live:
            fails.append(f"compacted codes hold {len(ids)} ids, "
                         f"{len(self.live)} are live")
        return fails

    def layer_metrics(self, since: float, window) -> dict[str, float]:
        codes = os.path.join(self.ivf, "codes")
        files = glob.glob(f"{codes}/**/*.parquet", recursive=True) + glob.glob(
            f"{self.band_path}/**/*.parquet", recursive=True)
        tombs = os.path.join(codes, "_tombstones")
        n_tomb = pq.read_table(tombs).num_rows if os.path.isdir(tombs) else 0
        t = self.tracer
        return {
            **self.query_layers(since),
            "operators.index_build_s": self.build_s,
            "operators.index_append_s": t.total("operators.index_append", since),
            "operators.index_delete_s": t.total("operators.index_delete", since),
            "operators.index_compact_s":
                t.total("operators.index_compact", since),
            "operators.index_probe_s": t.total("operators.index_probe", since),
            "operators.index_search_s": t.total("operators.index_search", since),
            "operators.index_files": len(files),
            "operators.index_tombstones": n_tomb,
        }

    def reference_job(self) -> float:
        """Building both indexes over the base corpus."""
        if not hasattr(self, "emb"):
            self._prepare()
        t0 = time.perf_counter()
        self._build("_ref")
        return time.perf_counter() - t0
