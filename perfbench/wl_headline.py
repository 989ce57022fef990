"""headline_queries: eight of bench.py's 22 headline registry queries,
each built and executed to the ``noop`` sink, over seeded star-schema
tables.

The first warm-up pass collects every result instead; those results are
what the checks compare with each query's DuckDB ``oracle_sql()``. The
two queries without an oracle must return the same rows again after the
timed window. One step of the window is one pass; each query's latency
is a sample of its own kind, so a typical pass is the sum of the
queries' medians.
"""

from __future__ import annotations

import os
import time

from perfbench import checks, stats, tablegen
from perfbench.workload import BaseWorkload, Step

#: Eight of bench.py's headline set, in bench.py's order: the four whose
#: plan building runs eager jobs (q16, q29, q34, q36) and four shuffle
#: joins, aggregates and windows. Each distinct query costs the JVM a
#: cold compile and a long JIT warm-up, and all 22 do not fit a run:
#: a cold pass over them takes ~20 s and the passes after it keep
#: speeding up for another ~15 s.
NAMES = (
    "q01_pricing_summary", "q03_join_topn_revenue", "q05_star_join",
    "q13_window_rank", "q16_set_ops", "q29_minhash_lsh",
    "q34_knn_brute_force", "q36_ann_lsh",
)
#: ``noop`` passes after the collecting one, before the window: a pass's
#: wall time stops falling after about four passes in all
WARM_PASSES = 3
#: scale factor of the generated tables
SIZES = {"full": 0.01, "tiny": 0.001}


class Workload(BaseWorkload):
    n_checks = len(NAMES)

    def _prepare(self) -> None:
        import __spark_entry__ as entry

        self.sf_dir = os.path.join(self.work, "tables")
        tablegen.generate(self.sf_dir, SIZES[self.size], self.seed)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def setup(self) -> None:
        self._prepare()
        self.first = {}
        for name in NAMES:
            self.first[name] = checks.spark_canon(
                self.queries[name](self.spark, self.sf_dir)
            )
        # the JIT keeps speeding passes up for a while
        for _ in range(WARM_PASSES):
            self._pass()

    def _pass(self) -> list[float]:
        lat = []
        for name in NAMES:
            t0 = time.perf_counter()
            self.run_query(
                name,
                lambda: self.queries[name](self.spark, self.sf_dir),
                lambda df: df.write.format("noop").mode("overwrite").save(),
            )
            lat.append(time.perf_counter() - t0)
        return lat

    def step(self) -> Step:
        lat = self._pass()
        return Step(units=len(NAMES), latencies=lat, ops=len(NAMES),
                    kinds=list(NAMES))

    def checks(self, corrupt: bool = False) -> list[str]:
        import duckdb

        from hcdc_spark.catalog import TABLES

        if corrupt:
            self.first[NAMES[0]] = self.first[NAMES[0]][1:]
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        fails = []
        for name in NAMES:
            if name in self.oracles:
                want = checks.oracle_canon(con, self.oracles[name])
            else:
                want = checks.spark_canon(
                    self.queries[name](self.spark, self.sf_dir)
                )
            if self.first[name] != want:
                fails.append(f"{name}: {len(self.first[name])} rows differ "
                             f"from {'oracle' if name in self.oracles else 'a second pass'}"
                             f" ({len(want)} rows)")
        con.close()
        return fails

    def layer_metrics(self, since: float, window) -> dict[str, float]:
        n = len(NAMES)
        passes = [sum(window.latencies[i:i + n])
                  for i in range(0, len(window.latencies), n)]
        return {**self.query_layers(since),
                "operators.pass_s": stats.median(passes)}

    def reference_job(self) -> float:
        """One pass over the queries."""
        if not hasattr(self, "queries"):
            self._prepare()
        t0 = time.perf_counter()
        self._pass()
        return time.perf_counter() - t0
