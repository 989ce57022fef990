"""cdc_trickle: the full ``run_cdc_pipeline`` fed one small segment at a
time.

A feeder moves the next pre-written segment into the source directory
only after the previous micro-batch has committed, so the loop is
closed and each sample is one segment's capture-to-staging latency:
registry match, stateful fold, state log and dead letter, materialize to
staging and the schema registry.
"""

from __future__ import annotations

import os
import time

from perfbench import cdcgen, stats
from perfbench.workload import BaseWorkload, Step

SIZES = {
    # segments generated, files per segment, warm-up batches
    "full": (60, 4, 4),
    "tiny": (8, 2, 1),
}
BATCH_TIMEOUT_S = 120


class Workload(BaseWorkload):
    n_checks = 5

    def setup(self) -> None:
        from hcdc_spark.streaming.pipeline import run_cdc_pipeline

        n_seg, per_seg, self.n_warm = SIZES[self.size]
        self.inp = cdcgen.generate(
            os.path.join(self.work, "cdc"), self.seed, n_seg, per_seg
        )
        d = os.path.join(self.work, "pipeline")
        self.src = os.path.join(d, "segments")
        self.out = os.path.join(d, "out")
        self.ckpt = os.path.join(d, "ckpt")
        self.staging = os.path.join(d, "staging")
        self.schemas = os.path.join(d, "schemas")
        os.makedirs(self.src)
        if self.tracer.armed:
            self._wrap_sink_and_materialize()
        self.fed = 0
        self.q = run_cdc_pipeline(
            self.spark, self.src, self.out, self.ckpt, self.inp.rules,
            staging_dir=self.staging, registry_dir=self.schemas,
            max_files_per_trigger=1, available_now=False,
        )
        self.first_batch_s = self._feed()
        for _ in range(self.n_warm - 1):
            self._feed()
        self.listener = None

    def _feed(self) -> float:
        """Move the next segment in; wait for its micro-batch to commit."""
        seg = self.inp.segments[self.fed]
        dst = os.path.join(self.src, os.path.basename(seg))
        commit = os.path.join(self.ckpt, "commits", str(self.fed))
        t0 = time.perf_counter()
        os.rename(seg, dst)
        polls = 0
        while not os.path.exists(commit):
            time.sleep(0.002)
            polls += 1
            if polls % 50 == 0:
                if self.q.exception() is not None:
                    raise RuntimeError(f"stream failed: {self.q.exception()}")
                if time.perf_counter() - t0 > BATCH_TIMEOUT_S:
                    raise TimeoutError(f"batch {self.fed} did not commit")
        self.fed += 1
        return time.perf_counter() - t0

    def step(self) -> Step:
        if self.fed >= len(self.inp.segments):
            return Step(units=0, ops=0, exhausted=True)
        n_events = self.inp.seg_events[self.fed]
        return Step(units=n_events, latencies=[self._feed()])

    # ------------------------------------------------------------ checks
    def checks(self, corrupt: bool = False) -> list[str]:
        from pyspark.sql import functions as F

        from hcdc_spark.cdc.materialize import change_data, read_entity
        from hcdc_spark.streaming.reconciler import latest_state

        spark, n = self.spark, self.fed
        fails = []
        if self.q.exception() is not None or not self.q.isActive:
            fails.append(f"stream not healthy: {self.q.exception()}")
        self.q.stop()
        if corrupt:
            _drop_one_staged_file(self.staging)

        got = {
            r["inode_id"]: r.asDict()
            for r in latest_state(spark, self.out)
            .select(*cdcgen.STATE_COLS).collect()
        }
        want = self.inp.expected_state(n)
        if got != want:
            bad = sorted(k for k in set(got) | set(want)
                         if got.get(k) != want.get(k))
            fails.append(f"latest_state differs on {len(bad)} inodes, "
                         f"e.g. {bad[:3]}")

        ghosts = self.inp.expected_ghosts(n)
        err_dir = os.path.join(self.out, "errors")
        got_err = sorted(
            (r["tx_id"], r["inode_id"])
            for r in spark.read.parquet(err_dir)
            .select("tx_id", "inode_id").collect()
        ) if os.path.isdir(err_dir) else []
        if got_err != ghosts:
            fails.append(f"dead letter has {len(got_err)} rows, "
                         f"expected {len(ghosts)}")

        want_rows = self.inp.expected_entity_rows(n)
        for (dom, ent), cols in sorted(cdcgen.ENTITIES.items()):
            names = [c for c, _ in cols]
            exp = want_rows.get((dom, ent), [])
            if not exp and not os.path.isdir(
                os.path.join(self.staging, "data", dom, ent)
            ):
                continue
            rows = sorted(
                tuple(r) for r in read_entity(spark, self.staging, dom, ent)
                .select(*names).collect()
            )
            if rows != exp:
                fails.append(f"read_entity({dom}.{ent}) has {len(rows)} "
                             f"rows, expected {len(exp)}")

        ptr = {
            r["src_path"]
            for r in change_data(spark, self.staging)
            .select(F.regexp_replace("src_path", r"^file:", "")
                    .alias("src_path")).collect()
        }
        leaked = ptr & self.inp.unmatched
        if leaked:
            fails.append(f"{len(leaked)} unmatched paths in change_data")
        return fails

    # ------------------------------------------------------------- trace
    def _wrap_sink_and_materialize(self) -> None:
        """Both names are looked up when run_cdc_pipeline is called, so
        wrapping the module attributes first puts spans around every
        call without touching the pipeline."""
        import hcdc_spark.cdc.materialize as M
        import hcdc_spark.streaming.reconciler as R

        tracer, orig_sink, orig_mat = self.tracer, R.state_log_sink, M.materialize
        self.staged_paths: list[str] = []

        def state_log_sink(*a, **kw):
            sink = orig_sink(*a, **kw)

            def traced_sink(batch_df, batch_id):
                with tracer.span("streaming.sink", batch=batch_id):
                    sink(batch_df, batch_id)
            return traced_sink

        def materialize(*a, **kw):
            with tracer.span("cdc.materialize") as sp:
                res = orig_mat(*a, **kw)
                sp["groups"] = res.n_groups
            if tracer.enabled:
                self.staged_paths.extend(
                    r[0] for r in res.pointers.select("src_path").collect()
                )
            return res

        R.state_log_sink = state_log_sink
        M.materialize = materialize

    def start_trace(self) -> None:
        from perfbench.trace import ProgressListener

        self.trace_from_batch = self.fed
        self.staged_paths = []
        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)

    def stop_trace(self) -> None:
        # a batch's progress event is posted after its commit file
        # appears, so wait for the last fed batch's event
        deadline = time.perf_counter() + 30
        while time.perf_counter() < deadline and (
            not self.listener.batches
            or self.listener.batches[-1]["batch_id"] < self.fed - 1
        ):
            time.sleep(0.05)
        self.spark.streams.removeListener(self.listener)

    def layer_metrics(self, since: float, window) -> dict[str, float]:
        b = [x for x in self.listener.batches
             if x["batch_id"] >= self.trace_from_batch]

        def dur(*keys):
            return stats.median([sum(x["duration_ms"].get(k, 0) for k in keys)
                               for x in b])

        sink_s = self.tracer.total("streaming.sink", since)
        mat = self.tracer.closed("cdc.materialize", since)
        mat_s = sum(s["end"] - s["start"] for s in mat)
        files = len(self.staged_paths)

        def rows_in_window(table):
            path = os.path.join(self.out, table)
            if not os.path.isdir(path):
                return None
            df = self.spark.read.parquet(path)
            return df.where(df.batch_id >= self.trace_from_batch)

        log = rows_in_window("file_state_log")
        errors = rows_in_window("errors")
        log_rows = log.count()
        return {
            "streaming.trigger_ms_p50": dur("triggerExecution"),
            "streaming.add_batch_ms_p50": dur("addBatch"),
            "streaming.wal_commit_ms_p50": dur("walCommit"),
            "streaming.commit_offsets_ms_p50": dur("commitOffsets"),
            "streaming.query_planning_ms_p50": dur("queryPlanning"),
            "streaming.source_ms_p50": dur("latestOffset", "getBatch"),
            "streaming.state_commit_ms_p50": stats.median(
                [x["state_commit_ms"] for x in b]),
            "streaming.state_rows_total": b[-1]["state_rows_total"] if b else 0,
            "streaming.state_memory_bytes":
                b[-1]["state_memory_bytes"] if b else 0,
            "streaming.fold_rows_out": sum(x["state_rows_updated"] for x in b),
            "streaming.batches": len(b),
            "streaming.first_batch_s": self.first_batch_s,
            "streaming.sink_self_s": sink_s - mat_s,
            "streaming.batch_latency_ms_p50":
                stats.median(window.latencies) * 1e3,
            "cdc.materialize_s": mat_s,
            "cdc.materialize_groups": sum(s.get("groups", 0) for s in mat),
            "cdc.staged_files": files,
            "cdc.materialize_ms_per_file": mat_s * 1e3 / files if files else 0,
            "cdc.staged_rows": sum(len(self.inp.rows[p.replace("file:", "")])
                                   for p in self.staged_paths),
            "cdc.events_in": sum(x["rows_in"] for x in b),
            "cdc.registry_match_ratio":
                log.where(log.domain.isNotNull()).count() / max(log_rows, 1),
            "cdc.state_log_rows": log_rows,
            "cdc.dead_letter_rows": errors.count() if errors else 0,
        }

    # --------------------------------------------------------- reference
    def reference_job(self) -> float:
        """An availableNow drain of a fixed four-segment backlog into a
        fresh checkpoint: query start, four micro-batches, staging."""
        from hcdc_spark.streaming.pipeline import run_cdc_pipeline

        d = os.path.join(self.work, "reference")
        inp = cdcgen.generate(d, self.seed + 1, 4, 4)
        t0 = time.perf_counter()
        q = run_cdc_pipeline(
            self.spark, inp.backlog_dir, f"{d}/out", f"{d}/ckpt", inp.rules,
            staging_dir=f"{d}/staging", registry_dir=f"{d}/schemas",
            max_files_per_trigger=1, available_now=True,
        )
        if not q.awaitTermination(BATCH_TIMEOUT_S) or q.exception():
            q.stop()
            raise RuntimeError("reference drain did not finish cleanly")
        return time.perf_counter() - t0

    def close(self) -> None:
        if self.q.isActive:
            self.q.stop()


def _drop_one_staged_file(staging: str) -> None:
    for dirpath, _dirs, files in sorted(os.walk(os.path.join(staging, "data"))):
        for f in sorted(files):
            if f.endswith(".parquet"):
                os.remove(os.path.join(dirpath, f))
                return
