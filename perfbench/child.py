"""One workload in one fresh process: set up, measure, check, report.

Started by ``perfbench/run.py`` with the checkout root on PYTHONPATH (the
fold's Python workers import ``hcdc_spark`` from there too). Prints one
JSON object as its last line of standard output.

Timeline of a run:

1. set-up (``setup_s``): Spark session, seeded inputs, an untimed
   warm-up of the same operation mix, which absorbs the first-batch and
   first-search costs, and the first runs of the calibration job
   (``perfbench/calib.py``);
2. the timed window: whole steps, closed loop, until ``--seconds`` have
   passed and at least MIN_STEPS steps have run, each step followed by
   the calibration job;
3. output checks, outside any timed region.

The end-to-end latency and throughput are in calibration units: the
typical step's wall-clock seconds over the median calibration job's, so
that a shared host running this process slower or faster for a while
moves them far less than it moves the seconds. The wall-clock figures
are per-layer metrics of the traced run.

With ``--trace 1`` the untimed window is followed by a second, traced
window over the same mix; its spans, listener records, planning phases
and REST figures give the per-layer metrics, and the ratio of the two
windows' median operation latency is ``trace.overhead_ratio``. A last step
restarts the session on one core and times the workload's fixed
reference job, for ``spark.speedup_1core``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

from perfbench import stats
from perfbench.calib import Calibration
from perfbench.trace import SparkRest, Tracer, peak_rss_mb, session_cpu_s

WORKLOADS = {
    "cdc_trickle": "perfbench.wl_cdc",
    "headline_queries": "perfbench.wl_headline",
    "index_lifecycle": "perfbench.wl_index",
}

#: the metrics this benchmark declares; a run prints exactly one set
END_TO_END = ("setup_s", "latency_p50_calib", "throughput_per_calib")
UNITS = {"setup_s": "s", "latency_p50_calib": "calib",
         "throughput_per_calib": "1/calib"}
#: calibration runs after the cold one, before the timed window; with
#: those after each step, their median is the run's calibration time
CALIB_WARMUP = 2
#: a window holds at least this many steps, so that a slow host does not
#: leave a workload whose steps still speed up with one or two samples
MIN_STEPS = 3

#: per-layer metrics, printed by every traced run; a layer a workload
#: does not exercise reads 0
PER_LAYER = {
    # streaming: the micro-batch durationMs split and state operators
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.source_ms_p50": "ms",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.batch_latency_ms_p50": "ms",
    "streaming.sink_self_s": "s",
    "streaming.fold_rows_out": "count",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.first_batch_s": "s",
    # cdc: materialize and the tables the sink writes
    "cdc.materialize_s": "s",
    "cdc.materialize_ms_per_file": "ms",
    "cdc.materialize_groups": "count",
    "cdc.staged_files": "count",
    "cdc.staged_rows": "count",
    "cdc.registry_match_ratio": "ratio",
    "cdc.events_in": "count",
    "cdc.state_log_rows": "count",
    "cdc.dead_letter_rows": "count",
    # operators and Catalyst: registry queries
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.execute_s": "s",
    "operators.pass_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    # operators: index verbs
    "operators.index_build_s": "s",
    "operators.index_append_s": "s",
    "operators.index_delete_s": "s",
    "operators.index_compact_s": "s",
    "operators.index_probe_s": "s",
    "operators.index_search_s": "s",
    "operators.index_files": "count",
    "operators.index_tombstones": "count",
    # spark: jobs, stages, tasks and executor figures of the traced window
    "spark.jobs_per_op": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.speedup_1core": "ratio",
    # the run itself, in wall-clock and CPU seconds
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
    "calib_s": "s",
    "cpu_s_per_step": "s",
    "peak_rss_mb": "MB",
    "latency_samples": "count",
    "latency_p75_s": "s",
    "failed_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    "trace.latency_p50_s": "s",
}


class Window:
    """Totals of one timed window."""

    def __init__(self):
        self.units = 0.0           # throughput numerator (events, queries…)
        self.latencies: list[float] = []
        self.by_kind: dict[str, list[float]] = {}
        self.ops = 0               # operations attempted
        self.failed = 0
        self.steps: list[float] = []   # wall seconds of each step
        self.cpu: list[float] = []     # CPU seconds of each step

    def step_units_per_s(self) -> float:
        """Throughput over the steps' wall-clock time."""
        return self.units / sum(self.steps) if self.steps else 0.0

    def typical_units_per_s(self) -> float:
        """Throughput of the typical step: with one client in a closed
        loop, the mean units of a step over the typical step's time."""
        typical = self.typical_step_s()
        return self.units / len(self.steps) / typical if typical else 0.0

    def typical_step_s(self) -> float:
        """The sum over sample kinds of each kind's median latency: one
        micro-batch, or one pass with every query at its median."""
        return sum(stats.median(v) for v in self.by_kind.values())


def measure(wl, seconds: float, calib) -> Window:
    """Run whole steps, back to back, until ``seconds`` have passed and at
    least MIN_STEPS have run, each followed by the calibration job."""
    w = Window()
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(w.steps) < MIN_STEPS:
        c0 = session_cpu_s()
        t_step = time.perf_counter()
        try:
            step = wl.step()
        except Exception:
            traceback.print_exc()
            w.ops += 1
            w.failed += 1
            break
        if step.exhausted:
            break
        w.steps.append(time.perf_counter() - t_step)
        w.cpu.append(session_cpu_s() - c0)
        calib.run()
        w.units += step.units
        w.latencies.extend(step.latencies)
        for kind, lat in zip(step.kinds or ["op"] * len(step.latencies),
                             step.latencies):
            w.by_kind.setdefault(kind, []).append(lat)
        w.ops += step.ops
    print(f"perfbench: steps {[round(x, 3) for x in w.steps]} s, "
          f"cpu {[round(x, 2) for x in w.cpu]} s, "
          f"latencies {[round(x, 3) for x in w.latencies]} s",
          file=sys.stderr)
    return w


def session(cores: int, work: str, app: str):
    from hcdc_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app,
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in the system /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="wall clock (time.time) when the run started")
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    ap.add_argument("--corrupt", action="store_true",
                    help="damage the program's output before the checks "
                         "(self-test of the checks)")
    args = ap.parse_args(argv)

    work = args.work
    os.makedirs(work, exist_ok=True)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    spark = session(cores, work, f"perfbench-{args.workload}")
    mod = importlib.import_module(WORKLOADS[args.workload])
    tracer = Tracer(armed=bool(args.trace))
    wl = mod.Workload(spark, work, args.seed, args.size, tracer)
    wl.setup()
    calib = Calibration(spark, work)
    calib.run()   # cold: its own first plans and Python worker
    calib.samples.clear()
    for _ in range(CALIB_WARMUP):
        calib.run()
    setup_s = time.time() - args.t0

    main_w = measure(wl, args.seconds, calib)
    print(f"perfbench: calibration {[round(x, 3) for x in calib.samples]} s",
          file=sys.stderr)
    rss = peak_rss_mb(spark)
    traced_w = None
    layers: dict[str, float] = {}
    if args.trace:
        rest = SparkRest(spark)
        mark = rest.mark()
        tracer.enabled = True
        wl.start_trace()
        t_tr = time.perf_counter()
        traced_w = measure(wl, args.seconds, calib)
        tracer.enabled = False
        wl.stop_trace()
        win = rest.window(mark)
        layers.update({f"spark.{k}": v for k, v in win.items()})
        layers["spark.jobs_per_op"] = win["jobs"] / max(traced_w.ops, 1)
        layers.update(wl.layer_metrics(t_tr, traced_w))
        untraced_p50 = stats.median(main_w.latencies)
        layers["trace.latency_p50_s"] = stats.median(traced_w.latencies)
        layers["trace.overhead_ratio"] = (
            layers["trace.latency_p50_s"] / untraced_p50 if untraced_p50
            else 0.0
        )
        layers["peak_rss_mb"] = rss
        layers["latency_p50_s"] = untraced_p50
        layers["throughput_per_s"] = main_w.step_units_per_s()
        layers["calib_s"] = calib.median()
        layers["cpu_s_per_step"] = stats.median(main_w.cpu)
        layers["latency_samples"] = len(main_w.latencies)
        # reads 0 unless the window holds ten samples beyond it
        layers["latency_p75_s"] = stats.percentile(main_w.latencies, 75) or 0

    try:
        failures = wl.checks(corrupt=args.corrupt)
    except Exception as exc:  # a check that cannot read the output fails
        traceback.print_exc()
        failures = [f"checks raised {type(exc).__name__}"]
    for f in failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    windows = [w for w in (main_w, traced_w) if w is not None]
    attempted = sum(w.ops for w in windows) + wl.n_checks
    failed = sum(w.failed for w in windows) + len(failures)

    if args.trace:
        t_ref = wl.reference_job()
        wl.close()
        spark.stop()
        spark = session(1, work, f"perfbench-{args.workload}-1core")
        wl1 = mod.Workload(spark, os.path.join(work, "one_core"), args.seed,
                           args.size, Tracer())
        t_one = wl1.reference_job()
        layers["spark.speedup_1core"] = t_one / t_ref if t_ref else 0.0
        layers["failed_ratio"] = failed / max(attempted, 1)
        tracer.dump(os.path.join(os.path.dirname(work),
                                 f"spans-{args.workload}-{args.seed}.json"))
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        wl.close()
        values = {
            "setup_s": setup_s,
            "latency_p50_calib": main_w.typical_step_s() / calib.median(),
            "throughput_per_calib":
                main_w.typical_units_per_s() * calib.median(),
        }
        metrics = {k: {"value": values[k], "unit": UNITS[k]}
                   for k in END_TO_END}
    bad = stats.check_names(metrics)
    if bad:
        print(f"bad metric names: {bad}", file=sys.stderr)
        failed += len(bad)
    spark.stop()
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
