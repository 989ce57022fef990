"""What every workload module provides to ``perfbench/child.py``."""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field

from perfbench.trace import jobs_in_group, planning_phases_ms


@dataclass
class Step:
    """One closed-loop operation (or fixed group of operations)."""

    units: float                 # adds to the throughput numerator
    latencies: list[float] = field(default_factory=list)
    ops: int = 1                 # operations attempted in the step
    exhausted: bool = False      # no input left; the window ends early
    #: what each latency sample times (a query's name); one kind if None
    kinds: list[str] | None = None


class BaseWorkload:
    """Defaults; each workload module defines ``Workload(BaseWorkload)``.

    ``setup`` makes the inputs and runs the warm-up, ``step`` runs one
    timed operation, ``checks`` compares the program's outputs with the
    expected ones and returns the failures, ``reference_job`` runs and
    times the fixed job behind ``spark.speedup_1core``.
    """

    #: number of output checks ``checks`` runs
    n_checks = 0

    def __init__(self, spark, work: str, seed: int, size: str, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self._groups = itertools.count()

    def setup(self) -> None:
        raise NotImplementedError

    def step(self) -> Step:
        raise NotImplementedError

    def checks(self, corrupt: bool = False) -> list[str]:
        raise NotImplementedError

    def reference_job(self) -> float:
        raise NotImplementedError

    def start_trace(self) -> None:
        pass

    def stop_trace(self) -> None:
        pass

    def layer_metrics(self, since: float, window) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass

    def run_query(self, name: str, build, execute):
        """``execute(build())`` with spans around both halves; when
        tracing, also the jobs the build ran eagerly and the Catalyst
        phases of the built DataFrame."""
        tr, sc = self.tracer, self.spark.sparkContext
        group = f"build-{next(self._groups)}"
        if tr.enabled:
            sc.setJobGroup(group, name)
        with tr.span("operators.build", query=name):
            df = build()
        if tr.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)
        with tr.span("operators.execute", query=name) as sp:
            out = execute(df)
        if tr.enabled:
            sp["build_jobs"] = jobs_in_group(self.spark, group)
            sp.update(planning_phases_ms(df))
        return out

    def query_layers(self, since: float) -> dict[str, float]:
        """Per-layer totals of the run_query calls since ``since``."""
        ex = self.tracer.closed("operators.execute", since)
        return {
            "operators.build_s": self.tracer.total("operators.build", since),
            "operators.execute_s": sum(s["end"] - s["start"] for s in ex),
            "operators.build_jobs": sum(s["build_jobs"] for s in ex),
            "catalyst.analysis_ms": sum(s["analysis"] for s in ex),
            "catalyst.optimization_ms": sum(s["optimization"] for s in ex),
            "catalyst.planning_ms": sum(s["planning"] for s in ex),
        }
