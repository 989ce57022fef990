"""Self-tests of the benchmark. Run from the checkout root:

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (one process per run, a few minutes in all).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from perfbench import cdcgen, child, stats, tablegen, wl_index

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))


def _cdc_snapshot(work, seed):
    inp = cdcgen.generate(str(work), seed, n_segments=6, files_per_segment=4)
    return (
        [pq.read_table(p).to_pylist() for p in inp.segments],
        inp.expected_state(6),
        inp.expected_ghosts(6),
        {os.path.relpath(p, str(work)): r for p, r in inp.rows.items()},
    )


def test_cdc_generator_is_deterministic_per_seed(tmp_path):
    a = _cdc_snapshot(tmp_path / "a", 7)
    b = _cdc_snapshot(tmp_path / "b", 7)
    c = _cdc_snapshot(tmp_path / "c", 8)
    strip = lambda snap, w: json.dumps(snap, default=str).replace(  # noqa: E731
        str(tmp_path / w), "<root>")
    assert strip(a, "a") == strip(b, "b")
    assert strip(a, "a") != strip(c, "c")


def test_cdc_generator_plants_every_case(tmp_path):
    inp = cdcgen.generate(str(tmp_path), 3, n_segments=8, files_per_segment=4)
    assert inp.unmatched and inp.matched
    assert len(inp.expected_ghosts(8)) == 2
    states = {s["state"] for s in inp.expected_state(8).values()}
    assert {"Finalized", "Unknown", "New"} <= states
    ops = {e["op"] for p in inp.segments for e in pq.read_table(p).to_pylist()}
    assert ops == {"ADD_FILE", "CLOSE", "APPEND"}


def test_table_and_embedding_generators_are_deterministic(tmp_path):
    def tables(d, seed):
        tablegen.generate(str(tmp_path / d), 0.001, seed)
        return {f: pq.read_table(tmp_path / d / f).to_pylist()
                for f in sorted(os.listdir(tmp_path / d))}

    assert tables("a", 1) == tables("b", 1)
    assert tables("a", 1) != tables("c", 2)
    v1 = wl_index.make_embeddings(str(tmp_path / "e1.parquet"), 60, 30, 5)
    v2 = wl_index.make_embeddings(str(tmp_path / "e2.parquet"), 60, 30, 5)
    v3 = wl_index.make_embeddings(str(tmp_path / "e3.parquet"), 60, 30, 6)
    assert (v1 == v2).all() and not (v1 == v3).all()


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    assert e2e == list(child.END_TO_END)
    assert layers == list(child.PER_LAYER)
    for m in bench["end_to_end"]:
        assert m["unit"] == child.UNITS[m["name"]]
    for m in bench["per_layer"]:
        assert m["unit"] == child.PER_LAYER[m["name"]]
    for name in e2e + layers:
        assert stats.METRIC_NAME.fullmatch(name), name
    assert stats.check_names({"ok.name_1-x": 1, "bad name": 2}) == [
        "bad name"]
    assert {w["name"] for w in bench["workloads"]} <= set(child.WORKLOADS)


def test_percentile_above_median_needs_ten_samples_beyond_it():
    assert stats.percentile([3.0], 50) == 3.0
    assert stats.percentile(list(range(20)), 50) == pytest.approx(9.5)
    assert stats.percentile([], 50) is None and stats.median([]) == 0.0
    assert stats.percentile(list(range(39)), 75) is None
    assert stats.percentile(list(range(40)), 75) == pytest.approx(29.25)
    assert stats.percentile(list(range(99)), 90) is None
    assert stats.percentile(list(range(100)), 90) is not None


class _FakeCalib:
    def __init__(self):
        self.samples = []

    def run(self):
        self.samples.append(0.5)
        return 0.5


class _FakeWorkload:
    def __init__(self, n_inputs):
        self.left = n_inputs

    def step(self):
        from perfbench.workload import Step

        if not self.left:
            return Step(units=0, ops=0, exhausted=True)
        self.left -= 1
        return Step(units=2, latencies=[0.3, 0.1], ops=2, kinds=["a", "b"])


def test_window_holds_min_steps_and_a_calibration_run_after_each():
    calib = _FakeCalib()
    w = child.measure(_FakeWorkload(10), 0.0, calib)
    assert len(w.steps) == child.MIN_STEPS == len(calib.samples)
    assert w.units == 2 * child.MIN_STEPS and w.ops == 2 * child.MIN_STEPS
    assert w.typical_step_s() == pytest.approx(0.4)
    assert w.typical_units_per_s() == pytest.approx(2 / 0.4)
    # a workload that runs out of input ends the window early
    assert len(child.measure(_FakeWorkload(1), 0.0, _FakeCalib()).steps) == 1


def _run(*args, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


@pytest.mark.parametrize("workload", sorted(child.WORKLOADS))
def test_tiny_run_passes_and_corrupted_output_fails(workload):
    common = ["--workload", workload, "--seed", "3", "--seconds", "1",
              "--size", "tiny"]
    rc, res = _run(*common, "--trace", "0")
    assert rc == 0 and res["correct"] and res["failed"] == 0, res
    assert set(res["metrics"]) == set(child.END_TO_END)
    rc, res = _run(*common, "--trace", "0", "--corrupt")
    assert rc == 1 and not res["correct"] and res["failed"] >= 1, res


def test_traced_tiny_run_reports_every_layer_metric():
    rc, res = _run("--workload", "cdc_trickle", "--seed", "4", "--seconds",
                   "1", "--size", "tiny", "--trace", "1")
    assert rc == 0 and res["correct"], res
    assert set(res["metrics"]) == set(child.PER_LAYER)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["streaming.batches"] >= 1 and m["spark.jobs"] >= 1
    assert m["trace.overhead_ratio"] > 0 and m["spark.speedup_1core"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    rc, res = _run("--workload", "cdc_trickle", "--seed", "1", "--seconds",
                   "1", "--trace", "0", cwd=str(tmp_path))
    assert rc != 0 and res is None
