"""Streaming-reconciler scaling self-bench: micro-batch throughput of
the ``applyInPandasWithState`` fold at growing inode counts (the
streaming analogue of scripts/bench_cdc_scale.py, which covers the
batch ingest fold).

Synthesizes generator lifecycles (dir-op-free, the contract the bare
fold of ``run_cdc_pipeline`` documents), writes them as SEGS segment
files, and drains an availableNow stream with ``maxFilesPerTrigger=1`` — i.e. SEGS
real micro-batches through the state store — timing the full
source → stateful fold → state-log/error sink pipeline.

The quantity under test is the per-(touched inode, batch) overhead:
``applyInPandasWithState`` invokes the Python fold once per key group
per micro-batch, so a batch touching G inodes pays G Python
calls + G one-row Arrow returns — the same per-group cost the batch
ingest path eliminated with its sorted-partition carry-buffer fold
(cdc/reconcile.py:406). The state store's semantics pin that shape
here: the store owns the key→state mapping, per-key serial execution
and checkpoint/replay, so keys cannot be coalesced into carry-buffer
mega-groups without re-implementing versioned state outside the store
(see COVERAGE.md round-8 notes for the measured verdict). Usage::

    python scripts/bench_stream_scale.py [passes=2] [files=2500,10000]

Prints one JSON line per scale point; the diagnostic across points is
wall-time slope vs the inode-count ratio (<= ratio means at-or-below-
linear), plus ms per touched-inode-batch.
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

SEGS = 8  # micro-batches per drain (maxFilesPerTrigger=1)


def _run_once(spark, events, work: str) -> dict[str, float]:
    """Write SEGS segments, drain the reconciler, return timings."""
    from hcdc_spark.streaming.pipeline import run_cdc_pipeline
    from hcdc_spark.streaming.source import write_event_segment

    src = os.path.join(work, "segments")
    out = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    per = (len(events) + SEGS - 1) // SEGS
    # one inode's events stay contiguous (generator order) — a segment
    # cut mid-lifecycle spans batches exactly like a real tail
    touched = 0  # sum over batches of distinct inodes in that batch
    for i in range(SEGS):
        chunk = events[i * per : (i + 1) * per]
        if not chunk:
            continue
        touched += len(
            {e["inode_id"] for e in chunk if e["inode_id"] is not None}
        )
        write_event_segment(spark, chunk, src, f"edits_{i:07d}")
    t0 = time.perf_counter()
    q = run_cdc_pipeline(
        spark, src, out, ckpt, max_files_per_trigger=1, available_now=True
    )
    q.awaitTermination(1200)
    el = time.perf_counter() - t0
    n_states = spark.read.parquet(
        os.path.join(out, "file_state_log")
    ).count()
    return {"s": el, "touched": touched, "states": n_states}


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    points = (
        [int(s) for s in sys.argv[2].split(",")]
        if len(sys.argv) > 2
        else [2500, 10000]
    )
    from hcdc_spark.cdc.generator import generate_events
    from hcdc_spark.session import get_spark

    spark = get_spark("hcdc-bench-stream-scale")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: spin up Arrow state workers + stream machinery once
    warm = generate_events(n_files=50, seed=3, with_dir_ops=False)
    wdir = tempfile.mkdtemp(prefix="hcdc_sbench_warm_")
    try:
        _run_once(spark, warm, wdir)
    finally:
        shutil.rmtree(wdir, ignore_errors=True)

    out: dict[str, dict[str, float]] = {}
    for n_files in points:
        events = generate_events(
            n_files=n_files, seed=11, with_dir_ops=False
        )
        best: dict[str, float] | None = None
        for _ in range(passes):
            work = tempfile.mkdtemp(prefix="hcdc_sbench_")
            try:
                r = _run_once(spark, events, work)
            finally:
                shutil.rmtree(work, ignore_errors=True)
            if best is None or r["s"] < best["s"]:
                best = r
        row = {
            "files": n_files,
            "ops": len(events),
            "batches": SEGS,
            "s": round(best["s"], 2),
            "touched_inode_batches": best["touched"],
            "state_rows": best["states"],
            "ops_per_s": round(len(events) / best["s"], 1),
            "ms_per_touched_inode_batch": round(
                best["s"] * 1e3 / best["touched"], 2
            ),
        }
        out[f"files{n_files}"] = row
        print(f"# files{n_files}: {row}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
