"""TTL'd CONTINUOUS reconciler at scale — the bench arm the round-12
verdict mandated (#5): bench_stream_scale drains availableNow with NO
TTL (eviction is opt-in and continuous-trigger-only — see the
DRAIN-MODE CAVEAT in streaming/reconciler.py), and c29 proves the TTL
semantics at 40 files only. This script runs the PRODUCTION shape — a
default-trigger query that stays up while Deleted tombstones evict
mid-run — at >= 100k inodes with a HIGH delete fraction, and records:

- the STATE-STORE ROW COUNT OVER TIME (via the statestore reader on
  the live checkpoint, c29's poll): the series must rise while the
  segments fold and then FALL BACK to the live-inode count while the
  query keeps running — flat-at-live = eviction works at scale. An
  un-TTL'd store would sit at ALL inodes forever (the store-bound
  failure mode the TTL exists for: with 90% deletes that is 10x the
  live working set).
- ops/s of the TTL'd continuous run vs the un-TTL'd availableNow
  drain on the SAME event log (the drain is the backfill/GC-leg
  baseline; the delta is the price of per-key ProcessingTimeTimeout
  bookkeeping plus default-trigger scheduling).

High delete fraction: the generator's lifecycles delete ~14% of
inodes; this bench appends an explicit DELETE for every still-live
inode with inode_id % 10 != 0, pushing the deleted fraction to ~90% —
the crawl-retention regime where the store bound matters most.

Usage::

    python scripts/bench_ttl_reconciler.py [points=10000,100000] \
        [ttl_ms=3000]

Prints one JSON line: per point, {files, ops, live_inodes,
drain_s, drain_ops_per_s, ttl_s, ttl_ops_per_s, store_series
([t_s, rows] pairs), store_final, store_peak}.
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

SEGS = 8


def _high_delete_events(n_files: int):
    """Generator lifecycles + an explicit DELETE for every still-live
    inode_id % 10 != 0 — ~90% of inodes end Deleted."""
    from hcdc_spark.cdc.generator import generate_events

    events = generate_events(n_files=n_files, seed=11, with_dir_ops=False)
    deleted = {e["inode_id"] for e in events if e["op"] == "DELETE"}
    last_path: dict[int, str] = {}
    for e in events:  # the path each inode is last known under
        if e["inode_id"] is not None:
            last_path[e["inode_id"]] = e.get("dest_path") or e["path"]
    tx = max(e["tx_id"] for e in events)
    ts = max(e["ts"] for e in events)
    tmpl = next(e for e in events if e["op"] == "DELETE")
    for inode in range(1, n_files + 1):
        if inode % 10 == 0 or inode in deleted:
            continue
        tx += 1
        ts += 1000
        events.append({
            **tmpl, "tx_id": tx, "ts": ts, "op": "DELETE",
            "inode_id": inode, "path": last_path[inode],
        })
    return events


def _write_segments(spark, events, src: str) -> None:
    from hcdc_spark.streaming.source import write_event_segment

    per = (len(events) + SEGS - 1) // SEGS
    for i in range(SEGS):
        chunk = events[i * per : (i + 1) * per]
        if chunk:
            write_event_segment(spark, chunk, src, f"edits_{i:07d}")


def _drain_no_ttl(spark, events, work: str) -> float:
    """Baseline: un-TTL'd availableNow drain (bench_stream_scale's
    arm), returns wall seconds."""
    from hcdc_spark.streaming.pipeline import run_cdc_pipeline

    src = os.path.join(work, "segments")
    _write_segments(spark, events, src)
    t0 = time.perf_counter()
    q = run_cdc_pipeline(
        spark, src, os.path.join(work, "out"), os.path.join(work, "ckpt"),
        max_files_per_trigger=1, available_now=True,
    )
    if not q.awaitTermination(2400):
        q.stop()
        raise TimeoutError("no-TTL drain did not finish")
    return time.perf_counter() - t0


def _run_ttl_continuous(
    spark, events, work: str, live_inodes: int, ttl_ms: int
) -> dict:
    """The production shape: default-trigger query over the same
    pre-written segments, TTL on; poll the state store until it
    converges to the live-inode count, recording the series."""
    from hcdc_spark.streaming.pipeline import run_cdc_pipeline

    src = os.path.join(work, "segments")
    ckpt = os.path.join(work, "ckpt")
    _write_segments(spark, events, src)

    def store_rows() -> int:
        return (
            spark.read.format("statestore").load(ckpt)
            .select("key.inode_id").count()
        )

    series: list[list[float]] = []
    t0 = time.perf_counter()
    q = run_cdc_pipeline(
        spark, src, os.path.join(work, "out"), ckpt,
        max_files_per_trigger=1, available_now=False,
        deleted_ttl_ms=ttl_ms,
    )
    converged_at = None
    peak = 0
    try:
        deadline = t0 + 2400
        while time.perf_counter() < deadline:
            try:
                rows = store_rows()
            except Exception:  # noqa: BLE001 — store mid-write
                time.sleep(0.5)
                continue
            t = time.perf_counter() - t0
            series.append([round(t, 1), rows])
            peak = max(peak, rows)
            # converged = AT the live count on the way DOWN: a sample
            # can equal live transiently while the store is still
            # RISING through it (the peak guard prevents stopping the
            # query mid-fold and recording a truncated series)
            if rows == live_inodes and peak > live_inodes:
                converged_at = t
                break
            time.sleep(1.0)
        if converged_at is None:
            raise TimeoutError(
                f"store never converged to live={live_inodes}; "
                f"series tail={series[-5:]}"
            )
    finally:
        q.stop()
    return {
        "s": converged_at,
        "series": series,
        "peak": max(r for _, r in series),
        "final": series[-1][1],
    }


def main() -> None:
    points = (
        [int(s) for s in sys.argv[1].split(",")]
        if len(sys.argv) > 1
        else [10_000, 100_000]
    )
    ttl_ms = int(sys.argv[2]) if len(sys.argv) > 2 else 3000
    from hcdc_spark.cdc.generator import events_df
    from hcdc_spark.cdc.reconcile import reconcile_batch
    from hcdc_spark.session import get_spark

    spark = get_spark("hcdc-bench-ttl-reconciler")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    for n_files in points:
        events = _high_delete_events(n_files)
        live = (
            reconcile_batch(events_df(spark, events), expand_dirs=False)
            .where("state <> 'Deleted'")
            .count()
        )
        w1 = tempfile.mkdtemp(prefix="hcdc_ttlbench_drain_")
        try:
            drain_s = _drain_no_ttl(spark, events, w1)
        finally:
            shutil.rmtree(w1, ignore_errors=True)
        w2 = tempfile.mkdtemp(prefix="hcdc_ttlbench_ttl_")
        try:
            ttl = _run_ttl_continuous(spark, events, w2, live, ttl_ms)
        finally:
            shutil.rmtree(w2, ignore_errors=True)
        row = {
            "files": n_files,
            "ops": len(events),
            "live_inodes": live,
            "deleted_frac": round(1 - live / n_files, 3),
            "drain_s": round(drain_s, 2),
            "drain_ops_per_s": round(len(events) / drain_s, 1),
            "ttl_s": round(ttl["s"], 2),
            "ttl_ops_per_s": round(len(events) / ttl["s"], 1),
            "store_peak": ttl["peak"],
            "store_final": ttl["final"],
            "store_series": ttl["series"],
        }
        out[f"files{n_files}"] = row
        print(f"# files{n_files}: "
              + json.dumps({k: v for k, v in row.items()
                            if k != "store_series"}),
              file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
