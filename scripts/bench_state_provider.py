"""State-store provider A/B (HDFS-backed vs RocksDB) at SCALED state.

VERDICT r14 item 5: the stateful streaming operators (c05 window agg,
c10 stream-stream join, c13 session window, c14 dedup) run on the
default HDFSBackedStateStoreProvider, whose state lives ON-HEAP per
executor — fine at the test SFs (thousands of state rows), a known
memory wall at production state sizes. Local sf0.1 walls are
availableNow fixed costs, so this bench synthesizes the state size the
providers actually differ at: >= 1M state rows held live across
several real micro-batches.

Two state shapes, each drained as SEGS micro-batches
(maxFilesPerTrigger=1, availableNow, noop sink):

- dedup:  withWatermark + dropDuplicatesWithinWatermark on a unique
  key — state rows == distinct keys seen (the c14 machine);
- winagg: withWatermark + groupBy(window, group).count() in update
  mode — state rows == live (window, group) pairs (the c05 machine).

The provider is a per-query SQLConf (read at stream start), so both
sides run in ONE session back-to-back; order alternates across passes
to cancel warmup drift.

Usage: python scripts/bench_state_provider.py [rows=1200000] [passes=2]
Prints one JSON line:
  {shape: {provider: {"s": best_sec, "state_rows": n}}, "rows": N}
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
ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
HDFS = (
    "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider"
)


def _gen_source(spark, src: str, rows: int) -> None:
    """SEGS parquet files of (key, grp, ts): keys unique (dedup state
    = all of them), ts inside one watermark horizon so nothing
    expires, grp spreads the window-agg state."""
    from pyspark.sql import functions as F

    for i in range(SEGS):
        per = rows // SEGS
        (
            spark.range(i * per, (i + 1) * per)
            .select(
                F.col("id").alias("key"),
                (F.col("id") % 200_000).alias("grp"),
                (
                    F.timestamp_seconds(
                        F.lit(1_700_000_000) + (F.col("id") % 3600)
                    )
                ).alias("ts"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(src, f"seg_{i:03d}"))
        )


def _drain(spark, src: str, work: str, shape: str, provider: str) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", provider
    )
    ckpt = tempfile.mkdtemp(prefix="ckpt_", dir=work)
    sch = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("grp", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "seg_*"))
        .withWatermark("ts", "6 hours")
    )
    if shape == "dedup":
        out = stream.dropDuplicatesWithinWatermark(["key"])
        mode = "append"
    else:
        out = stream.groupBy(
            F.window("ts", "10 minutes").alias("win"), "grp"
        ).count()
        mode = "update"
    t0 = time.perf_counter()
    q = (
        out.writeStream.format("noop")
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(1800):
        # a timed-out drain is still running: its wall time would
        # measure a truncated drain and the next pass would race it
        q.stop()
        raise RuntimeError(
            f"{shape}/{provider}: drain did not finish within 1800 s"
        )
    el = time.perf_counter() - t0
    state_rows = 0
    lp = q.lastProgress
    if lp and lp.get("stateOperators"):
        state_rows = lp["stateOperators"][0].get("numRowsTotal", 0)
    return {"s": el, "state_rows": state_rows}


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_200_000
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    from hcdc_spark.session import get_spark

    spark = get_spark("hcdc-bench-state-provider")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="hcdc_stateab_")
    src = os.path.join(work, "src")
    try:
        _gen_source(spark, src, rows)
        out: dict[str, object] = {}
        for shape in ("dedup", "winagg"):
            best: dict[str, dict] = {}
            for p in range(passes):
                # alternate order so neither side always pays warmup
                order = (HDFS, ROCKSDB) if p % 2 == 0 else (ROCKSDB, HDFS)
                for prov in order:
                    r = _drain(spark, src, work, shape, prov)
                    name = "rocksdb" if "RocksDB" in prov else "hdfs"
                    if name not in best or r["s"] < best[name]["s"]:
                        best[name] = r
                    print(
                        f"# {shape} {name} pass{p}: {r['s']:.2f}s "
                        f"state_rows={r['state_rows']}",
                        file=sys.stderr,
                    )
            out[shape] = best
        out["rows"] = rows
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
