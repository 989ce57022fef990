"""The calibration job: a fixed Spark job that uses none of the
program's code.

It runs on the benchmark's Spark context, in a session of its own, a few
times before the timed window and right after each timed step. It
exercises what the workloads exercise: a pandas grouped map in a Python
worker over Arrow, a shuffle join and aggregate planned afresh each time,
and a small parquet write. Its inputs never change, so its duration
follows only the machine: how fast the shared host lets this process run
at that moment. A step's duration over the median calibration run is the
step's cost in calibration units, which a slower or faster host moves far
less than it moves the step's seconds.
"""

from __future__ import annotations

import os
import statistics
import time

ROWS = 30_000


def _fold(pdf):
    import pandas as pd

    g = pdf.sort_values("v")
    return pd.DataFrame({"k": [int(g.k.iloc[0])], "n": [len(g)],
                         "m": [float(g.v.sum())], "s": [g.s.max()]})


class Calibration:
    """The job, its output directory and the durations of its runs."""

    def __init__(self, spark, work: str):
        # its own SQL conf, so a change to the program's session
        # settings does not move the calibration job
        self.spark = spark.newSession()
        for k, v in {
            "spark.sql.shuffle.partitions": "4",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        }.items():
            self.spark.conf.set(k, v)
        self.out = os.path.join(work, "calibration")
        self.samples: list[float] = []

    def median(self) -> float:
        """The median run so far: how fast the host ran this process."""
        return statistics.median(self.samples)

    def run(self) -> float:
        """Build and run the job; its wall-clock seconds."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        base = self.spark.range(0, ROWS).select(
            (F.col("id") % 499).alias("k"),
            (F.col("id") * 7 % 1000).cast("double").alias("v"),
            F.concat(F.lit("s"), (F.col("id") % 5000).cast("string"))
            .alias("s"),
        )
        folded = base.groupBy("k").applyInPandas(
            _fold, "k long, n long, m double, s string")
        totals = base.groupBy("s").agg(F.sum("v").alias("sv"))
        (folded.join(totals, "s", "left")
         .write.mode("overwrite").parquet(self.out))
        self.samples.append(time.perf_counter() - t0)
        return self.samples[-1]
