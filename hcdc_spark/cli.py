"""Control-plane CLI (SURVEY §2A C5).

The reference exposes agent start/stop/snapshot/filter CRUD through a
Spring Boot REST service (services/.../SnapshotService.java:26-176,
EditsLogReaderService.java:21-73). A Spark engine's control plane is
the driver process itself, so the surface is a CLI of batch jobs:

    python -m hcdc_spark.cli bootstrap  --source <dir> --out <dir>
    python -m hcdc_spark.cli reconcile  --events <parquet> --out <dir>
    python -m hcdc_spark.cli pipeline   --segments <dir> --out <dir> \
        --rules <csv> --staging <dir> [--checkpoint <dir>]
    python -m hcdc_spark.cli compact    --out <dir> [--delta-min-tx N]
    python -m hcdc_spark.cli gc-staging --staging <dir>
    python -m hcdc_spark.cli takedown   --ids <file> --batch-id N \
        [--index TABLE ...] [--ivfpq PATH ...] [--compact]

Each command is a thin wrapper over a library function, so everything
is equally scriptable from a notebook or Airflow DAG.
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark(app: str):
    from hcdc_spark.session import get_spark

    s = get_spark(app)
    s.sparkContext.setLogLevel("WARN")
    return s


def _write_base_log(state, out: str) -> None:
    """Write a batch fold as the state log's base generation
    (batch_id -1, the stream's shape): latest_state reads it, and any
    stream batch (>= 0) appended later wins over it."""
    from pyspark.sql import functions as F

    from hcdc_spark.streaming.reconciler import write_state_log

    state = state.withColumn("batch_id", F.lit(-1)).persist()
    try:  # the fold feeds both the log and the dead-letter check
        write_state_log(state, out, mode="overwrite")
    finally:
        state.unpersist()


def cmd_bootstrap(args) -> int:
    from hcdc_spark.cdc import logs
    from hcdc_spark.cdc.reconcile import reconcile_batch
    from hcdc_spark.cdc.snapshot import bootstrap_from_listing

    spark = _spark("hcdc-bootstrap")
    ev = bootstrap_from_listing(spark, args.source, base_tx=args.base_tx)
    _write_base_log(reconcile_batch(ev, expand_dirs=False), args.out)
    n = spark.read.parquet(logs.STATE.at(args.out)).count()
    print(f"bootstrapped {n} files from {args.source}")
    return 0


def cmd_reconcile(args) -> int:
    from hcdc_spark.cdc.reconcile import reconcile_batch

    spark = _spark("hcdc-reconcile")
    _write_base_log(reconcile_batch(spark.read.parquet(args.events)), args.out)
    print(f"reconciled -> {args.out}")
    return 0


def cmd_pipeline(args) -> int:
    from hcdc_spark.cdc.registry import load_rules_csv
    from hcdc_spark.streaming.pipeline import run_cdc_pipeline

    spark = _spark("hcdc-pipeline")
    rules = load_rules_csv(spark, args.rules)
    q = run_cdc_pipeline(
        spark,
        source_dir=args.segments,
        out_dir=args.out,
        checkpoint_dir=args.checkpoint or os.path.join(args.out, "_ckpt"),
        rules=rules,
        staging_dir=args.staging,
        registry_dir=args.schema_registry,
        available_now=not args.continuous,
    )
    q.awaitTermination()
    print(f"pipeline drained -> state {args.out}, staging {args.staging}")
    return 0


def cmd_compact(args) -> int:
    from hcdc_spark.cdc.maintenance import compact_state_log

    spark = _spark("hcdc-compact")
    n = compact_state_log(
        spark, args.out, drop_deleted=not args.keep_deleted,
        delta_min_tx=args.delta_min_tx,
    )
    print(f"compacted state log to {n} rows")
    return 0


def cmd_gc_staging(args) -> int:
    from hcdc_spark.cdc.maintenance import gc_change_data

    spark = _spark("hcdc-gc")
    n = gc_change_data(spark, args.staging)
    print(f"gc kept {n} live pointers")
    return 0


def cmd_takedown(args) -> int:
    """Right-to-be-forgotten / crawl-retraction across every index
    serving an id, in one call (round-13 verdict 'next' #5): routes
    the id set to delete_from_band_index for every --index (embedding
    AND doc MinHash band tables — one shared delete, id column from
    each table's metadata) and delete_from_ivfpq_index for every
    --ivfpq path. Each is an O(|ids|) tombstone append; probes stop
    serving the ids immediately, compaction reclaims the rows.
    CHUNK-REFERENCE digests are retained BY DESIGN (content-free
    16-byte hashes shared across docs; keeping them means verbatim
    re-ingestion of retracted text still gets its chunks dropped) —
    the scope contract in operators/similarity.takedown. --batch-id
    is the delete's GENERATION: it kills admissions at or below it,
    and a later re-admission (higher batch id) serves again — pass
    the current ingest cycle's id, exactly as appends do."""
    from hcdc_spark.operators.similarity import (
        compact_band_index,
        compact_ivfpq_index,
        takedown,
    )

    spark = _spark("hcdc-takedown")
    if args.ids.endswith((".parquet", ".pq")) or os.path.isdir(args.ids):
        ids = spark.read.parquet(args.ids)
    else:
        with open(args.ids) as fh:
            ids = [int(ln) for ln in fh if ln.strip()]
    res = takedown(
        spark, ids,
        band_tables=args.index or (),
        ivfpq_paths=args.ivfpq or (),
        batch_id=args.batch_id,
    )
    if args.compact:
        for t in args.index or ():
            compact_band_index(spark, t)
        for p in args.ivfpq or ():
            compact_ivfpq_index(spark, p)
    tgts = len(res["band_tables"]) + len(res["ivfpq_paths"])
    print(
        f"takedown of {res['n_ids']} ids across {tgts} index(es)"
        f"{' + compacted' if args.compact else ''}; "
        f"chunk refs {res['chunk_refs']} (see scope contract)"
    )
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="hcdc_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("bootstrap", help="fsimage-style bootstrap from a listing")
    b.add_argument("--source", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--base-tx", type=int, default=0)
    b.set_defaults(fn=cmd_bootstrap)

    r = sub.add_parser("reconcile", help="batch-replay an event log")
    r.add_argument("--events", required=True)
    r.add_argument("--out", required=True)
    r.set_defaults(fn=cmd_reconcile)

    pl = sub.add_parser("pipeline", help="run the full CDC streaming pipeline")
    pl.add_argument("--segments", required=True)
    pl.add_argument("--out", required=True)
    pl.add_argument("--rules", required=True, help="domain;entity;path;regex CSV")
    pl.add_argument("--staging")
    pl.add_argument("--schema-registry")
    pl.add_argument("--checkpoint")
    pl.add_argument("--continuous", action="store_true",
                    help="keep running instead of draining (availableNow)")
    pl.set_defaults(fn=cmd_pipeline)

    c = sub.add_parser("compact", help="compact the file_state log")
    c.add_argument("--out", required=True)
    c.add_argument("--keep-deleted", action="store_true")
    c.add_argument("--delta-min-tx", type=int)
    c.set_defaults(fn=cmd_compact)

    g = sub.add_parser("gc-staging", help="drop superseded staging batches")
    g.add_argument("--staging", required=True)
    g.set_defaults(fn=cmd_gc_staging)

    t = sub.add_parser(
        "takedown",
        help="delete ids from every band/IVF-PQ index in one call "
        "(tombstone appends; chunk-reference digests retained by "
        "design — see cmd_takedown)",
    )
    t.add_argument(
        "--ids", required=True,
        help="newline-delimited id file, or a parquet path whose "
        "first column is the id",
    )
    t.add_argument(
        "--index", action="append",
        help="band index CATALOG TABLE (embedding or doc MinHash; "
        "repeatable)",
    )
    t.add_argument(
        "--ivfpq", action="append",
        help="IVF-PQ artifact PATH (repeatable)",
    )
    t.add_argument(
        "--batch-id", type=int, default=0,
        help="delete generation: kills admissions <= this id; a "
        "later re-admission serves again (default 0 = build + "
        "batch-0 rows only)",
    )
    t.add_argument(
        "--compact", action="store_true",
        help="also compact each target now (physically drop the "
        "dead rows and clear the tombstones) instead of leaving "
        "reclamation to the next scheduled compaction",
    )
    t.set_defaults(fn=cmd_takedown)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
