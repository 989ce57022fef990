"""Batch reconciler: replay a change-event log into the file_state table.

Two phases, mirroring the reference's split between per-message handlers
and state-store scans (SURVEY §2A T9-T12):

1. **Rewrite pre-pass** — set-based, pure Catalyst. Directory
   DELETE/RENAME cascades (reference walks its ZK state store with a
   path-prefix scan, SourceTransactionProcessor.java:187-296) become
   joins: the path history of every inode is reconstructed from
   ADD_FILE/RENAME/DELETE events, each directory event (a rare row —
   broadcast) picks up the files alive under it at its tx, and synthetic
   per-child events are unioned back into the log. RENAME-with-OVERWRITE
   synthesizes the destination DELETE the same way
   (SourceTransactionProcessor.java:689-704).

2. **Per-inode fold** — ``applyInPandas`` grouped by inode_id running
   the pure-Python state machine. Keying by inode (not path, as the
   reference does) keeps renames inside one group, so the
   DELETE+ADD+CLOSE rename decomposition collapses to a path move and
   the whole fold is embarrassingly parallel across inodes. At 100 TB /
   billions of files this is a single shuffle by inode followed by
   vectorized per-group folds — no global state, no locks (the
   reference serializes everything behind ZK locks,
   SourceChangeDeltaProcessor.java:87-99).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hcdc_spark.cdc.model import FOLD_OUTPUT_SCHEMA
from hcdc_spark.cdc.snapshot import as_events
from hcdc_spark.cdc.statemachine import fold_events

# File-vs-directory op classification — canonical copy lives in
# statemachine.py, shared with the DuckDB fold and the parity tests.
from hcdc_spark.cdc.statemachine import FILE_ONLY_OPS as _FILE_ONLY_OPS
# Ops that (re)assert an inode's path: ADD_FILE creates it, CLOSE
# re-asserts it — crucially including Snapshot/Backlog bootstrap CLOSEs,
# which create files with no ADD_FILE at all (cdc/snapshot.py).
_PATH_SETTING_OPS = ("ADD_FILE", "CLOSE")


def detect_tx_gaps(events: DataFrame) -> DataFrame:
    """T5: strict sequence check — report holes in the global tx stream.

    Returns (tx_id, prev_tx_id, gap) rows where tx_id > prev+1. The
    reference raises per message (TransactionProcessor.java:147-166).

    Window-free, fully parallel formulation: a txid *starts* a run iff
    txid-1 is absent, and *ends* one iff txid+1 is absent — both are
    shuffle-hash anti-joins against the shifted set, embarrassingly
    parallel at any txid count (the naive ``Window.orderBy(tx_id)``
    would serialize every distinct txid through one task). Each gap is
    then exactly one (run start, greatest run end below it) pair; the
    pairing join touches only the boundary sets, which are gap-count-
    sized — tiny for any log that is mostly contiguous.
    """
    txs = events.select("tx_id").distinct()
    succ = txs.select((F.col("tx_id") + 1).alias("tx_id"))
    pred = txs.select((F.col("tx_id") - 1).alias("tx_id"))
    # run boundaries: start ⇔ no predecessor, end ⇔ no successor
    starts = txs.join(succ, "tx_id", "left_anti").select(
        F.col("tx_id").alias("s")
    )
    ends = txs.join(pred, "tx_id", "left_anti").select(
        F.col("tx_id").alias("e")
    )
    # each run start pairs with the closest run end below it; the global
    # minimum start has none and drops out of the join naturally
    return (
        starts.join(ends, F.col("e") < F.col("s"))
        .groupBy("s")
        .agg(F.max("e").alias("prev_tx_id"))
        .select(
            F.col("s").alias("tx_id"),
            "prev_tx_id",
            (F.col("s") - F.col("prev_tx_id") - 1).alias("gap"),
        )
    )


def _path_history(events: DataFrame, seed: DataFrame | None = None) -> DataFrame:
    """(inode_id, tx_id, path, namespace) timeline; path NULL ⇒ deleted
    at that tx. ``seed`` (carried-over live paths from prior batches,
    pinned at tx_id=-1) joins the timeline below every in-log event."""
    sets_path = events.where(
        F.col("op").isin(*_PATH_SETTING_OPS) & F.col("path").isNotNull()
    ).select("inode_id", "tx_id", "path", "namespace")
    renames = events.where(
        (F.col("op") == "RENAME") & F.col("inode_id").isNotNull()
    ).select(
        "inode_id", "tx_id", F.col("dest_path").alias("path"), "namespace"
    )
    deletes = events.where(F.col("op") == "DELETE").select(
        "inode_id",
        "tx_id",
        F.lit(None).cast("string").alias("path"),
        "namespace",
    )
    out = sets_path.unionByName(renames).unionByName(deletes)
    if seed is not None:
        out = out.unionByName(seed)
    return out


def _file_inodes(events: DataFrame, known: DataFrame | None = None) -> DataFrame:
    out = (
        events.where(F.col("op").isin(*_FILE_ONLY_OPS))
        .select("inode_id")
        .distinct()
    )
    if known is not None:
        out = out.unionByName(known.select("inode_id")).distinct()
    return out


#: Directory-op columns shipped to the driver by the fixpoint scheduler.
_DIR_COLS = ("d_tx", "d_op", "d_path", "d_dest", "d_ts", "d_ns")


def _classify_dir_ops(
    events: DataFrame, known: DataFrame | None
) -> DataFrame:
    """DELETE/RENAME rows whose inode is not a known file inode — i.e.
    directory operations. ``known`` carries file inodes from prior
    batches so an incremental log slice can't misclassify a file DELETE
    whose ADD_FILE arrived earlier (and can't silently drop it)."""
    return (
        events.where(F.col("op").isin("DELETE", "RENAME"))
        .join(_file_inodes(events, known), "inode_id", "left_anti")
        .select(
            F.col("tx_id").alias("d_tx"),
            F.col("op").alias("d_op"),
            F.col("path").alias("d_path"),
            F.col("dest_path").alias("d_dest"),
            F.col("ts").alias("d_ts"),
            F.col("namespace").alias("d_ns"),
        )
    )


def _overlaps(a: str, b: str) -> bool:
    return a == b or a.startswith(b + "/") or b.startswith(a + "/")


def _safe_dir_ops(dir_rows: list) -> tuple[list, list]:
    """Partition dir ops into (safe-now, deferred).

    A dir op is safe iff no *earlier* dir op in the same namespace
    touches an overlapping subtree (source or rename-dest): its child
    set can then be located from the current path history. Deferred ops
    wait for the next fixpoint round, when the earlier op's synthetic
    child events are part of the log. The earliest op overall is always
    safe, so every round makes progress."""
    safe, deferred = [], []
    for d in dir_rows:
        blocked = False
        for e in dir_rows:
            if e["d_tx"] >= d["d_tx"] or e["d_ns"] != d["d_ns"]:
                continue
            areas = [e["d_path"]] + (
                [e["d_dest"]] if e["d_op"] == "RENAME" else []
            )
            if any(_overlaps(d["d_path"], a) for a in areas if a):
                blocked = True
                break
        (deferred if blocked else safe).append(d)
    return safe, deferred


def _expand_round(
    events: DataFrame, dir_ops: DataFrame, seed: DataFrame | None
) -> DataFrame:
    """One expansion round: rewrite the given (safe) directory ops into
    per-child synthetic events and drop the directory rows."""
    history = _path_history(events, seed)

    # Current path of every inode at each directory tx. dir_ops is tiny
    # → broadcast; the argmax is a window per (dir tx, inode).
    w = Window.partitionBy("d_tx", "inode_id").orderBy(F.col("tx_id").desc())
    located = (
        history.join(F.broadcast(dir_ops), F.col("tx_id") < F.col("d_tx"))
        .where(F.col("namespace").eqNullSafe(F.col("d_ns")))
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & F.col("path").isNotNull())
        .where(F.col("path").startswith(F.concat(F.col("d_path"), F.lit("/"))))
    )

    def child(df: DataFrame, op: str, **extra) -> DataFrame:
        return as_events(
            df, tx_id="d_tx", op=F.lit(op), ts="d_ts", namespace="d_ns",
            path="path", inode_id="inode_id", mode=F.lit("Backlog"),
            **extra,
        )

    deletes = child(
        located.where(F.col("d_op") == "DELETE")
        .where(~F.col("path").startswith("/tmp/")),
        "DELETE",
    )
    renames = child(
        located.where(F.col("d_op") == "RENAME"),
        "RENAME",
        dest_path=F.concat(
            F.col("d_dest"),
            F.expr("substring(path, length(d_path) + 1)"),
        ),
    )

    # Drop the expanded directory rows themselves (tx ids are unique per
    # event); dir_ops is tiny so the anti-join broadcasts.
    base = events.join(
        F.broadcast(dir_ops.select(F.col("d_tx").alias("tx_id"))),
        "tx_id",
        "left_anti",
    )

    return base.unionByName(
        deletes.unionByName(renames), allowMissingColumns=True
    )


def _overwrite_deletes(
    events: DataFrame, file_inodes: DataFrame, seed: DataFrame | None
) -> DataFrame:
    """Synthesize the occupant's DELETE when another file claims its
    path: RENAME with OVERWRITE onto an existing file
    (SourceTransactionProcessor.java:689-704), and ADD_FILE with
    overwrite=true whose path is held by a DIFFERENT inode
    (processAddFileTxMessage, SourceTransactionProcessor.java:48-73 —
    the same-inode case is the statemachine's T9 branch). Runs on the
    fully dir-expanded log so a file parked on the target path by an
    earlier directory rename is seen."""
    claim_cols = (
        F.col("tx_id").alias("r_tx"),
        F.col("ts").alias("r_ts"),
        F.col("namespace").alias("r_ns"),
        F.col("inode_id").alias("r_inode"),
    )
    renames = (
        events.where(
            (F.col("op") == "RENAME") & (F.col("rename_opts") == "OVERWRITE")
        )
        .join(file_inodes, "inode_id", "left_semi")
        .select(F.col("dest_path").alias("r_dest"), *claim_cols)
    )
    adds = events.where(
        (F.col("op") == "ADD_FILE") & (F.col("overwrite") == True)  # noqa: E712
    ).select(F.col("path").alias("r_dest"), *claim_cols)
    claims = renames.unionByName(adds)
    w2 = Window.partitionBy("r_tx", "inode_id").orderBy(F.col("tx_id").desc())
    occupants = (
        _path_history(events, seed)
        .join(F.broadcast(claims), F.col("tx_id") < F.col("r_tx"))
        .where(F.col("namespace").eqNullSafe(F.col("r_ns")))
        .withColumn("rn", F.row_number().over(w2))
        .where(
            (F.col("rn") == 1)
            & F.col("path").isNotNull()
            & (F.col("path") == F.col("r_dest"))
            & (F.col("inode_id") != F.col("r_inode"))
        )
    )
    return as_events(
        occupants, tx_id="r_tx", op=F.lit("DELETE"), ts="r_ts",
        namespace="r_ns", path="path", inode_id="inode_id",
        mode=F.lit("Backlog"),
    )


def expand_directory_events(
    events: DataFrame,
    prior_paths: DataFrame | None = None,
    max_rounds: int = 100,
) -> DataFrame:
    """Rewrite directory DELETE/RENAME into per-child synthetic events.

    A DELETE/RENAME whose inode has no known ADD_FILE is a directory op.
    For each such op, every inode whose *current* path (latest path-
    setting event before the dir tx, in the same namespace) lies under
    the directory gets a synthetic child event at the same tx
    (mode=Backlog) — the fan-out the reference materializes from its
    state store (updateFileRecursiveRename/Delete). /tmp children are
    skipped on delete (SourceTransactionProcessor.java:253).

    ``prior_paths`` — (inode_id, path, namespace) of files live before
    this log slice (e.g. from ``latest_state``) — lets incremental /
    streaming callers cascade over files created in earlier batches, and
    keeps file DELETEs whose ADD_FILE came earlier classified as file
    ops (T11 incremental contract).

    Chained cascades (rename dir A→B, then delete B, in one log) run to
    a **fixpoint**: each round expands the directory ops whose subtrees
    are untouched by earlier unexpanded dir ops (the schedule is
    computed driver-side — directory ops are rare rows by construction,
    the same cardinality assumption the reference's per-op ZK scans
    make), so later ops see the children synthesized by earlier ones.
    The earliest op is always safe ⇒ each round strictly shrinks the
    remaining set; a round expands every op that is chain-independent,
    so rounds ≈ chain depth, not op count.

    Returns the full rewritten log: original events minus directory
    rows, plus synthetic children, plus synthetic DELETEs for
    RENAME-overwrite destinations (synthesized after the fixpoint, so
    overwrites of dir-renamed files resolve).
    """
    known = (
        prior_paths.select("inode_id").distinct()
        if prior_paths is not None
        else None
    )
    seed = (
        prior_paths.select(
            "inode_id", F.lit(-1).alias("tx_id"), "path", "namespace"
        )
        if prior_paths is not None
        else None
    )

    log = events
    for _ in range(max_rounds):
        dir_rows = [r.asDict() for r in _classify_dir_ops(log, known).collect()]
        if not dir_rows:
            break
        safe, deferred = _safe_dir_ops(dir_rows)
        from hcdc_spark.functions.localframe import local_df

        spark = events.sparkSession
        # JVM-local frame: this loop runs once per cascade round and a
        # pickled-rows frame would add a Python-worker stage to every
        # round's expansion joins (localframe)
        safe_df = local_df(
            spark,
            [tuple(d[c] for c in _DIR_COLS) for d in safe],
            "d_tx long, d_op string, d_path string, d_dest string,"
            " d_ts long, d_ns string",
        )
        log = _expand_round(log, safe_df, seed)
        if not deferred:
            break
        # bound lineage growth across rounds: the log re-enters the next
        # round's joins several times
        log = log.localCheckpoint(eager=False)
    else:
        raise ValueError(
            f"directory-cascade fixpoint did not converge in {max_rounds} "
            "rounds — pathological dir-op chain in one log slice"
        )

    return log.unionByName(
        _overwrite_deletes(log, _file_inodes(log, known), seed),
        allowMissingColumns=True,
    )


_INT_FIELDS = {
    "tx_id", "ts", "inode_id", "length", "block_size", "modified_time",
    "accessed_time", "truncate_new_length", "block_id", "size",
    "generation_stamp", "start_offset", "end_offset", "delta_size",
}


def _clean(key: str, v):
    """Arrow→pandas artifacts back to plain Python: NaN→None, integral
    floats→int (nullable long columns surface as float64 in pandas)."""
    if v is None:
        return None
    if isinstance(v, float):
        if pd.isna(v):
            return None
        if key in _INT_FIELDS:
            return int(v)
        return v
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return [
            {k: _clean(k, x) for k, x in dict(item).items()} for item in v
        ]
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        return _clean(key, v.item())
    return v


_FOLD_COLS = FOLD_OUTPUT_SCHEMA.fieldNames()


def fold_group(
    prev: dict | None, pdfs: Iterable[pd.DataFrame]
) -> tuple[dict | None, dict]:
    """Fold one inode's events (any number of Arrow frames) onto
    ``prev`` — the one group fold of the batch and the streaming
    reconciler. Returns the new state (None if nothing was ever
    created) and the group's one output row (a FOLD_OUTPUT_SCHEMA
    dict). Events are folded in tx order; when every event errors
    before a create, the row is an Unknown stub carrying the errors."""
    events = [
        {k: _clean(k, v) for k, v in rec.items()}
        for pdf in pdfs
        for rec in pdf.to_dict("records")
    ]
    events.sort(key=lambda e: e["tx_id"])
    state, errors = fold_events(prev, events)
    if state is None:
        row = dict.fromkeys(_FOLD_COLS)
        row["inode_id"] = events[0]["inode_id"]
        row["state"] = "Unknown"
    else:
        row = dict(state)
    row["errors"] = errors
    return state, row


def _fold_stream(batches) -> "pd.DataFrame":
    """Fold MANY inodes per Arrow batch (mapInPandas body).

    Input partitions are hash-partitioned by inode_id and sorted by
    (inode_id, tx_id), so each inode's events arrive contiguous; Arrow
    still cuts the partition into ~10k-row batches at arbitrary row
    boundaries, so the group straddling a batch edge is buffered until
    the next batch proves it complete. One output DataFrame per input
    batch amortizes the Arrow round-trip across thousands of inodes —
    the per-group ``applyInPandas`` formulation paid ~8.5 ms of
    single-row-DataFrame + serialization overhead per inode (measured:
    a 20k-op log folded in 35 s; this streaming fold does it in ~1 s),
    which at billions of files is the difference between hours and
    core-months. Fold semantics per inode are byte-identical — same
    ``fold_events`` on the same tx-sorted rows.
    """
    buf: pd.DataFrame | None = None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        buf = pdf if buf is None else pd.concat(
            [buf, pdf], ignore_index=True
        )
        last = buf["inode_id"].iloc[-1]
        done = buf[buf["inode_id"] != last]
        if len(done):
            yield _fold_groups(done)
            buf = buf[buf["inode_id"] == last].reset_index(drop=True)
    if buf is not None and len(buf):
        yield _fold_groups(buf)


def _fold_groups(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        [
            fold_group(None, [g])[1]
            for _, g in pdf.groupby("inode_id", sort=False)
        ],
        columns=_FOLD_COLS,
    )


def reconcile_batch(events: DataFrame, expand_dirs: bool = True) -> DataFrame:
    """Fold an event log into file_state (+ per-file `errors` column).

    One shuffle (by inode_id) + in-partition sort, then embarrassingly
    parallel streamed per-inode folds. Use ``.drop("errors")`` for the
    pure FIXTURES §3 shape.
    """
    log = expand_directory_events(events) if expand_dirs else events
    return (
        log.where(F.col("inode_id").isNotNull())
        .repartition("inode_id")
        .sortWithinPartitions("inode_id", "tx_id")
        .mapInPandas(_fold_stream, schema=FOLD_OUTPUT_SCHEMA)
    )


def reconcile_errors(state_with_errors: DataFrame) -> DataFrame:
    """Explode the reconciler's error side-channel (T25 dead-letter):
    one ERROR_SCHEMA row per error, led by the fold output's
    ``batch_id`` when it carries one (a state-log generation)."""
    keep = ["batch_id"] if "batch_id" in state_with_errors.columns else []
    return state_with_errors.select(
        *keep, F.explode("errors").alias("e")
    ).select(*keep, "e.*")


def gc_deleted(state: DataFrame) -> DataFrame:
    """T27: drop Deleted-state rows (reference cleanFileState)."""
    return state.where(F.col("state") != "Deleted")
