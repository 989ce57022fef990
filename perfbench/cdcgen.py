"""Seeded change-event backlog over a fake HDFS root, written with pyarrow.

Nothing here starts Spark: the source files, the event segments and the
expected results are plain parquet and Python structures, so generation
costs no Spark job and the program under test sees only the files.

The fake HDFS root must not sit under ``/tmp``: the registry's global
ignore regex drops every ``/tmp/`` path from entity matching.

Each segment holds a handful of file lifecycles:

* new files: ADD_FILE then CLOSE (one of them split across two
  segments, so the fold carries an open file between micro-batches);
* rewrites of earlier closed files: APPEND then CLOSE with a new length;
* unmatched paths: an unregistered directory and ``._COPYING_`` names
  the ignore regex drops;
* injected anomalies: an APPEND on an inode that was never created,
  which the fold routes to the dead-letter table.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

TS0 = 1_700_000_000_000
GHOST_INODE0 = 50_000_000

#: (domain, entity) -> (column names, arrow types) of its source files.
ENTITIES: dict[tuple[str, str], list[tuple[str, pa.DataType]]] = {
    ("sales", "customers"): [
        ("id", pa.int64()), ("name", pa.string()), ("balance", pa.float64())
    ],
    ("sales", "orders"): [
        ("oid", pa.int64()), ("cust", pa.int64()), ("total", pa.float64())
    ],
    ("ops", "events"): [
        ("eid", pa.int64()), ("kind", pa.string()), ("value", pa.float64())
    ],
    ("ops", "metrics"): [
        ("mid", pa.int64()), ("host", pa.string()), ("cpu", pa.float64())
    ],
}

#: File lifecycles a segment cycles through: a file created and closed,
#: one closed only in the next segment, a rewrite of a closed file, and
#: a path no rule matches.
KINDS = ("new", "split", "rewrite", "unmatched")

#: Columns of the fold's output that the expected state pins.
STATE_COLS = (
    "inode_id", "path", "state", "data_size", "num_blocks", "last_tx_id",
    "file_type", "domain", "entity",
)


@dataclass
class CdcInputs:
    root: str                      # fake HDFS root (source files live here)
    backlog_dir: str               # segments waiting to be fed
    rules: list                    # list[DomainFilter]
    segments: list[str] = field(default_factory=list)
    seg_events: list[int] = field(default_factory=list)
    #: per segment: inode -> expected state row after that segment
    seg_state: list[dict[int, dict]] = field(default_factory=list)
    #: per segment: (tx_id, inode_id) of the injected anomalies
    seg_ghosts: list[list[tuple[int, int]]] = field(default_factory=list)
    #: source path -> (domain, entity) of every registry-matched file
    matched: dict[str, tuple[str, str]] = field(default_factory=dict)
    #: source path -> rows of the file, as tuples
    rows: dict[str, list[tuple]] = field(default_factory=dict)
    unmatched: set[str] = field(default_factory=set)

    def expected_state(self, n_segments: int) -> dict[int, dict]:
        out: dict[int, dict] = {}
        for delta in self.seg_state[:n_segments]:
            out.update(delta)
        return out

    def expected_ghosts(self, n_segments: int) -> list[tuple[int, int]]:
        return sorted(g for s in self.seg_ghosts[:n_segments] for g in s)

    def expected_entity_rows(self, n_segments: int) -> dict:
        """(domain, entity) -> sorted rows of every matched file that is
        Finalized after ``n_segments`` segments."""
        out: dict[tuple[str, str], list[tuple]] = {}
        for st in self.expected_state(n_segments).values():
            if st["state"] == "Finalized" and st["domain"] is not None:
                out.setdefault((st["domain"], st["entity"]), []).extend(
                    self.rows[st["path"]]
                )
        return {k: sorted(v) for k, v in out.items()}


def _event_schema() -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    from hcdc_spark.cdc.model import CHANGE_EVENT_SCHEMA

    return to_arrow_schema(CHANGE_EVENT_SCHEMA)


def _file_rows(rng: random.Random, cols, inode: int, n: int) -> list[tuple]:
    rows = []
    for i in range(n):
        key = inode * 1000 + i
        vals = []
        for _name, typ in cols:
            if vals == []:
                vals.append(key)
            elif pa.types.is_string(typ):
                vals.append(f"v{rng.randrange(10_000)}")
            elif pa.types.is_integer(typ):
                vals.append(rng.randrange(1_000_000))
            else:
                vals.append(round(rng.uniform(0, 1000), 2))
        rows.append(tuple(vals))
    return rows


def generate(
    work_dir: str,
    seed: int,
    n_segments: int,
    files_per_segment: int,
    rows_per_file: tuple[int, int] = (20, 60),
    ghost_every: int = 4,
) -> CdcInputs:
    """Write the fake HDFS files and ``n_segments`` event segments under
    ``work_dir`` and return what the pipeline must produce from them.

    Every segment holds the same mix of lifecycles (KINDS, in turn) on
    one entity, the next entity in turn, so each micro-batch materializes
    two entity groups: this segment's and the previous segment's split
    close. The seed picks the entity order, rows, sizes and which closed
    file each rewrite reopens."""
    from hcdc_spark.cdc.registry import DomainFilter

    rng = random.Random(seed)
    root = os.path.join(work_dir, "hdfs")
    backlog = os.path.join(work_dir, "backlog")
    os.makedirs(backlog, exist_ok=True)
    rules = [
        DomainFilter(d, e, f"{root}/data/{d}/{e}", r"part_\d+\.parquet")
        for d, e in ENTITIES
    ]
    inputs = CdcInputs(root=root, backlog_dir=backlog, rules=rules)
    schema = _event_schema()
    names = schema.names
    ents = sorted(ENTITIES)
    tx = 0
    inode_next = 1
    ghost_next = GHOST_INODE0
    closed: dict[tuple, list[int]] = {}   # entity -> closed inodes
    ent_of: dict[int, tuple] = {}         # inode -> entity of its path
    info: dict[int, dict] = {}        # inode -> current expected state
    pending_close: list[int] = []     # inodes opened, closed next segment

    def ev(op, inode, path, **kw):
        nonlocal tx
        tx += 1
        base = dict.fromkeys(names)
        base.update(tx_id=tx, op=op, ts=TS0 + tx * 1000, namespace="ns1",
                    path=path, inode_id=inode, mode="New")
        base.update(kw)
        return base

    def block(inode, size):
        return [{
            "block_id": inode * 10, "size": size, "block_size": 1 << 20,
            "generation_stamp": 1, "start_offset": 0,
            "end_offset": max(size - 1, 0), "delta_size": size,
            "deleted": False,
        }]

    def close(inode, events, seg):
        st = info[inode]
        size = rng.randrange(1_000, 1 << 20)
        events.append(ev("CLOSE", inode, st["path"], length=size,
                         file_type="PARQUET", blocks=block(inode, size)))
        st.update(state="Finalized", data_size=size, num_blocks=1,
                  last_tx_id=tx, file_type="PARQUET")
        seg[inode] = dict(st)
        if inode not in closed.setdefault(ent_of[inode], []):
            closed[ent_of[inode]].append(inode)

    offset = rng.randrange(len(ents))
    for s in range(n_segments):
        ent = ents[(offset + s) % len(ents)]
        events: list[dict] = []
        seg: dict[int, dict] = {}
        ghosts: list[tuple[int, int]] = []
        for inode in pending_close:
            close(inode, events, seg)
        pending_close = []
        for j in range(files_per_segment):
            kind = KINDS[(s * files_per_segment + j) % len(KINDS)]
            if kind == "rewrite" and closed.get(ent):
                inode = rng.choice(closed[ent])
                st = info[inode]
                events.append(ev("APPEND", inode, st["path"],
                                 new_block=False))
                close(inode, events, seg)
                continue
            inode = inode_next
            inode_next += 1
            if kind != "unmatched":
                dom = ent
                path = f"{root}/data/{ent[0]}/{ent[1]}/part_{inode:07d}.parquet"
            elif rng.random() < 0.5:
                dom = None
                path = f"{root}/data/unregistered/part_{inode:07d}.parquet"
            else:
                dom = None
                path = (f"{root}/data/{ent[0]}/{ent[1]}/"
                        f"part_{inode:07d}.parquet._COPYING_")
            cols = ENTITIES[ent]
            rows = _file_rows(rng, cols, inode, rng.randint(*rows_per_file))
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(
                pa.table(
                    {c: [r[i] for r in rows] for i, (c, _) in enumerate(cols)},
                    schema=pa.schema(cols),
                ),
                path,
            )
            if dom is None:
                inputs.unmatched.add(path)
            else:
                inputs.matched[path] = dom
                inputs.rows[path] = rows
            events.append(ev("ADD_FILE", inode, path, block_size=1 << 20,
                             overwrite=False, blocks=block(inode, 0)))
            info[inode] = {
                "inode_id": inode, "path": path, "state": "New",
                "data_size": 0, "num_blocks": 1, "last_tx_id": tx,
                "file_type": "UNKNOWN",
                "domain": dom[0] if dom else None,
                "entity": dom[1] if dom else None,
            }
            ent_of[inode] = ent
            if kind == "split":
                pending_close.append(inode)
                seg[inode] = dict(info[inode])
            else:
                close(inode, events, seg)
        if ghost_every and s % ghost_every == ghost_every - 1:
            events.append(ev("APPEND", ghost_next,
                             f"{root}/data/ghost/g_{ghost_next}.parquet"))
            ghosts.append((tx, ghost_next))
            seg[ghost_next] = dict.fromkeys(STATE_COLS)
            seg[ghost_next].update(inode_id=ghost_next, state="Unknown")
            ghost_next += 1
        # a file opened in the last segment is never closed
        seg_path = os.path.join(backlog, f"edits_{s:07d}.parquet")
        pq.write_table(pa.Table.from_pylist(events, schema=schema), seg_path)
        inputs.segments.append(seg_path)
        inputs.seg_events.append(len(events))
        inputs.seg_state.append(seg)
        inputs.seg_ghosts.append(ghosts)
    return inputs
