"""Crash-point gate for every fsutil.swap_dir commit: the IVF-PQ index
rebuild and compaction, compact_state_log, gc_change_data and
compact_path_log.

A crash is simulated by letting the first k fsutil.rename/delete calls
of the operation through and raising a BaseException subclass at the
next one. ``except RuntimeError`` does not catch it, so no rollback
runs — exactly what a killed driver leaves on disk. After every crash
point, each entry point that meets the wreck (search, append, delete,
compact, latest_state, change_data + read_entity, a stream start) must
serve exactly what it serves on the untouched old generation or on the
completed new one.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hcdc_spark import fsutil
from hcdc_spark.cdc import logs
from hcdc_spark.cdc import maintenance as MNT
from hcdc_spark.cdc.materialize import change_data, read_entity
from hcdc_spark.cdc.registry import DomainFilter
from hcdc_spark.operators import similarity as S
from hcdc_spark.streaming.reconciler import latest_state
from hcdc_spark.streaming.rewrite import (
    _live,
    compact_path_log,
    live_paths,
    run_rewriter,
)

#: rename/delete calls of one swap_dir: delete stage, delete old,
#: rename live → old, rename stage → live, delete old
SWAP_STEPS = 5


class _Killed(BaseException):
    pass


def _crash_after(monkeypatch, k: int) -> None:
    """Let k fsutil.rename/delete calls through, then raise _Killed."""
    seen = [0]

    def guard(real):
        def call(*args, **kwargs):
            if seen[0] >= k:
                raise _Killed(f"killed at step {k}")
            seen[0] += 1
            return real(*args, **kwargs)

        return call

    monkeypatch.setattr(fsutil, "rename", guard(fsutil.rename))
    monkeypatch.setattr(fsutil, "delete", guard(fsutil.delete))


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------------ the five swap cases


class _Ivfpq:
    """IVF-PQ index at ``<root>/idx``: base corpus, one delta batch, one
    pending tombstone. Rebuild re-quantizes base+delta+extra."""

    def __init__(self, spark, sf_dir):
        self.spark = spark
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        self.emb = emb.where(F.col("vec_id") < 240)
        self.qv = S.probe_vector(emb)

    def setup(self, root: str) -> None:
        idx = os.path.join(root, "idx")
        S.write_ivfpq_index(
            self.spark, self.emb.where(F.col("vec_id") < 160), idx
        )
        S.append_ivfpq_delta(
            self.spark,
            self.emb.where((F.col("vec_id") >= 160) & (F.col("vec_id") < 200)),
            idx, batch_id=1,
        )
        top = self._search(idx)
        S.delete_from_ivfpq_index(self.spark, idx, [top[0][0]], batch_id=1)
        self.victim = top[1][0]  # the takedown the delete entry sends

    def _search(self, idx: str) -> list[tuple]:
        return [
            tuple(r)
            for r in S.ivfpq_index_search(
                self.spark, idx, self.qv, exclude_id=0
            ).collect()
        ]

    def _served(self, idx: str) -> tuple:
        top = tuple(self._search(idx))  # the entry point: recovers first
        codes = self.spark.read.parquet(f"{idx}/codes")
        return (
            top,
            tuple(sorted(r[0] for r in codes.select("gen").distinct()
                         .collect())),
            S.read_ivfpq_meta(self.spark, idx)["n_rows"],
        )

    def entries(self):
        spark = self.spark

        def search(root):
            return self._served(os.path.join(root, "idx"))

        def append(root):
            idx = os.path.join(root, "idx")
            S.append_ivfpq_delta(
                spark, self.emb.where(F.col("vec_id") >= 200), idx,
                batch_id=7,
            )
            return self._served(idx)

        def delete(root):
            idx = os.path.join(root, "idx")
            S.delete_from_ivfpq_index(spark, idx, [self.victim], batch_id=7)
            served = self._served(idx)
            assert self.victim not in {r[0] for r in served[0]}
            return served

        def compact(root):
            idx = os.path.join(root, "idx")
            return (S.compact_ivfpq_index(spark, idx), self._served(idx))

        return {"search": search, "append": append, "delete": delete,
                "compact": compact}


class IvfpqRebuild(_Ivfpq):
    def op(self, root: str) -> None:
        S.rebuild_ivfpq_index(self.spark, self.emb, os.path.join(root, "idx"))


class IvfpqCompact(_Ivfpq):
    def op(self, root: str) -> None:
        S.compact_ivfpq_index(self.spark, os.path.join(root, "idx"))


class StateLogCompact:
    """A three-batch state log with one Deleted inode."""

    def __init__(self, spark, sf_dir):
        self.spark = spark

    def setup(self, root: str) -> None:
        self.spark.sql(
            "SELECT * FROM VALUES "
            "(1L, 0L, 10L, 'Finalized', '/a'), (1L, 1L, 20L, 'Finalized', '/a'),"
            "(2L, 0L, 11L, 'Finalized', '/b'), (2L, 2L, 30L, 'Deleted', '/b'),"
            "(3L, 1L, 21L, 'Open', '/c') "
            "AS t(inode_id, batch_id, last_tx_id, state, path)"
        ).write.parquet(os.path.join(root, "out", "file_state_log"))

    def op(self, root: str) -> None:
        MNT.compact_state_log(self.spark, os.path.join(root, "out"))

    def entries(self):
        spark = self.spark

        def read(root):
            return _rows(latest_state(spark, os.path.join(root, "out")))

        def compact(root):
            n = MNT.compact_state_log(spark, os.path.join(root, "out"))
            return (n, read(root))

        def stream(root):
            # a stream start over no new segments: it must not append
            # a fresh log beside a stranded compacted one. The raw read
            # repairs nothing, so only the start's recovery can pass.
            os.makedirs(os.path.join(root, "src"), exist_ok=True)
            from hcdc_spark.streaming.pipeline import run_cdc_pipeline

            q = run_cdc_pipeline(
                spark, os.path.join(root, "src"), os.path.join(root, "out"),
                os.path.join(root, "ckpt"),
            )
            assert q.awaitTermination(120)
            return _rows(spark.read.parquet(
                os.path.join(root, "out", "file_state_log")))

        return {"latest_state": read, "compact": compact, "stream": stream}


class ChangeDataGc:
    """Two materializations of one file (b0 superseded by b1) plus
    the staging batch dirs they point at."""

    def __init__(self, spark, sf_dir):
        self.spark = spark

    def setup(self, root: str) -> None:
        staging = os.path.join(root, "staging")
        self.spark.sql(
            "SELECT * FROM VALUES "
            "('/f', 10L, 'b0', 'd', 'e'), ('/f', 20L, 'b1', 'd', 'e') "
            "AS t(src_path, last_tx_id, batch_tag, domain, entity)"
        ).write.parquet(os.path.join(staging, "change_data"))
        for i, tag in enumerate(("b0", "b1")):
            self.spark.sql(
                f"SELECT {i} AS v, '/f' AS _src_path"
            ).coalesce(1).write.parquet(os.path.join(
                staging, "data", "d", "e", f"batch={tag}", "src_fmt=PARQUET"
            ))

    def op(self, root: str) -> None:
        MNT.gc_change_data(self.spark, os.path.join(root, "staging"))

    def entries(self):
        spark = self.spark

        def read(root):
            # raw: change_data would repair the swap itself
            return _rows(spark.read.parquet(
                os.path.join(root, "staging", "change_data")))

        def gc(root):
            staging = os.path.join(root, "staging")
            n = MNT.gc_change_data(spark, staging)
            return (n, read(root),
                    sorted(os.listdir(os.path.join(staging, "data/d/e"))))

        def stream(root):
            from hcdc_spark.streaming.pipeline import run_cdc_pipeline

            os.makedirs(os.path.join(root, "src"), exist_ok=True)
            q = run_cdc_pipeline(
                spark, os.path.join(root, "src"), os.path.join(root, "out"),
                os.path.join(root, "ckpt"),
                [DomainFilter("d", "e", "/", r".*")],
                staging_dir=os.path.join(root, "staging"),
            )
            assert q.awaitTermination(120)
            return read(root)

        def pointers(root):
            # the pointer readers heal too: the live pointer table is
            # missing after a crash between the swap's two renames
            staging = os.path.join(root, "staging")
            return (_rows(change_data(spark, staging)),
                    _rows(read_entity(spark, staging, "d", "e")))

        return {"gc": gc, "stream": stream, "pointers": pointers}


class PathLogCompact:
    """A two-batch rewriter path log: one renamed, one deleted and one
    untouched inode."""

    def __init__(self, spark, sf_dir):
        self.spark = spark

    def setup(self, root: str) -> None:
        self.spark.sql(
            "SELECT * FROM VALUES "
            "(1L, '/a', 'ns', 10L, 0L), (1L, '/a2', 'ns', 20L, 1L),"
            "(2L, '/b', 'ns', 11L, 0L),"
            "(2L, CAST(NULL AS STRING), 'ns', 21L, 1L),"
            "(3L, '/c', 'ns', 12L, 0L) "
            "AS t(inode_id, path, namespace, last_tx, batch_id)"
        ).write.parquet(os.path.join(root, "paths"))

    def op(self, root: str) -> None:
        compact_path_log(self.spark, os.path.join(root, "paths"))

    def entries(self):
        spark = self.spark

        def read(root):
            return _rows(live_paths(spark, os.path.join(root, "paths")))

        def compact(root):
            compact_path_log(spark, os.path.join(root, "paths"))
            return read(root)

        def stream(root):
            # a rewriter start over no new segments: its first batch
            # must not seed cascades from a missing path log
            os.makedirs(os.path.join(root, "src"), exist_ok=True)
            q = run_rewriter(
                spark, os.path.join(root, "src"), os.path.join(root, "rw"),
                os.path.join(root, "ckpt"), os.path.join(root, "paths"),
            )
            assert q.awaitTermination(120)
            # raw: live_paths would repair the swap itself
            live = _live(logs.read(
                spark, os.path.join(root, "paths"), missing_ok=True,
                recover_first=False,
            ))
            return None if live is None else _rows(live)

        return {"compact": compact, "stream": stream}


CASES = {
    "ivfpq_rebuild": IvfpqRebuild,
    "ivfpq_compact": IvfpqCompact,
    "compact_state_log": StateLogCompact,
    "gc_change_data": ChangeDataGc,
    "path_log": PathLogCompact,
}


@pytest.fixture(scope="module")
def generations(spark, sf_dir, tmp_path_factory):
    """Per case: the pre-swap template dir and what every entry point
    serves on the old and on the new generation (computed once)."""
    cache: dict = {}

    def get(name):
        if name not in cache:
            case = CASES[name](spark, sf_dir)
            base = tmp_path_factory.mktemp(name)
            template = str(base / "template")
            case.setup(template)
            new = str(base / "new")
            shutil.copytree(template, new)
            case.op(new)
            served = {}
            for entry, fn in case.entries().items():
                outs = []
                for src in (template, new):
                    work = str(base / f"{entry}_{os.path.basename(src)}")
                    shutil.copytree(src, work)
                    outs.append(fn(work))
                served[entry] = outs
            cache[name] = (case, template, served)
        return cache[name]

    return get


@pytest.mark.parametrize("k", range(SWAP_STEPS))
@pytest.mark.parametrize("name", sorted(CASES))
def test_swap_serves_old_or_new_after_crash(
    name, k, generations, tmp_path, monkeypatch
):
    case, template, served = generations(name)
    wreck = str(tmp_path / "wreck")
    shutil.copytree(template, wreck)
    _crash_after(monkeypatch, k)
    with pytest.raises(_Killed):
        case.op(wreck)
    monkeypatch.undo()
    for entry, fn in case.entries().items():
        work = str(tmp_path / entry)
        shutil.copytree(wreck, work)
        got = fn(work)
        old, new = served[entry]
        assert got in (old, new), (
            f"{name}: crash after step {k}, then {entry} served neither "
            f"generation:\n got {got}\n old {old}\n new {new}"
        )
