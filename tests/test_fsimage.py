"""FsImage XML bootstrap (S1): path reconstruction by pointer doubling
plus end-to-end fold through the standard reconciler."""

from __future__ import annotations

import os

import pytest

from hcdc_spark.cdc.fsimage import (
    EXAMPLE_FSIMAGE_XML,
    bootstrap_from_fsimage,
    fsimage_txid,
    read_fsimage,
    resolve_paths,
)
from hcdc_spark.cdc.reconcile import reconcile_batch



@pytest.fixture(scope="module")
def xml_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("fsimage") / "fsimage.xml"
    p.write_text(EXAMPLE_FSIMAGE_XML)
    return str(p)


def test_txid(spark, xml_path):
    assert fsimage_txid(spark, xml_path) == 5000


def test_resolve_paths_doubling(spark, xml_path):
    inodes, edges = read_fsimage(spark, xml_path)
    paths = {r["id"]: r["path"] for r in resolve_paths(inodes, edges).collect()}
    assert paths[16386] == "/data"
    assert paths[16390] == "/data/warehouse/f1.parquet"
    assert paths[16391] == "/data/warehouse/deep/f2.csv"
    assert paths[16392] == "/data/empty.bin"


def test_bootstrap_events_and_fold(spark, xml_path):
    ev = bootstrap_from_fsimage(spark, xml_path)
    rows = {r["path"]: r for r in ev.collect()}
    f1 = rows["/data/warehouse/f1.parquet"]
    assert f1["inode_id"] == 16390            # real inode ids preserved
    assert f1["tx_id"] > 5000                 # stacked on the image txid
    assert f1["length"] == 1000
    assert [b["start_offset"] for b in f1["blocks"]] == [0, 700]
    assert [b["end_offset"] for b in f1["blocks"]] == [699, 999]
    assert f1["file_type"] == "PARQUET"
    assert rows["/data/empty.bin"]["length"] == 0

    state = {
        r["path"]: r
        for r in reconcile_batch(ev, expand_dirs=False).collect()
    }
    assert state["/data/warehouse/f1.parquet"]["state"] == "Finalized"
    assert state["/data/warehouse/f1.parquet"]["num_blocks"] == 2
    assert state["/data/warehouse/deep/f2.csv"]["data_size"] == 50


_EXT_TYPES = {
    ".csv": "CSV", ".json": "JSON", ".jsonl": "JSON", ".ndjson": "JSON",
    ".parquet": "PARQUET", ".avro": "AVRO", ".orc": "ORC",
    ".bin": "UNKNOWN",
}
_SUFFIXES = [s for e in _EXT_TYPES for s in (e, e.upper())]


@pytest.fixture(scope="module")
def file_types_by_source(spark, tmp_path_factory):
    """file name → file_type from each source that derives one from a
    path: the listing bootstrap, the fsimage bootstrap (the example
    image with f2.csv renamed once per suffix) and detect_format's
    extension fallback (the files carry no magic prefix)."""
    from hcdc_spark.cdc.materialize import detect_format
    from hcdc_spark.cdc.snapshot import bootstrap_from_listing

    root = tmp_path_factory.mktemp("file_types")
    files = root / "files"
    files.mkdir()
    names = [f"f{i}{sfx}" for i, sfx in enumerate(_SUFFIXES)]
    for name in names:
        (files / name).write_text("a,b\n1,2\n")

    f2 = next(
        line for line in EXAMPLE_FSIMAGE_XML.splitlines()
        if "<name>f2.csv</name>" in line
    )
    renamed = "\n".join(
        f2.replace("<id>16391</id>", f"<id>{17000 + i}</id>")
        .replace("f2.csv", name)
        for i, name in enumerate(names)
    )
    children = "".join(f"<child>{17000 + i}</child>" for i in range(len(names)))
    xml = root / "fsimage.xml"
    xml.write_text(
        EXAMPLE_FSIMAGE_XML.replace(f2, renamed)
        .replace("<child>16391</child>", children)
    )

    def by_name(df):
        return {
            os.path.basename(r["path"]): r["file_type"]
            for r in df.select("path", "file_type").collect()
        }

    return {
        "listing": by_name(bootstrap_from_listing(spark, str(files))),
        "fsimage": by_name(bootstrap_from_fsimage(spark, str(xml))),
        "detect_format": by_name(detect_format(spark, str(files / "*"))),
    }


@pytest.mark.parametrize("sfx", _SUFFIXES)
def test_file_type_rule_is_shared(file_types_by_source, sfx):
    """One extension → file_type rule: every source agrees on every
    suffix in either case (the fsimage bootstrap used to map .jsonl and
    .ndjson to UNKNOWN, which materialize then skipped)."""
    name = f"f{_SUFFIXES.index(sfx)}{sfx}"
    got = {src: types[name] for src, types in file_types_by_source.items()}
    assert got == dict.fromkeys(got, _EXT_TYPES[sfx.lower()])
