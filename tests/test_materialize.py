"""Materializer (T14-T19): format detection, grouped replication,
pointer-table current view, schema registry versioning."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hcdc_spark.cdc import materialize as M


@pytest.fixture(scope="module")
def source_files(spark, tmp_path_factory):
    """A fake 'HDFS' with entity data files in three formats."""
    root = str(tmp_path_factory.mktemp("hdfs"))
    cust = spark.createDataFrame(
        [(1, "alice", 10.5), (2, "bob", 20.25), (3, "carol", 0.0)],
        "id int, name string, score double",
    )
    os.makedirs(f"{root}/data/sales", exist_ok=True)
    cust.coalesce(1).write.mode("overwrite").option("header", "true").csv(
        f"{root}/data/sales/cust1.csv.d"
    )
    cust.coalesce(1).write.mode("overwrite").json(f"{root}/data/sales/o1.json.d")
    cust.coalesce(1).write.mode("overwrite").parquet(f"{root}/data/sales/p1.parquet.d")
    cust.coalesce(1).write.mode("overwrite").orc(f"{root}/data/sales/x1.orc.d")

    def one_file(d, ext):
        files = [
            f for f in os.listdir(f"{root}/data/sales/{d}")
            if f.endswith(ext) and not f.startswith(("_", "."))
        ]
        return f"{root}/data/sales/{d}/{files[0]}"

    return {
        "root": root,
        "csv": one_file("cust1.csv.d", ".csv"),
        "json": one_file("o1.json.d", ".json"),
        "parquet": one_file("p1.parquet.d", ".parquet"),
        "orc": one_file("x1.orc.d", ".orc"),
        "df": cust,
    }


def test_detect_format_magic_and_extension(spark, source_files):
    got = {
        os.path.basename(r["path"]): r["file_type"]
        for r in M.detect_format(
            spark, source_files["root"] + "/data/sales/*/"
        ).collect()
    }
    by_ext = {os.path.splitext(k)[1]: v for k, v in got.items()}
    assert by_ext[".csv"] == "CSV"
    assert by_ext[".json"] == "JSON"
    assert by_ext[".parquet"] == "PARQUET"  # PAR1 magic
    assert by_ext[".orc"] == "ORC"  # ORC magic


def _state_row(inode, path, ftype, tx, domain="sales", entity="customers",
               state="Finalized"):
    return (inode, path, state, domain, entity, tx, ftype)


_STATE_SCHEMA = (
    "inode_id long, path string, state string, domain string,"
    " entity string, last_tx_id long, file_type string"
)


def test_materialize_and_read_entity(spark, source_files, tmp_path):
    staging = str(tmp_path / "staging")
    registry = str(tmp_path / "registry")
    file_state = spark.createDataFrame(
        [
            _state_row(1, source_files["csv"], "CSV", 10),
            _state_row(2, source_files["parquet"], "PARQUET", 11),
            _state_row(3, source_files["json"], "JSON", 12,
                       entity="orders"),
            _state_row(4, source_files["orc"], "ORC", 13, entity="orders"),
            # unmatched + open files must be skipped
            _state_row(5, source_files["csv"], "CSV", 14, domain=None),
            _state_row(6, source_files["csv"], "CSV", 15, state="Updating"),
        ],
        _STATE_SCHEMA,
    )
    res = M.materialize(
        spark, file_state, staging, batch_tag="b0", registry_dir=registry
    )
    assert res.n_groups == 4  # (customers,CSV),(customers,PARQUET),(orders,JSON),(orders,ORC)
    ptr = M.change_data(spark, staging)
    assert ptr.count() == 4
    assert ptr.where(F.col("inode_id").isin(5, 6)).count() == 0

    cust = M.read_entity(spark, staging, "sales", "customers")
    # csv + parquet copies of the same 3-row table
    assert cust.count() == 6
    assert set(cust.select("name").distinct().toPandas()["name"]) == {
        "alice", "bob", "carol"
    }

    # schema registry got one version per entity
    schemas = M.latest_schemas(spark, registry)
    assert schemas.count() == 2
    sch = M.entity_schema(spark, registry, "sales", "orders")
    assert "name" in sch.fieldNames()


def test_rematerialize_supersedes(spark, source_files, tmp_path):
    staging = str(tmp_path / "staging")
    st0 = spark.createDataFrame(
        [_state_row(1, source_files["parquet"], "PARQUET", 10)], _STATE_SCHEMA
    )
    M.materialize(spark, st0, staging, batch_tag="b0")
    # file re-finalized at a later tx → new batch supersedes the old one
    st1 = spark.createDataFrame(
        [_state_row(1, source_files["parquet"], "PARQUET", 20)], _STATE_SCHEMA
    )
    M.materialize(spark, st1, staging, batch_tag="b1")

    cur = M.read_entity(spark, staging, "sales", "customers")
    assert cur.count() == 3  # not 6: old batch pruned via latest pointer
    batches = {r["batch"] for r in cur.select("batch").distinct().collect()}
    assert batches == {"b1"}


def test_schema_registry_versioning(spark, tmp_path):
    registry = str(tmp_path / "registry")
    from pyspark.sql import types as T

    s1 = T.StructType([T.StructField("a", T.IntegerType())])
    s2 = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    M.register_schema(spark, registry, "d", "e", s1)
    M.register_schema(spark, registry, "d", "e", s1)  # unchanged → no-op
    M.register_schema(spark, registry, "d", "e", s2)  # drift → v2
    rows = (
        spark.read.parquet(os.path.join(registry, "schemas"))
        .orderBy("version")
        .collect()
    )
    assert [r["version"] for r in rows] == [1, 2]
    assert M.entity_schema(spark, registry, "d", "e") == s2


def test_schema_registry_unreadable_raises(spark, tmp_path):
    """Only a missing registry is a first version: a corrupt one must
    raise, not silently start the entity over at version 1."""
    from pyspark.sql import types as T

    registry = tmp_path / "registry"
    (registry / "schemas").mkdir(parents=True)
    junk = registry / "schemas" / "part-00000.parquet"
    junk.write_bytes(b"not a parquet file")
    s1 = T.StructType([T.StructField("a", T.IntegerType())])
    with pytest.raises(Exception, match="(?i)parquet"):
        M.register_schema(spark, str(registry), "d", "e", s1)
    assert os.listdir(registry / "schemas") == [junk.name]


def test_schema_registry_uncommitted_first_append_is_first_version(
    spark, tmp_path
):
    """A first append that died after its committer made ``_temporary``
    left no data file: the registry holds no version, so the replayed
    batch registers version 1 instead of failing schema inference."""
    from pyspark.sql import types as T

    registry = tmp_path / "registry"
    (registry / "schemas" / "_temporary" / "0").mkdir(parents=True)
    s1 = T.StructType([T.StructField("a", T.IntegerType())])
    M.register_schema(spark, str(registry), "d", "e", s1)
    rows = spark.read.parquet(str(registry / "schemas")).collect()
    assert [(r["domain"], r["entity"], r["version"]) for r in rows] == [
        ("d", "e", 1)
    ]


def test_schema_drift_across_files(spark, tmp_path):
    """Two files of one entity with drifted schemas: the current view
    merges them (old rows NULL in the new column) and the registry
    records the drift as a new version."""
    staging = str(tmp_path / "staging")
    registry = str(tmp_path / "registry")
    v1 = spark.createDataFrame([(1, "a")], "id int, name string")
    v2 = spark.createDataFrame(
        [(2, "b", 9.5)], "id int, name string, score double"
    )
    p1, p2 = str(tmp_path / "f1.parquet"), str(tmp_path / "f2.parquet")
    v1.coalesce(1).write.parquet(p1)
    v2.coalesce(1).write.parquet(p2)

    st1 = spark.createDataFrame(
        [_state_row(1, p1, "PARQUET", 10)], _STATE_SCHEMA
    )
    st2 = spark.createDataFrame(
        [_state_row(2, p2, "PARQUET", 20)], _STATE_SCHEMA
    )
    M.materialize(spark, st1, staging, batch_tag="b0", registry_dir=registry)
    M.materialize(spark, st2, staging, batch_tag="b1", registry_dir=registry)

    cur = M.read_entity(spark, staging, "sales", "customers")
    assert "score" in cur.columns
    rows = {r["id"]: r["score"] for r in cur.select("id", "score").collect()}
    assert rows == {1: None, 2: 9.5}

    versions = (
        spark.read.parquet(registry + "/schemas")
        .orderBy("version")
        .collect()
    )
    assert [r["version"] for r in versions] == [1, 2]


def test_avro_gate(spark):
    # container has no spark-avro jar → availability probe must say no
    # (if a jar is added later the materializer picks it up untouched).
    assert M.avro_available(spark) is False


def test_avro_gate_probes_once_per_application(spark, monkeypatch):
    """The probe is a failing read analysis; every AVRO materialize
    group, read_avro and write_table asks, so only the first call in
    an application may run it."""
    from pyspark.sql.readwriter import DataFrameReader

    first = M.avro_available(spark)
    reads = []
    real_format = DataFrameReader.format

    def counting_format(self, source):
        reads.append(source)
        return real_format(self, source)

    monkeypatch.setattr(DataFrameReader, "format", counting_format)
    assert M.avro_available(spark) is first
    assert reads == []


def test_bucket_per_domain_mapping(spark, tmp_path):
    # K4: a mapped domain routes to its own staging root; unmapped
    # domains fall back; the pointer table stays central.
    import os

    from hcdc_spark.cdc.materialize import (
        change_data,
        materialize,
        read_entity,
    )

    src = tmp_path / "src"
    src.mkdir()
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    df.coalesce(1).write.mode("overwrite").parquet(str(src / "t1.d"))
    df.coalesce(1).write.mode("overwrite").parquet(str(src / "t2.d"))

    def one(d):
        return next(
            str(d / f) for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )

    state = spark.createDataFrame(
        [
            (1, one(src / "t1.d"), "Finalized", "sales", "t1", 5, "PARQUET"),
            (2, one(src / "t2.d"), "Finalized", "hr", "t2", 6, "PARQUET"),
        ],
        "inode_id long, path string, state string, domain string,"
        " entity string, last_tx_id long, file_type string",
    )
    default_root = str(tmp_path / "staging")
    sales_bucket = str(tmp_path / "bucket_sales")
    bmap = {"sales": sales_bucket}
    res = materialize(
        spark, state, default_root, batch_tag="b0", bucket_map=bmap
    )
    assert res.n_groups == 2
    assert os.path.isdir(os.path.join(sales_bucket, "data", "sales", "t1"))
    assert os.path.isdir(os.path.join(default_root, "data", "hr", "t2"))
    assert not os.path.isdir(os.path.join(default_root, "data", "sales"))
    # central pointer table records the bucket-resolved staging paths
    ptr = {r["domain"]: r for r in change_data(spark, default_root).collect()}
    assert ptr["sales"]["staging_path"].startswith(sales_bucket)
    # read path resolves through the same map
    got = read_entity(
        spark, default_root, "sales", "t1", bucket_map=bmap
    )
    assert got.count() == 10


def test_materialize_avro_source_via_codec(spark, source_files, tmp_path):
    """An AVRO source file replicates through the spec-codec fallback
    (K6/T17): same staging rows + pointer as any other format."""
    from hcdc_spark.sources import avro_codec as AC

    avro_dir = str(tmp_path / "av_src")
    AC.write_avro(source_files["df"].coalesce(1), avro_dir).collect()
    avro_file = os.path.join(avro_dir, os.listdir(avro_dir)[0])
    staging = str(tmp_path / "staging_av")
    file_state = spark.createDataFrame(
        [_state_row(9, avro_file, "AVRO", 99)], _STATE_SCHEMA
    )
    res = M.materialize(spark, file_state, staging, "b1")
    assert res.n_groups == 1
    got = M.read_entity(spark, staging, "sales", "customers")
    assert sorted(
        map(tuple, got.select("id", "name", "score").collect())
    ) == sorted(map(tuple, source_files["df"].collect()))


def _fake_state_with_blocks(spark, path, sizes):
    """A file_state row whose block chain covers `path` in `sizes`-byte
    blocks (chained prev ids, cumulative offsets implied)."""
    from hcdc_spark.cdc.model import FILE_STATE_SCHEMA

    blocks = []
    for i, sz in enumerate(sizes):
        blocks.append(
            {
                "block_id": 100 + i,
                "prev_block_id": 100 + i - 1 if i else -1,
                "data_size": sz,
                "block_size": 128,
                "last_tx_id": 10 + i,
                "generation_stamp": 1,
                "state": "Finalized",
                "deltas": [],
            }
        )
    row = {
        "inode_id": 7,
        "path": path,
        "created_time": 0,
        "updated_time": 1,
        "num_blocks": len(sizes),
        "block_size": 128,
        "data_size": sum(sizes),
        "last_tx_id": 10 + len(sizes) - 1,
        "file_type": "CSV",
        "state": "Finalized",
        "blocks": blocks,
        "domain": "sales",
        "entity": "customers",
    }
    return spark.createDataFrame([row], FILE_STATE_SCHEMA)


def test_replica_state_ledger_and_block_ranges(spark, tmp_path):
    """T13+S7 end to end: replica ledger rows carry cumulative offsets,
    and feeding them through read_block_ranges re-reads each block's
    exact bytes."""
    from hcdc_spark.sources.readers import read_block_ranges

    blob = b"".join(bytes([i]) * 10 for i in range(5))  # 5 blocks x 10B
    src = str(tmp_path / "blocks.bin")
    with open(src, "wb") as fh:
        fh.write(blob)
    staging = str(tmp_path / "stg")
    st = _fake_state_with_blocks(spark, src, [10] * 5)

    M.write_replica_state(spark, st, staging, "b1")
    led = M.replica_state(spark, staging).collect()
    assert len(led) == 1
    reps = sorted(led[0]["replicas"], key=lambda b: b["start_offset"])
    assert [(b["start_offset"], b["end_offset"]) for b in reps] == [
        (i * 10, i * 10 + 9) for i in range(5)
    ]
    # chained prev pointers survive
    assert [b["prev_block_id"] for b in reps] == [-1, 100, 101, 102, 103]

    ranges = M.block_ranges(st)
    got = read_block_ranges(spark, ranges).collect()
    assert sorted(
        (r["offset"], bytes(r["content"])) for r in got
    ) == [(i * 10, bytes([i]) * 10) for i in range(5)]

    # latest-batch-per-inode view: a newer batch supersedes
    st2 = _fake_state_with_blocks(spark, src, [10] * 5 + [3])
    M.write_replica_state(spark, st2, staging, "b2")
    cur = M.replica_state(spark, staging).collect()
    assert len(cur) == 1 and cur[0]["num_blocks"] == 6
