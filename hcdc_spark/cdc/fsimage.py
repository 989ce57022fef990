"""FsImage XML bootstrap (SURVEY §2A S1, full form).

The reference dumps the NameNode fsimage to XML (`hdfs oiv`), parses
the inode section into a driver-side map, walks the directory tree
recursively to rebuild each file's absolute path, and seeds file/block
state (NameNodeReplicator.java:125-190: readFSImageXml → findChildren →
copy). That walk is O(tree) on one machine with the whole image in
memory — a 10^9-inode namespace doesn't fit.

Spark-first: the image is two *tables* — inodes (id, type, name,
blocks) and edges (child → parent), both from Spark's built-in XML
source — and path reconstruction is **pointer doubling**: each round
every inode's known ancestor jumps to that ancestor's ancestor while
prepending its partial path, so a depth-D tree resolves in ⌈log₂ D⌉
rounds of hash joins instead of D sequential lookups per file. All
shuffles key on inode id — no driver state, no recursion.

The resolved files then become ordinary Snapshot CLOSE events folded by
the standard reconciler, same as ``bootstrap_from_listing``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hcdc_spark.cdc.snapshot import (
    as_events,
    block_offsets_sql,
    contiguous_rank,
    file_type_of,
)


#: Deterministic demo image (a real `hdfs oiv -p XML` shape): root →
#: data → {warehouse → {deep → f2.csv, f1.parquet}, empty.bin}. Used by
#: the registry demo query and the unit tests.
EXAMPLE_FSIMAGE_XML = """<?xml version="1.0"?>
<fsimage>
<version><layoutVersion>-66</layoutVersion></version>
<NameSection><namespaceId>42</namespaceId><txid>5000</txid></NameSection>
<INodeSection>
<inode><id>16385</id><type>DIRECTORY</type><name></name><mtime>100</mtime></inode>
<inode><id>16386</id><type>DIRECTORY</type><name>data</name><mtime>101</mtime></inode>
<inode><id>16387</id><type>DIRECTORY</type><name>warehouse</name><mtime>102</mtime></inode>
<inode><id>16388</id><type>DIRECTORY</type><name>deep</name><mtime>103</mtime></inode>
<inode><id>16390</id><type>FILE</type><name>f1.parquet</name><mtime>110</mtime><preferredBlockSize>1048576</preferredBlockSize><blocks><block><id>1001</id><genstamp>1</genstamp><numBytes>700</numBytes></block><block><id>1002</id><genstamp>1</genstamp><numBytes>300</numBytes></block></blocks></inode>
<inode><id>16391</id><type>FILE</type><name>f2.csv</name><mtime>111</mtime><preferredBlockSize>1048576</preferredBlockSize><blocks><block><id>1003</id><genstamp>2</genstamp><numBytes>50</numBytes></block></blocks></inode>
<inode><id>16392</id><type>FILE</type><name>empty.bin</name><mtime>112</mtime></inode>
</INodeSection>
<INodeDirectorySection>
<directory><parent>16385</parent><child>16386</child></directory>
<directory><parent>16386</parent><child>16387</child><child>16392</child></directory>
<directory><parent>16387</parent><child>16388</child><child>16390</child></directory>
<directory><parent>16388</parent><child>16391</child></directory>
</INodeDirectorySection>
</fsimage>
"""


def _as_array(df: DataFrame, col: str) -> F.Column:
    """XML inference yields a struct for a single repeated element and
    an array for several — normalize to array."""
    dt = df.schema[col].dataType
    return F.col(col) if isinstance(dt, T.ArrayType) else F.array(col)


def fsimage_txid(spark: SparkSession, xml_path: str) -> int:
    """<NameSection><txid> — the image's last applied transaction
    (readFSImageXml reads the same node, NameNodeReplicator.java:168)."""
    row = (
        spark.read.format("xml")
        .option("rowTag", "NameSection")
        .load(xml_path)
        .select(F.col("txid").cast("long"))
        .first()
    )
    return int(row[0])


def read_fsimage(
    spark: SparkSession, xml_path: str
) -> tuple[DataFrame, DataFrame]:
    """(inodes, edges) from the fsimage XML.

    inodes: id, type(FILE|DIRECTORY), name, mtime, preferred_block_size,
    blocks array<struct(id, genstamp, numBytes)>. edges: (child, parent)
    — the INodeDirectorySection inverted to child-keyed rows, which is
    the join direction path resolution needs.
    """
    inodes = (
        spark.read.format("xml")
        .option("rowTag", "inode")
        .load(xml_path)
    )
    cols = set(inodes.columns)
    if "blocks" in cols:
        raw = F.col("blocks.block")
        if not isinstance(
            inodes.schema["blocks"].dataType["block"].dataType, T.ArrayType
        ):
            raw = F.array("blocks.block")
        # canonical field order — XML inference sorts struct fields
        # alphabetically, which must not leak into downstream types
        blocks = F.transform(
            raw,
            lambda b: F.struct(
                b["id"].cast("long").alias("id"),
                b["genstamp"].cast("long").alias("genstamp"),
                b["numBytes"].cast("long").alias("numBytes"),
            ),
        )
    else:
        blocks = F.lit(None).cast(
            "array<struct<id:long,genstamp:long,numBytes:long>>"
        )
    inodes_n = inodes.select(
        F.col("id").cast("long").alias("id"),
        F.col("type").cast("string").alias("type"),
        (
            F.col("name").cast("string")
            if "name" in cols
            else F.lit(None).cast("string")
        ).alias("name"),
        (
            F.col("mtime").cast("long")
            if "mtime" in cols
            else F.lit(0).cast("long")
        ).alias("mtime"),
        (
            F.col("preferredBlockSize").cast("long")
            if "preferredBlockSize" in cols
            else F.lit(None).cast("long")
        ).alias("preferred_block_size"),
        blocks.alias("blocks"),
    )

    dirs = (
        spark.read.format("xml")
        .option("rowTag", "directory")
        .load(xml_path)
    )
    edges = dirs.select(
        F.col("parent").cast("long").alias("parent"),
        F.explode(_as_array(dirs, "child")).alias("child"),
    ).select(F.col("child").cast("long").alias("child"), "parent")
    return inodes_n, edges


def resolve_paths(
    inodes: DataFrame, edges: DataFrame, max_rounds: int = 20
) -> DataFrame:
    """(id, path) for every inode with a parent edge, by pointer
    doubling: state (id, anc, partial) where ``partial`` is the path
    from ``anc`` (exclusive) down to ``id``; each round substitutes
    ``anc`` by its own ancestor until it hits the root. ⌈log₂ depth⌉
    rounds, each one hash join keyed by inode id — the driver never
    holds the tree (the reference's findChildren recursion does,
    NameNodeReplicator.java:196-215). max_rounds=20 ⇒ depth ≤ 2^20.
    """
    named = inodes.select(
        "id", F.coalesce(F.col("name"), F.lit("")).alias("name")
    )
    m = (
        edges.join(named, edges["child"] == named["id"])
        .select(
            F.col("child").alias("id"),
            F.col("parent").alias("anc"),
            F.col("name").alias("partial"),
        )
    )
    for _ in range(max_rounds):
        a = m.select(
            F.col("id").alias("a_id"),
            F.col("anc").alias("a_anc"),
            F.col("partial").alias("a_partial"),
        )
        j = m.join(a, m["anc"] == a["a_id"], "left").localCheckpoint(
            eager=True
        )
        if j.where(F.col("a_id").isNotNull()).isEmpty():
            break
        m = j.select(
            "id",
            F.coalesce("a_anc", "anc").alias("anc"),
            F.when(
                F.col("a_id").isNotNull(),
                F.concat_ws("/", "a_partial", "partial"),
            )
            .otherwise(F.col("partial"))
            .alias("partial"),
        )
    return m.select(
        "id", F.concat(F.lit("/"), F.col("partial")).alias("path")
    )


def bootstrap_from_fsimage(
    spark: SparkSession,
    xml_path: str,
    namespace: str = "ns1",
    base_tx: int | None = None,
    default_block_size: int = 128 << 20,
) -> DataFrame:
    """fsimage XML → synthetic Snapshot CLOSE events (one per FILE
    inode, real inode ids, real block lists with cumulative offsets),
    folded by the ordinary reconciler — the set-based ``copy()``
    (NameNodeReplicator.java:125-160).

    ``base_tx`` defaults to the image's own txid, so the edit-log tail
    replays on top with the right T4 ordering.
    """
    if base_tx is None:
        base_tx = fsimage_txid(spark, xml_path)
    inodes, edges = read_fsimage(spark, xml_path)
    paths = resolve_paths(inodes, edges)
    files = inodes.where(F.col("type") == "FILE").join(paths, "id")

    bs = F.coalesce(
        F.col("preferred_block_size"), F.lit(default_block_size)
    )
    length = F.coalesce(
        F.aggregate(
            "blocks", F.lit(0).cast("long"), lambda acc, b: acc + b["numBytes"]
        ),
        F.lit(0).cast("long"),
    )
    blocks_ev = F.expr(
        """
        transform(coalesce(blocks, array()), (b, i) -> struct(
          b.id AS block_id,
          b.numBytes AS size,
          coalesce(preferred_block_size, {dbs}L) AS block_size,
          b.genstamp AS generation_stamp,
          {offsets},
          b.numBytes AS delta_size,
          false AS deleted
        ))
        """.format(dbs=default_block_size, offsets=block_offsets_sql("numBytes"))
    )

    ranked = contiguous_rank(files, "path")
    return as_events(
        ranked,
        tx_id=F.lit(base_tx) + F.col("_rank"),
        op=F.lit("CLOSE"),
        ts="mtime",
        namespace=F.lit(namespace),
        path="path",
        inode_id="id",
        length=length,
        block_size=bs,
        modified_time="mtime",
        accessed_time="mtime",
        blocks=blocks_ev,
        file_type=file_type_of("path"),
        mode=F.lit("Snapshot"),
    )
