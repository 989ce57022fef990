"""Binary edit-log decoder (S3) — verified against the reference's own
binary fixtures (real NameNode edit segments shipped in its test
resources). The fixture-reading tests skip when that tree is absent;
the encoder round-trips and codec properties always run."""

from __future__ import annotations

import glob
import os

import pytest

from hcdc_spark.sources.editlog import (
    decode_segment,
    ops_to_change_events,
    read_editlog_binary,
)

FIXTURES = (
    "/root/reference/change-manager/namenode-agent/src/test/resources/"
    "edits/logs"
)

needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(FIXTURES), reason="reference edit-log fixtures absent"
)


def _segments():
    return sorted(glob.glob(os.path.join(FIXTURES, "*/current/edits_*")))


@needs_fixtures
def test_all_fixture_segments_decode_with_contiguous_txids():
    """The reference's own test invariant (EditLogViewerTest:33-36):
    every segment's decoded txids are contiguous and match the range in
    its filename. CRC32 of every record must re-compute."""
    segs = _segments()
    assert len(segs) >= 9
    for f in segs:
        ops = decode_segment(open(f, "rb").read())  # verify_crc=True
        name = os.path.basename(f)
        txids = [o["txid"] for o in ops]
        assert txids == list(range(txids[0], txids[-1] + 1)), name
        if name.startswith("edits_inprogress_"):
            assert txids[0] == int(name.rsplit("_", 1)[1])
        else:
            lo, hi = (int(x) for x in name.split("_", 1)[1].split("-"))
            assert (txids[0], txids[-1]) == (lo, hi), name


@needs_fixtures
def test_write_lifecycle_segment_semantics():
    """The 9-op segment must decode to the documented write lifecycle:
    delete partition dir → add ._COPYING_ file → allocate block id +
    bump genstamp → add block → close (1 block, 1,036,349 bytes,
    genstamp 1663) → rename to the final parquet name."""
    f = [s for s in _segments() if s.endswith("8329")][0]
    evs = ops_to_change_events(decode_segment(open(f, "rb").read()))
    assert [e["op"] for e in evs] == [
        "IGNORE", "DELETE", "ADD_FILE", "IGNORE", "IGNORE",
        "ADD_BLOCK", "CLOSE", "RENAME", "IGNORE",
    ]
    add = evs[2]
    assert add["path"].endswith("links_2.parquet._COPYING_")
    assert add["overwrite"] is True and add["inode_id"] == 17111
    close = evs[6]
    assert close["length"] == 1036349
    assert close["blocks"][0]["block_id"] == 1073742463
    assert close["blocks"][0]["generation_stamp"] == 1663
    ren = evs[7]
    assert ren["path"].endswith("._COPYING_")
    assert ren["dest_path"].endswith("links_2.parquet")


@needs_fixtures
def test_corruption_fails_loudly():
    f = _segments()[0]
    data = bytearray(open(f, "rb").read())
    data[-2] ^= 0xFF  # flip a checksum byte
    with pytest.raises(ValueError, match="CRC"):
        decode_segment(bytes(data))
    with pytest.raises(ValueError, match="layout"):
        decode_segment(b"\x00\x00\x00\x05" + bytes(8))


@needs_fixtures
def test_spark_scan_feeds_reconciler(spark):
    """End-to-end S3: distributed binaryFile scan + mapInPandas decode
    over the real binary segments, fed into the SAME reconciler the
    synthetic source uses — the ._COPYING_ file must come out
    Finalized-then-renamed: final state carries the renamed path."""
    from pyspark.sql import functions as F

    from hcdc_spark.cdc.reconcile import reconcile_batch
    from hcdc_spark.session import scoped_shuffle_partitions

    ev = read_editlog_binary(
        spark, os.path.join(FIXTURES, "delete/current/edits_*")
    )
    pure = []
    for f in sorted(glob.glob(os.path.join(FIXTURES,
                                           "delete/current/edits_*"))):
        pure.extend(ops_to_change_events(decode_segment(open(f, "rb").read())))
    got = sorted(r["tx_id"] for r in ev.select("tx_id").collect())
    assert got == sorted(e["tx_id"] for e in pure)

    with scoped_shuffle_partitions(spark):
        state = reconcile_batch(ev, expand_dirs=False).collect()
    by_path = {r["path"]: r for r in state if r["path"]}
    final = [p for p in by_path if p.endswith("links_2.parquet")]
    assert final, f"renamed file missing from state: {sorted(by_path)}"
    row = by_path[final[0]]
    assert row["data_size"] == 1036349 and row["num_blocks"] == 1


def _frame_record(op, txid, payload, layout=-63):
    import struct
    import zlib

    body = struct.pack(">q", txid) + payload
    rec = bytes([op]) + struct.pack(">i", len(body) + 4) + body
    crc = zlib.crc32(rec) & 0xFFFFFFFF
    return (
        struct.pack(">i", layout) + struct.pack(">i", 0)
        + rec + struct.pack(">I", crc) + bytes([0xFF])
    )


def test_add_with_large_xattr_blob_uses_protobuf_varint():
    """Hadoop writes the OP_ADD xattr blob via protobuf
    writeDelimitedTo — a LEB128 varint length, NOT a WritableUtils
    vint. The encodings agree only below 128 bytes, so a 200-byte blob
    distinguishes the decoders: the vint reader sees 0xC8 as a negative
    first byte and rewinds the cursor into garbage."""
    import struct

    def ustr(s):
        b = s.encode()
        return struct.pack(">H", len(b)) + b

    def text(s):
        b = s.encode()
        return bytes([len(b)]) + b  # vint length < 128

    blob = bytes(200)
    payload = (
        struct.pack(">q", 4242)                  # inode id
        + ustr("/x/file") + struct.pack(">H", 3) # path, replication
        + struct.pack(">q", 1700000000000) * 2   # mtime, atime
        + struct.pack(">q", 134217728)           # block size
        + struct.pack(">i", 0)                   # no blocks
        + text("u") + text("g") + struct.pack(">H", 0o644)
        + struct.pack(">i", 0)                   # no ACLs
        + b"\xc8\x01" + blob                     # varint(200) + xattrs
        + ustr("client") + ustr("machine")
        + bytes([1, 0])                          # overwrite, policy
        + struct.pack(">H", 0) + struct.pack(">i", -2)
    )
    ops = decode_segment(_frame_record(0x00, 4242, payload))
    assert ops[0]["op_name"] == "OP_ADD"
    assert ops[0]["inode_id"] == 4242 and ops[0]["overwrite"] is True


def test_negative_field_length_raises():
    from hcdc_spark.sources.editlog import _Reader

    with pytest.raises(ValueError, match="negative"):
        _Reader(b"abc").take(-5)


def test_only_validated_layout_accepted():
    """Field decoders are byte-exact for layouts -63/-64 only; -65
    segments (expanded string table era) must be refused up front, not
    mis-decoded — and -62 (pre-quota-by-storage-type) likewise."""
    import struct

    for layout in (-65, -62):
        with pytest.raises(ValueError, match="layout"):
            decode_segment(struct.pack(">i", layout) + bytes(8))


def test_layout64_roundtrip_surfaces_ec_policy():
    """decode(encode(x)) on a -64 segment recovers every op and the
    OP_ADD erasure-coding policy byte; the same records encoded at -63
    decode without the field (proving the layout gate, not a fixed
    offset, controls the read)."""
    from hcdc_spark.operators.cdc_queries import _c18_records
    from hcdc_spark.sources.editlog import encode_segment

    recs = _c18_records()
    dec64 = decode_segment(encode_segment(recs, layout=-64))
    assert [d["txid"] for d in dec64] == [r["txid"] for r in recs]
    adds = {d["txid"]: d for d in dec64 if d["op_name"] == "OP_ADD"}
    assert adds[2]["erasure_coding_policy_id"] == 1  # RS-6-3
    assert adds[7]["erasure_coding_policy_id"] == 2  # RS-3-2
    assert adds[2]["path"] == "/ec/f1.parquet"
    assert [b["size"] for b in dec64[4 - 1]["blocks"]] == [4096, 0]

    dec63 = decode_segment(encode_segment(recs, layout=-63))
    assert all(
        "erasure_coding_policy_id" not in d for d in dec63
    )
    # everything after the (absent) policy byte still decodes cleanly
    assert {d["txid"] for d in dec63} == {r["txid"] for r in recs}


def test_layout64_crc_tamper_fails_loudly():
    from hcdc_spark.operators.cdc_queries import _c18_records
    from hcdc_spark.sources.editlog import encode_segment

    seg = bytearray(encode_segment(_c18_records(), layout=-64))
    seg[40] ^= 0xFF  # flip one payload byte mid-record
    with pytest.raises(ValueError, match="CRC"):
        decode_segment(bytes(seg))


def test_modern_rename_with_options_roundtrip():
    """OP_RENAME (0x0f) is not in the fixtures; build a record in the
    documented wire layout (src, dst, timestamp, BytesWritable options,
    rpc ids) and assert the decoder maps OVERWRITE correctly."""
    import struct
    import zlib

    def ustr(s):
        b = s.encode()
        return struct.pack(">H", len(b)) + b

    payload = (
        ustr("/a/src") + ustr("/a/dst")
        + struct.pack(">q", 1700000000000)
        + struct.pack(">i", 1) + bytes([1])      # options = [OVERWRITE]
        + struct.pack(">H", 0)                   # empty rpc clientId
        + struct.pack(">i", -2)                  # default callId
    )
    body = struct.pack(">q", 777) + payload
    rec = bytes([0x0F]) + struct.pack(">i", len(body) + 4) + body
    crc = zlib.crc32(rec) & 0xFFFFFFFF
    seg = (
        struct.pack(">i", -63) + struct.pack(">i", 0)
        + rec + struct.pack(">I", crc) + bytes([0xFF])
    )
    ops = decode_segment(seg)
    assert ops[0]["op_name"] == "OP_RENAME" and ops[0]["txid"] == 777
    ev = ops_to_change_events(ops)[0]
    assert ev["op"] == "RENAME" and ev["rename_opts"] == "OVERWRITE"
    assert ev["path"] == "/a/src" and ev["dest_path"] == "/a/dst"


def _frame_records(*recs, layout=-63):
    """Frame MULTIPLE (op, txid, payload) records into one segment."""
    import struct
    import zlib

    out = struct.pack(">i", layout) + struct.pack(">i", 0)
    for op, txid, payload in recs:
        body = struct.pack(">q", txid) + payload
        rec = bytes([op]) + struct.pack(">i", len(body) + 4) + body
        crc = zlib.crc32(rec) & 0xFFFFFFFF
        out += rec + struct.pack(">I", crc)
    return out + bytes([0xFF])


def _ustr(s):
    import struct

    b = s.encode()
    return struct.pack(">H", len(b)) + b


def _rpc():
    import struct

    return struct.pack(">H", 0) + struct.pack(">i", -2)


def test_append_and_truncate_decode():
    """OP_APPEND/OP_TRUNCATE were declared but undecoded — they fell to
    the raw->IGNORE path and truncates never shrank state (review r4)."""
    import struct

    from hcdc_spark.sources.editlog import (
        OP_APPEND,
        OP_TRUNCATE,
        decode_segment,
        ops_to_change_events,
    )

    append_payload = (
        _ustr("/x/f") + _ustr("client-1") + _ustr("host-1")
        + bytes([1])                       # newBlock = true
        + _rpc()
    )
    truncate_payload = (
        _ustr("/x/f") + _ustr("client-1") + _ustr("host-1")
        + struct.pack(">q", 130)           # newLength
        + struct.pack(">q", 1700000000000)  # timestamp
        + bytes([0])                       # compact block array: vint 0
    )
    seg = _frame_records(
        (OP_APPEND, 70, append_payload),
        (OP_TRUNCATE, 71, truncate_payload),
    )
    recs = decode_segment(seg)
    assert [r["op_name"] for r in recs] == ["OP_APPEND", "OP_TRUNCATE"]
    assert recs[0]["new_block"] is True
    assert recs[1]["new_length"] == 130
    evs = ops_to_change_events(recs)
    assert evs[0]["op"] == "APPEND" and evs[0]["new_block"] is True
    assert evs[1]["op"] == "TRUNCATE"
    assert evs[1]["truncate_new_length"] == 130
    assert evs[1]["ts"] == 1700000000000


def test_resolve_inodes_follows_renames(spark):
    """An op addressed by a file's post-rename path must resolve the
    inode through the rename (review r4: the window was path-only, so
    the delete of '/b' after rename '/a'->'/b' vanished)."""
    from hcdc_spark.cdc.model import CHANGE_EVENT_SCHEMA
    from hcdc_spark.sources.editlog import resolve_inodes

    def ev(tx, op, path, inode=None, dest=None):
        base = {f.name: None for f in CHANGE_EVENT_SCHEMA.fields}
        base.update(tx_id=tx, op=op, path=path, inode_id=inode,
                    dest_path=dest, namespace="hdfs", mode="New")
        return base

    rows = [
        ev(1, "ADD_FILE", "/a", inode=5),
        ev(2, "CLOSE", "/a", inode=0),          # binary CLOSE writes 0
        ev(3, "RENAME", "/a", dest="/b"),
        ev(4, "DELETE", "/b"),
        # chained: /b -> /c, then op on /c (needs a second round)
        ev(5, "RENAME", "/b", dest="/c"),
        ev(6, "APPEND", "/c"),
    ]
    df = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)
    got = {r["tx_id"]: r["inode_id"]
           for r in resolve_inodes(df).collect()}
    assert got == {1: 5, 2: 5, 3: 5, 4: 5, 5: 5, 6: 5}


@needs_fixtures
def test_encode_decode_byte_identity_on_fixtures():
    """The encoder must reproduce the reference's REAL -63 segments
    byte-for-byte from their decoded records (permissions, rpc ids,
    xattr blobs, opaque ops all preserved) — this pins the write path
    to genuine Hadoop bytes, so a synthesized -64 fixture differs from
    cluster truth by at most the gated policy byte."""
    import struct

    from hcdc_spark.sources.editlog import encode_segment

    segs = _segments()
    checked = 0
    for f in segs:
        with open(f, "rb") as fh:
            data = fh.read()
        recs = decode_segment(data)
        if not recs:
            continue
        layout = struct.unpack(">i", data[:4])[0]
        body = encode_segment(recs, layout=layout)[:-1]  # sans 0xFF
        assert data[: len(body)] == body, f
        # original continues only as preallocation padding (or ends)
        assert len(data) == len(body) or data[len(body)] == 0xFF, f
        checked += 1
    assert checked >= 5  # the fixture tree carries 9 non-empty segments


# ------------------------------------------------------ codec properties


def test_modified_utf8_supplementary_is_cesu8():
    """Hadoop UTF8.writeChars encodes U+1F4BE as the CESU-8 surrogate
    pair ED A0 BD ED B2 BE (two 3-byte sequences), NOT the 4-byte UTF-8
    F0 9F 92 BE — pinned so a real NameNode segment with a non-BMP path
    decodes to cluster truth."""
    from hcdc_spark.sources.editlog import _mutf8_decode, _mutf8_encode

    s = "/data/\U0001f4be.parquet"
    enc = _mutf8_encode(s)
    assert b"\xed\xa0\xbd\xed\xb2\xbe" in enc
    assert b"\xf0" not in enc
    assert _mutf8_decode(enc) == s
    # BMP strings are byte-identical to standard UTF-8
    bmp = "/data/café/中文.parquet"
    assert _mutf8_encode(bmp) == bmp.encode("utf-8")
    assert _mutf8_decode(bmp.encode("utf-8")) == bmp
    # a 4-byte UTF-8 lead is corrupt framing for this writable → loud
    import pytest

    with pytest.raises(ValueError):
        _mutf8_decode("\U0001f4be".encode("utf-8"))
    # a lone surrogate must not decode silently (deliberate strictness:
    # UTF8.writeChars CAN emit one for an unpaired-surrogate Java path,
    # but the value could never cross Arrow/JVM as valid UTF-8)
    with pytest.raises(UnicodeDecodeError):
        _mutf8_decode(b"\xed\xa0\xbd")
    # corrupt framing whose continuation byte is ASCII must raise, not
    # mis-decode: 0xC3 lead followed by 'A' (0x41 & 0x3F would silently
    # yield U+00C1 without the top-bits check)
    with pytest.raises(ValueError):
        _mutf8_decode(b"\xc3\x41")
    with pytest.raises(ValueError):
        _mutf8_decode(b"\xe4\xb8\x41")


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:

    @given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
    @settings(max_examples=300, deadline=None)
    def test_vlong_roundtrip_full_int64(v):
        """WritableUtils writeVLong/readVLong must invert across the
        whole signed-64 range (single-byte fast path, multi-byte
        positive, multi-byte negative)."""
        from hcdc_spark.sources.editlog import _enc_vlong, _Reader

        r = _Reader(_enc_vlong(v))
        assert r.vlong() == v and r.remaining() == 0

    @given(st.integers(min_value=0, max_value=2**63 - 1))
    @settings(max_examples=200, deadline=None)
    def test_pb_varint_roundtrip(v):
        from hcdc_spark.sources.editlog import _enc_pb_varint, _Reader

        r = _Reader(_enc_pb_varint(v))
        assert r.pb_varint() == v and r.remaining() == 0

    @given(st.text(alphabet=st.characters(codec="utf-8"), max_size=60))
    @settings(max_examples=200, deadline=None)
    def test_mutf8_roundtrip_property(s):
        """encode→decode identity over arbitrary code points (incl.
        supplementary planes and NUL), the CESU-8 invariant (no 4-byte
        lead ever emitted), and BMP byte-identity with standard
        UTF-8."""
        from hcdc_spark.sources.editlog import _mutf8_decode, _mutf8_encode

        enc = _mutf8_encode(s)
        assert _mutf8_decode(enc) == s
        assert all(b < 0xF0 for b in enc)
        if all(ord(c) < 0x10000 for c in s):
            assert enc == s.encode("utf-8")

    _path = st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_characters="\x00"
        ),
        min_size=1, max_size=40,
    ).map(lambda s: "/" + s)

    @given(
        path=_path,
        inode=st.integers(min_value=1, max_value=2**62),
        sizes=st.lists(
            st.integers(min_value=0, max_value=2**40), min_size=1,
            max_size=4,
        ),
        layout=st.sampled_from([-63, -64]),
        ec=st.integers(min_value=0, max_value=255),
    )
    @settings(max_examples=60, deadline=None)
    def test_add_close_record_roundtrip(path, inode, sizes, layout, ec):
        """encode→decode identity for OP_ADD/OP_CLOSE across random
        paths (full UTF-8), block lists, and both layouts — the policy
        byte must survive at -64 and be absent at -63."""
        from hcdc_spark.sources.editlog import (
            OP_ADD, OP_CLOSE, decode_segment, encode_segment,
        )

        blocks = [
            {"block_id": 9000 + i, "size": s, "generation_stamp": i}
            for i, s in enumerate(sizes)
        ]
        recs = [
            {"txid": 1, "opcode": OP_ADD, "inode_id": inode, "path": path,
             "mtime": 1, "atime": 2, "block_size": 3, "blocks": blocks,
             "erasure_coding_policy_id": ec},
            {"txid": 2, "opcode": OP_CLOSE, "inode_id": inode,
             "path": path, "mtime": 4, "atime": 5, "block_size": 3,
             "blocks": blocks},
        ]
        dec = decode_segment(encode_segment(recs, layout=layout))
        add, close = dec
        assert add["path"] == close["path"] == path
        assert add["inode_id"] == inode
        assert [b["size"] for b in add["blocks"]] == sizes
        assert [b["size"] for b in close["blocks"]] == sizes
        if layout == -64:
            assert add["erasure_coding_policy_id"] == ec
        else:
            assert "erasure_coding_policy_id" not in add
        assert "erasure_coding_policy_id" not in close
