"""Hadoop binary edit-log segment decoder (SURVEY §2A S3).

The reference consumes NameNode edit-log segments through Hadoop's
in-process ``OfflineEditsViewer`` classes (namenode-agent/.../namenode/
EditLogProcessor.java:87-160 walks ``edits_<start>-<end>`` files via
DFSEditsFileFinder). This module implements the same capability from
scratch against the PUBLIC on-disk format (Apache Hadoop
``FSEditLogOp`` serialization, layout version -63):

    int32  layoutVersion                 (-63)
    int32  0                             (version marker)
    repeat:
      byte   opcode                      (0xFF = preallocation padding:
                                          stop)
      int32  length                      (txid..checksum inclusive)
      int64  txid
      bytes  payload                     (per-op fields, below)
      uint32 checksum                    (CRC32 over opcode..payload)

Per-op field encodings (validated byte-exact against the reference's
own binary test fixtures — every record's CRC32 re-computes, every
segment's decoded txid range equals its filename range):

    string        = uint16 length + UTF-8 bytes
    long/int      = big-endian fixed width
    vint/vlong    = Hadoop WritableUtils variable-length zig-zag-free
                    encoding (first byte in [-112,127] is the value)
    block[]       = int32 count + per block (int64 id, int64 numBytes,
                    int64 genStamp)
    compactBlock[]= vint count + per block (int64 id, vlong sizeDelta,
                    vlong genStampDelta) — deltas vs previous block
    permissions   = string user + string group + uint16 mode
    rpcIds        = uint16 clientId length + bytes + int32 callId

Decoded ops map onto the engine's wide CHANGE_EVENT_SCHEMA (cdc/model)
so the binary path feeds the identical reconciler the synthetic source
does; the Spark entry point is a ``binaryFile`` scan + ``mapInPandas``
decode — each segment file is decoded on the executor that read it, so
a directory of thousands of segments decodes embarrassingly parallel.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

# Hadoop FSEditLogOpCodes (public constants).
OP_ADD = 0x00
OP_RENAME_OLD = 0x01
OP_DELETE = 0x02
OP_MKDIR = 0x03
OP_CLOSE = 0x09
OP_TIMES = 0x0D
OP_RENAME = 0x0F
OP_END_LOG_SEGMENT = 0x17
OP_START_LOG_SEGMENT = 0x18
OP_UPDATE_BLOCKS = 0x19
OP_SET_GENSTAMP_V2 = 0x1F
OP_ALLOCATE_BLOCK_ID = 0x20
OP_ADD_BLOCK = 0x21
OP_TRUNCATE = 0x2E
OP_APPEND = 0x2F
OP_INVALID = 0xFF

#: NameNodeLayoutVersion feature gates relevant to the field decoders.
#: -63 = QUOTA_BY_STORAGE_TYPE (Hadoop 2.x tail, the reference's
#: fixtures); -64 = ERASURE_CODING (Hadoop 3.0+): OP_ADD carries one
#: extra policy-id byte. Layouts beyond -64 change unrelated framing
#: and stay refused until a fixture exists to validate against.
LAYOUT_ERASURE_CODING = -64
SUPPORTED_LAYOUTS = (-63, -64)

OPCODE_NAMES = {
    OP_ADD: "OP_ADD",
    OP_RENAME_OLD: "OP_RENAME_OLD",
    OP_DELETE: "OP_DELETE",
    OP_MKDIR: "OP_MKDIR",
    OP_CLOSE: "OP_CLOSE",
    OP_TIMES: "OP_TIMES",
    OP_RENAME: "OP_RENAME",
    OP_END_LOG_SEGMENT: "OP_END_LOG_SEGMENT",
    OP_START_LOG_SEGMENT: "OP_START_LOG_SEGMENT",
    OP_UPDATE_BLOCKS: "OP_UPDATE_BLOCKS",
    OP_SET_GENSTAMP_V2: "OP_SET_GENSTAMP_V2",
    OP_ALLOCATE_BLOCK_ID: "OP_ALLOCATE_BLOCK_ID",
    OP_ADD_BLOCK: "OP_ADD_BLOCK",
    OP_TRUNCATE: "OP_TRUNCATE",
    OP_APPEND: "OP_APPEND",
}


class _Reader:
    """Cursor over one record payload."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def remaining(self) -> int:
        return len(self.buf) - self.pos

    def take(self, n: int) -> bytes:
        if n < 0:
            # A negative length always means a decoder bug or corrupt
            # framing; silently rewinding the cursor would produce
            # garbage field decodes downstream.
            raise ValueError(f"editlog negative field length {n}")
        if self.pos + n > len(self.buf):
            raise ValueError("editlog payload truncated")
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

    def u8(self) -> int:
        return self.take(1)[0]

    def u16(self) -> int:
        return struct.unpack(">H", self.take(2))[0]

    def i32(self) -> int:
        return struct.unpack(">i", self.take(4))[0]

    def i64(self) -> int:
        return struct.unpack(">q", self.take(8))[0]

    def string(self) -> str:
        """DeprecatedUTF8 string: uint16 length prefix (paths, client
        names). The payload is Hadoop *modified* UTF-8 (UTF8.readChars:
        one sequence per UTF-16 code unit, so supplementary characters
        arrive as CESU-8 surrogate pairs), not standard UTF-8."""
        return _mutf8_decode(self.take(self.u16()))

    def text(self) -> str:
        """``org.apache.hadoop.io.Text`` string: vint length prefix
        (PermissionStatus user/group)."""
        return self.take(self.vint()).decode("utf-8")

    def boolean(self) -> bool:
        return self.u8() != 0

    def vlong(self) -> int:
        """Hadoop WritableUtils.readVLong."""
        first = struct.unpack(">b", self.take(1))[0]
        if -112 <= first <= 127:
            return first
        neg = first < -120
        n = -(first + 120) if neg else -(first + 112)
        val = 0
        for b in self.take(n):
            val = (val << 8) | b
        return ~val if neg else val

    def vint(self) -> int:
        return self.vlong()

    def pb_varint(self) -> int:
        """Protobuf LEB128 varint (unsigned).

        Hadoop writes the OP_ADD xattr blob via
        ``XAttrEditLogProto.writeDelimitedTo``, whose length prefix is a
        protobuf varint — NOT a Hadoop WritableUtils vint. The two only
        coincide for values <= 127, so blobs >= 128 bytes decode
        garbage under the vint reader.
        """
        shift = 0
        val = 0
        while True:
            b = self.u8()
            val |= (b & 0x7F) << shift
            if not b & 0x80:
                return val
            shift += 7
            if shift > 63:
                raise ValueError("editlog varint longer than 64 bits")

    def block_array(self) -> list[dict]:
        """int32 count + fixed (id, numBytes, genStamp) triples."""
        return [
            {"block_id": self.i64(), "size": self.i64(),
             "generation_stamp": self.i64()}
            for _ in range(self.i32())
        ]

    def compact_block_array(self) -> list[dict]:
        """vint count + (int64 id, vlong sizeDelta, vlong gsDelta)."""
        out: list[dict] = []
        prev_size = prev_gs = 0
        for _ in range(self.vint()):
            bid = self.i64()
            prev_size += self.vlong()
            prev_gs += self.vlong()
            out.append({"block_id": bid, "size": prev_size,
                        "generation_stamp": prev_gs})
        return out

    def permissions(self) -> dict:
        return {"user": self.text(), "group": self.text(),
                "mode": self.u16()}

    def rpc_ids(self) -> dict:
        cid = self.take(self.u16())
        return {"client_id": cid.hex(), "call_id": self.i32()}


def _decode_add_close(r: _Reader, is_add: bool, layout: int) -> dict:
    out = {
        "inode_id": r.i64(),
        "path": r.string(),
        "replication": r.u16(),
        "mtime": r.i64(),
        "atime": r.i64(),
        "block_size": r.i64(),
        "blocks": r.block_array(),
        "permissions": r.permissions(),
    }
    if is_add:
        acl_count = r.i32()  # ACL entries: fixtures carry none
        if acl_count:
            raise ValueError(f"unsupported: {acl_count} ACL entries")
        xattr_len = r.pb_varint()  # protobuf writeDelimitedTo prefix
        # keep the opaque blob so encode(decode(x)) is byte-exact
        out["xattr_raw"] = r.take(xattr_len).hex()
        out["client_name"] = r.string()
        out["client_machine"] = r.string()
        out["overwrite"] = r.boolean()
        out["storage_policy_id"] = r.u8()
        if layout <= LAYOUT_ERASURE_CODING:
            # NameNodeLayoutVersion.Feature.ERASURE_CODING (-64,
            # Hadoop 3.0+): AddCloseOp gains a one-byte erasure-coding
            # policy id right after the storage policy id on OP_ADD
            # (FSEditLogOp.AddCloseOp.readFields). Skipping it would
            # misalign every following field, caught by the trailing
            # undecoded-bytes check — but decode it properly instead.
            out["erasure_coding_policy_id"] = r.u8()
        out["rpc"] = r.rpc_ids()
    return out


def _decode_op(op: int, r: _Reader, layout: int) -> dict:
    if op in (OP_START_LOG_SEGMENT, OP_END_LOG_SEGMENT):
        return {}
    if op == OP_ADD:
        return _decode_add_close(r, is_add=True, layout=layout)
    if op == OP_CLOSE:
        return _decode_add_close(r, is_add=False, layout=layout)
    if op == OP_DELETE:
        return {"path": r.string(), "timestamp": r.i64(),
                "rpc": r.rpc_ids()}
    if op == OP_RENAME_OLD:
        return {"src": r.string(), "dst": r.string(),
                "timestamp": r.i64(), "rpc": r.rpc_ids()}
    if op == OP_RENAME:
        # modern rename adds a BytesWritable of Rename options
        # (int32 length + one byte per option) before the rpc ids
        out = {"src": r.string(), "dst": r.string(),
               "timestamp": r.i64()}
        out["options"] = list(r.take(r.i32()))
        out["rpc"] = r.rpc_ids()
        return out
    if op == OP_ADD_BLOCK:
        return {"path": r.string(),
                "blocks": r.compact_block_array(),
                "rpc": r.rpc_ids()}
    if op == OP_UPDATE_BLOCKS:
        return {"path": r.string(),
                "blocks": r.compact_block_array(),
                "rpc": r.rpc_ids()}
    if op == OP_SET_GENSTAMP_V2:
        return {"genstamp": r.i64()}
    if op == OP_ALLOCATE_BLOCK_ID:
        return {"block_id": r.i64()}
    if op == OP_APPEND:
        # AppendOp.readFields: path, clientName, clientMachine,
        # newBlock boolean, rpc ids
        return {"path": r.string(), "client_name": r.string(),
                "client_machine": r.string(), "new_block": r.boolean(),
                "rpc": r.rpc_ids()}
    if op == OP_TRUNCATE:
        # TruncateOp.readFields: src, clientName, clientMachine,
        # newLength (fixed i64), timestamp (fixed i64), compact block
        # array holding at most the truncate block — no rpc ids
        out = {"path": r.string(), "client_name": r.string(),
               "client_machine": r.string(), "new_length": r.i64(),
               "timestamp": r.i64()}
        blocks = r.compact_block_array()
        if len(blocks) > 1:
            raise ValueError("OP_TRUNCATE with more than one block")
        if blocks:
            out["truncate_block"] = blocks[0]
        return out
    # Unknown/unhandled op: keep the raw payload, never crash the scan —
    # the reconciler treats it as IGNORE and the bytes stay auditable.
    return {"raw": r.take(r.remaining()).hex()}


def decode_segment(data: bytes, verify_crc: bool = True) -> list[dict]:
    """Decode one ``edits_*`` segment file → list of op records.

    Each record: {txid, opcode, op_name, fields...}. Stops at the 0xFF
    preallocation padding of in-progress segments. Raises ValueError on
    framing/CRC corruption (a torn segment must fail loudly, not emit
    phantom transactions).
    """
    if len(data) < 8:
        raise ValueError("editlog segment shorter than header")
    layout = struct.unpack(">i", data[:4])[0]
    # The per-op field decoders are byte-exact for the layouts listed in
    # SUPPORTED_LAYOUTS only (older layouts lack inodeId /
    # storagePolicyId on OP_ADD; -65 and newer change other framing).
    # Refuse anything else loudly instead of mis-mapping fields or
    # failing late with a confusing truncation error mid-record.
    if layout not in SUPPORTED_LAYOUTS:
        raise ValueError(
            f"unsupported editlog layout version {layout} "
            f"(implemented: {sorted(SUPPORTED_LAYOUTS)})"
        )
    pos = 8
    out: list[dict] = []
    while pos < len(data):
        op = data[pos]
        if op == OP_INVALID:
            break
        if pos + 5 > len(data):
            raise ValueError("editlog record header truncated")
        ln = struct.unpack(">i", data[pos + 1 : pos + 5])[0]
        if ln < 12 or pos + 5 + ln > len(data):
            raise ValueError(f"editlog record length {ln} out of bounds")
        txid = struct.unpack(">q", data[pos + 5 : pos + 13])[0]
        body = data[pos + 13 : pos + 5 + ln - 4]
        crc_stored = struct.unpack(
            ">I", data[pos + 5 + ln - 4 : pos + 5 + ln]
        )[0]
        if verify_crc:
            crc = zlib.crc32(data[pos : pos + 5 + ln - 4]) & 0xFFFFFFFF
            if crc != crc_stored:
                raise ValueError(
                    f"editlog CRC mismatch at txid {txid}: "
                    f"{crc:#x} != {crc_stored:#x}"
                )
        r = _Reader(body)
        rec = {"txid": txid, "opcode": op,
               "op_name": OPCODE_NAMES.get(op, f"OP_{op:#04x}")}
        rec.update(_decode_op(op, r, layout))
        if r.remaining() and "raw" not in rec:
            raise ValueError(
                f"editlog op {rec['op_name']} txid {txid}: "
                f"{r.remaining()} undecoded payload bytes"
            )
        out.append(rec)
        pos += 5 + ln
    return out


# ----------------------------------------------------- segment encoder


def _enc_vlong(v: int) -> bytes:
    """Hadoop WritableUtils.writeVLong — exact inverse of _Reader.vlong."""
    if -112 <= v <= 127:
        return struct.pack(">b", v)
    base = -120 if v < 0 else -112
    if v < 0:
        v = ~v
    tmp = []
    while v:
        tmp.append(v & 0xFF)
        v >>= 8
    return struct.pack(">b", base - len(tmp)) + bytes(reversed(tmp))


def _mutf8_encode(s: str) -> bytes:
    """Hadoop modified UTF-8 (org.apache.hadoop.io.UTF8.writeChars):
    each UTF-16 code unit is encoded independently — 1 byte ≤ U+007F
    (including NUL, unlike java.io.DataOutput.writeUTF), 2 bytes
    ≤ U+07FF, 3 bytes otherwise — so a supplementary character becomes
    a CESU-8 surrogate pair (6 bytes), never a 4-byte UTF-8 sequence.
    BMP-only strings are byte-identical to standard UTF-8."""
    if all(ord(c) < 0x10000 for c in s):
        return s.encode("utf-8")
    out = bytearray()
    for c in s:
        cp = ord(c)
        if cp < 0x10000:
            out += c.encode("utf-8")
        else:
            cp -= 0x10000
            for su in (0xD800 + (cp >> 10), 0xDC00 + (cp & 0x3FF)):
                out += bytes(
                    (0xE0 | (su >> 12), 0x80 | ((su >> 6) & 0x3F),
                     0x80 | (su & 0x3F))
                )
    return bytes(out)


def _mutf8_decode(b: bytes) -> str:
    """Inverse of :func:`_mutf8_encode` (UTF8.readChars): 1/2/3-byte
    sequences only; CESU-8 surrogate pairs recombine into supplementary
    characters. A 4-byte lead raises (UTF8.writeChars never emits one).
    A LONE surrogate also raises — that one is a deliberate strictness
    choice, not a "Hadoop never writes it" claim: writeChars encodes
    each UTF-16 code unit independently, so a Java string holding an
    unpaired surrogate (legal in Java/HDFS paths) IS written as a lone
    3-byte sequence. We reject it at this boundary because the decoded
    value must cross into Arrow batches and JVM strings as valid UTF-8,
    where a lone surrogate cannot be represented — failing loudly here
    beats corrupting or dropping the path downstream. Each continuation
    byte's top bits are validated (corrupt framing whose continuation
    byte is e.g. ASCII must not silently mis-decode)."""
    if b.isascii():
        return b.decode("ascii")

    def cont(j: int) -> int:
        y = b[j]
        if y & 0xC0 != 0x80:
            raise ValueError(
                f"invalid modified-UTF-8 continuation byte 0x{y:02x} "
                f"at offset {j}"
            )
        return y & 0x3F

    units: list[int] = []
    i, n = 0, len(b)
    while i < n:
        x = b[i]
        if x & 0x80 == 0:
            units.append(x)
            i += 1
        elif x & 0xE0 == 0xC0:
            if i + 2 > n:
                raise ValueError("modified-UTF-8 string truncated")
            units.append(((x & 0x1F) << 6) | cont(i + 1))
            i += 2
        elif x & 0xF0 == 0xE0:
            if i + 3 > n:
                raise ValueError("modified-UTF-8 string truncated")
            units.append(
                ((x & 0x0F) << 12) | (cont(i + 1) << 6) | cont(i + 2)
            )
            i += 3
        else:
            raise ValueError(
                f"invalid modified-UTF-8 lead byte 0x{x:02x} (4-byte "
                "UTF-8 sequences never occur in Hadoop UTF8 payloads)"
            )
    # recombine UTF-16 surrogate pairs; strict utf-16 decode makes a
    # lone surrogate a loud error
    return (
        "".join(chr(u) for u in units)
        .encode("utf-16-be", "surrogatepass")
        .decode("utf-16-be")
    )


def _enc_string(s: str) -> bytes:
    b = _mutf8_encode(s)
    return struct.pack(">H", len(b)) + b


def _enc_text(s: str) -> bytes:
    b = s.encode("utf-8")
    return _enc_vlong(len(b)) + b


def _enc_blocks(blocks: list[dict]) -> bytes:
    out = struct.pack(">i", len(blocks))
    for b in blocks:
        out += struct.pack(
            ">qqq", b["block_id"], b.get("size") or 0,
            b.get("generation_stamp") or 0,
        )
    return out


def _enc_compact_blocks(blocks: list[dict]) -> bytes:
    out = _enc_vlong(len(blocks))
    prev_size = prev_gs = 0
    for b in blocks:
        size = b.get("size") or 0
        gs = b.get("generation_stamp") or 0
        out += struct.pack(">q", b["block_id"])
        out += _enc_vlong(size - prev_size) + _enc_vlong(gs - prev_gs)
        prev_size, prev_gs = size, gs
    return out


def _enc_perm(perm: dict | None) -> bytes:
    perm = perm or {"user": "hdfs", "group": "supergroup", "mode": 0o644}
    return (_enc_text(perm["user"]) + _enc_text(perm["group"])
            + struct.pack(">H", perm["mode"]))


def _enc_pb_varint(v: int) -> bytes:
    if v < 0:  # arithmetic shift would loop forever
        raise ValueError(f"pb varint cannot encode negative value {v}")
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_rpc(rpc: dict | None) -> bytes:
    if rpc is None:
        rpc = {"client_id": "00" * 16, "call_id": 1}
    cid = bytes.fromhex(rpc["client_id"])
    return (struct.pack(">H", len(cid)) + cid
            + struct.pack(">i", rpc["call_id"]))


def _enc_payload(rec: dict, layout: int) -> bytes:
    op = rec["opcode"]
    if "raw" in rec:  # ops decoded opaquely re-encode verbatim
        return bytes.fromhex(rec["raw"])
    if op in (OP_START_LOG_SEGMENT, OP_END_LOG_SEGMENT):
        return b""
    if op in (OP_ADD, OP_CLOSE):
        out = struct.pack(">q", rec.get("inode_id") or 0)
        out += _enc_string(rec["path"])
        out += struct.pack(">H", rec.get("replication", 3))
        out += struct.pack(">qq", rec.get("mtime") or 0,
                           rec.get("atime") or 0)
        out += struct.pack(">q", rec.get("block_size") or 0)
        out += _enc_blocks(rec.get("blocks") or [])
        out += _enc_perm(rec.get("permissions"))
        if op == OP_ADD:
            out += struct.pack(">i", 0)  # no ACL entries
            xattr = bytes.fromhex(rec.get("xattr_raw", ""))
            out += _enc_pb_varint(len(xattr)) + xattr
            out += _enc_string(rec.get("client_name", "cli"))
            out += _enc_string(rec.get("client_machine", "127.0.0.1"))
            out += b"\x01" if rec.get("overwrite") else b"\x00"
            out += bytes([rec.get("storage_policy_id", 0)])
            if layout <= LAYOUT_ERASURE_CODING:
                out += bytes([rec.get("erasure_coding_policy_id", 0)])
            out += _enc_rpc(rec.get("rpc"))
        return out
    if op == OP_DELETE:
        return (_enc_string(rec["path"])
                + struct.pack(">q", rec.get("timestamp") or 0)
                + _enc_rpc(rec.get("rpc")))
    if op == OP_RENAME_OLD:
        return (_enc_string(rec["src"]) + _enc_string(rec["dst"])
                + struct.pack(">q", rec.get("timestamp") or 0)
                + _enc_rpc(rec.get("rpc")))
    if op == OP_RENAME:
        opts = bytes(rec.get("options") or [])
        return (_enc_string(rec["src"]) + _enc_string(rec["dst"])
                + struct.pack(">q", rec.get("timestamp") or 0)
                + struct.pack(">i", len(opts)) + opts
                + _enc_rpc(rec.get("rpc")))
    if op in (OP_ADD_BLOCK, OP_UPDATE_BLOCKS):
        return (_enc_string(rec["path"])
                + _enc_compact_blocks(rec.get("blocks") or [])
                + _enc_rpc(rec.get("rpc")))
    if op == OP_APPEND:
        return (_enc_string(rec["path"])
                + _enc_string(rec.get("client_name", "cli"))
                + _enc_string(rec.get("client_machine", "127.0.0.1"))
                + (b"\x01" if rec.get("new_block") else b"\x00")
                + _enc_rpc(rec.get("rpc")))
    if op == OP_TRUNCATE:
        blk = rec.get("truncate_block")
        return (_enc_string(rec["path"])
                + _enc_string(rec.get("client_name", "cli"))
                + _enc_string(rec.get("client_machine", "127.0.0.1"))
                + struct.pack(">q", rec["new_length"])
                + struct.pack(">q", rec.get("timestamp") or 0)
                + _enc_compact_blocks([blk] if blk else []))
    if op == OP_SET_GENSTAMP_V2:
        return struct.pack(">q", rec["genstamp"])
    if op == OP_ALLOCATE_BLOCK_ID:
        return struct.pack(">q", rec["block_id"])
    raise ValueError(f"encode_segment: unsupported opcode {op:#04x}")


def encode_segment(records: list[dict], layout: int = -64) -> bytes:
    """Serialize op records into an ``edits_*`` segment byte-for-byte in
    the public FSEditLogOp on-disk format (the write-side mirror of
    ``decode_segment``: same field order, CRC32 framing, 0xFF tail).

    The writer is validated against REAL NameNode bytes:
    ``encode_segment(decode_segment(seg), -63)`` reproduces every one
    of the reference's checked-in -63 segments byte-for-byte
    (tests/test_editlog.py::test_encode_decode_byte_identity_on_fixtures
    — opaque ops re-emit their raw payload, OP_ADD preserves the xattr
    blob/permissions/rpc ids verbatim). Primary use: synthesizing
    validation fixtures for layouts the checked-in binaries don't
    cover (-64 erasure coding — no real Hadoop 3 segment exists in
    this environment; since the -63 write path is byte-exact against
    real fixtures, the only unvalidated-against-a-cluster byte in a
    synthesized -64 segment is the gated policy-id itself).
    """
    if layout not in SUPPORTED_LAYOUTS:
        raise ValueError(f"encode_segment: unsupported layout {layout}")
    out = struct.pack(">ii", layout, 0)
    for rec in records:
        payload = _enc_payload(rec, layout)
        body = struct.pack(">q", rec["txid"]) + payload
        ln = len(body) + 4  # + trailing CRC word
        framed = bytes([rec["opcode"]]) + struct.pack(">i", ln) + body
        crc = zlib.crc32(framed) & 0xFFFFFFFF
        out += framed + struct.pack(">I", crc)
    return out + b"\xff"  # preallocation padding terminator


# ------------------------------------------------- change-event mapping

_EV_BLOCK_KEYS = (
    "block_id", "size", "block_size", "generation_stamp",
    "start_offset", "end_offset", "delta_size", "deleted",
)


def _ev_block(b: dict, file_block_size: int | None) -> dict:
    out = dict.fromkeys(_EV_BLOCK_KEYS)
    out.update(
        block_id=b["block_id"], size=b["size"],
        generation_stamp=b["generation_stamp"],
        block_size=file_block_size,
    )
    return out


def ops_to_change_events(
    ops: list[dict], namespace: str = "hdfs"
) -> list[dict]:
    """Decoded op records → CHANGE_EVENT_SCHEMA rows (cdc/model).

    The mapping mirrors the reference's EditLogProcessor dispatch:
    ADD→ADD_FILE, CLOSE→CLOSE, DELETE→DELETE, RENAME_OLD→RENAME,
    ADD_BLOCK/UPDATE_BLOCKS carry block chains, bookkeeping ops
    (segment markers, genstamp, block-id allocation) become IGNORE —
    the reconciler's no-op channel, same as the reference's ignore-tx
    emission (T24).
    """
    from hcdc_spark.cdc.model import empty_event

    out: list[dict] = []
    for rec in ops:
        ev = empty_event(tx_id=rec["txid"], namespace=namespace, op="IGNORE")
        code = rec["opcode"]
        if code == OP_ADD:
            ev.update(
                op="ADD_FILE", path=rec["path"], inode_id=rec["inode_id"],
                ts=rec["mtime"], modified_time=rec["mtime"],
                accessed_time=rec["atime"], block_size=rec["block_size"],
                overwrite=rec["overwrite"], length=0,
                blocks=[_ev_block(b, rec["block_size"])
                        for b in rec["blocks"]] or None,
            )
        elif code == OP_CLOSE:
            ev.update(
                op="CLOSE", path=rec["path"], inode_id=rec["inode_id"],
                ts=rec["mtime"], modified_time=rec["mtime"],
                accessed_time=rec["atime"], block_size=rec["block_size"],
                length=sum(b["size"] for b in rec["blocks"]),
                blocks=[_ev_block(b, rec["block_size"])
                        for b in rec["blocks"]] or None,
            )
        elif code == OP_DELETE:
            ev.update(op="DELETE", path=rec["path"],
                      ts=rec["timestamp"])
        elif code in (OP_RENAME_OLD, OP_RENAME):
            # option byte 1 = OVERWRITE (Hadoop Options.Rename)
            opts = rec.get("options") or []
            ev.update(op="RENAME", path=rec["src"],
                      dest_path=rec["dst"], ts=rec["timestamp"],
                      rename_opts="OVERWRITE" if 1 in opts else "NONE")
        elif code == OP_ADD_BLOCK:
            ev.update(op="ADD_BLOCK", path=rec["path"], new_block=True,
                      blocks=[_ev_block(b, None) for b in rec["blocks"]])
        elif code == OP_UPDATE_BLOCKS:
            ev.update(op="UPDATE_BLOCKS", path=rec["path"],
                      blocks=[_ev_block(b, None) for b in rec["blocks"]])
        elif code == OP_APPEND:
            ev.update(op="APPEND", path=rec["path"],
                      new_block=rec["new_block"])
        elif code == OP_TRUNCATE:
            ev.update(op="TRUNCATE", path=rec["path"],
                      ts=rec["timestamp"],
                      truncate_new_length=rec["new_length"])
        out.append(ev)
    return out


def resolve_inodes(events, max_rounds: int = 10):
    """Fill missing ``inode_id`` from the latest prior op on the same
    path that carried one — RENAME-aware.

    The binary log only stamps inode ids on OP_ADD (OP_CLOSE writes 0,
    path-only ops write nothing); the reference resolves the rest
    against its state store (SourceTransactionProcessor path lookups).
    Relationally that lookup is one window per path — last known inode
    at or before each txid — a single shuffle by path, embarrassingly
    parallel across paths at any log size.

    A resolved RENAME additionally re-asserts its inode at the
    DESTINATION path (an alias row ordered just after the rename's tx),
    so ops addressed by the post-rename path resolve too — without
    this, OP_DELETE of '/b' after OP_RENAME '/a'→'/b' resolved no
    inode and the delete silently vanished (review r4). Rename CHAINS
    (a→b then b→c in one log) need one extra pass per link, so the
    fill iterates to a fixpoint (bounded by ``max_rounds``; round
    count ≈ chain depth, and almost always 1).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # Materialize the input once (lazily, on first action): every
    # fixpoint round runs its own count job, and the final consumer a
    # third — without this each of those jobs re-executes the whole
    # upstream lineage, which for read_editlog_binary means re-decoding
    # every segment in Python 3+ times (measured 3x the decode cost on
    # the cdc scale bench). Executor-local checkpoint is the standard
    # iterative-algorithm pattern; at 100 TB one materialized pass
    # beats three re-decodes and the blocks drop with the reference.
    events = events.localCheckpoint(eager=False)

    w = (
        Window.partitionBy("path")
        .orderBy("tx_id", "_alias")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cur = events.withColumn(
        "inode_id", F.when(F.col("inode_id") > 0, F.col("inode_id"))
    )
    prev_unresolved = None
    for _ in range(max_rounds):
        # Fill directly on the full-width frame: union the (rare) alias
        # rows, window-fill, drop the aliases. An earlier formulation
        # computed the fill on a slim (path, tx_id) projection and
        # joined it back by tx_id — an extra full-log shuffle per round,
        # and a row-multiplier if a log ever carries duplicate tx ids
        # (the T4 shape). One wide shuffle by path replaces three.
        alias_rows = (
            cur.where(
                (F.col("op") == "RENAME")
                & F.col("inode_id").isNotNull()
                & F.col("dest_path").isNotNull()
            )
            .withColumn("path", F.col("dest_path"))
            .withColumn("_alias", F.lit(1))
        )
        cur = (
            cur.withColumn("_alias", F.lit(0))
            .unionByName(alias_rows)
            .withColumn(
                "inode_id", F.last("inode_id", ignorenulls=True).over(w)
            )
            .where(F.col("_alias") == 0)
            .drop("_alias")
        )
        unresolved = cur.where(
            F.col("inode_id").isNull() & F.col("path").isNotNull()
        ).count()
        if unresolved == 0 or unresolved == prev_unresolved:
            break
        prev_unresolved = unresolved
        cur = cur.localCheckpoint(eager=False)  # bound loop lineage
    return cur.select(*events.columns)


def read_editlog_binary(
    spark, path_glob: str, namespace: str = "hdfs", resolve: bool = True
):
    """Distributed decode: binaryFile scan over ``edits_*`` segments →
    CHANGE_EVENT_SCHEMA DataFrame ordered by tx_id downstream.

    Each segment decodes inside the executor that scanned it
    (mapInPandas, Arrow batches); no bytes move to the driver. With
    ``resolve`` (default) inode ids are back-filled per path so the
    result feeds straight into ``cdc.reconcile.reconcile_batch``.
    """
    import pandas as pd

    from hcdc_spark.cdc.model import CHANGE_EVENT_SCHEMA

    cols = [f.name for f in CHANGE_EVENT_SCHEMA.fields]

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for content in pdf["content"]:
                rows.extend(
                    ops_to_change_events(
                        decode_segment(bytes(content)), namespace
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    scan = spark.read.format("binaryFile").load(path_glob)
    out = scan.select("content").mapInPandas(body, CHANGE_EVENT_SCHEMA)
    return resolve_inodes(out) if resolve else out
