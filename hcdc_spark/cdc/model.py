"""Change-event model: one wide schema replacing the protobuf union.

The reference models transactions as a protobuf union of 11 typed
payloads inside a DFSChangeDelta envelope
(/root/reference/change-manager/common/src/main/proto/data_block.proto:9-152)
and dispatches on runtime type (TransactionProcessor.processTxMessage,
namenode-agent/.../common/TransactionProcessor.java:111-145). Here the
union is a single wide StructType with nullable per-op fields and an `op`
discriminator — dispatch is a column predicate, not an instanceof ladder,
so Catalyst can prune/push it.

FIXTURES.md §1 defines the event columns; §3 the reconciled file_state.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Transaction op codes (data_block.proto:10-22 via FIXTURES.md).
OPS = (
    "ADD_FILE",
    "ADD_BLOCK",
    "CLOSE",
    "RENAME",
    "CONCAT_DELETE",
    "UPDATE_BLOCKS",
    "DELETE",
    "APPEND",
    "TRUNCATE",
    "IGNORE",
    "ERROR",
)

# Processing modes (reference MessageObject modes).
MODES = ("New", "ReSend", "Snapshot", "Backlog", "Error", "Retry")

# File lifecycle states (reference EFileState).
FILE_STATES = ("Unknown", "New", "Updating", "Finalized", "Deleted", "Error")

BLOCK_STRUCT = T.StructType(
    [
        T.StructField("block_id", T.LongType()),
        T.StructField("size", T.LongType()),
        T.StructField("block_size", T.LongType()),
        T.StructField("generation_stamp", T.LongType()),
        T.StructField("start_offset", T.LongType()),
        T.StructField("end_offset", T.LongType()),
        T.StructField("delta_size", T.LongType()),
        T.StructField("deleted", T.BooleanType()),
    ]
)

CHANGE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("tx_id", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("ts", T.LongType()),
        T.StructField("namespace", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("inode_id", T.LongType()),
        T.StructField("dest_path", T.StringType()),
        T.StructField("rename_opts", T.StringType()),
        T.StructField("length", T.LongType()),
        T.StructField("block_size", T.LongType()),
        T.StructField("modified_time", T.LongType()),
        T.StructField("accessed_time", T.LongType()),
        T.StructField("overwrite", T.BooleanType()),
        T.StructField("new_block", T.BooleanType()),
        T.StructField("truncate_new_length", T.LongType()),
        T.StructField("blocks", T.ArrayType(BLOCK_STRUCT)),
        T.StructField("file_type", T.StringType()),
        T.StructField("mode", T.StringType()),
        T.StructField("domain", T.StringType()),
        T.StructField("entity", T.StringType()),
    ]
)

DELTA_STRUCT = T.StructType(
    [
        T.StructField("tx_id", T.LongType()),
        T.StructField("start_offset", T.LongType()),
        T.StructField("end_offset", T.LongType()),
        T.StructField("deleted", T.BooleanType()),
    ]
)

STATE_BLOCK_STRUCT = T.StructType(
    [
        T.StructField("block_id", T.LongType()),
        T.StructField("prev_block_id", T.LongType()),
        T.StructField("data_size", T.LongType()),
        T.StructField("block_size", T.LongType()),
        T.StructField("last_tx_id", T.LongType()),
        T.StructField("generation_stamp", T.LongType()),
        T.StructField("state", T.StringType()),
        T.StructField("deltas", T.ArrayType(DELTA_STRUCT)),
    ]
)

# Reconciled per-file state (FIXTURES.md §3; reference DFSFileState,
# core/.../model/DFSFileState.java:14-29).
FILE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("inode_id", T.LongType(), False),
        T.StructField("path", T.StringType()),
        T.StructField("created_time", T.LongType()),
        T.StructField("updated_time", T.LongType()),
        T.StructField("num_blocks", T.LongType()),
        T.StructField("block_size", T.LongType()),
        T.StructField("data_size", T.LongType()),
        T.StructField("last_tx_id", T.LongType()),
        T.StructField("file_type", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("blocks", T.ArrayType(STATE_BLOCK_STRUCT)),
        T.StructField("domain", T.StringType()),
        T.StructField("entity", T.StringType()),
    ]
)

# Anomalies surfaced by the reconciler instead of being raised
# (reference error channel, SURVEY §2A-T25).
ERROR_SCHEMA = T.StructType(
    [
        T.StructField("tx_id", T.LongType()),
        T.StructField("inode_id", T.LongType()),
        T.StructField("path", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)

# The per-inode fold's output row, batch and stream alike: the file
# state plus the errors its events raised (T25's source).
FOLD_OUTPUT_SCHEMA = T.StructType(
    list(FILE_STATE_SCHEMA.fields)
    + [T.StructField("errors", T.ArrayType(ERROR_SCHEMA))]
)


def empty_event(**overrides) -> dict:
    """A fully-nulled event dict matching CHANGE_EVENT_SCHEMA."""
    base = {f.name: None for f in CHANGE_EVENT_SCHEMA.fields}
    base.update(overrides)
    return base
