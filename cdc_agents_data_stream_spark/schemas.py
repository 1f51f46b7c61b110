"""Schemas for the checkpoint source tables and engine sink tables.

Source tables mirror the reference's DDL
(src/main/resources/cdc-agents-schema.sql, ide-schema.sql); sink tables
mirror the per-session state document entity
(entity/CdcAgentsDataStream.java:28-65) and the diff document
(entity/CheckpointDataDiff.java:19-29).

The open-ended jsonb payloads (content maps, diffs, ctx) are carried as JSON
strings: they are schema-free in the reference too, and JSON-string columns
keep the Spark schema stable while ``from_json``/``get_json_object`` expose
fields declaratively where needed.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- source tables (scan surface) -------------------------------------------

CHECKPOINTS_SCHEMA = T.StructType(
    [
        T.StructField("thread_id", T.StringType(), False),
        T.StructField("checkpoint_ns", T.StringType(), True),
        T.StructField("checkpoint_id", T.StringType(), False),
        T.StructField("parent_checkpoint_id", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("checkpoint", T.StringType(), True),  # jsonb; event time at $.ts
        T.StructField("metadata", T.StringType(), True),  # jsonb
    ]
)

CHECKPOINT_WRITES_SCHEMA = T.StructType(
    [
        T.StructField("thread_id", T.StringType(), False),
        T.StructField("checkpoint_ns", T.StringType(), True),
        T.StructField("checkpoint_id", T.StringType(), False),
        T.StructField("task_id", T.StringType(), False),
        T.StructField("idx", T.IntegerType(), True),
        T.StructField("channel", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("blob", T.BinaryType(), True),  # UTF-8 JSON message list
        T.StructField("task_path", T.StringType(), True),
    ]
)

IDE_CHECKPOINTS_SCHEMA = T.StructType(
    [
        T.StructField("thread_id", T.StringType(), False),
        T.StructField("prompt_id", T.StringType(), True),
        T.StructField("session_id", T.StringType(), True),
        T.StructField("checkpoint_ts", T.StringType(), True),  # timestamp AS TEXT
        T.StructField("checkpoint_id", T.StringType(), False),
        T.StructField("blob", T.BinaryType(), True),
        T.StructField("task_path", T.StringType(), True),
    ]
)

# --- intermediate shapes ------------------------------------------------------

# CheckpointData (dao/CheckpointDao.java:21-23) with decoded content and
# epoch-millis event time (timestamps live inside jsonb in the source).
CHECKPOINT_DATA_SCHEMA = T.StructType(
    [
        T.StructField("thread_id", T.StringType(), False),
        T.StructField("checkpoint_id", T.StringType(), True),
        T.StructField("task_id", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("ts_millis", T.LongType(), True),
    ]
)

# LatestCheckpoints (dao/CheckpointDao.java:25-26)
LATEST_CHECKPOINTS_SCHEMA = T.StructType(
    [
        T.StructField("thread_id", T.StringType(), False),
        T.StructField("checkpoint_id", T.StringType(), True),
        T.StructField("ts_millis", T.LongType(), True),
        T.StructField("task_path", T.StringType(), True),
    ]
)

# --- sink tables --------------------------------------------------------------

# Per-session state document (entity/CdcAgentsDataStream.java:28-65). The
# entity's cdcCheckpointDiffs / ideCheckpointDiffs history is not a state
# column: diffs live only in the append-only diff table below. Stores written
# while the state row still carried ``cdc_checkpoint_diffs`` /
# ``ide_checkpoint_diffs`` keep reading and upserting: the store's schema
# union reads those columns back as extra columns, null in every row and
# bucket rewritten since.
DATA_STREAM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_id", T.StringType(), False),
        T.StructField("sequence_number", T.IntegerType(), False),
        T.StructField("cdc_content", T.StringType(), True),  # json map task -> [items]
        T.StructField("ide_content", T.StringType(), True),
        T.StructField("metadata", T.StringType(), True),
        T.StructField("ctx", T.StringType(), True),  # json array of tagged ctx items
        T.StructField("updated_ts_millis", T.LongType(), True),
    ]
)

# Append-only diff table keyed (session_id, sequence_number, source).
CHECKPOINT_DIFFS_SCHEMA = T.StructType(
    [
        T.StructField("session_id", T.StringType(), False),
        T.StructField("sequence_number", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),  # 'cdc' | 'ide'
        T.StructField("diff_data", T.StringType(), True),  # json map task -> item
        T.StructField("ts_millis", T.LongType(), True),
    ]
)

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
