"""Readers for the checkpoint source tables (S3/S4).

The reference scans Postgres via JDBC with hand-written SQL
(dao/CdcCheckpointDao.java:60-187, dao/IdeCheckpointDao.java:58-177); here
the same tables are exposed as DataFrames from parquet paths (lake mode) or
a JDBC source (live mode, ``sources/incremental.py``), and all predicates
are left to Catalyst pushdown.

Event time lives INSIDE the jsonb ``checkpoints.checkpoint`` column
($.ts — dao/CdcCheckpointDao.java:67) for the CDC stream, and in the text
column ``checkpoint_ts`` for the IDE stream (ide-schema.sql:6); both are
normalized to a ``ts_millis`` BIGINT so downstream operators are
precision-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def with_event_time(checkpoints: DataFrame) -> DataFrame:
    """F3: extract+cast event time from the checkpoint jsonb ($.ts)."""
    ts = F.to_timestamp(F.get_json_object(F.col("checkpoint"), "$.ts"))
    return checkpoints.withColumn("checkpoint_ts", ts).withColumn(
        "ts_millis", F.unix_millis(ts)
    )


def message_writes(writes: DataFrame) -> DataFrame:
    """F1/F5: the reference's load-bearing write filter —
    ``channel = 'messages' AND type = 'list'`` plus non-empty blob guard
    (dao/CdcCheckpointDao.java:72,107,138; dao/CheckpointDao.java:45-49)."""
    return writes.filter(
        (F.col("channel") == "messages")
        & (F.col("type") == "list")
        & F.col("blob").isNotNull()
        & (F.length(F.col("blob")) > 0)
    )


def ide_with_event_time(ide_checkpoints: DataFrame) -> DataFrame:
    """IDE stream stores event time as text (ide-schema.sql:6)."""
    ts = F.to_timestamp(F.col("checkpoint_ts"))
    return ide_checkpoints.withColumn("ts_millis", F.unix_millis(ts))
