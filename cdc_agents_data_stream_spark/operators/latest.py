"""Latest-checkpoint operators (W1 / T1 / A1 / F4 / J1).

The reference's load-bearing "dedup to latest" queries
(dao/CdcCheckpointDao.java:60-152, dao/IdeCheckpointDao.java:58-133) are
re-expressed as single declarative plans so Catalyst gets to choose the
physical strategy:

- the ``checkpoint_writes ⋈ checkpoints`` equi-join (J1) is one shuffle (or
  a broadcast when the checkpoint pointer table is small);
- "latest per key" uses ``max_by`` (partial + final aggregation — map-side
  combine, one shuffle) instead of the reference's per-task LIMIT 1 loop,
  which issued one SQL query per task_path
  (dao/CdcCheckpointDao.java:93-124);
- ties on the event timestamp break deterministically on ``checkpoint_id``
  (the reference's ORDER BY ts DESC LIMIT 1 is nondeterministic on ties —
  a documented deviation).

At scale: both sides shuffle on ``checkpoint_id`` for the join, then the
aggregation shuffles on the group key. Partition/bucket the lake tables by
``thread_id`` to make the second shuffle cheap, and rely on AQE for skewed
sessions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.checkpoints import message_writes, with_event_time

# Orderable (ts, checkpoint_id) used for deterministic argmax.
_ORD = lambda: F.struct(F.col("ts_millis"), F.col("checkpoint_id"))  # noqa: E731


def joined_writes(
    writes: DataFrame,
    checkpoints: DataFrame,
    broadcast_checkpoints: bool = False,
    broadcast_writes: bool = False,
) -> DataFrame:
    """J1: pull event time out of the checkpoints jsonb for each write row
    (dao/CdcCheckpointDao.java:70-71). Projects only the columns downstream
    operators need so the parquet scan is pruned.

    Broadcast whichever side is known-small: in streaming, the per-batch
    write slice (``broadcast_writes``) — the full checkpoint pointer table
    then never shuffles; in batch with a small pointer dim, the checkpoints
    side."""
    cp = with_event_time(checkpoints).select("checkpoint_id", "checkpoint_ts", "ts_millis")
    if broadcast_checkpoints:
        cp = F.broadcast(cp)
    w = message_writes(writes).select(
        "thread_id", "checkpoint_id", "task_id", "task_path", "blob"
    )
    if broadcast_writes:
        w = F.broadcast(w)
    return w.join(cp, "checkpoint_id", "inner")


def latest_checkpoints(writes: DataFrame, checkpoints: DataFrame) -> DataFrame:
    """W1/T2: latest checkpoint pointer per ``task_path``
    (dao/CdcCheckpointDao.java:93-124 ``queryLatestCheckpoints``).

    SEMANTIC DEVIATION (deliberate): this picks the globally max-timestamp
    row per task_path. The reference instead ranks each row by recency
    WITHIN ITS OWN THREAD (ROW_NUMBER per thread over all task_paths) and
    picks the min-rank row per task_path — when a task_path spans threads
    those disagree: a thread whose LAST write is task T beats a thread
    that wrote T earlier but stayed busy since, even if T's timestamp
    there is older. The global argmax is the better freshness contract
    and one aggregation instead of a full window; the reference's exact
    selection is available as ``latest_checkpoints_reference_rank``.
    """
    j = joined_writes(writes, checkpoints)
    return j.groupBy("task_path").agg(
        F.max_by(F.col("thread_id"), _ORD()).alias("thread_id"),
        F.max_by(F.col("checkpoint_id"), _ORD()).alias("checkpoint_id"),
        F.max(F.col("ts_millis")).alias("ts_millis"),
    )


def latest_checkpoints_reference_rank(writes: DataFrame, checkpoints: DataFrame) -> DataFrame:
    """Bit-parity variant of ``queryLatestCheckpoints``
    (dao/CdcCheckpointDao.java:93-124): ROW_NUMBER per thread_id ordered by
    event time DESC (across ALL task_paths of the thread), then per
    task_path keep the min-rank row. Where the reference's ORDER BY rn
    LIMIT 1 is nondeterministic on rank ties across threads (and on equal
    timestamps within a thread), this breaks ties on (ts DESC,
    checkpoint_id) — documented determinism, not a semantics change."""
    from pyspark.sql.window import Window

    j = joined_writes(writes, checkpoints)
    w = Window.partitionBy("thread_id").orderBy(
        F.col("ts_millis").desc(), F.col("checkpoint_id").desc()
    )
    ranked = j.withColumn("rn", F.row_number().over(w))
    pick = F.struct(-F.col("rn"), F.col("ts_millis"), F.col("checkpoint_id"))
    return ranked.groupBy("task_path").agg(
        F.max_by(F.col("thread_id"), pick).alias("thread_id"),
        F.max_by(F.col("checkpoint_id"), pick).alias("checkpoint_id"),
        F.max_by(F.col("ts_millis"), pick).alias("ts_millis"),
        F.min(F.col("rn")).cast("long").alias("rn"),
    )


def latest_blobs_per_task(
    writes: DataFrame, checkpoints: DataFrame, broadcast_writes: bool = False
) -> DataFrame:
    """A1/T1: latest blob per (thread_id, task_path), decoded to UTF-8
    content (dao/CdcCheckpointDao.java:127-152 + C1 decode,
    service/DiffService.java:99). One join + one grouped argmax for ALL
    sessions at once — the unit the state transition consumes."""
    j = joined_writes(writes, checkpoints, broadcast_writes=broadcast_writes)
    blob_ord = F.struct(F.col("ts_millis"), F.col("checkpoint_id"))
    return (
        j.groupBy("thread_id", "task_path")
        .agg(
            F.max_by(F.col("blob"), blob_ord).alias("blob"),
            F.max_by(F.col("checkpoint_id"), blob_ord).alias("checkpoint_id"),
            F.max(F.col("ts_millis")).alias("ts_millis"),
        )
        .withColumn("content", F.decode(F.col("blob"), "UTF-8"))
        .drop("blob")
        .withColumnRenamed("task_path", "task_id")
    )


def ide_latest_blobs_per_task(ide_checkpoints: DataFrame) -> DataFrame:
    """IDE-stream flavor (dao/IdeCheckpointDao.java:58-80): single table, no
    join, ts parsed from the text column."""
    from ..sources.checkpoints import ide_with_event_time

    src = ide_with_event_time(ide_checkpoints).filter(
        F.col("blob").isNotNull() & (F.length(F.col("blob")) > 0)
    )
    blob_ord = F.struct(F.col("ts_millis"), F.col("checkpoint_id"))
    return (
        src.groupBy("thread_id", "task_path")
        .agg(
            F.max_by(F.col("blob"), blob_ord).alias("blob"),
            F.max_by(F.col("checkpoint_id"), blob_ord).alias("checkpoint_id"),
            F.max(F.col("ts_millis")).alias("ts_millis"),
        )
        .withColumn("content", F.decode(F.col("blob"), "UTF-8"))
        .drop("blob")
        .withColumnRenamed("task_path", "task_id")
    )


def distinct_task_paths(writes: DataFrame, thread_id: str | None = None, checkpoint_id: str | None = None) -> DataFrame:
    """F4: DISTINCT task_path, optionally filtered
    (dao/CdcCheckpointDao.java:155-187, all three variants)."""
    df = writes
    if thread_id is not None:
        df = df.filter(F.col("thread_id") == thread_id)
    if checkpoint_id is not None:
        df = df.filter(F.col("checkpoint_id") == checkpoint_id)
    return df.select("task_path").distinct()
