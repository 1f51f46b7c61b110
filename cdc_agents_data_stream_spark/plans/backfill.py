"""Batch backfill pipeline (X7) — snapshot → state documents + diff log.

Reference: the startup CommandLineRunner scans the globally-latest
checkpoint per task_path and funnels each through the same
merge/diff/upsert path as live events, sequentially on one thread
(config/CdcSubscriberConfig.java:117-175). Here a batch is ONE
bucket-aligned Spark job:

    writes ⋈ checkpoints → latest blob per (thread, task)      [2 shuffles]
      ∪ the IDE stream's latest blobs, each row tagged with its source
      → tag each row with its state-store bucket, repartition(bucket),
        sortWithinPartitions(bucket, session)                   [1 shuffle]
      → mapInArrow, one bucket at a time: read the bucket's current
        file, ``absorb`` session by session (cdc before ide), write the
        merged bucket, and append the task's diff rows as one log file
      → driver: one manifest commit, then the diff log's merge round

The job is ``ParquetStateStore.merge_buckets``; this module only supplies
the per-bucket transition. There is no state read, join or shuffle: the
store's bucket layout is the job's partitioning, the way a Structured
Streaming state store is partitioned like its stateful operator, so a task
reads and writes only its own buckets and holds one bucket at a time.

Per-key ordering (X8) is free: a session's rows all land in its bucket's
partition, so the read-modify-write is serial per key without any locks.
"""

from __future__ import annotations

import itertools
import time
from functools import reduce
from operator import itemgetter

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.latest import ide_latest_blobs_per_task, latest_blobs_per_task
from ..state.store import _STATE_PA_SCHEMA, ParquetAppendLog, ParquetStateStore
from ..streaming.pipeline import absorb

# a session absorbs its sources in this order (the reference's startup
# order); any other source name follows them
_SOURCE_RANK = {"cdc": 0, "ide": 1}


def _absorb_bucket(ctx_providers, now_ms: int):
    """The ``merge_buckets`` function of a transition batch: the bucket's
    prior rows for the batch's sessions go through ``absorb`` with the
    session's rows, one source after the other; the bucket's other rows
    are kept as they are (a store written before diffs left the state row
    keeps their diff-history columns)."""

    def merge(old: pa.Table | None, rows: pa.Table):
        prior: dict[str, dict] = {}
        kept = None
        if old is not None:
            hit = pc.is_in(old["session_id"], value_set=rows["session_id"])
            prior = {r["session_id"]: r for r in old.filter(hit).to_pylist()}
            kept = old.filter(pc.invert(hit))
        state_rows, diff_rows = [], []
        # rows arrive sorted by session
        for sid, group in itertools.groupby(rows.to_pylist(), key=itemgetter("session_id")):
            by_source: dict[str, list[dict]] = {}
            for r in group:
                by_source.setdefault(r["source"], []).append(r)
            row = prior.get(sid)
            for src in sorted(by_source, key=lambda s: (_SOURCE_RANK.get(s, len(_SOURCE_RANK)), s)):
                row, diff_row = absorb(sid, row, by_source[src], src, now_ms, ctx_providers)
                if diff_row is not None:
                    diff_rows.append(diff_row)
            state_rows.append(row)
        new = pa.Table.from_pylist(state_rows, schema=_STATE_PA_SCHEMA)
        merged = new if kept is None else pa.concat_tables([kept, new], promote_options="permissive")
        return merged, len(state_rows), diff_rows

    return merge


def apply_transition_batch(
    latest: DataFrame,
    state_store: ParquetStateStore,
    diff_log: ParquetAppendLog | None,
    source: str = "cdc",
    ctx_providers=None,
    now_ms: int | None = None,
) -> int:
    """Run one batch of ``latest`` (thread_id, task_id, content, ts_millis,
    checkpoint_id, and optionally source) through the state transition as
    one bucket-aligned job (module docstring) and commit it. Rows without
    a ``source`` column are absorbed as ``source``. Returns the number of
    updated sessions.

    Each task writes its diff rows before the driver claims the state
    version. A crash between the two replays the batch, recomputes the
    identical rows (``now_ms`` is the single batch stamp) and appends the
    same diffs again — ``diff_log.read(dedup=True)`` collapses the replica.
    A lost claim deletes the attempt's diffs and re-runs the job against
    the winner's snapshot."""
    batch_ms = now_ms if now_ms is not None else int(time.time() * 1000)
    if "source" not in latest.columns:
        latest = latest.withColumn("source", F.lit(source))
    rows = latest.select(
        F.col("thread_id").alias("session_id"), "task_id", "content", "ts_millis", "checkpoint_id", "source"
    )
    return state_store.merge_buckets(rows, _absorb_bucket(ctx_providers, batch_ms), log=diff_log)


def backfill(
    spark: SparkSession,
    writes: DataFrame | None,
    checkpoints: DataFrame | None,
    state_store: ParquetStateStore,
    diff_log: ParquetAppendLog | None = None,
    ide_checkpoints: DataFrame | None = None,
    ctx_providers=None,
    now_ms: int | None = None,
    small_result_max_rows: int = 500,
) -> DataFrame:
    """Run the backfill for the CDC stream (and the IDE stream when its
    table is supplied — X10 dual fan-in writing disjoint columns) as one
    ``apply_transition_batch`` over both. Returns the updated state
    DataFrame.

    ``now_ms`` (default: wall clock, once) stamps every state row of the
    batch; replaying with the same value writes byte-identical rows.
    ``small_result_max_rows`` is still accepted and selects nothing: every
    batch is the one bucket-aligned job."""
    latest = []
    if writes is not None:
        latest.append(latest_blobs_per_task(writes, checkpoints).withColumn("source", F.lit("cdc")))
    if ide_checkpoints is not None:
        latest.append(ide_latest_blobs_per_task(ide_checkpoints).withColumn("source", F.lit("ide")))
    if latest:
        apply_transition_batch(
            reduce(DataFrame.unionByName, latest), state_store, diff_log,
            ctx_providers=ctx_providers, now_ms=now_ms,
        )
    return state_store.read()
