"""Batch backfill pipeline (X7) — snapshot → state documents + diff log.

Reference: the startup CommandLineRunner scans the globally-latest
checkpoint per task_path and funnels each through the same
merge/diff/upsert path as live events, sequentially on one thread
(config/CdcSubscriberConfig.java:117-175). Here the whole backfill is ONE
distributed plan:

    writes ⋈ checkpoints → latest blob per (thread, task)      [2 shuffles]
      → left join prior state on session_id                    [1 shuffle]
      → groupBy(session).applyInPandas(state transition)       [co-partitioned]
      → MERGE into state store + append diffs

Per-key ordering (X8) is free: a session lives in exactly one partition of
the ``applyInPandas`` stage, so the read-modify-write is serial per key
without any locks.
"""

from __future__ import annotations

import json
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..operators.latest import ide_latest_blobs_per_task, latest_blobs_per_task
from ..operators.merge import transition
from ..schemas import DATA_STREAM_STATE_SCHEMA
from ..state.store import ParquetAppendLog, ParquetStateStore

# applyInPandas output: the full state row plus the (nullable) diff produced
# by this batch, denormalized so one grouped pass feeds both sinks.
_TRANSITION_OUTPUT = (
    "session_id string, sequence_number int, cdc_content string, "
    "ide_content string, metadata string, ctx string, "
    "updated_ts_millis long, batch_diff string"
)


def state_row_to_doc(row: dict[str, Any]) -> dict[str, Any]:
    """Inflate a persisted state-table row into the dict state document."""
    return {
        "session_id": row["session_id"],
        "sequence_number": int(row["sequence_number"]),
        "cdc_content": json.loads(row["cdc_content"] or "{}"),
        "ide_content": json.loads(row["ide_content"] or "{}"),
        "metadata": json.loads(row["metadata"] or "{}"),
        "ctx": json.loads(row["ctx"] or "[]"),
    }


def doc_to_state_row(doc: dict[str, Any], updated_ts_millis: int) -> dict[str, Any]:
    return {
        "session_id": doc["session_id"],
        "sequence_number": int(doc["sequence_number"]),
        "cdc_content": json.dumps(doc["cdc_content"]),
        "ide_content": json.dumps(doc["ide_content"]),
        "metadata": json.dumps(doc.get("metadata") or {}),
        "ctx": json.dumps(doc.get("ctx") or []),
        "updated_ts_millis": updated_ts_millis,
    }


def diff_log_row(
    session_id: str, diff: dict[str, Any], source: str, ts_millis: int
) -> dict[str, Any]:
    """The diff-log row of one transition's diff document (what
    ``ParquetAppendLog.append_rows`` takes); ``diff_data`` is the compact
    JSON of ``diffData``."""
    return {
        "session_id": session_id,
        "sequence_number": int(diff["sequenceNumber"]),
        "source": source,
        "diff_data": json.dumps(diff["diffData"], separators=(",", ":")),
        "ts_millis": ts_millis,
    }


def make_transition_rows_fn(source: str, ctx_providers=None, now_ms: int | None = None):
    """Per-session state transition for the Arrow path: takes
    ``(session_id, rows)`` where ``rows`` is a list of plain dicts (Arrow
    nulls arrive as ``None``): thread_id, task_id, content, ts_millis,
    checkpoint_id, plus the prior state row columns (null when the session
    is new). Returns ONE output dict: the new state row plus ``batch_diff``,
    the JSON of this batch's diff (None when nothing changed).
    ``ctx_providers`` (UD5) run inside the group — distributed per session,
    consume-once side inputs stay serialized per key (X8/X9).

    ``now_ms`` is the single batch timestamp stamped on every state row —
    passed in (not read per group) so replaying a batch writes
    byte-identical rows; the small-batch driver path uses one ``now_ms``
    the same way. Prior-row columns outside ``DATA_STREAM_STATE_SCHEMA``
    (the diff-history columns of stores written before diffs left the
    state row) are ignored."""
    batch_ms = now_ms if now_ms is not None else int(time.time() * 1000)
    state_fields = DATA_STREAM_STATE_SCHEMA.fieldNames()

    def fn(session_id: str, rows: list[dict[str, Any]]) -> dict[str, Any]:
        first = rows[0]
        prior = None
        if first.get("sequence_number") is not None:
            raw = {
                c: (first[c] if isinstance(first.get(c), str) else None)
                for c in state_fields
            }
            raw["session_id"] = session_id
            raw["sequence_number"] = int(first["sequence_number"])
            prior = state_row_to_doc(raw)
        items = [
            {
                "task_id": r["task_id"],
                "content": r["content"],
                "timestamp": int(r["ts_millis"]),
                "thread_id": session_id,
                "checkpoint_id": r["checkpoint_id"],
            }
            for r in rows
            if r["task_id"] is not None
        ]
        doc, diff = transition(prior, session_id, items, source=source, ctx_providers=ctx_providers)
        out = doc_to_state_row(doc, batch_ms)
        out["batch_diff"] = json.dumps(diff) if diff is not None else None
        return out

    return fn


def _run_transition(
    latest: DataFrame,
    state_df: DataFrame,
    source: str,
    ctx_providers=None,
    broadcast_state: bool = False,
    now_ms: int | None = None,
) -> DataFrame:
    """``broadcast_state=True`` is the streaming-batch shape: the slice of
    state joined per micro-batch is bounded by the batch's session count
    (and in production the store read is pre-filtered to those sessions),
    so the outer side broadcasts and the big shuffle disappears.

    Grouping shape: sessions are small and numerous, so instead of
    ``groupBy().applyInPandas`` (one Python call + DataFrame build per
    group — measured 3.3× slower at 15 k groups), rows are hash-
    repartitioned by session and each PARTITION processes its groups in
    one Python call — same shuffle, whole-group-per-call guarantee
    preserved (a key's rows all land in its partition),
    ~N_sessions/N_partitions fewer Arrow round trips. The partition must
    fit in worker memory — the same sizing constraint the shuffle already
    imposes. No explicit partition count: the hash exchange starts at
    ``spark.sql.shuffle.partitions`` (size that to the cluster) and AQE
    coalesces it when the batch is small — coalescing merges whole hash
    partitions, so a key's rows still land together.

    Python boundary shape (guide §4): ``mapInArrow`` + ``to_pylist`` —
    the transition kernel consumes and produces plain dicts, so pandas
    Block construction on both sides of it was pure overhead. The
    previous ``mapInPandas`` form (pd.concat + groupby + ONE single-row
    DataFrame per session) measured ~16 s of executor CPU for 2000
    sessions; the dict path cuts the per-session cost to the transition
    kernel itself plus C-speed Arrow<->pylist conversion."""
    # a store written before diffs left the state row still carries the
    # diff-history columns; they stay out of the join and the Python workers
    state_cols = set(DATA_STREAM_STATE_SCHEMA.fieldNames())
    state_df = state_df.select(*[c for c in state_df.columns if c in state_cols])
    if broadcast_state:
        state_df = F.broadcast(state_df)
    enriched = latest.withColumnRenamed("thread_id", "session_id").join(
        state_df, "session_id", "left"
    )
    fn = make_transition_rows_fn(source, ctx_providers, now_ms)
    out_schema = to_arrow_schema(StructType.fromDDL(_TRANSITION_OUTPUT))

    def per_partition(batches):
        import pyarrow as pa

        # a session's rows all live in this partition (hash repartition),
        # so one dict-of-lists grouping pass per partition is exact
        groups: dict[str, list[dict[str, Any]]] = {}
        for batch in batches:
            for row in batch.to_pylist():
                groups.setdefault(row["session_id"], []).append(row)
        out_rows = [fn(sid, rows) for sid, rows in groups.items()]
        # chunked emission bounds the Arrow batch size for huge partitions
        for i in range(0, len(out_rows), 1024):
            yield pa.RecordBatch.from_pylist(out_rows[i : i + 1024], schema=out_schema)

    return enriched.repartition("session_id").mapInArrow(
        per_partition, schema=_TRANSITION_OUTPUT
    )


def apply_transition_batch(
    latest: DataFrame,
    state_store: ParquetStateStore,
    diff_log: ParquetAppendLog | None,
    source: str,
    ctx_providers=None,
    now_ms: int | None = None,
    small_result_max_rows: int = 500,
    prune_state: bool = False,
) -> int:
    """Run one batch of ``latest`` (thread_id, task_id, content, ts_millis,
    checkpoint_id) through the grouped state transition, then MERGE state
    and append diffs. Returns the number of updated sessions.

    The transition always runs as the distributed plan (that is the path
    that scales), but the SINK is adaptive, mirroring the streaming
    pipeline's small-batch split: when the batch updates at most
    ``small_result_max_rows`` sessions, the state rows are collected once
    (from the already-materialized cache) and MERGEd driver-side with
    pyarrow — the distributed write job on a 100-row result pays ~2 Spark
    job launches plus a 64-directory committer pass of pure overhead,
    while the driver MERGE is single-digit milliseconds against the same
    bucket layout and commit protocol. Large results take the distributed
    bucketed MERGE unchanged.

    ``prune_state=True`` is the micro-batch shape: only the state buckets
    the batch's sessions hash to are read, and that bounded slice is
    broadcast into the transition join.

    Diffs are appended BEFORE the state commit: a crash between the two
    replays the batch, recomputes the identical rows (``now_ms`` is the
    single batch stamp), and appends the same diff again —
    ``diff_log.read(dedup=True)`` collapses the replica."""
    batch_ms = now_ms if now_ms is not None else int(time.time() * 1000)
    if prune_state:
        state_df = state_store.read(
            keys=latest.select(F.col("thread_id").alias("session_id")), key="session_id"
        )
    else:
        state_df = state_store.read()
    updated = _run_transition(
        latest, state_df, source, ctx_providers, broadcast_state=prune_state, now_ms=batch_ms
    ).cache()
    try:
        n = updated.count()  # materialize before the store swap reads/overwrites
        if n <= small_result_max_rows:
            # bounded: guarded by n <= small_result_max_rows (counted above)
            rows = [r.asDict() for r in updated.collect()]
            if diff_log is not None:
                diff_log.append_rows(
                    [
                        diff_log_row(
                            r["session_id"],
                            json.loads(r["batch_diff"]),
                            source,
                            r["updated_ts_millis"],
                        )
                        for r in rows
                        if r["batch_diff"] is not None
                    ]
                )
            state_store.upsert_rows(
                [{k: v for k, v in r.items() if k != "batch_diff"} for r in rows]
            )
        else:
            if diff_log is not None:
                diffs = (
                    updated.filter(F.col("batch_diff").isNotNull())
                    .select(
                        F.col("session_id"),
                        F.get_json_object("batch_diff", "$.sequenceNumber").cast("int").alias("sequence_number"),
                        F.lit(source).alias("source"),
                        F.get_json_object("batch_diff", "$.diffData").alias("diff_data"),
                        F.col("updated_ts_millis").alias("ts_millis"),
                    )
                )
                diff_log.append(diffs)
            state_store.upsert(updated.drop("batch_diff"))
    finally:
        updated.unpersist()
    return n


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
    table is supplied — X10 dual fan-in writing disjoint columns). Returns
    the updated state DataFrame.

    ``now_ms`` (default: wall clock, once) stamps every state row of the
    batch; replaying with the same value writes byte-identical rows."""
    result = None
    batch_ms = now_ms if now_ms is not None else int(time.time() * 1000)
    for source, latest in (
        ("cdc", latest_blobs_per_task(writes, checkpoints) if writes is not None else None),
        ("ide", ide_latest_blobs_per_task(ide_checkpoints) if ide_checkpoints is not None else None),
    ):
        if latest is None:
            continue
        apply_transition_batch(
            latest,
            state_store,
            diff_log,
            source,
            ctx_providers,
            now_ms=batch_ms,
            small_result_max_rows=small_result_max_rows,
        )
        result = state_store.read()
    return result if result is not None else state_store.read()
