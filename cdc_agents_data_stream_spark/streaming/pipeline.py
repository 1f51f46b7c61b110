"""Streaming CDC pipeline (X1-X10) on Structured Streaming.

The reference's NOTIFY-driven loop (one Postgres LISTEN callback per
(thread_id, checkpoint_id); subscriber/AgentsPostgresSubscriber.java:28-49)
maps to an incremental scan of the append-only ``checkpoint_writes`` table:
each micro-batch sees the new write rows, joins the checkpoint pointer
table for event time, reduces to the latest blob per (session, task), and
feeds the same keyed state transition as the batch backfill.

The per-event step — latest blob per task → merge → line diff → state row
plus diff row — is written once, as ``absorb``, and every execution path
calls it:

- ``run_foreachbatch_pipeline``: readStream (the writes table, plus the IDE
  checkpoint table when ``ide_dir`` is given) → foreachBatch{ small batch:
  driver-side ``absorb`` per session; large batch: the backfill's
  ``apply_transition_batch``, one bucket-aligned ``mapInArrow`` job that
  calls ``absorb`` per session } → append diff log → MERGE state store. State
  lives in the engine's own lake tables (the reference's
  ``cdc_agents_data_stream`` sink, S7); exactly-once via the streaming
  checkpoint + idempotent MERGE. This is the production-shaped path.
- ``run_stateful_pipeline``: readStream → groupBy(session).
  ``applyInPandasWithState`` (X1 keyed state held by Spark's state store,
  as state-row columns), emitting one row per absorbed source per updated
  session per batch. This is the Spark-idiomatic "custom stateful
  operator" path.

Semantics inherited from the transition function (operators/merge.py):
X2 merge policy, X3 event-time staleness drop, X6 monotone seq. Per-key
ordering (X8) is free — a session hashes to one state partition and
micro-batches are serial within the query. The reference's read-repair
(X4) is superseded by the deterministic within-batch argmax.

At scale: the writes source is partitioned/bucketed by ``thread_id`` so
the groupBy shuffles align; the checkpoint pointer join broadcasts when
the per-batch slice is small; state size stays bounded because content
maps hold only the latest item per task (plus ``__start__`` history) —
diffs go to the append-only log, not into state. A session's diff history
is read with ``ParquetAppendLog.read(dedup=True)``; state rows written
before diffs left the state row may still carry the old
``cdc_checkpoint_diffs`` / ``ide_checkpoint_diffs`` columns, which the
store reads back as extra columns and the transition ignores.
"""

from __future__ import annotations

import functools
import json
import os
import time
from datetime import datetime, timezone
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.merge import transition
from ..schemas import CHECKPOINT_WRITES_SCHEMA, DATA_STREAM_STATE_SCHEMA, IDE_CHECKPOINTS_SCHEMA
from ..state.store import ParquetAppendLog, ParquetStateStore

_STATE_COLS = DATA_STREAM_STATE_SCHEMA.fieldNames()


def state_row_to_doc(row: dict[str, Any]) -> dict[str, Any]:
    """Inflate a persisted state-table row into the dict state document."""
    return {
        "session_id": row["session_id"],
        "sequence_number": int(row["sequence_number"]),
        "cdc_content": json.loads(row.get("cdc_content") or "{}"),
        "ide_content": json.loads(row.get("ide_content") or "{}"),
        "metadata": json.loads(row.get("metadata") or "{}"),
        "ctx": json.loads(row.get("ctx") or "[]"),
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


def diff_log_row(state_row: dict[str, Any], source: str, diff_data: str) -> dict[str, Any]:
    """The diff-log row (what ``ParquetAppendLog.append_rows`` takes) of a
    transition that wrote ``state_row`` and emitted ``diff_data``: a diff is
    stamped with the sequence number the state advanced to and with the
    batch stamp."""
    return {
        "session_id": state_row["session_id"],
        "sequence_number": state_row["sequence_number"],
        "source": source,
        "diff_data": diff_data,
        "ts_millis": state_row["updated_ts_millis"],
    }


def absorb(
    session_id: str,
    prior_row: dict[str, Any] | None,
    rows: list[dict[str, Any]],
    source: str,
    now_ms: int,
    ctx_providers=None,
) -> tuple[dict[str, Any], dict[str, Any] | None]:
    """The one per-session transition adapter: a prior state row (None for
    a new session) plus this batch's ``rows`` (plain dicts with task_id,
    content, ts_millis, checkpoint_id) → ``(state_row, diff_row | None)``.

    Rows without a task or an event time cannot be ordered and are dropped.
    The rest go to ``transition`` sorted by task, so a new task enters the
    content map in the same place whatever order the path delivered the
    rows in (the driver reads files in order, a shuffle does not), and the
    state row's bytes do not depend on the path. Prior-row keys outside
    the state row (the join's input columns, the diff-history columns of
    stores written before diffs left the state row) are ignored. ``now_ms`` is the single batch stamp on the state row and
    the diff row, so replaying a batch writes byte-identical rows.
    ``diff_data`` is the compact, ASCII-escaped JSON of the diff's
    ``diffData``, printed here so every sink writes the same bytes.
    ``ctx_providers`` (UD5) run inside the per-session call, so consume-once
    side inputs stay serialized per key (X8/X9)."""
    prior = state_row_to_doc(prior_row) if prior_row is not None else None
    items = [
        {
            "task_id": r["task_id"],
            "content": r["content"],
            "timestamp": int(r["ts_millis"]),
            "thread_id": session_id,
            "checkpoint_id": r["checkpoint_id"],
        }
        for r in sorted(rows, key=lambda r: r["task_id"] or "")
        if r["task_id"] is not None and r["ts_millis"] is not None
    ]
    doc, diff = transition(prior, session_id, items, source=source, ctx_providers=ctx_providers)
    state_row = doc_to_state_row(doc, now_ms)
    if diff is None:
        return state_row, None
    return state_row, diff_log_row(
        state_row, source, json.dumps(diff["diffData"], separators=(",", ":"))
    )


def read_writes_stream(spark: SparkSession, writes_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based incremental source over the append-only writes table
    (S1's Spark-idiomatic replacement; with Kafka+Debezium in production
    this becomes ``spark.readStream.format('kafka')`` + payload parse S2)."""
    reader = spark.readStream.schema(CHECKPOINT_WRITES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(writes_dir)


def _parse_ts_millis(s: str | None) -> int | None:
    """Python twin of ``to_timestamp(...)`` + ``unix_millis`` on a UTC
    session: ISO/space-separated timestamp text → epoch millis."""
    if not s:
        return None
    try:
        dt = datetime.fromisoformat(s)
    except ValueError:
        return None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _stream_rows(stream: int, raw: list[dict]) -> list[dict]:
    """Driver-side twin of the streams' projections in
    ``run_foreachbatch_pipeline``: raw file rows of stream 0 (writes) or 1
    (IDE checkpoints) → (thread_id, task_id, checkpoint_id, blob,
    ts_millis) rows; writes rows get their event time from the pointer
    table later."""
    if stream == 0:
        return [
            {"thread_id": r["thread_id"], "task_id": r["task_path"],
             "checkpoint_id": r["checkpoint_id"], "blob": r["blob"], "ts_millis": None}
            for r in raw
            if r["channel"] == "messages" and r["type"] == "list" and r["blob"]
        ]
    return [
        {"thread_id": r["thread_id"], "task_id": r["task_path"],
         "checkpoint_id": r["checkpoint_id"], "blob": r["blob"],
         "ts_millis": _parse_ts_millis(r["checkpoint_ts"])}
        for r in raw
        if r["blob"]
    ]


def run_foreachbatch_pipeline(
    spark: SparkSession,
    writes_dir: str,
    checkpoints_path: str,
    state_store: ParquetStateStore,
    diff_log: ParquetAppendLog,
    checkpoint_location: str,
    source: str = "cdc",
    trigger: dict[str, Any] | None = None,
    max_files_per_trigger: int | None = None,
    ctx_providers=None,
    small_batch_max_rows: int = 500,
    ide_dir: str | None = None,
):
    """Production-shaped path: stream writes, join the (slow-changing)
    checkpoint pointer table, MERGE per-session state docs.

    ``ide_dir`` adds X10 live fan-in, safe by construction: the IDE
    checkpoint stream is normalized to the writes stream's shape and
    UNIONed into the SAME query, so one foreachBatch thread applies both
    transitions in order — within a session the writes stream (``source``,
    default cdc) before ide, the reference's startup order
    (config/CdcSubscriberConfig.java:117-175 runs the same two
    subscribers) — and the two sources never race each other's
    read-modify-write on a shared session. Running two pipelines against
    one store also works (the store's optimistic commit retries the
    loser), but a session touched by both in flight would then absorb them
    in commit order, not source order.

    ``max_files_per_trigger`` bounds how much of the backlog one micro-batch
    absorbs. Left unset, a slow batch absorbs every tick that arrived in the
    meantime and the latest-per-task reduction collapses them into ONE state
    transition (the reference's staleness-drop semantics X3 applied across
    the collapsed ticks); set to 1 to mirror the reference's one-transition-
    per-NOTIFY-event cadence exactly.

    Exactly-once: diffs are appended BEFORE the state commit, keyed by
    (session_id, sequence_number, source). A crash between the two replays
    the batch against the uncommitted state, recomputes the identical diff,
    and appends it again — ``diff_log.read(dedup=True)`` collapses the
    replica. (Diff-after-state would instead LOSE the diff: on replay the
    transition sees the update already absorbed and emits None.) The
    batch holds the log's writer lock from its diff append until its
    state commit, then runs the log's merge round (``merge_tiers``), so
    the log's file count grows logarithmically in the batch count.

    Two execution paths per micro-batch, chosen by measured batch size —
    the same ``absorb``, state bucket layout, and commit protocol serve
    both, so they interleave freely on one store:

    - **small batch** (≤ ``small_batch_max_rows`` rows over all sources —
      the reference's cadence is 5 rows/tick): the batch's files are read
      driver-side and the whole join → latest-per-task → transition →
      diff append → MERGE runs on pyarrow with ZERO Spark jobs, one diff
      append and one state commit per batch. Spark job launch costs a
      fixed ~0.2 s on the test host regardless of data size, so a 5-row
      tick through the distributed plan pays ~7 job launches of pure
      overhead. This is how the 2-batches/s reference cadence is matched.
    - **large batch** (backlog absorption, backfill-scale): every source's
      rows in ONE bucket-aligned job (``apply_transition_batch``) — the
      write slice is broadcast against the cached pointer table (the IDE
      slice is self-timed), then each task reads, absorbs and rewrites
      the state buckets its sessions hash to and appends their diffs.
      This is the path that scales to 1000 executors; the threshold only
      decides who pays the per-job overhead.

    The checkpoint pointer lookup is cached across batches in both paths
    (driver dict keyed by checkpoint_id / cached DataFrame)."""
    from ..sources.checkpoints import ide_with_event_time, message_writes, with_event_time

    # one stream per source, in apply order; a stream's index is also its
    # file source's index in the checkpoint (``sources/<i>``)
    sources = [source] + (["ide"] if ide_dir is not None else [])

    def _writes_rows(writes: DataFrame) -> DataFrame:
        return message_writes(writes).select(
            "thread_id",
            F.col("task_path").alias("task_id"),
            "checkpoint_id",
            "blob",
            F.lit(None).cast("long").alias("ts_millis"),  # joined per batch
            F.lit(0).alias("stream"),
        )

    stream = read_writes_stream(spark, writes_dir, max_files_per_trigger)
    if ide_dir is not None:
        ide_reader = spark.readStream.schema(IDE_CHECKPOINTS_SCHEMA)
        if max_files_per_trigger is not None:
            ide_reader = ide_reader.option("maxFilesPerTrigger", max_files_per_trigger)
        ide = (
            ide_with_event_time(ide_reader.parquet(ide_dir))
            .filter(F.col("blob").isNotNull() & (F.length(F.col("blob")) > 0))
            .select(
                "thread_id",
                F.col("task_path").alias("task_id"),
                "checkpoint_id",
                "blob",
                "ts_millis",
                F.lit(1).alias("stream"),
            )
        )
        stream = _writes_rows(stream).unionByName(ide)

    def _stream_df(batch_df: DataFrame) -> DataFrame:
        # a single writes stream stays raw: planning a projection on every
        # micro-batch costs the engine ~6 ms per tick even when the batch is
        # read driver-side, so it is projected only when Spark reads it
        return batch_df if ide_dir is not None else _writes_rows(batch_df)

    cps_df_cache: list[DataFrame] = []
    cps_ts_cache: dict[str, int | None] = {}

    def _cps_ts_lookup(ids: set[str]) -> dict[str, int]:
        """checkpoint_id -> event-time millis from the pointer table's
        jsonb ($.ts), via a pyarrow predicate-pushdown read of only the
        missing ids (row groups prune on checkpoint_id)."""
        missing = [i for i in ids if i not in cps_ts_cache]
        if missing:
            import pyarrow.dataset as ds

            tbl = ds.dataset(checkpoints_path, format="parquet").to_table(
                columns=["checkpoint_id", "checkpoint"],
                filter=ds.field("checkpoint_id").isin(missing),
            )
            for cid, cp in zip(
                tbl.column("checkpoint_id").to_pylist(), tbl.column("checkpoint").to_pylist()
            ):
                try:
                    ts = json.loads(cp).get("ts") if cp else None
                except (ValueError, TypeError):
                    ts = None
                cps_ts_cache[cid] = _parse_ts_millis(ts)
            for cid in missing:
                cps_ts_cache.setdefault(cid, None)
        return {i: cps_ts_cache[i] for i in ids if cps_ts_cache.get(i) is not None}

    def _process_small(parts: list[list[dict]], now_ms: int) -> None:
        by_session: dict[str, list[list[dict]]] = {}
        for i, rows in enumerate(parts):
            ts_by_cp = _cps_ts_lookup({r["checkpoint_id"] for r in rows}) if i == 0 else {}
            for r in rows:
                ts = ts_by_cp.get(r["checkpoint_id"]) if i == 0 else r["ts_millis"]
                if ts is None:
                    continue  # no pointer row yet (as the inner join) or no event time
                by_session.setdefault(r["thread_id"], [[] for _ in sources])[i].append(
                    {
                        "task_id": r["task_id"],
                        "content": bytes(r["blob"]).decode("utf-8"),
                        "ts_millis": ts,
                        "checkpoint_id": r["checkpoint_id"],
                    }
                )
        if not by_session:
            return
        prior_rows = state_store.read_docs(list(by_session))
        state_rows, diff_rows = [], []
        for sid, per_source in by_session.items():
            row = prior_rows.get(sid)
            for src, rows in zip(sources, per_source):
                if rows:
                    row, diff_row = absorb(sid, row, rows, src, now_ms, ctx_providers)
                    if diff_row is not None:
                        diff_rows.append(diff_row)
            state_rows.append(row)
        # the writer lock keeps the log's merge rounds off this batch's
        # diffs until its state commit decides it
        with diff_log.writing():
            diff_log.append_rows(diff_rows)
            state_store.upsert_rows(state_rows)
        diff_log.merge_tiers()

    def _process_large(batch_df: DataFrame, present: list[bool], now_ms: int) -> None:
        from ..plans.backfill import apply_transition_batch

        parts = []
        for i, src in enumerate(sources):
            if not present[i]:
                continue
            part = _stream_df(batch_df).filter(F.col("stream") == i).drop("stream")
            if i == 0:
                if not cps_df_cache:
                    # materialized by the first transition job that reads it
                    cps_df_cache.append(
                        with_event_time(spark.read.parquet(checkpoints_path))
                        .select("checkpoint_id", "ts_millis")
                        .cache()
                    )
                # broadcast the batch slice against the (unbounded, cached)
                # pointer table; no argmax here — the transition reduces to
                # latest-per-task itself with the same tie-break
                part = F.broadcast(part.drop("ts_millis")).join(cps_df_cache[0], "checkpoint_id", "inner")
            parts.append(
                part.withColumn("content", F.decode(F.col("blob"), "UTF-8"))
                .drop("blob")
                .withColumn("source", F.lit(src))
            )
        # every source in one bucket-aligned job: a session absorbs its
        # sources in order inside its bucket's task
        apply_transition_batch(
            functools.reduce(DataFrame.unionByName, parts),
            state_store,
            diff_log,
            ctx_providers=ctx_providers,
            now_ms=now_ms,
        )

    def _log_offsets(batch_id: int) -> list[int] | None:
        """Each file source's log offset at the end of ``batch_id``, from
        the query's offset log: a version line, a metadata line, then one
        line per source — ``{"logOffset": n}``, or ``-`` before the
        source's first file."""
        if batch_id < 0:
            return [-1] * len(sources)
        try:
            with open(os.path.join(checkpoint_location, "offsets", str(batch_id))) as fh:
                lines = fh.read().splitlines()[2:]
            if len(lines) != len(sources):
                return None
            return [-1 if ln == "-" else int(json.loads(ln)["logOffset"]) for ln in lines]
        except (OSError, ValueError, KeyError, TypeError):
            return None

    def _source_log_files(i: int, log_id: int) -> list[str] | None:
        """The files one entry of file source ``i``'s metadata log records.
        Every 10th entry compacts (``<id>.compact`` holds ALL history), so
        entries are filtered by their batchId."""
        path = os.path.join(checkpoint_location, "sources", str(i), str(log_id))
        if not os.path.exists(path):
            path += ".compact"
        try:
            with open(path) as fh:
                lines = fh.read().splitlines()
        except OSError:
            return None
        files = []
        for ln in lines:
            if not ln.startswith("{"):
                continue  # version header
            try:
                entry = json.loads(ln)
            except ValueError:
                return None
            if "path" not in entry or "batchId" not in entry:
                return None  # unexpected layout: let the collect probe decide
            if entry["batchId"] != log_id:
                continue  # compacted history from earlier entries
            p = entry["path"]
            if p.startswith("file:"):
                from urllib.parse import unquote, urlparse

                p = unquote(urlparse(p).path)
            files.append(p)
        return files

    def _batch_files(batch_id: int) -> list[list[str]] | None:
        """Each source's files in this batch, read driver-side from the
        checkpoint's logs — replacing the per-tick probe JOB (~80 ms of
        pure scheduler overhead at the reference's 5-rows/tick cadence)
        with file reads. A source's log advances only in batches that give
        it new files, so its entries for this batch are those after the
        previous batch's offset. Any surprise in the layout returns None
        and the collect probe takes over."""
        starts, ends = _log_offsets(batch_id - 1), _log_offsets(batch_id)
        if starts is None or ends is None:
            return None
        out = []
        for i, (lo, hi) in enumerate(zip(starts, ends)):
            files: list[str] = []
            for log_id in range(lo + 1, hi + 1):
                entry_files = _source_log_files(i, log_id)
                if entry_files is None:
                    return None
                files.extend(entry_files)
            out.append(files)
        return out

    def _rows_from_files(files: list[list[str]]) -> list[list[dict]] | None:
        """Driver-side read of a small batch's files (zero Spark jobs).
        Row counts come from parquet footers first, so a backlog batch
        over the threshold never loads data driver-side."""
        import pyarrow.parquet as _pq

        try:
            total = sum(_pq.ParquetFile(f).metadata.num_rows for fs in files for f in fs)
            if total > small_batch_max_rows:
                return None
            return [
                _stream_rows(i, [r for f in fs for r in _pq.read_table(f).to_pylist()])
                for i, fs in enumerate(files)
            ]
        except (OSError, ValueError):
            return None

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        now_ms = int(time.time() * 1000)
        files = _batch_files(batch_id)
        if files is not None:
            if not any(files):
                return
            parts = _rows_from_files(files)
            if parts is not None:
                _process_small(parts, now_ms)
            else:
                _process_large(batch_df, [bool(fs) for fs in files], now_ms)
            return
        # fallback: one probe job doubles as the emptiness check and the
        # fast-path collect
        # bounded: limit(small_batch_max_rows + 1) caps the read regardless
        # of batch size
        probe = _stream_df(batch_df).limit(small_batch_max_rows + 1).collect()
        if len(probe) > small_batch_max_rows:
            _process_large(batch_df, [True] * len(sources), now_ms)
            return
        parts: list[list[dict]] = [[] for _ in sources]
        for r in probe:
            row = r.asDict()
            parts[row.pop("stream")].append(row)
        _process_small(parts, now_ms)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("update")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


# ---- applyInPandasWithState path (X1 keyed state inside Spark) ---------------

_OUTPUT_SCHEMA = T.StructType(
    DATA_STREAM_STATE_SCHEMA.fields
    + [
        T.StructField("source", T.StringType(), True),
        T.StructField("diff_data", T.StringType(), True),
        T.StructField("evicted", T.BooleanType(), True),
    ]
)


def make_stateful_update(ctx_providers=None, ttl_ms: int | None = None):
    """Build the keyed-state update function. Spark holds each session's
    state row (the state-table columns); the batch's rows go through
    ``absorb`` per source — cdc before ide, as in the foreachBatch
    pipeline; a row without a ``source`` is cdc — and each absorbed source
    emits its state row plus ``source`` and ``diff_data`` (null when
    nothing changed). Rows are stamped with the batch's processing time,
    so a replayed batch emits identical rows. ``ctx_providers`` (UD5) run
    inside the per-session group, so consume-once side inputs (X9) stay
    serialized per key exactly like the batch path.

    ``ttl_ms`` bounds state for idle sessions: each update re-arms a
    processing-time timeout; when it fires, the session's final state is
    emitted once more (flagged ``evicted``) and removed from the store.
    The durable copy lives in the MERGE-ed state table, so a session that
    wakes after eviction is re-seeded from the lake, not lost — state
    size tracks ACTIVE sessions, not all sessions ever seen."""

    def _stateful_update(key, pdfs, state: GroupState):
        session_id = key[0]
        if ttl_ms is not None and state.hasTimedOut:
            row = dict(zip(_STATE_COLS, state.get))
            state.remove()
            yield pd.DataFrame([{**row, "source": None, "diff_data": None, "evicted": True}])
            return
        by_source: dict[str, list[dict]] = {}
        for pdf in pdfs:
            for r in pdf.to_dict("records"):
                by_source.setdefault(r.get("source") or "cdc", []).append(r)
        if not by_source:
            return
        row = dict(zip(_STATE_COLS, state.get)) if state.exists else None
        now_ms = state.getCurrentProcessingTimeMs()
        out = []
        for src in ("cdc", "ide"):
            if src in by_source:
                row, diff_row = absorb(session_id, row, by_source[src], src, now_ms, ctx_providers)
                out.append({**row, "source": src, "diff_data": diff_row and diff_row["diff_data"], "evicted": False})
        state.update(tuple(row[c] for c in _STATE_COLS))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(out)

    return _stateful_update


def stateful_updates(joined_stream: DataFrame, ctx_providers=None, ttl_ms: int | None = None) -> DataFrame:
    """groupBy(session).applyInPandasWithState over pre-joined checkpoint
    rows (session_id, task_id, content, ts_millis, checkpoint_id, and an
    optional source)."""
    return joined_stream.groupBy("session_id").applyInPandasWithState(
        make_stateful_update(ctx_providers, ttl_ms),
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=DATA_STREAM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def run_stateful_pipeline(
    spark: SparkSession,
    joined_dir: str,
    checkpoint_location: str,
    query_name: str = "cdc_stateful",
    trigger: dict[str, Any] | None = None,
    output_path: str | None = None,
    ctx_providers=None,
    ttl_ms: int | None = None,
):
    """Stream pre-joined checkpoint rows through Spark-managed keyed state.

    ``joined_dir`` holds parquet rows with (session_id, task_id, content,
    ts_millis, checkpoint_id) — the shape ``latest_blobs_per_task``
    produces (a Kafka source would arrive pre-joined the same way) — and
    optionally ``source`` ('cdc' | 'ide'; missing means cdc).

    CAUTION: with ``ttl_ms`` set the query uses ProcessingTimeTimeout, and
    a ProcessingTimeTimeout query under ``trigger={'availableNow': True}``
    NEVER terminates on Spark 4.1 — the engine keeps scheduling batches in
    case a timer fires, so ``awaitTermination`` blocks forever. Run TTL
    queries with a continuous trigger and stop them explicitly.
    """
    schema = (
        "session_id string, task_id string, content string, "
        "ts_millis long, checkpoint_id string, source string"
    )
    stream = spark.readStream.schema(schema).parquet(joined_dir)
    out = stateful_updates(stream, ctx_providers, ttl_ms)
    writer = out.writeStream.queryName(query_name).option(
        "checkpointLocation", checkpoint_location
    )
    if trigger:
        writer = writer.trigger(**trigger)
    if output_path:
        return writer.outputMode("append").format("parquet").option("path", output_path).start()
    return writer.outputMode("append").format("memory").start()
