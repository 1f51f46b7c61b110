"""Per-session state-document merge policy and transition function.

Pure Python on plain dicts — this is the keyed-state transition behind
``streaming.pipeline.absorb``, the one adapter every execution path calls:
the streaming pipeline's driver fast path, the backfill's
``repartition(session)`` + ``mapInArrow`` transition, and
``applyInPandasWithState``. Keeping it pure makes the semantics
unit-testable without a JVM.

Reference semantics:

- **Merge policy (X2)** — per task key, last-write-wins (replace the list
  with the newest item), EXCEPT keys containing ``__start__`` which
  accumulate history deduped by timestamp
  (service/DataStreamService.java:72-93).
- **Staleness gate (X3)** — an incoming item for a task is skipped when the
  stored latest item for that task is strictly newer and non-blank
  (dao/CheckpointDao.java:33-56, dao/CdcCheckpointDao.java:37-49).
- **Monotone sequence number (X6)** — each absorbed update bumps the
  session's sequence number; diffs and ctx items are stamped with it
  (service/DiffService.java:70, subscriber/ctx/ContextService.java:40-44).
  NOTE: the reference declares but never calls
  ``incrementSequenceNumber`` (entity/CdcAgentsDataStream.java:62-65), so
  its persisted seq stays 0 and every diff is stamped 1 — a defect; this
  engine implements the documented intent (monotone increment).
- **Read-repair (X4)** is intentionally dropped: within a Spark micro-batch
  the newest row per task is selected deterministically (``max_by``), and
  across batches X3 applies, which supersedes the reference's re-query loop
  (dao/CheckpointDao.java:58-82).

State document shape (entity/CdcAgentsDataStream.java:28-65):
``{session_id, sequence_number, cdc_content, ide_content, metadata, ctx}``
where content maps are
``{task_id: [{content, timestamp, thread_id, checkpoint_id, task_id}]}``.
The reference also appends every diff to the entity's
``cdcCheckpointDiffs`` / ``ideCheckpointDiffs`` columns; here ``transition``
only returns the diff and the caller appends it to the diff log
(``state.store.ParquetAppendLog``), so the document stays bounded by the
current content instead of growing with the session's age. Diff history is
read back with ``ParquetAppendLog.read(dedup=True)``.
"""

from __future__ import annotations

from typing import Any, Callable

from ..functions.diffkernel import diff_task_maps

START_KEY_MARKER = "__start__"

# ``__start__`` keys accumulate history instead of LWW-replacing — by design
# unbounded in the reference (DataStreamService.java:72-93). A state document
# must stay micro-batch-sized, so the history is capped: oldest entries are
# trimmed beyond this many items (the diff log retains the full history).
START_HISTORY_MAX = 1024


def new_state(session_id: str) -> dict[str, Any]:
    return {
        "session_id": session_id,
        "sequence_number": 0,
        "cdc_content": {},
        "ide_content": {},
        "metadata": {},
        "ctx": [],
    }


def skip_parsing_checkpoint(task_items: list[dict[str, Any]] | None, ts: Any) -> bool:
    """X3: True when the stored latest item for this task is strictly newer
    than the incoming timestamp (and has non-blank content)."""
    if not task_items:
        return False
    latest = max(task_items, key=lambda it: it["timestamp"])
    if not latest.get("content"):
        return False
    if latest["timestamp"] is None or ts is None:
        return False
    return latest["timestamp"] > ts


def merge_item(content_map: dict[str, list[dict[str, Any]]], task_id: str, item: dict[str, Any]) -> None:
    """X2 merge policy (mutates ``content_map``)."""
    existing = content_map.get(task_id)
    if existing is None:
        content_map[task_id] = [item]
    elif START_KEY_MARKER in task_id:
        if all(it["timestamp"] != item["timestamp"] for it in existing):
            existing.append(item)
            if len(existing) > START_HISTORY_MAX:
                del existing[: len(existing) - START_HISTORY_MAX]
    else:
        existing.clear()
        existing.append(item)


def transition(
    state: dict[str, Any] | None,
    session_id: str,
    new_items: list[dict[str, Any]],
    source: str = "cdc",
    ctx_providers: list[Callable[[dict[str, Any]], dict[str, Any] | None]] | None = None,
) -> tuple[dict[str, Any], dict[str, Any] | None]:
    """Absorb a batch of checkpoint items into the session state document.

    ``new_items`` rows are ``{task_id, content, timestamp, thread_id,
    checkpoint_id}``; normally the caller already reduced them to the latest
    per task, but the argmax is re-applied here for safety
    (service/DataStreamService.java:134-140).

    Returns ``(new_state, diff_doc_or_None)``. The state is always returned
    (and should be persisted) even when the diff is empty — the reference
    saves unconditionally after addCtx (service/DataStreamService.java:42-54).
    The diff is not recorded in the state; persisting it is the caller's job.

    ``state`` is left unmodified: the returned document is a shallow copy
    whose changed content map and ctx list are new objects (items themselves
    are shared, never mutated).
    """
    content_key = f"{source}_content"
    state = dict(state) if state is not None else new_state(session_id)

    # A1: argmax per task by (timestamp, checkpoint_id) — same deterministic
    # tie-break as the DataFrame-side max_by in operators/latest.py, so
    # feeding unreduced rows through here matches the windowed reduction.
    newest_per_task: dict[str, dict[str, Any]] = {}
    for item in new_items:
        cur = newest_per_task.get(item["task_id"])
        if cur is None or (item["timestamp"], item.get("checkpoint_id") or "") > (
            cur["timestamp"],
            cur.get("checkpoint_id") or "",
        ):
            newest_per_task[item["task_id"]] = item

    prev_content = state[content_key]
    # per-task list copies: merge_item mutates the lists of the map it is given
    next_content = {task_id: list(items) for task_id, items in prev_content.items()}
    for task_id, item in newest_per_task.items():
        if skip_parsing_checkpoint(prev_content.get(task_id), item["timestamp"]):
            continue  # X3: stale event dropped
        merge_item(next_content, task_id, item)

    seq = state["sequence_number"] + 1
    diff_doc = diff_task_maps(prev_content, next_content, seq)

    state[content_key] = next_content

    ctx_added = False
    for provider in ctx_providers or []:
        ctx_item = provider(state)
        if ctx_item is not None:
            ctx_item = dict(ctx_item)
            ctx_item["sequenceNumber"] = seq
            state["ctx"] = state.get("ctx", []) + [ctx_item]
            ctx_added = True

    # The seq advances only when something was stamped with it, so no-op
    # replays don't inflate it (the reference stamps seq+1 on diffs/ctx but
    # never persists an increment — see module docstring).
    if diff_doc is not None or ctx_added:
        state["sequence_number"] = seq

    return state, diff_doc
