"""Property tests for the state transition (X2/X3/X6 invariants).

These pin the semantic contract the reference implements imperatively:
idempotent replay, permutation-invariance, last-write-wins vs __start__
accumulation, monotone sequence numbers, an input document the transition
leaves untouched, and a state row whose size does not grow with the
session's age.
"""

from __future__ import annotations

import copy
import json

from hypothesis import given, settings
from hypothesis import strategies as st

from cdc_agents_data_stream_spark.operators.merge import transition
from cdc_agents_data_stream_spark.plans.backfill import doc_to_state_row

TASKS = ["a", "b", "with__start__"]


def _item(task: str, ts: int, body: str):
    return {
        "task_id": task,
        "content": body,
        "timestamp": ts,
        "thread_id": "s",
        "checkpoint_id": f"cp-{task}-{ts}",
    }


batches = st.lists(
    st.lists(
        st.tuples(
            st.sampled_from(TASKS),
            st.integers(min_value=0, max_value=50),
            st.text(alphabet="xy\n", min_size=0, max_size=6),
        ),
        min_size=1,
        max_size=4,
        unique_by=lambda t: t[0],  # one item per task per batch (post-argmax shape)
    ),
    min_size=1,
    max_size=6,
)


def _run(batch_list):
    doc = None
    for batch in batch_list:
        doc, _ = transition(doc, "s", [_item(*t) for t in batch], source="cdc")
    return doc


@settings(max_examples=60, deadline=None)
@given(batches)
def test_replay_idempotent(batch_list):
    """Re-applying the final batch never changes state or seq (X3)."""
    doc = _run(batch_list)
    doc2, diff2 = transition(
        dict(doc), "s", [_item(*t) for t in batch_list[-1]], source="cdc"
    )
    assert diff2 is None
    assert doc2["sequence_number"] == doc["sequence_number"]
    assert doc2["cdc_content"] == doc["cdc_content"]


@settings(max_examples=60, deadline=None)
@given(batches)
def test_seq_monotone_and_bounded(batch_list):
    """Seq never decreases and increases at most once per batch (X6)."""
    doc, seqs = None, [0]
    for batch in batch_list:
        doc, _ = transition(doc, "s", [_item(*t) for t in batch], source="cdc")
        seqs.append(doc["sequence_number"])
    assert all(b - a in (0, 1) for a, b in zip(seqs, seqs[1:]))


@settings(max_examples=60, deadline=None)
@given(batches)
def test_lww_and_start_accumulation(batch_list):
    """Non-__start__ tasks hold exactly the newest absorbed item; __start__
    tasks accumulate history deduped by timestamp (X2)."""
    doc = _run(batch_list)
    # independent model of X2+X3: stale drop applies only when the stored
    # newest item is non-blank (CheckpointDao.java:45-49), LWW replaces,
    # __start__ accumulates deduped by timestamp
    stored: dict[str, list[tuple[int, str]]] = {}
    for batch in batch_list:
        for task, ts, body in batch:
            items = stored.get(task)
            if items:
                lts, lbody = max(items)
                if lbody and lts > ts:
                    continue  # stale drop
            if not items:
                stored[task] = [(ts, body)]
            elif "__start__" in task:
                if all(t != ts for t, _ in items):
                    items.append((ts, body))
            else:
                stored[task] = [(ts, body)]
    assert set(doc["cdc_content"]) == set(stored)
    for task, items in doc["cdc_content"].items():
        got = sorted((i["timestamp"], i["content"]) for i in items)
        assert got == sorted(stored[task])


@settings(max_examples=60, deadline=None)
@given(batches, st.booleans())
def test_transition_leaves_input_unmodified(batch_list, with_ctx):
    """The transition copies only what it changes; the caller's document
    (content lists, ctx list, items) equals its pre-call snapshot."""
    providers = [lambda doc: {"type": "environment", "sessionId": doc["session_id"]}]
    doc = None
    for batch in batch_list:
        snapshot = copy.deepcopy(doc)
        new_doc, _ = transition(
            doc, "s", [_item(*t) for t in batch], source="cdc",
            ctx_providers=providers if with_ctx else None,
        )
        assert doc == snapshot
        doc = new_doc


def test_state_row_size_bounded_in_session_age():
    """One session, 1000 ticks of fixed-size last-write-wins content, every
    tick a real change: the serialized state row at seq 1000 is at most
    1.1x its size at seq 10 (diff history is in the diff log, not the row)."""
    tasks = [f"task-{k}" for k in range(5)]
    doc, sizes = None, {}
    for tick in range(1, 1001):
        items = [_item(t, tick, f"tick {tick:06d} {t}\n" + "x" * 200) for t in tasks]
        doc, diff = transition(doc, "s", items, source="cdc")
        assert diff is not None and doc["sequence_number"] == tick
        if tick in (10, 1000):
            sizes[tick] = len(json.dumps(doc_to_state_row(doc, 0)))
    assert sizes[1000] <= 1.1 * sizes[10], sizes
