"""Unit tests for the state-transition merge policy (X2/X3/X6)."""

from __future__ import annotations

import json

from cdc_agents_data_stream_spark.operators.merge import (
    merge_item,
    new_state,
    skip_parsing_checkpoint,
    transition,
)


def item(task, content, ts):
    return {
        "task_id": task,
        "content": content,
        "timestamp": ts,
        "thread_id": "th",
        "checkpoint_id": f"cp-{ts}",
    }


def test_last_write_wins():
    m = {}
    merge_item(m, "t", item("t", "a", 1))
    merge_item(m, "t", item("t", "b", 2))
    assert [i["content"] for i in m["t"]] == ["b"]


def test_start_key_accumulates_dedup_by_ts():
    m = {}
    k = "task__start__x"
    merge_item(m, k, item(k, "a", 1))
    merge_item(m, k, item(k, "b", 2))
    merge_item(m, k, item(k, "b-dup", 2))  # same ts -> dropped
    assert [i["content"] for i in m[k]] == ["a", "b"]


def test_staleness_gate():
    items = [item("t", "new", 10)]
    assert skip_parsing_checkpoint(items, 5) is True  # stored newer -> skip
    assert skip_parsing_checkpoint(items, 10) is False  # equal -> process
    assert skip_parsing_checkpoint(items, 15) is False
    assert skip_parsing_checkpoint(None, 5) is False
    assert skip_parsing_checkpoint([], 5) is False
    # blank stored content never blocks (F5 guard)
    assert skip_parsing_checkpoint([item("t", "", 10)], 5) is False


def test_transition_creates_state_and_diff():
    state, diff = transition(None, "s1", [item("t1", "l1\nl2", 100)])
    assert state["sequence_number"] == 1
    assert list(state["cdc_content"]) == ["t1"]
    assert diff is not None and diff["sequenceNumber"] == 1
    ch = diff["diffData"]["t1"]["changes"][0]["change"]
    assert ch["type"] == "insert_content"
    assert ch["linesToAdd"] == {"start": 0, "end": 2}


def test_transition_noop_does_not_bump_seq():
    state, diff = transition(None, "s1", [item("t1", "same", 100)])
    state2, diff2 = transition(state, "s1", [item("t1", "same", 100)])
    assert diff2 is None
    assert state2["sequence_number"] == state["sequence_number"]
    # but the state is still returned for the unconditional save
    assert state2["cdc_content"] == state["cdc_content"]


def test_transition_stale_event_dropped():
    state, _ = transition(None, "s1", [item("t1", "newer", 200)])
    state2, diff2 = transition(state, "s1", [item("t1", "older", 100)])
    assert diff2 is None
    assert state2["cdc_content"]["t1"][0]["content"] == "newer"


def test_transition_argmax_within_batch():
    # X4 read-repair replacement: newest row per task wins inside a batch
    state, diff = transition(
        None, "s1", [item("t1", "v1", 100), item("t1", "v2", 300), item("t1", "v1.5", 200)]
    )
    assert state["cdc_content"]["t1"][0]["content"] == "v2"


def test_transition_sequences_and_diff_log():
    state, d1 = transition(None, "s1", [item("t1", "a", 1)])
    state, d2 = transition(state, "s1", [item("t1", "b", 2)])
    state, d3 = transition(state, "s1", [item("t1", "c", 3)])
    assert [d["sequenceNumber"] for d in (d1, d2, d3)] == [1, 2, 3]
    assert state["sequence_number"] == 3
    # the diff history lives in the diff log, not in the state document
    assert set(state) == {
        "session_id", "sequence_number", "cdc_content", "ide_content", "metadata", "ctx"
    }


def test_dual_stream_disjoint_columns():
    state, d_cdc = transition(None, "s1", [item("t1", "cdc-data", 1)], source="cdc")
    state, d_ide = transition(state, "s1", [item("t1", "ide-data", 2)], source="ide")
    assert state["cdc_content"]["t1"][0]["content"] == "cdc-data"
    assert state["ide_content"]["t1"][0]["content"] == "ide-data"
    assert [d["sequenceNumber"] for d in (d_cdc, d_ide)] == [1, 2]


def test_ctx_provider_stamped_with_seq():
    provider = lambda st: {"type": "test-report", "testReports": {"r": "ok"}}  # noqa: E731
    state, _ = transition(None, "s1", [item("t1", "a", 1)], ctx_providers=[provider])
    assert state["ctx"][0]["sequenceNumber"] == 1
    assert state["ctx"][0]["type"] == "test-report"


def test_start_history_capped(monkeypatch):
    # X2 accumulate keys are capped so state documents stay bounded
    # (merge.START_HISTORY_MAX); oldest entries trim first, diffs keep all.
    from cdc_agents_data_stream_spark.operators import merge as M

    monkeypatch.setattr(M, "START_HISTORY_MAX", 16)
    state = None
    n = 16 + 5
    for ts in range(1, n + 1):
        state, _ = transition(state, "s1", [item("t__start__", f"v{ts}", ts)])
    hist = state["cdc_content"]["t__start__"]
    assert len(hist) == 16
    assert hist[0]["content"] == f"v{n - 16 + 1}"
    assert hist[-1]["content"] == f"v{n}"


_HASH_SEED_SCRIPT = """
import json
from cdc_agents_data_stream_spark.operators.merge import transition

tasks = [f"task-{i}" for i in range(12)] + ["a__start__", "z", "caf\\u00e9"]
state, out = None, []
for tick in range(3):
    items = [
        {"task_id": t, "content": f"{t} line {tick}\\nshared", "timestamp": tick,
         "thread_id": "th", "checkpoint_id": f"cp-{tick}"}
        for i, t in enumerate(tasks) if (i + tick) % 3
    ]
    state, diff = transition(state, "th", items)
    out.append(json.dumps(diff))
print(json.dumps(state["cdc_content"]))
print("\\n".join(out))
"""


def test_diff_bytes_do_not_depend_on_the_hash_seed():
    """The same transition sequence run under two string-hash seeds prints
    byte-identical diff documents (tasks in sorted order), so a replay on
    another process or a Spark worker writes the same ``diff_data``."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outs = []
    for seed in ("1", "2"):
        env = {**os.environ, "PYTHONHASHSEED": seed}
        outs.append(
            subprocess.run(
                [sys.executable, "-c", _HASH_SEED_SCRIPT],
                cwd=root, env=env, capture_output=True, text=True, check=True,
            ).stdout
        )
    assert outs[0] == outs[1]
    diff = json.loads(outs[0].splitlines()[1])
    assert list(diff["diffData"]) == sorted(diff["diffData"])
