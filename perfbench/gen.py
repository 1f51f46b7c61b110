"""Seeded input generator for the CDC benchmark.

Produces the two tables the engine reads — ``checkpoint_writes`` and the
``checkpoints`` pointer rows — for a stationary population of agent
sessions. Everything derives from the seed: session ids, checkpoint ids,
event times and the late/duplicate draws (no ``uuid4``, no wall clock).

Knobs (``Population``):

- ``slots`` concurrent sessions; a session lives ``lifetime`` ticks and is
  then replaced by a fresh one in the same slot. Slot ``j`` starts at age
  ``j * stagger`` so ages are spread and the population is stationary.
- ``growth`` messages appended to every task's message list per tick.
- ``late_share`` / ``dup_share``: chance that a tick also carries a late
  checkpoint (older event time, new checkpoint id) or an exact replay of
  the slot's previous checkpoint. Both must leave content unchanged.
- ``zipf_s`` (``zipf_keys``): skew of session popularity for readers.

An event is one checkpoint of one session: one pointer row plus five
``messages/list`` write rows (one of them a ``__start__`` task) and one
noise row that the engine's channel/type filter drops.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

TASKS = ("0_task", "1_task", "2_task", "3_task__start__", "4_task")
EPOCH_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z, event-time origin
TICK_MS = 500  # the reference cadence: one checkpoint per session per tick
NORMAL, LATE, DUP = 0, 1, 2

WRITES_SCHEMA = pa.schema(
    [
        ("thread_id", pa.string()),
        ("checkpoint_ns", pa.string()),
        ("checkpoint_id", pa.string()),
        ("task_id", pa.string()),
        ("idx", pa.int32()),
        ("channel", pa.string()),
        ("type", pa.string()),
        ("blob", pa.binary()),
        ("task_path", pa.string()),
    ]
)
CHECKPOINTS_SCHEMA = pa.schema(
    [
        ("thread_id", pa.string()),
        ("checkpoint_ns", pa.string()),
        ("checkpoint_id", pa.string()),
        ("parent_checkpoint_id", pa.string()),
        ("type", pa.string()),
        ("checkpoint", pa.string()),
        ("metadata", pa.string()),
    ]
)


@dataclass(frozen=True)
class Population:
    slots: int
    lifetime: int  # ticks a session lives before its slot gets a new one
    stagger: int  # initial age offset between consecutive slots, in ticks
    growth: int = 1  # messages appended per task per tick
    late_share: float = 0.0
    dup_share: float = 0.0


@dataclass(frozen=True)
class Event:
    tick: int  # global tick that carries (publishes) this event
    slot: int
    session_id: str
    age: int  # age of the session at the event's own checkpoint
    kind: int  # NORMAL | LATE | DUP
    checkpoint_id: str
    ts_ms: int  # event time
    n_messages: int


def session_id(seed: int, slot: int, generation: int) -> str:
    # fixed width: the seed's digit count must not change the bytes stored
    return f"s{seed & 0xFFFFFFFF:08x}-{slot:03d}-{generation:04d}"


def schedule(seed: int, pop: Population, n_ticks: int) -> list[Event]:
    """Every slot emits one NORMAL checkpoint per tick for ``n_ticks``
    ticks; a tick may also carry one LATE or DUP event for the slot's
    session (only when that session already has an earlier checkpoint).
    Events are ordered by (tick, slot, kind)."""
    rng = np.random.default_rng(seed)
    ticks = np.arange(n_ticks)
    draws = rng.random((n_ticks, pop.slots))
    events: list[Event] = []
    for j in range(pop.slots):
        abs_age = ticks + j * pop.stagger
        ages = abs_age % pop.lifetime
        gens = abs_age // pop.lifetime
        for k in range(n_ticks):
            a, g = int(ages[k]), int(gens[k])
            sid = session_id(seed, j, g)
            ts = EPOCH_MS + int(abs_age[k]) * TICK_MS + j
            cid = f"cp-{sid}-{a:04d}"
            events.append(Event(k, j, sid, a, NORMAL, cid, ts, pop.growth * (a + 1)))
            if a == 0:
                continue
            u = draws[k, j]
            if u < pop.late_share:
                # created between the previous and this checkpoint, delivered
                # after this one: stale on arrival (X3 drops it)
                events.append(
                    Event(k, j, sid, a - 1, LATE, f"{cid}-late", ts - TICK_MS // 2,
                          pop.growth * a)
                )
            elif u < pop.late_share + pop.dup_share:
                # exact replay of the previous checkpoint (same id, same rows)
                events.append(
                    Event(k, j, sid, a - 1, DUP, f"cp-{sid}-{a - 1:04d}", ts - TICK_MS,
                          pop.growth * a)
                )
    events.sort(key=lambda e: (e.tick, e.slot, e.kind))
    return events


class BlobCache:
    """JSON message lists, built incrementally per (session, task): the
    list at n messages is the list at n-1 plus one message."""

    def __init__(self) -> None:
        self._msgs: dict[tuple[str, str], list[str]] = {}

    def blob(self, sid: str, task: str, n: int) -> bytes:
        msgs = self._msgs.setdefault((sid, task), [])
        for i in range(len(msgs), n):
            role = "ai" if i % 2 == 0 else "human"
            msgs.append(
                '{"type":"%s","content":["%s %s message %d"],"id":"m-%s-%s-%d",'
                '"example":false,"additional_kwargs":{},"response_metadata":{}}'
                % (role, sid, task, i, sid, task, i)
            )
        return ("[" + ",".join(msgs[:n]) + "]").encode()


def _ts_text(ts_ms: np.ndarray) -> list[str]:
    text = np.datetime_as_string(ts_ms.astype("datetime64[ms]").astype("datetime64[us]"), unit="us")
    return [t.replace("T", " ") for t in text.tolist()]


def checkpoints_table(events: list[Event]) -> pa.Table:
    """One pointer row per distinct checkpoint id (a DUP reuses its
    original's row); event time lives in the ``checkpoint`` json at $.ts."""
    seen: dict[str, Event] = {}
    for e in events:
        seen.setdefault(e.checkpoint_id, e)
    rows = list(seen.values())
    ts = _ts_text(np.array([e.ts_ms for e in rows], dtype=np.int64))
    n = len(rows)
    return pa.table(
        {
            "thread_id": [e.session_id for e in rows],
            "checkpoint_ns": [""] * n,
            "checkpoint_id": [e.checkpoint_id for e in rows],
            "parent_checkpoint_id": [None] * n,
            "type": [None] * n,
            "checkpoint": [json.dumps({"ts": t, "v": 1}) for t in ts],
            "metadata": ["{}"] * n,
        },
        schema=CHECKPOINTS_SCHEMA,
    )


def writes_table(events: list[Event], blobs: BlobCache) -> pa.Table:
    """Six write rows per event: the five task message lists plus one
    ``values/blob`` noise row."""
    thread, cid, task, idx, channel, typ, blob = [], [], [], [], [], [], []
    for e in events:
        for t in TASKS:
            thread.append(e.session_id)
            cid.append(e.checkpoint_id)
            task.append(t)
            idx.append(0)
            channel.append("messages")
            typ.append("list")
            blob.append(blobs.blob(e.session_id, t, e.n_messages))
        thread.append(e.session_id)
        cid.append(e.checkpoint_id)
        task.append("noise")
        idx.append(1)
        channel.append("values")
        typ.append("blob")
        blob.append(b"ignored")
    n = len(thread)
    return pa.table(
        {
            "thread_id": thread,
            "checkpoint_ns": [""] * n,
            "checkpoint_id": cid,
            "task_id": task,
            "idx": pa.array(idx, pa.int32()),
            "channel": channel,
            "type": typ,
            "blob": blob,
            "task_path": task,
        },
        schema=WRITES_SCHEMA,
    )


def zipf_keys(seed: int, keys: list[str], s: float, n: int) -> list[str]:
    """``n`` draws from ``keys`` with P(rank r) proportional to 1/r^s; the
    rank order itself is a seeded permutation of ``keys``."""
    rng = np.random.default_rng(seed)
    order = rng.permutation(len(keys))
    p = 1.0 / np.arange(1, len(keys) + 1) ** s
    picks = rng.choice(len(keys), size=n, p=p / p.sum())
    return [keys[order[i]] for i in picks]
