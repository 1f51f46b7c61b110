"""Correctness checks that do not go through the engine.

- ``duckdb_latest``: DuckDB computes the latest blob per (session, task)
  over the writes ⋈ pointer rows, with the engine's filter and tie-break.
- ``replay``: the generator's own model of the merge policy gives each
  session's expected transitions, diffs and sequence number from the
  events and the batches that carried them.
- ``compare_state``: stored state rows against both.
- ``duckdb_results`` / ``result_key``: analytics answers from each query's
  DuckDB oracle SQL, in a form the Spark answers are compared with.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pyarrow as pa

from gen import TASKS, Event

START_MARKER = "__start__"


def duckdb_latest(writes: pa.Table, checkpoints: pa.Table) -> dict[tuple[str, str], str]:
    """(session, task) -> content of the newest message-list blob, by
    (event time, checkpoint id)."""
    con = duckdb.connect()
    try:
        con.register("w", writes)
        con.register("c", checkpoints)
        rows = con.execute(
            """
            WITH j AS (
              SELECT w.thread_id, w.task_path, w.checkpoint_id, w.blob,
                     epoch_ms(CAST(json_extract_string(c.checkpoint, '$.ts') AS TIMESTAMP)) AS ts
              FROM w JOIN c USING (checkpoint_id)
              WHERE w.channel = 'messages' AND w.type = 'list'
                AND w.blob IS NOT NULL AND octet_length(w.blob) > 0
            )
            SELECT thread_id, task_path, decode(blob) FROM (
              SELECT *, row_number() OVER (
                PARTITION BY thread_id, task_path ORDER BY ts DESC, checkpoint_id DESC) AS rn
              FROM j)
            WHERE rn = 1
            """
        ).fetchall()
    finally:
        con.close()
    return {(s, t): c for s, t, c in rows}


class SessionModel:
    __slots__ = ("items", "transitions", "diffs", "seq")

    def __init__(self) -> None:
        # task -> list of (ts, checkpoint_id, n_messages); one entry for
        # last-write-wins tasks, the deduped history for __start__ tasks
        self.items: dict[str, list[tuple[int, str, int]]] = {}
        self.transitions = 0
        self.diffs = 0
        self.seq = 0


def replay(batches: list[list[Event]], with_ctx: bool) -> dict[str, SessionModel]:
    """Apply the documented merge policy batch by batch: argmax per task
    by (ts, checkpoint id), a stale item (stored latest strictly newer) is
    dropped, ``__start__`` tasks keep a history deduped by ts, others are
    replaced. A transition bumps seq when it changed content or when a ctx
    provider stamped an item (providers here always emit one)."""
    models: dict[str, SessionModel] = {}
    for batch in batches:
        per_session: dict[str, dict[str, tuple[int, str, int]]] = {}
        for e in batch:
            tasks = per_session.setdefault(e.session_id, {})
            item = (e.ts_ms, e.checkpoint_id, e.n_messages)
            for t in TASKS:
                cur = tasks.get(t)
                if cur is None or item[:2] > cur[:2]:
                    tasks[t] = item
        for sid, tasks in per_session.items():
            m = models.setdefault(sid, SessionModel())
            changed = False
            for t, item in tasks.items():
                stored = m.items.get(t)
                if stored and max(stored)[0] > item[0]:
                    continue  # stale
                if stored is None:
                    m.items[t] = [item]
                    changed = True
                elif START_MARKER in t:
                    if all(s[0] != item[0] for s in stored):
                        stored.append(item)
                        changed = True
                elif stored != [item]:
                    m.items[t] = [item]
                    changed = True
            m.transitions += 1
            m.diffs += int(changed)
            if changed or with_ctx:
                m.seq += 1
    return models


def content_latest(cdc_content_json: str) -> dict[str, str]:
    """task -> content of the newest stored item of a state row."""
    cmap = json.loads(cdc_content_json or "{}")
    return {t: max(items, key=lambda it: it["timestamp"])["content"] for t, items in cmap.items() if items}


def compare_state(
    state_rows: dict[str, dict],
    expected_latest: dict[tuple[str, str], str],
    models: dict[str, SessionModel],
    diff_counts: dict[str, tuple[int, int, int]],
) -> list[str]:
    """Return one message per mismatch (empty when all hold).
    ``diff_counts``: session -> (rows, min seq, max seq) of the
    deduplicated diff log."""
    errors: list[str] = []
    sessions = {s for s, _ in expected_latest}
    if set(state_rows) != sessions:
        errors.append(f"state holds {len(state_rows)} sessions, expected {len(sessions)}")
    for sid in sorted(sessions & set(state_rows)):
        row = state_rows[sid]
        got = content_latest(row["cdc_content"])
        for t in TASKS:
            if got.get(t) != expected_latest.get((sid, t)):
                errors.append(f"{sid}/{t}: stored content differs from DuckDB latest")
                break
        m = models[sid]
        if int(row["sequence_number"]) != m.seq:
            errors.append(f"{sid}: seq {row['sequence_number']} != model {m.seq}")
        n, lo, hi = diff_counts.get(sid, (0, 0, 0))
        if n != m.diffs:
            errors.append(f"{sid}: {n} diff rows != model {m.diffs}")
        elif n and m.diffs == m.seq and (lo, hi) != (1, m.seq):
            errors.append(f"{sid}: diff seqs span {lo}..{hi}, expected 1..{m.seq}")
    return errors


def diff_counts(diff_log) -> dict[str, tuple[int, int, int]]:
    """Per-session (rows, min seq, max seq) of ``read(dedup=True)``."""
    from pyspark.sql import functions as F

    rows = (
        diff_log.read(dedup=True)
        .groupBy("session_id")
        .agg(F.count("*"), F.min("sequence_number"), F.max("sequence_number"))
        .collect()
    )
    return {r[0]: (int(r[1]), int(r[2]), int(r[3])) for r in rows}



# -- analytics -------------------------------------------------------------------


def result_key(rows) -> list[tuple]:
    """Query result rows as a sorted list of tuples, floats rounded to 6
    places: the form two engines' answers are compared in."""

    def norm(v):
        if isinstance(v, float):
            return round(v, 6)
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v

    return sorted((tuple(norm(v) for v in r) for r in rows), key=repr)


def fingerprint(rows) -> str:
    return hashlib.sha1(repr(result_key(rows)).encode()).hexdigest()


def duckdb_results(tables_dir: str, names: list[str], oracles: dict[str, str]) -> dict[str, list[tuple]]:
    """Each query's answer from its DuckDB oracle SQL over the same
    parquet tables."""
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(tables_dir)):
            t = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(tables_dir, f)}')")
        return {n: result_key(con.execute(oracles[n]).fetchall()) for n in names}
    finally:
        con.close()
