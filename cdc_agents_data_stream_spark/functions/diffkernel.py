"""Pure-Python line-diff kernel producing the reference's change documents.

Semantics (reference: service/DiffService.java):

- For the union of task keys across previous/current content maps
  (DiffService.java:87-121):
  - key only in current  → one ``insert_content(start=0, count=#lines)`` per
    item, raw line split, timestamp = the item's own (createDiffAdd :143-150);
  - key only in previous → one ``remove_content(start=0, count=#lines)`` per
    item (createDiffRemove :167-174);
  - key in both → contents of each side are sorted by timestamp, concatenated
    with NO separator (parseTo :254-259), canonicalized
    (JSON-pretty-or-raw-split), then line-diffed; every emitted change carries
    timestamp = max timestamp across both sides' items (:184-190).
- Diff deltas map to ops (DiffService.java:194-220): change→``replace_content``
  (remove from source coords + insert from target coords), delete→
  ``remove_content``, insert→``insert_content``; equal runs are dropped.
- ``DiffRangeItem`` serializes as ``{"start": position, "end": COUNT}`` —
  ``end`` is a line COUNT, not an index (DiffService.java:242-252).
- Tasks whose change list is empty are dropped; an entirely-empty diff is
  suppressed (DiffService.java:53-56,123).

The diff algorithm here is ``difflib.SequenceMatcher`` (autojunk off), which
reproduces the reference's java-diff-utils Myers hunks on the full golden
corpus (tests/fixtures/diffservice); a property test additionally checks that
applying the ops reconstructs the target.

Two shortcuts keep the kernel cheap and its output byte-identical:

- A task whose concatenated text is equal on both sides is dropped before
  canonicalizing: equal text canonicalizes to equal lines, whose diff is
  empty, and empty tasks are dropped anyway. This covers every task a
  checkpoint did not touch and the stale (X3) and replayed checkpoints.
- ``SequenceMatcher`` splits the problem at the longest common run,
  ties going to the earliest start in ``a`` and then in ``b``; with no
  junk, each split only looks at its own sub-ranges. Let ``p > 0`` be the
  common prefix length. If no common run is longer than ``p``, the first
  split is exactly ``(0, 0, p)``: a run of length ``p`` starting at
  ``(0, 0)`` wins every tie. Nothing is left to its left, so the remaining
  opcodes are those of ``a[p:]`` against ``b[p:]``, shifted by ``p``. A run
  longer than ``p`` covers some ``i`` of ``a`` with ``i % (p + 1) == 0``,
  so extending each match ``a[i] == b[j]`` at those anchors proves or
  refutes the premise. When it is refuted, or checking it would cost more
  than a linear pass, the full matcher runs as before.
  ``tests/test_diffkernel.py`` pins both against the plain matcher.
"""

from __future__ import annotations

import difflib
from typing import Any

from .jsoncanon import canonicalize_lines, java_split_lines

INSERT = "insert_content"
REMOVE = "remove_content"
REPLACE = "replace_content"


def _insert(start: int, count: int, lines: list[str]) -> dict[str, Any]:
    return {"type": INSERT, "linesToAdd": {"start": start, "end": count}, "lines": list(lines)}


def _remove(start: int, count: int) -> dict[str, Any]:
    return {"type": REMOVE, "linesRemoved": {"start": start, "end": count}, "lines": []}


def _prefix_is_first_block(a: list[str], b: list[str], p: int) -> bool:
    """True when no common run of ``a`` and ``b`` is longer than ``p``.

    Any run of length ``p + 1`` covers an index ``i`` of ``a`` with
    ``i % (p + 1) == 0``, so only those anchors are extended, and only until
    the run through them passes ``p``. Also False when checking the anchors
    would cost more than a linear pass."""
    step, la, lb = p + 1, len(a), len(b)
    anchors = {a[i] for i in range(0, la, step)}
    where: dict[str, list[int]] = {}
    for j, line in enumerate(b):
        if line in anchors:
            where.setdefault(line, []).append(j)
    budget = 2 * (la + lb)
    for i in range(0, la, step):
        for j in where.get(a[i], ()):
            # the run through (i, j) is a[i - back + 1 : i + fwd]
            back = 1
            while back < step and back <= i and back <= j and a[i - back] == b[j - back]:
                back += 1
            fwd = 1
            while back + fwd <= step and i + fwd < la and j + fwd < lb and a[i + fwd] == b[j + fwd]:
                fwd += 1
            budget -= back + fwd
            if back + fwd - 1 > p or budget < 0:
                return False
    return True


def _opcodes(a: list[str], b: list[str]) -> list[tuple[str, int, int, int, int]]:
    """``SequenceMatcher(a=a, b=b, autojunk=False).get_opcodes()``, with the
    common prefix split off first whenever that provably leaves the result
    unchanged (see the module docstring)."""
    p, n = 0, min(len(a), len(b))
    while p < n and a[p] == b[p]:
        p += 1
    if p == len(a) == len(b):
        return [("equal", 0, p, 0, p)] if p else []
    if p == 0 or not _prefix_is_first_block(a, b, p):
        return difflib.SequenceMatcher(a=a, b=b, autojunk=False).get_opcodes()
    tail = difflib.SequenceMatcher(a=a[p:], b=b[p:], autojunk=False).get_opcodes()
    return [("equal", 0, p, 0, p)] + [
        (tag, i1 + p, i2 + p, j1 + p, j2 + p) for tag, i1, i2, j1, j2 in tail
    ]


def diff_lines(before: list[str], after: list[str]) -> list[dict[str, Any]]:
    """Line-level diff → list of change ops in source order."""
    ops: list[dict[str, Any]] = []
    for tag, i1, i2, j1, j2 in _opcodes(before, after):
        if tag == "equal":
            continue
        if tag == "replace":
            ops.append(
                {
                    "type": REPLACE,
                    "toRemove": _remove(i1, i2 - i1),
                    "toAddContent": _insert(j1, j2 - j1, after[j1:j2]),
                }
            )
        elif tag == "delete":
            ops.append(_remove(i1, i2 - i1))
        elif tag == "insert":
            ops.append(_insert(j1, j2 - j1, after[j1:j2]))
    return ops


def _concat_sorted(items: list[dict[str, Any]]) -> str:
    """Sort a task's items by timestamp and concatenate contents with no
    separator (reference parseTo, DiffService.java:254-259)."""
    return "".join(str(it["content"]) for it in sorted(items, key=lambda it: it["timestamp"]))


def diff_task_maps(
    previous: dict[str, list[dict[str, Any]]],
    current: dict[str, list[dict[str, Any]]],
    sequence_number: int,
) -> dict[str, Any] | None:
    """Diff two per-task content maps into the reference's diff document.

    Input items are ``{"content": str, "timestamp": sortable}``. Returns
    ``{"sequenceNumber": n, "diffData": {task: {"taskId", "changes"}}}`` or
    ``None`` when no task changed. Tasks appear in sorted key order, so the
    document's bytes do not depend on the process's string-hash seed.
    """
    diff_data: dict[str, Any] = {}
    for key in sorted(set(previous) | set(current)):
        if key not in previous:
            changes = [
                {
                    "change": _insert(0, len(lines), lines),
                    "timestamp": item["timestamp"],
                }
                for item in current[key]
                for lines in [java_split_lines(str(item["content"]))]
            ]
        elif key not in current:
            changes = [
                {
                    "change": _remove(0, len(java_split_lines(str(item["content"])))),
                    "timestamp": item["timestamp"],
                }
                for item in previous[key]
            ]
        else:
            prev_items, curr_items = previous[key], current[key]
            prev_text, curr_text = _concat_sorted(prev_items), _concat_sorted(curr_items)
            if prev_text == curr_text:
                continue  # equal text canonicalizes to equal lines: no changes
            max_ts = max(it["timestamp"] for it in list(prev_items) + list(curr_items))
            before = canonicalize_lines(prev_text)
            after = canonicalize_lines(curr_text)
            changes = [{"change": op, "timestamp": max_ts} for op in diff_lines(before, after)]
        if changes:
            diff_data[key] = {"taskId": key, "changes": changes}

    if not diff_data:
        return None
    return {"sequenceNumber": sequence_number, "diffData": diff_data}


def apply_ops(before: list[str], ops: list[dict[str, Any]]) -> list[str]:
    """Replay change ops onto ``before`` to reconstruct the target lines.

    Used by property tests (mirrors the reference's diff-replay helper,
    DiffServiceTest.java:134-239). Insert positions are target coordinates;
    remove positions are source coordinates, so removals are applied from a
    shadow copy while inserts index into the result being built.
    """
    result = list(before)
    offset = 0
    for op in ops:
        if op["type"] == REPLACE:
            rem, ins = op["toRemove"], op["toAddContent"]
            start = rem["linesRemoved"]["start"] + offset
            count = rem["linesRemoved"]["end"]
            result[start : start + count] = ins["lines"]
            offset += len(ins["lines"]) - count
        elif op["type"] == REMOVE:
            start = op["linesRemoved"]["start"] + offset
            count = op["linesRemoved"]["end"]
            del result[start : start + count]
            offset -= count
        elif op["type"] == INSERT:
            start = op["linesToAdd"]["start"]  # target coordinates
            result[start:start] = op["lines"]
            offset += len(op["lines"])
    return result
