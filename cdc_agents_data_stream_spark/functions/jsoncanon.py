"""JSON canonicalization for stable line diffs.

The reference canonicalizes checkpoint payloads before diffing by parsing
them as JSON and re-serializing with Jackson's default pretty printer, so
that line splits are stable across producers; non-JSON content falls back to
a raw line split (reference: service/DiffService.java:227-240).

This module reproduces that observable behavior:

- objects print one entry per line, two-space indent per nesting level,
  ``"key" : value`` (space around the colon — Jackson's default);
- arrays print on a single line as ``[ v1, v2 ]`` (Jackson's
  FixedSpaceIndenter), with nested objects breaking onto their own lines;
- empty object/array print as ``{ }`` / ``[ ]``;
- key order is preserved (Jackson reads into LinkedHashMap).

Keys and str/int/bool/null scalars are printed by the same calls
``json.dumps(v, ensure_ascii=False)`` makes for them (see ``_scalar``), so
the bytes equal the per-scalar ``json.dumps`` form; floats still go through
``json.dumps``.

Exact byte-parity with Jackson only matters for hunk positions of real JSON
payloads; the golden diff fixtures exercise the non-JSON fallback path.
"""

from __future__ import annotations

import json
import json.encoder
from typing import Any

LINE_SEP = "\n"


def java_split_lines(s: str, sep: str = LINE_SEP) -> list[str]:
    """Split with Java ``String.split`` semantics: trailing empty strings are
    dropped, but splitting the empty string yields ``[""]``
    (reference relies on this in service/DiffService.java:146,170,238)."""
    if s == "":
        return [""]
    parts = s.split(sep)
    while parts and parts[-1] == "":
        parts.pop()
    return parts


# ``json.dumps(s, ensure_ascii=False)`` on a str returns
# ``JSONEncoder.encode(s)``, which is exactly this call (the C encoder when
# the interpreter has it); null/true/false are literals and ints go through
# ``int.__repr__`` in the C encoder, so calling these directly prints the
# same bytes without building an encoder per scalar. Floats (NaN, ±Infinity,
# repr rounding) and anything else still take ``json.dumps`` itself.
_encode_str = json.encoder.encode_basestring


def _scalar(v: Any) -> str:
    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, str):
        return _encode_str(v)
    if isinstance(v, int):
        return int.__repr__(v)
    return json.dumps(v, ensure_ascii=False)


def _pretty(v: Any, depth: int) -> str:
    # str members are encoded inline: they are most of a checkpoint's values
    if isinstance(v, dict):
        if not v:
            return "{ }"
        inner = depth + 1
        pad = "  " * inner
        entries = [
            pad
            + _encode_str(str(k))
            + " : "
            + (_encode_str(val) if type(val) is str else _pretty(val, inner))
            for k, val in v.items()
        ]
        return "{" + LINE_SEP + ("," + LINE_SEP).join(entries) + LINE_SEP + "  " * depth + "}"
    if isinstance(v, list):
        if not v:
            return "[ ]"
        inner = depth + 1
        items = [_encode_str(item) if type(item) is str else _pretty(item, inner) for item in v]
        return "[ " + ", ".join(items) + " ]"
    return _scalar(v)


def jackson_pretty(obj: Any) -> str:
    """Pretty-print a parsed JSON value in Jackson's default style."""
    return _pretty(obj, 0)


def canonicalize_lines(content: str) -> list[str]:
    """Parse-then-pretty-print when the content is JSON, else raw line split.

    Mirrors reference service/DiffService.java:227-240 (``doSeparateLines``).
    """
    try:
        parsed = json.loads(content)
    except (ValueError, TypeError):
        return java_split_lines(content)
    return java_split_lines(jackson_pretty(parsed))
