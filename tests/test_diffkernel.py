"""Golden-case and property tests for the diff kernel.

Fixtures under tests/fixtures/diffservice are ported verbatim from the
reference's test corpus (test/resources/diffservice/case{1..4}); the
reference compares with JSONAssert lenient mode (DiffServiceTest.java:39-77),
which we mirror as a recursive subset match (expected ⊆ actual, arrays
compared element-wise).
"""

from __future__ import annotations

import difflib
import json
import math
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cdc_agents_data_stream_spark.functions import diffkernel
from cdc_agents_data_stream_spark.functions.diffkernel import (
    apply_ops,
    diff_lines,
    diff_task_maps,
)
from cdc_agents_data_stream_spark.functions.jsoncanon import (
    canonicalize_lines,
    jackson_pretty,
    java_split_lines,
)

FIXTURES = Path(__file__).parent / "fixtures" / "diffservice"
CASES = [
    "case1_addition",
    "case2_removal",
    "case3_modification",
    "case4_multiple_changes",
]


def subset_match(expected, actual, path=""):
    """JSONAssert-lenient-style comparison: every expected field must be
    present and equal in actual; actual may carry extra fields."""
    if isinstance(expected, dict):
        assert isinstance(actual, dict), f"{path}: expected object, got {type(actual)}"
        for k, v in expected.items():
            assert k in actual, f"{path}.{k}: missing"
            subset_match(v, actual[k], f"{path}.{k}")
    elif isinstance(expected, list):
        assert isinstance(actual, list), f"{path}: expected array"
        assert len(expected) == len(actual), f"{path}: array length {len(actual)} != {len(expected)}"
        for i, (e, a) in enumerate(zip(expected, actual)):
            subset_match(e, a, f"{path}[{i}]")
    else:
        assert expected == actual, f"{path}: {actual!r} != {expected!r}"


@pytest.mark.parametrize("case", CASES)
def test_golden_case(case):
    base = FIXTURES / case
    before = json.loads((base / "before.json").read_text())
    after = json.loads((base / "after.json").read_text())
    expected = json.loads((base / "expected.json").read_text())

    actual = diff_task_maps(before, after, sequence_number=1)
    assert actual is not None
    subset_match(expected, actual)


def test_unchanged_content_suppressed():
    content = {"t": [{"content": "same\nlines", "timestamp": 1}]}
    assert diff_task_maps(content, content, sequence_number=1) is None


def test_java_split_semantics():
    assert java_split_lines("") == [""]
    assert java_split_lines("a\n") == ["a"]
    assert java_split_lines("\n\n") == []
    assert java_split_lines("a\nb") == ["a", "b"]


def test_canonicalize_json_vs_raw():
    # valid JSON takes the pretty-print path: stable multi-line layout
    lines = canonicalize_lines('{"b":1,"a":[1,2]}')
    assert lines == ['{', '  "b" : 1,', '  "a" : [ 1, 2 ]', '}']
    # non-JSON takes raw split
    assert canonicalize_lines("plain\ntext") == ["plain", "text"]


def test_jackson_pretty_shapes():
    assert jackson_pretty({}) == "{ }"
    assert jackson_pretty([]) == "[ ]"
    assert jackson_pretty([1, "x"]) == '[ 1, "x" ]'


lines_strategy = st.lists(
    st.text(alphabet="abcXYZ ", min_size=0, max_size=6), min_size=0, max_size=30
)


@settings(max_examples=300, deadline=None)
@given(before=lines_strategy, after=lines_strategy)
def test_apply_diff_roundtrip(before, after):
    """apply(diff(a, b), a) == b for arbitrary line lists."""
    ops = diff_lines(before, after)
    assert apply_ops(before, ops) == after


# ---- parity of the fast paths with the plain algorithms ---------------------


def _plain_diff_lines(before, after):
    """The kernel's op mapping over an unmodified ``SequenceMatcher``."""
    ins, rem = diffkernel._insert, diffkernel._remove
    ops = []
    sm = difflib.SequenceMatcher(a=before, b=after, autojunk=False)
    for tag, i1, i2, j1, j2 in sm.get_opcodes():
        if tag == "replace":
            ops.append(
                {
                    "type": diffkernel.REPLACE,
                    "toRemove": rem(i1, i2 - i1),
                    "toAddContent": ins(j1, j2 - j1, after[j1:j2]),
                }
            )
        elif tag == "delete":
            ops.append(rem(i1, i2 - i1))
        elif tag == "insert":
            ops.append(ins(j1, j2 - j1, after[j1:j2]))
    return ops


# few distinct lines, so common runs repeat and tie-breaks matter
repetitive_lines = st.integers(1, 3).flatmap(
    lambda k: st.lists(st.sampled_from("abc"[:k]), max_size=24)
)


@st.composite
def mutated_pairs(draw):
    """(a, b) where b is a after a few inserts, deletes and appends: long
    common prefixes, the case the prefix shortcut takes."""
    alphabet = "abc"[: draw(st.integers(1, 3))]
    a = draw(st.lists(st.sampled_from(alphabet), max_size=40))
    b = list(a)
    for op, pos, line in draw(
        st.lists(st.tuples(st.sampled_from("ida"), st.integers(0, 40), st.sampled_from(alphabet)), max_size=4)
    ):
        if op == "i":
            b.insert(pos % (len(b) + 1), line)
        elif op == "d" and b:
            del b[pos % len(b)]
        else:
            b.append(line)
    return a, b


@settings(max_examples=1000, deadline=None)
@given(before=repetitive_lines, after=repetitive_lines)
def test_diff_lines_matches_sequencematcher_on_repeated_lines(before, after):
    assert diff_lines(before, after) == _plain_diff_lines(before, after)


@settings(max_examples=1000, deadline=None)
@given(pair=mutated_pairs())
def test_diff_lines_matches_sequencematcher_on_mutations(pair):
    before, after = pair
    assert diff_lines(before, after) == _plain_diff_lines(before, after)


def _dumps_per_scalar_pretty(v, depth=0):
    """The canonical printer as first written: ``json.dumps`` per key and
    per scalar. Kept here as the oracle for the direct encoder calls."""
    pad = "  " * (depth + 1)
    if isinstance(v, dict):
        if not v:
            return "{ }"
        entries = [
            f"{pad}{json.dumps(str(k), ensure_ascii=False)} : {_dumps_per_scalar_pretty(val, depth + 1)}"
            for k, val in v.items()
        ]
        return "{\n" + ",\n".join(entries) + "\n" + "  " * depth + "}"
    if isinstance(v, list):
        if not v:
            return "[ ]"
        return "[ " + ", ".join(_dumps_per_scalar_pretty(i, depth + 1) for i in v) + " ]"
    return json.dumps(v, ensure_ascii=False)


json_text = st.text(
    st.one_of(
        st.characters(codec=None, categories=None),  # includes lone surrogates
        st.sampled_from(["\u2028", "\u2029", "\ud800", "\udfff", "é", "日", "\x00", '"', "\\", "\n"]),
    ),
    max_size=8,
)
json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(),
    st.integers(min_value=2**64, max_value=2**80),
    st.integers(min_value=-(2**80), max_value=-(2**64)),
    st.floats(allow_nan=True, allow_infinity=True),
    st.sampled_from([math.nan, math.inf, -math.inf, -0.0, 0.0, 1e300, -1e-300, 1.5]),
    json_text,
)
json_values = st.recursive(
    json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4), st.dictionaries(json_text, children, max_size=4)
    ),
    max_leaves=30,
)


@settings(max_examples=1000, deadline=None)
@given(value=json_values)
def test_canonical_printer_matches_dumps_per_scalar(value):
    expected = _dumps_per_scalar_pretty(value)
    assert jackson_pretty(value) == expected
    # the parse path (NaN/Infinity literals, escaped surrogates)
    text = json.dumps(value)
    assert canonicalize_lines(text) == java_split_lines(_dumps_per_scalar_pretty(json.loads(text)))


def test_unchanged_task_is_skipped_before_canonicalizing(monkeypatch):
    calls = []
    real = diffkernel.canonicalize_lines

    def counting(content):
        calls.append(content)
        return real(content)

    monkeypatch.setattr(diffkernel, "canonicalize_lines", counting)
    same = '{"messages": [{"id": 1}, {"id": 2}]}'
    previous = {
        "kept": [{"content": same, "timestamp": 1}],
        "edited": [{"content": '{"a": 1}', "timestamp": 1}],
    }
    # equal content in distinct objects (a rebuilt string, new item dicts)
    current = {
        "kept": [{"content": "".join([same[:10], same[10:]]), "timestamp": 2}],
        "edited": [{"content": '{"a": 2}', "timestamp": 2}],
    }
    assert current["kept"][0]["content"] is not same
    doc = diff_task_maps(previous, current, sequence_number=3)
    assert set(doc["diffData"]) == {"edited"}
    assert calls == ['{"a": 1}', '{"a": 2}']
    calls.clear()
    assert diff_task_maps(previous, {k: [dict(i) for i in v] for k, v in previous.items()}, 4) is None
    assert calls == []
