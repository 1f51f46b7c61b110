"""Repo lint: `.collect()` in ENGINE code is only legal on provably
bounded data. Every current call site is audited below with the bound
that keeps it safe at 100 TB; a new collect anywhere in the engine core
fails this test until it is audited and added with its justification.
(Query modules under queries/ are excluded: the streaming gates there
read memory-sink test harnesses by design, and the driver itself
collects gate results.)"""

from __future__ import annotations

import io
import pathlib
import re
import tokenize

ROOT = pathlib.Path(__file__).resolve().parent.parent / "cdc_agents_data_stream_spark"

ENGINE_DIRS = ["operators", "plans", "sources", "state", "streaming", "ctx", "functions"]

# file (relative to package) -> (expected call-site count, bound justification)
ALLOWED = {
    "operators/similarity.py": (
        7,
        "centroid/codebook materialization and PQ code tables: rows ≤ "
        "MAX_CENTROIDS / PQ codebook size (capped constants), never corpus "
        "rows; includes _assign's closure-shipped centroid table (same "
        "≤ MAX_CENTROIDS artifact, collected once per assignment build) "
        "and the round-7 collect-once sites in ivf_topk/ivfpq_topk that "
        "replace repeated centroid-subtree derivations with one bounded "
        "collect reused as a literal",
    ),
    "operators/dedup.py": (
        1,
        "bloom vocabulary words for the literal-array probe: bounded by the "
        "configured vocabulary cap, not the corpus",
    ),
    "operators/graph.py": (
        1,
        "_bucket_count: DESCRIBE EXTENDED rows for one table — catalog "
        "metadata (tens of rows), independent of graph size",
    ),
    "plans/backfill.py": (
        1,
        "small-batch driver fast path: guarded by the small_batch_max_rows "
        "threshold decided from a capped probe",
    ),
    "sources/incremental.py": (
        1,
        "single-row MAX(offset) poll bookmark",
    ),
    "state/store.py": (
        3,
        "distinct bucket ids of the touched keyset: ≤ n_buckets (64) rows",
    ),
    "streaming/ivm.py": (
        1,
        "per-micro-batch partial aggregate keyed by (window, type): bounded "
        "by the batch's distinct windows, merged driver-side into the store",
    ),
    "streaming/pipeline.py": (
        1,
        "probe capped at limit(small_batch_max_rows + 1) before deciding the "
        "distributed vs driver-side MERGE path",
    ),
}

# Every call site must carry a machine-checkable bound annotation: a
# `# bounded:` comment on the same line or within the ANNOTATION_WINDOW
# lines above it, stating the row bound the way MAX_CENTROIDS /
# PQ_MAX_CODES sites do (e.g. "# bounded: ≤ MAX_CENTROIDS rows"). Only
# real tokens count: `.collect()` or `bounded:` inside a string literal or
# docstring is neither a call site nor an annotation.
ANNOTATION_WINDOW = 6
_BOUND = re.compile(r"#\s*bounded:")


def _scan(source: str) -> tuple[list[int], set[int]]:
    """(line of each `.collect()` call, lines holding a `# bounded:`
    comment) from the token stream of one module."""
    toks = [
        t
        for t in tokenize.generate_tokens(io.StringIO(source).readline)
        if t.type not in (tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT)
    ]
    calls = [
        toks[i + 1].start[0]
        for i in range(len(toks) - 3)
        if toks[i].string == "."
        and toks[i + 1].type == tokenize.NAME
        and toks[i + 1].string == "collect"
        and toks[i + 2].string == "("
        and toks[i + 3].string == ")"
    ]
    bounds = {t.start[0] for t in toks if t.type == tokenize.COMMENT and _BOUND.match(t.string)}
    return calls, bounds


def test_engine_collect_sites_are_audited():
    found: dict[str, int] = {}
    unannotated: list[str] = []
    for d in ENGINE_DIRS:
        for f in sorted((ROOT / d).glob("**/*.py")):
            rel = str(f.relative_to(ROOT))
            calls, bounds = _scan(f.read_text())
            for line in calls:
                if not bounds & set(range(line - ANNOTATION_WINDOW, line + 1)):
                    unannotated.append(f"{rel}:{line}")
            if calls:
                found[rel] = len(calls)
    assert found == {k: v[0] for k, v in ALLOWED.items()}, (
        f"collect() call sites changed: found {found}; audit any new site "
        f"for boundedness and record it in ALLOWED with its justification"
    )
    assert not unannotated, (
        f"collect() sites missing a '# bounded:' comment within "
        f"{ANNOTATION_WINDOW} lines: {unannotated}"
    )


def test_scan_counts_only_real_calls_and_comment_annotations():
    src = (
        'x = "df.collect()"\n'
        "def f():\n"
        '    """bounded: in a docstring\n'
        '    .collect()"""\n'
        "    # bounded: one row\n"
        "    return df.collect()\n"
        "def g():\n"
        "    y = 1  # not bounded: trailing text\n"
        "    return df . collect ( )\n"
    )
    assert _scan(src) == ([6, 9], {5})
