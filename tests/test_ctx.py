"""Context enrichment (UD5/S5/S6): provider fan-out, consume-once file
source, seq stamping through the state transition."""

from __future__ import annotations

import os

from cdc_agents_data_stream_spark.ctx import (
    environment_provider,
    make_environment_provider,
    make_test_report_provider,
    scan_git_repositories,
)
from cdc_agents_data_stream_spark.operators.merge import transition


def _items(ts, task="t1", content="line1\nline2"):
    return [
        {
            "task_id": task,
            "content": content,
            "timestamp": ts,
            "thread_id": "s1",
            "checkpoint_id": f"cp-{ts}",
        }
    ]


def test_test_report_provider_consume_once(tmp_path):
    runner = tmp_path / "reports"
    sess = runner / "s1" / "sub"
    sess.mkdir(parents=True)
    (sess / "r1.xml").write_text("<ok/>")
    (runner / "s1" / "r0.txt").write_text("top-level")

    provider = make_test_report_provider([str(runner)])
    item = provider({"session_id": "s1"})
    assert item["type"] == "test-report"
    # key = registrationId:fileName (TestReportContextProvider.java:105)
    assert item["testReports"] == {"s1:r1.xml": "<ok/>", "s1:r0.txt": "top-level"}
    # consume-once: children deleted, session dir kept
    assert os.listdir(runner / "s1") == []
    # second call -> empty map, still emits an item
    assert provider({"session_id": "s1"})["testReports"] == {}


def test_test_report_provider_keeps_reports_that_land_after_the_read(tmp_path, monkeypatch):
    """A report published between the provider's read and its delete is
    not lost: it survives the call and is consumed by the next one. The
    arrival is injected deterministically at that point."""
    from cdc_agents_data_stream_spark.ctx import providers as P

    runner = tmp_path / "reports"
    sess = runner / "s1"
    (sess / "sub").mkdir(parents=True)
    (sess / "r0.txt").write_text("first")
    (sess / "sub" / "r1.xml").write_text("<first/>")

    consume = P._consume

    def publish_then_consume(session_dir, read):
        # a new file in a subdirectory, and a rename over a file already read
        (sess / "sub" / "late.xml").write_text("<late/>")
        (sess / "r0.tmp").write_text("second")
        os.replace(sess / "r0.tmp", sess / "r0.txt")
        consume(session_dir, read)

    monkeypatch.setattr(P, "_consume", publish_then_consume)
    provider = make_test_report_provider([str(runner)])
    assert provider({"session_id": "s1"})["testReports"] == {
        "s1:r0.txt": "first", "s1:r1.xml": "<first/>"
    }
    assert sorted(os.listdir(sess)) == ["r0.txt", "sub"]
    assert os.listdir(sess / "sub") == ["late.xml"]

    monkeypatch.setattr(P, "_consume", consume)
    assert provider({"session_id": "s1"})["testReports"] == {
        "s1:r0.txt": "second", "s1:late.xml": "<late/>"
    }
    assert os.listdir(sess) == []
    assert provider({"session_id": "s1"})["testReports"] == {}


def test_provider_seq_stamping_in_transition(tmp_path):
    """Ctx items get the same sequence number as the concurrently-produced
    diff (ContextService.java:40-44)."""
    runner = tmp_path / "reports"
    (runner / "s1").mkdir(parents=True)
    (runner / "s1" / "a.log").write_text("pass")
    providers = [make_test_report_provider([str(runner)]), environment_provider]

    doc, diff = transition(None, "s1", _items(1000), source="cdc", ctx_providers=providers)
    assert doc["sequence_number"] == 1
    assert diff["sequenceNumber"] == 1
    assert [c["type"] for c in doc["ctx"]] == ["test-report", "environment"]
    assert all(c["sequenceNumber"] == 1 for c in doc["ctx"])
    assert doc["ctx"][0]["testReports"] == {"s1:a.log": "pass"}

    # next tick: reports already consumed -> empty map, seq advances with diff
    doc2, diff2 = transition(doc, "s1", _items(2000, content="line1\nline2\nline3"), source="cdc", ctx_providers=providers)
    assert doc2["sequence_number"] == 2
    assert [c["sequenceNumber"] for c in doc2["ctx"]] == [1, 1, 2, 2]
    assert doc2["ctx"][2]["testReports"] == {}


def test_environment_provider_reference_parity():
    item = environment_provider({"session_id": "sX"})
    assert item["type"] == "environment"
    assert item["sessionId"] == "sX"
    assert "repositories" not in item  # scan disabled, like the reference


def test_git_scanner_finds_this_repo():
    repos = scan_git_repositories("/root/repo", max_depth=1)
    assert len(repos) == 1
    details = repos[0]
    assert details["path"] == "/root/repo"
    assert details["branch"] == "main"
    assert details["head"] and len(details["head"]) == 40
    assert len(details["recent_commits"]) >= 5

    enabled = make_environment_provider("/root/repo", max_depth=1)
    item = enabled({"session_id": "sY"})
    assert item["repositories"][0]["path"] == "/root/repo"


def test_backfill_with_ctx_providers_distributed(spark, tmp_path):
    """UD5 through the applyInPandas path: providers execute inside the
    per-session group and the enriched doc lands in the state store."""
    import json

    from cdc_agents_data_stream_spark.plans.backfill import backfill
    from cdc_agents_data_stream_spark.state.store import ParquetAppendLog, ParquetStateStore
    from tests.checkpointgen import gen_checkpoint_tables

    cps, writes = gen_checkpoint_tables(n_threads=2, n_ticks=2)
    cps.to_parquet(tmp_path / "cps.parquet")
    writes.to_parquet(tmp_path / "writes.parquet")
    runner = tmp_path / "reports"
    for t in ("thread-0", "thread-1"):
        (runner / t).mkdir(parents=True)
        (runner / t / "junit.xml").write_text(f"<suite for='{t}'/>")

    store = ParquetStateStore(spark, str(tmp_path / "state"))
    log = ParquetAppendLog(spark, str(tmp_path / "diffs"))
    providers = [make_test_report_provider([str(runner)]), environment_provider]
    state = backfill(
        spark,
        spark.read.parquet(str(tmp_path / "writes.parquet")),
        spark.read.parquet(str(tmp_path / "cps.parquet")),
        store,
        log,
        ctx_providers=providers,
    )
    rows = {r["session_id"]: r for r in state.collect()}
    for t in ("thread-0", "thread-1"):
        ctx = json.loads(rows[t]["ctx"])
        assert [c["type"] for c in ctx] == ["test-report", "environment"]
        assert ctx[0]["testReports"] == {f"{t}:junit.xml": f"<suite for='{t}'/>"}
        assert ctx[0]["sequenceNumber"] == 1
    # side input consumed exactly once
    assert os.listdir(runner / "thread-0") == []
