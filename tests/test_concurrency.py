"""Multi-writer safety: the reference runs its cdc and ide subscribers
live and concurrently (IdeAgentsPostgresSubscriber.java:38-53 +
CdcAgentsPostgresSubscriber.java:29-44) against one state table. Here the
equivalents are (a) two concurrent writers MERGEing into one
ParquetStateStore — the optimistic version claim must lose no rows — and
(b) the unioned dual-stream pipeline, where one query serializes both
sources by construction."""

from __future__ import annotations

import json
import threading
import time

import pandas as pd
import pytest

from cdc_agents_data_stream_spark.state.store import ParquetAppendLog, ParquetStateStore
from cdc_agents_data_stream_spark.streaming.pipeline import (
    run_dual_stream_pipeline,
    run_foreachbatch_pipeline,
)
from tests.checkpointgen import gen_checkpoint_tables


def _state_row(sid: str, seq: int) -> dict:
    return {
        "session_id": sid,
        "sequence_number": seq,
        "cdc_content": "{}",
        "ide_content": "{}",
        "metadata": "{}",
        "ctx": "[]",
        "updated_ts_millis": 1_700_000_000_000,
    }


def test_concurrent_upsert_rows_no_lost_updates(spark, tmp_path):
    """Two writer threads race driver-side MERGEs into one store. Every
    commit claims a distinct version; a lost claim re-merges against the
    winner's snapshot, so no session's rows are lost."""
    store = ParquetStateStore(spark, str(tmp_path / "s"), n_buckets=8)
    rounds, errors = 8, []

    def writer(tag: str):
        try:
            for i in range(1, rounds + 1):
                store.upsert_rows([_state_row(f"{tag}-{j}", i) for j in range(3)])
        except Exception as exc:  # surface into the main thread
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    # every commit got its own version: 2 writers x 8 rounds
    assert store.current_version() == 2 * rounds
    rows = {r["session_id"]: r["sequence_number"] for r in store.read().collect()}
    assert rows == {f"{t}-{j}": rounds for t in ("a", "b") for j in range(3)}


def test_concurrent_distributed_and_driver_upserts(spark, tmp_path):
    """The distributed MERGE and the driver fast path interleave on one
    store under contention — same claim protocol, same layout."""
    from cdc_agents_data_stream_spark.schemas import DATA_STREAM_STATE_SCHEMA

    store = ParquetStateStore(spark, str(tmp_path / "s"), n_buckets=8)
    errors = []

    def spark_writer():
        try:
            for i in range(1, 4):
                df = spark.createDataFrame(
                    [tuple(_state_row(f"big-{j}", i).values()) for j in range(4)],
                    DATA_STREAM_STATE_SCHEMA,
                )
                store.upsert(df)
        except Exception as exc:
            errors.append(exc)

    def driver_writer():
        try:
            for i in range(1, 7):
                store.upsert_rows([_state_row("small-0", i)])
        except Exception as exc:
            errors.append(exc)

    threads = [threading.Thread(target=spark_writer), threading.Thread(target=driver_writer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert store.current_version() == 3 + 6
    rows = {r["session_id"]: r["sequence_number"] for r in store.read().collect()}
    assert rows == {**{f"big-{j}": 3 for j in range(4)}, "small-0": 6}


@pytest.fixture(autouse=True)
def _small_shuffle(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


def _stage_stream(base, prefix: str, n_ticks: int = 3):
    """Pre-stage a cdc-shaped stream whose sessions are namespaced by
    ``prefix`` so two streams write disjoint sessions."""
    (base / "writes").mkdir(parents=True)
    (base / "cps").mkdir()
    cps, writes = gen_checkpoint_tables(n_threads=1, n_ticks=n_ticks, repeat_tick=None)
    cps["thread_id"] = prefix + "-" + cps["thread_id"]
    writes["thread_id"] = prefix + "-" + writes["thread_id"]
    cps.to_parquet(base / "cps" / "all.parquet")
    tick_of = writes.checkpoint_id.str.split("-").str[2].astype(int)
    for tick in range(n_ticks):
        writes[tick_of == tick].to_parquet(base / "writes" / f"tick-{tick}.parquet")


def test_two_live_streams_one_store(spark, tmp_path):
    """Both subscribers live at once, as the reference runs them: two
    foreachBatch queries MERGE into ONE store concurrently; the optimistic
    commit means neither stream's updates are lost."""
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    log = ParquetAppendLog(spark, str(tmp_path / "diffs"))
    _stage_stream(tmp_path / "a", "A")
    _stage_stream(tmp_path / "b", "B")
    queries = [
        run_foreachbatch_pipeline(
            spark,
            str(tmp_path / sub / "writes"),
            str(tmp_path / sub / "cps"),
            store,
            log,
            checkpoint_location=str(tmp_path / f"ckpt-{sub}"),
            source=src,
            max_files_per_trigger=1,
        )
        for sub, src in (("a", "cdc"), ("b", "ide"))
    ]
    try:
        # drain both queries in parallel (processAllAvailable blocks)
        waiters = [threading.Thread(target=q.processAllAvailable) for q in queries]
        for w in waiters:
            w.start()
        for w in waiters:
            w.join(timeout=240)
        rows = {r["session_id"]: r for r in store.read().collect()}
        assert set(rows) == {"A-thread-0", "B-thread-0"}
        # each stream absorbed all its ticks (3 transitions per session)
        assert rows["A-thread-0"]["sequence_number"] == 3
        assert rows["B-thread-0"]["sequence_number"] == 3
        diffs = log.read(dedup=True).collect()
        assert {(d["session_id"], d["source"]) for d in diffs} == {
            ("A-thread-0", "cdc"),
            ("B-thread-0", "ide"),
        }
    finally:
        for q in queries:
            q.stop()


def test_dual_stream_union_pipeline(spark, tmp_path):
    """X10 in streaming mode: one unioned query fans in cdc + ide for the
    SAME session; cdc applies before ide within the batch, ide_content and
    cdc_content land on one state row, and the shared sequence number
    advances once per absorbing source."""
    (tmp_path / "writes").mkdir()
    (tmp_path / "cps").mkdir()
    (tmp_path / "ide").mkdir()
    cps, writes = gen_checkpoint_tables(n_threads=1, n_ticks=2, repeat_tick=None)
    cps.to_parquet(tmp_path / "cps" / "all.parquet")
    writes.to_parquet(tmp_path / "writes" / "all.parquet")
    ide = pd.DataFrame(
        [
            {
                "thread_id": "thread-0",
                "prompt_id": "p1",
                "session_id": "thread-0",
                "checkpoint_ts": "2026-01-01 00:00:05.000",
                "checkpoint_id": "ide-cp-1",
                "blob": b"ide line1\nide line2",
                "task_path": "ide_task",
            }
        ]
    )
    ide.to_parquet(tmp_path / "ide" / "all.parquet")
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    log = ParquetAppendLog(spark, str(tmp_path / "diffs"))
    query = run_dual_stream_pipeline(
        spark,
        str(tmp_path / "writes"),
        str(tmp_path / "cps"),
        str(tmp_path / "ide"),
        store,
        log,
        checkpoint_location=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
        rows = {r["session_id"]: r for r in store.read().collect()}
        assert set(rows) == {"thread-0"}
        row = rows["thread-0"]
        cdc_content = json.loads(row["cdc_content"])
        ide_content = json.loads(row["ide_content"])
        assert set(cdc_content) == {"0_task", "1_task", "2_task", "3_task__start__", "4_task"}
        assert set(ide_content) == {"ide_task"}
        assert ide_content["ide_task"][0]["content"] == "ide line1\nide line2"
        # cdc batch -> seq 1, ide batch -> seq 2 (shared monotone counter)
        assert row["sequence_number"] == 2
        diffs = log.read(dedup=True).collect()
        assert {(d["source"], d["sequence_number"]) for d in diffs} == {("cdc", 1), ("ide", 2)}
    finally:
        query.stop()


def test_torn_commit_rolls_forward_without_losing_rows(spark, tmp_path, monkeypatch):
    """A version claimed by a writer that died before advancing the
    pointer must be ROLLED FORWARD by the next writer (round-4 contract;
    previously this wedged into CommitTimeout and the claimed version was
    permanently stuck). A real claim is always a complete merged bucket
    map — fabricate exactly that dead-winner state and prove the next
    upsert adopts it, commits on top, and loses nothing. Full randomized
    SIGKILL coverage lives in tests/test_store_crash.py."""
    store = ParquetStateStore(spark, str(tmp_path / "s"), n_buckets=4)
    store.upsert_rows([_state_row("a", 1)])
    # simulate a crashed writer: version 2's manifest exists (complete,
    # as the link-claim guarantees), pointer stuck at 1
    import json as _json

    with open(store._manifest_file(2), "x") as fh:
        _json.dump({"version": 2, "buckets": dict(store._manifest(1))}, fh)
    monkeypatch.setattr(store, "COMMIT_WAIT_SECONDS", 2.0)
    store.upsert_rows([_state_row("b", 1)])
    assert store.current_version() == 3  # adopted v2, committed v3
    got = {r["session_id"] for r in store.read().collect()}
    assert got == {"a", "b"}


def test_reader_snapshot_isolation_under_concurrent_commits(spark, tmp_path):
    """A reader racing a committing writer must see CONSISTENT snapshots:
    every read resolves one committed manifest, so the three sessions —
    always upserted together in one commit — must never show mixed
    sequence numbers inside a single read (a torn read), and successive
    reads must never go backwards. A pinned version CAN age out of the
    KEEP_VERSIONS vacuum window mid-read when the writer outruns the
    reader — the reader contract (same as Delta's stale-snapshot
    handling) is to retry on a fresh version, which this reader does;
    what must NEVER happen is a successful-but-torn read."""
    store = ParquetStateStore(spark, str(tmp_path / "s"), n_buckets=8)
    store.upsert_rows([_state_row(f"w-{j}", 0) for j in range(3)])
    rounds, errors, seen = 10, [], []
    done = threading.Event()

    def writer():
        try:
            for i in range(1, rounds + 1):
                store.upsert_rows([_state_row(f"w-{j}", i) for j in range(3)])
        except Exception as exc:  # pragma: no cover
            errors.append(exc)
        finally:
            done.set()

    def read_with_retry(attempts: int = 5):
        last = None
        for _ in range(attempts):
            v = store.current_version()
            try:
                return v, store.read(version=v).collect()
            except Exception as exc:  # stale snapshot vacuumed mid-read
                last = exc
        raise last

    def reader():
        try:
            while not done.is_set():
                v, rows = read_with_retry()
                seqs = {r["sequence_number"] for r in rows}
                assert len(seqs) == 1, f"torn read at v{v}: {sorted(seqs)}"
                seen.append(seqs.pop())
                time.sleep(0.05)
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    t_w, t_r = threading.Thread(target=writer), threading.Thread(target=reader)
    t_r.start(); t_w.start(); t_w.join(); t_r.join()
    assert not errors, errors
    assert seen == sorted(seen), f"snapshots went backwards: {seen}"
    final = store.read().collect()
    assert {r["sequence_number"] for r in final} == {rounds}
