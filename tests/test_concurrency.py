"""Multi-writer safety: the reference runs its cdc and ide subscribers
live and concurrently (IdeAgentsPostgresSubscriber.java:38-53 +
CdcAgentsPostgresSubscriber.java:29-44) against one state table. Here the
equivalents are (a) two concurrent writers MERGEing into one
ParquetStateStore — the optimistic version claim must lose no rows — and
(b) the unioned dual-stream pipeline, where one query serializes both
sources by construction."""

from __future__ import annotations

import functools
import json
import os
import threading
import time

import pandas as pd
import pytest

from cdc_agents_data_stream_spark.state.store import ParquetAppendLog, ParquetStateStore
from cdc_agents_data_stream_spark.streaming.pipeline import run_foreachbatch_pipeline
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


@functools.lru_cache(maxsize=1)
def _dual_tables():
    # one generation (checkpoint ids are random) shared by every test here
    return gen_checkpoint_tables(n_threads=1, n_ticks=2, repeat_tick=None)


def _stage_dual(base):
    """One cdc session staged as writes + pointer files, and one IDE
    checkpoint for the same session."""
    for d in ("writes", "cps", "ide"):
        (base / d).mkdir(parents=True)
    cps, writes = _dual_tables()
    cps.to_parquet(base / "cps" / "all.parquet")
    writes.to_parquet(base / "writes" / "all.parquet")
    _ide_tick(base, 1, "2026-01-01 00:00:05.000", b"ide line1\nide line2")


def _ide_tick(base, n: int, ts: str, blob: bytes):
    pd.DataFrame(
        [
            {
                "thread_id": "thread-0",
                "prompt_id": "p1",
                "session_id": "thread-0",
                "checkpoint_ts": ts,
                "checkpoint_id": f"ide-cp-{n}",
                "blob": blob,
                "task_path": "ide_task",
            }
        ]
    ).to_parquet(base / "ide" / f"tick-{n}.parquet")


_DUAL_RESULTS: dict = {}


@pytest.mark.parametrize("threshold", [500, 0], ids=["driver", "distributed"])
def test_dual_stream_union_pipeline(spark, tmp_path, threshold):
    """X10 in streaming mode: one unioned query fans in cdc + ide for the
    SAME session; cdc applies before ide within the batch, ide_content and
    cdc_content land on one state row, and the shared sequence number
    advances once per absorbing source. The driver path and the
    distributed path (threshold 0) write identical state rows (but for
    the batch stamp) and identical dedup'd diff logs."""
    _stage_dual(tmp_path)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    log = ParquetAppendLog(spark, str(tmp_path / "diffs"))
    query = run_foreachbatch_pipeline(
        spark,
        str(tmp_path / "writes"),
        str(tmp_path / "cps"),
        store,
        log,
        checkpoint_location=str(tmp_path / "ckpt"),
        small_batch_max_rows=threshold,
        ide_dir=str(tmp_path / "ide"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    rows = {r["session_id"]: r for r in store.read().collect()}
    assert set(rows) == {"thread-0"}
    row = rows["thread-0"]
    cdc_content = json.loads(row["cdc_content"])
    ide_content = json.loads(row["ide_content"])
    assert set(cdc_content) == {"0_task", "1_task", "2_task", "3_task__start__", "4_task"}
    assert set(ide_content) == {"ide_task"}
    assert ide_content["ide_task"][0]["content"] == "ide line1\nide line2"
    # cdc -> seq 1, ide -> seq 2 (shared monotone counter)
    assert row["sequence_number"] == 2
    diffs = log.read(dedup=True).collect()
    assert {(d["source"], d["sequence_number"]) for d in diffs} == {("cdc", 1), ("ide", 2)}
    _DUAL_RESULTS[threshold] = (
        sorted(tuple(v for k, v in r.asDict().items() if k != "updated_ts_millis")
               for r in store.read().collect()),
        sorted((d["session_id"], d["sequence_number"], d["source"], d["diff_data"]) for d in diffs),
    )
    if len(_DUAL_RESULTS) == 2:
        assert _DUAL_RESULTS[500] == _DUAL_RESULTS[0]


def test_small_dual_source_ticks_run_no_spark_job(spark, tmp_path):
    """Small ticks of either source, or of both, take the driver path:
    their foreachBatch runs no Spark job (foreachBatch jobs carry the
    query's runId as their job group)."""
    _stage_dual(tmp_path)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    log = ParquetAppendLog(spark, str(tmp_path / "diffs"))
    query = run_foreachbatch_pipeline(
        spark,
        str(tmp_path / "writes"),
        str(tmp_path / "cps"),
        store,
        log,
        checkpoint_location=str(tmp_path / "ckpt"),
        ide_dir=str(tmp_path / "ide"),
    )
    tracker = spark.sparkContext.statusTracker()
    try:
        query.processAllAvailable()  # cdc + ide in one batch
        _ide_tick(tmp_path, 2, "2026-01-01 00:00:06.000", b"ide line1\nide line3")
        query.processAllAvailable()  # ide only
        assert tracker.getJobIdsForGroup(str(query.runId)) == []
    finally:
        query.stop()
    row = store.read_docs(["thread-0"])["thread-0"]
    assert row["sequence_number"] == 3
    assert json.loads(row["ide_content"])["ide_task"][0]["content"] == "ide line1\nide line3"
    assert sorted(d["sequence_number"] for d in log.read(dedup=True).collect()) == [1, 2, 3]


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


def test_distributed_dual_source_tick_runs_one_job(spark, tmp_path):
    """A forced-distributed tick (``small_batch_max_rows=0``) holding cdc
    and ide rows of one session absorbs both sources in ONE bucket-aligned
    job: at most 6 Spark jobs in the query's job group, the query's own
    start included (26 when each source ran its own state read,
    transition, count and MERGE). Both paths still agree on the result."""
    _stage_dual(tmp_path)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    log = ParquetAppendLog(spark, str(tmp_path / "diffs"))
    query = run_foreachbatch_pipeline(
        spark,
        str(tmp_path / "writes"),
        str(tmp_path / "cps"),
        store,
        log,
        checkpoint_location=str(tmp_path / "ckpt"),
        small_batch_max_rows=0,
        ide_dir=str(tmp_path / "ide"),
    )
    try:
        query.processAllAvailable()
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId))
    finally:
        query.stop()
    assert 0 < len(jobs) <= 6, jobs  # measured: 3 at query start + 3 for the tick
    row = store.read_docs(["thread-0"])["thread-0"]
    assert row["sequence_number"] == 2
    assert {(d["source"], d["sequence_number"]) for d in log.read(dedup=True).collect()} == {
        ("cdc", 1),
        ("ide", 2),
    }


def test_transition_job_lost_claim_reruns_against_winner(spark, tmp_path, monkeypatch):
    """A driver-side MERGE of the same session commits between the
    bucket job and its claim. The job loses the claim, deletes its
    attempt's data dir and diff file, and re-runs against the winner's
    snapshot: the winner's update survives, the session's seq advances
    past it, and no diff row of the discarded attempt remains."""
    from cdc_agents_data_stream_spark.plans.backfill import apply_transition_batch

    store = ParquetStateStore(spark, str(tmp_path / "state"), n_buckets=8)
    log = ParquetAppendLog(spark, str(tmp_path / "diffs"))
    store.upsert_rows([_state_row("s", 1)])
    ide_item = {"content": "winner", "timestamp": 1, "thread_id": "s", "checkpoint_id": "w", "task_id": "ide_task"}
    winner = {**_state_row("s", 5), "ide_content": json.dumps({"ide_task": [ide_item]})}

    real_commit = ParquetStateStore._try_commit
    claims = []

    def racing_commit(self, v, buckets, dir_schemas):
        claims.append(v)
        if len(claims) == 1:
            store.upsert_rows([winner])  # lands between the job and its claim
        return real_commit(self, v, buckets, dir_schemas)

    monkeypatch.setattr(ParquetStateStore, "_try_commit", racing_commit)
    latest = spark.createDataFrame(
        [("s", "cdc_task", "cdc text", 10, "c1")],
        "thread_id string, task_id string, content string, ts_millis long, checkpoint_id string",
    )
    assert apply_transition_batch(latest, store, log, "cdc", now_ms=2_000) == 1

    assert claims == [2, 2, 3]  # job lost v2 to the driver MERGE, re-ran, won v3
    row = store.read_docs(["s"])["s"]
    assert row["sequence_number"] == 6
    assert json.loads(row["ide_content"]) == {"ide_task": [ide_item]}
    assert json.loads(row["cdc_content"])["cdc_task"][0]["content"] == "cdc text"
    diffs = [(d["session_id"], d["sequence_number"], d["source"]) for d in log.read().collect()]
    assert diffs == [("s", 6, "cdc")]
    assert log.file_count() == 1


def test_lost_claim_diffs_never_reach_a_merged_file(spark, tmp_path, monkeypatch):
    """The bucket job's attempt loses its claim while a log merge round is
    due: the winning driver-path batch commits in between and runs its
    round, which must skip (the attempt's writer lock is held) rather than
    merge the attempt's diff file. The attempt's diffs never reach a merged
    file; after the re-run wins, its own commit runs the round."""
    import pyarrow.parquet as pq

    from cdc_agents_data_stream_spark.plans.backfill import apply_transition_batch

    store = ParquetStateStore(spark, str(tmp_path / "state"), n_buckets=8)
    log = ParquetAppendLog(spark, str(tmp_path / "diffs"))
    store.upsert_rows([_state_row("s", 1)])
    # one file short of a round: the attempt's diff file makes it due
    for i in range(ParquetAppendLog.FAN_IN - 1):
        log.append_rows([{"session_id": f"o{i}", "sequence_number": 1, "source": "cdc", "diff_data": "[]", "ts_millis": i}])
    winner = _state_row("s", 5)

    real_commit = ParquetStateStore._try_commit
    claims, rounds = [], []

    def racing_commit(self, v, buckets, dir_schemas):
        claims.append(v)
        if len(claims) == 1:
            # a driver-path batch lands between the job and its claim
            with log.writing():
                log.append_rows([{"session_id": "w", "sequence_number": 1, "source": "cdc", "diff_data": "[]", "ts_millis": 0}])
                store.upsert_rows([winner])
            rounds.append(log.merge_tiers())
        return real_commit(self, v, buckets, dir_schemas)

    monkeypatch.setattr(ParquetStateStore, "_try_commit", racing_commit)
    latest = spark.createDataFrame(
        [("s", "cdc_task", "cdc text", 10, "c1")],
        "thread_id string, task_id string, content string, ts_millis long, checkpoint_id string",
    )
    assert apply_transition_batch(latest, store, log, "cdc", now_ms=2_000) == 1

    assert claims == [2, 2, 3] and rounds == [False]
    assert store.read_docs(["s"])["s"]["sequence_number"] == 6
    # the re-run's commit ran the round: one merged file, in which session
    # s has only the re-run's diff (the lost attempt's was seq 2)
    d = log._data_dir()
    assert [n.split("-")[0] for n in log._files(d)] == ["t1"]
    merged = [
        r
        for gen in os.listdir(log.path) if gen.startswith("d")
        for f in log._files(os.path.join(log.path, gen)) if f.startswith("t")
        for r in pq.read_table(os.path.join(log.path, gen, f)).to_pylist()
    ]
    assert [(r["session_id"], r["sequence_number"]) for r in merged if r["session_id"] == "s"] == [("s", 6)]
    assert len(merged) == ParquetAppendLog.FAN_IN + 1


def test_concurrent_appends_and_merge_rounds_lose_no_row(tmp_path):
    """More writer threads than cores append to one log and run its merge
    round after each append, with a short switch interval: every row ends
    up in the current generation exactly once (an append landing in a
    generation after a round listed it would be lost)."""
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    log = ParquetAppendLog(None, str(tmp_path / "diffs"))  # no Spark on this path
    n_threads, per_thread, errors = 8, 40, []

    def writer(t: int):
        try:
            for i in range(per_thread):
                with log.writing():
                    log.append_rows([{"session_id": f"t{t}", "sequence_number": i, "source": "cdc", "diff_data": "[]", "ts_millis": i}])
                log.merge_tiers()
        except Exception as exc:  # surface into the main thread
            errors.append(exc)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer, args=(t,)) for t in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not errors and not any(t.is_alive() for t in threads)
    d = log._data_dir()
    rows = pa.concat_tables([pq.read_table(os.path.join(d, f)) for f in log._files(d)]).to_pylist()
    keys = sorted((r["session_id"], r["sequence_number"]) for r in rows)
    assert keys == sorted((f"t{t}", i) for t in range(n_threads) for i in range(per_thread))
    assert any(f.startswith("t") for f in log._files(d))  # rounds did run
