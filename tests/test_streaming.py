"""Streaming integration tests: the reference's cadence scenario
(FIXTURES.md §6 — per tick one new checkpoint per task, state doc updates
every tick) reproduced on Structured Streaming with file-drop micro-batches.
"""

from __future__ import annotations

import json
import os
import signal
import time

import pytest

from cdc_agents_data_stream_spark.state.store import ParquetAppendLog, ParquetStateStore
from cdc_agents_data_stream_spark.streaming.pipeline import (
    run_foreachbatch_pipeline,
    run_stateful_pipeline,
)
from tests.checkpointgen import gen_checkpoint_tables


@pytest.fixture(autouse=True)
def _small_shuffle(spark):
    """Streaming tests run many micro-batches over a handful of rows; 32
    shuffle/state partitions multiply every batch's task count for nothing.
    Runtime conf is picked up at query start, so set it per-test."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


def _drop_tick(base, tick: int, n_threads: int = 1):
    """Write one tick's (checkpoints, writes) increment as new files —
    both sides append-only so the running query never sees a file mutate."""
    cps, writes = gen_checkpoint_tables(n_threads=n_threads, n_ticks=tick + 1, repeat_tick=None)
    # checkpoint_id = cp-{thread}-{tick}-{hex}: match the exact tick field
    cps_tick = cps[cps.checkpoint_id.str.split("-").str[2].astype(int) == tick]
    writes_tick = writes[writes.checkpoint_id.str.split("-").str[2].astype(int) == tick]
    cps_tick.to_parquet(base / "cps" / f"tick-{tick}.parquet")
    writes_tick.to_parquet(base / "writes" / f"tick-{tick}.parquet")
    return cps_tick, writes_tick


def test_foreachbatch_cadence(spark, tmp_path):
    """5 ticks dropped at a sub-second cadence -> the per-session state doc
    absorbs every tick (sequence number advances to 5), mirroring the
    reference's 500 ms / N-updates integration scenario."""
    (tmp_path / "writes").mkdir()
    (tmp_path / "cps").mkdir()
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    log = ParquetAppendLog(spark, str(tmp_path / "diffs"))

    _drop_tick(tmp_path, 0)
    query = run_foreachbatch_pipeline(
        spark,
        str(tmp_path / "writes"),
        str(tmp_path / "cps"),
        store,
        log,
        checkpoint_location=str(tmp_path / "ckpt"),
        trigger={"processingTime": "500 milliseconds"},
        # one tick file per micro-batch -> one state transition per tick,
        # matching the reference's per-NOTIFY-event cadence
        max_files_per_trigger=1,
    )
    try:
        n_ticks = 5
        deadline = time.time() + 240
        for tick in range(1, n_ticks):
            _drop_tick(tmp_path, tick)
            time.sleep(0.5)
        # wait until all ticks absorbed
        while time.time() < deadline:
            rows = {r["session_id"]: r for r in store.read().collect()}
            if rows and rows.get("thread-0", {})["sequence_number"] == n_ticks:
                break
            time.sleep(1.0)
        rows = {r["session_id"]: r for r in store.read().collect()}
        assert rows["thread-0"]["sequence_number"] == n_ticks
        content = json.loads(rows["thread-0"]["cdc_content"])
        # last-write-wins tasks hold exactly the newest blob (tick 5 -> 5 msgs)
        assert len(content["0_task"]) == 1
        assert len(json.loads(content["0_task"][0]["content"])) == n_ticks
        # __start__ task accumulated one item per tick
        assert len(content["3_task__start__"]) == n_ticks
        # diff log: one diff per tick
        diffs = log.read().collect()
        assert sorted(d["sequence_number"] for d in diffs) == list(range(1, n_ticks + 1))
    finally:
        query.stop()


def test_driver_path_batches_keep_the_diff_log_tiered(spark, tmp_path, monkeypatch):
    """40 driver-path micro-batches, one diff file each: the commit after
    each batch runs the log's merge round, so the log ends with fewer than
    ``FAN_IN`` files per tier (2 merged + 8 appended files, not 40), and
    its dedup'd rows hash equal to the rows the batches appended."""
    import hashlib

    (tmp_path / "writes").mkdir()
    (tmp_path / "cps").mkdir()
    n_ticks = 40
    for tick in range(n_ticks):
        _drop_tick(tmp_path, tick, n_threads=2)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    log = ParquetAppendLog(spark, str(tmp_path / "diffs"))
    appended, counts = [], []
    real_append, real_merge = log.append_rows, log.merge_tiers

    def recording_append(rows):
        appended.extend(tuple(r.values()) for r in rows)
        real_append(rows)

    def counting_merge():
        out = real_merge()
        counts.append(log.file_count())
        return out

    monkeypatch.setattr(log, "append_rows", recording_append)
    monkeypatch.setattr(log, "merge_tiers", counting_merge)
    query = run_foreachbatch_pipeline(
        spark, str(tmp_path / "writes"), str(tmp_path / "cps"), store, log,
        checkpoint_location=str(tmp_path / "ckpt"),
        trigger={"availableNow": True}, max_files_per_trigger=1,
    )
    query.awaitTermination()
    assert query.exception() is None

    def sha(rows):
        return hashlib.sha256(repr(sorted(set(rows))).encode()).hexdigest()

    assert len(counts) == n_ticks and len(appended) == 2 * n_ticks
    # after every commit: under FAN_IN - 1 files per tier, two tiers here
    assert max(counts) <= 2 * (ParquetAppendLog.FAN_IN - 1)
    files = log._files(log._data_dir())
    assert sorted(n.split("-")[0] for n in files) == ["part"] * 8 + ["t1"] * 2
    assert sha(tuple(r) for r in log.read(dedup=True).collect()) == sha(appended)


def test_stateful_pipeline_available_now(spark, tmp_path):
    """applyInPandasWithState path over pre-joined rows, availableNow."""
    joined_dir = tmp_path / "joined"
    joined_dir.mkdir()
    import pandas as pd

    rows = [
        {
            "session_id": "s1",
            "task_id": t,
            "content": f"line1\nline2-{t}",
            "ts_millis": 1000,
            "checkpoint_id": "cp1",
        }
        for t in ("a", "b")
    ]
    pd.DataFrame(rows).to_parquet(joined_dir / "batch0.parquet")

    out_dir = tmp_path / "out"
    query = run_stateful_pipeline(
        spark,
        str(joined_dir),
        checkpoint_location=str(tmp_path / "ckpt2"),
        trigger={"availableNow": True},
        output_path=str(out_dir),
    )
    query.awaitTermination(240)

    out = spark.read.parquet(str(out_dir)).collect()
    assert len(out) == 1
    row = out[0]
    assert row["session_id"] == "s1"
    assert row["sequence_number"] == 1
    assert row["source"] == "cdc"
    assert set(json.loads(row["cdc_content"])) == {"a", "b"}
    diff = json.loads(row["diff_data"])
    assert set(diff) == {"a", "b"}

    # second increment: one task changes -> seq 2, diff only for that task
    pd.DataFrame(
        [
            {
                "session_id": "s1",
                "task_id": "a",
                "content": "line1\nline2-a\nline3",
                "ts_millis": 2000,
                "checkpoint_id": "cp2",
            }
        ]
    ).to_parquet(joined_dir / "batch1.parquet")
    query2 = run_stateful_pipeline(
        spark,
        str(joined_dir),
        checkpoint_location=str(tmp_path / "ckpt2"),
        trigger={"availableNow": True},
        output_path=str(out_dir),
    )
    query2.awaitTermination(240)
    out2 = sorted(spark.read.parquet(str(out_dir)).collect(), key=lambda r: r["sequence_number"])
    assert [r["sequence_number"] for r in out2] == [1, 2]
    diff2 = json.loads(out2[1]["diff_data"])
    assert set(diff2) == {"a"}
    ch = diff2["a"]["changes"][0]["change"]
    assert ch["type"] == "insert_content"
    assert ch["lines"] == ["line3"]

    # rows tagged with a source: cdc applies before ide within the batch,
    # one output row per absorbed source, one shared sequence number
    pd.DataFrame(
        [
            {"session_id": "s1", "task_id": t, "content": c, "ts_millis": 3000,
             "checkpoint_id": "cp3", "source": src}
            for t, c, src in (("ide-t", "ide text", "ide"), ("b", "line1\nline2-b2", "cdc"))
        ]
    ).to_parquet(joined_dir / "batch2.parquet")
    query3 = run_stateful_pipeline(
        spark,
        str(joined_dir),
        checkpoint_location=str(tmp_path / "ckpt2"),
        trigger={"availableNow": True},
        output_path=str(out_dir),
    )
    query3.awaitTermination(240)
    out3 = sorted(spark.read.parquet(str(out_dir)).collect(), key=lambda r: r["sequence_number"])
    assert [(r["sequence_number"], r["source"]) for r in out3[2:]] == [(3, "cdc"), (4, "ide")]
    assert set(json.loads(out3[2]["diff_data"])) == {"b"}
    assert set(json.loads(out3[3]["ide_content"])) == {"ide-t"}
    assert set(json.loads(out3[3]["cdc_content"])) == {"a", "b"}


def test_stateful_ttl_evicts_idle_sessions(spark, tmp_path):
    """Processing-time TTL: an idle session's state is emitted once with
    evicted=True and removed; a later event re-seeds from scratch.

    One continuously-running query (a ProcessingTimeTimeout query under
    availableNow never terminates — see run_stateful_pipeline docstring);
    file drops advance the stream, output-polling advances the test."""
    import pandas as pd

    joined_dir = tmp_path / "joined"
    joined_dir.mkdir()
    out_dir = tmp_path / "out"

    def rows():
        try:
            return spark.read.parquet(str(out_dir)).collect()
        except Exception:  # sink dir not committed yet
            return []

    def wait_for(pred, what: str, deadline_s: float = 120.0):
        deadline = time.time() + deadline_s
        while time.time() < deadline:
            r = rows()
            if pred(r):
                return r
            time.sleep(0.5)
        raise AssertionError(f"timed out waiting for {what}; rows={rows()}")

    pd.DataFrame(
        [{"session_id": "s1", "task_id": "a", "content": "x", "ts_millis": 1000, "checkpoint_id": "c1"}]
    ).to_parquet(joined_dir / "b0.parquet")
    query = run_stateful_pipeline(
        spark,
        str(joined_dir),
        checkpoint_location=str(tmp_path / "ckpt"),
        query_name="ttl_run",
        output_path=str(out_dir),
        ttl_ms=500,
    )
    try:
        wait_for(
            lambda r: any(x["session_id"] == "s1" and not x["evicted"] for x in r),
            "s1 initial state",
        )
        # s1 now idle; its 500ms timer fires in a subsequent (possibly
        # empty) micro-batch. A different session keeps the stream busy.
        pd.DataFrame(
            [{"session_id": "s2", "task_id": "a", "content": "y", "ts_millis": 2000, "checkpoint_id": "c2"}]
        ).to_parquet(joined_dir / "b1.parquet")
        r = wait_for(
            lambda r: any(x["session_id"] == "s1" and x["evicted"] for x in r),
            "s1 eviction",
        )
        s1_evicted = [x for x in r if x["evicted"] and x["session_id"] == "s1"]
        assert len(s1_evicted) == 1
        assert s1_evicted[0]["sequence_number"] == 1
        assert s1_evicted[0]["diff_data"] is None
        assert json.loads(s1_evicted[0]["cdc_content"])["a"][0]["content"] == "x"

        # s1 wakes after eviction: Spark state is gone, so seq restarts at 1
        pd.DataFrame(
            [{"session_id": "s1", "task_id": "a", "content": "z", "ts_millis": 3000, "checkpoint_id": "c3"}]
        ).to_parquet(joined_dir / "b2.parquet")
        r = wait_for(
            lambda r: sum(1 for x in r if x["session_id"] == "s1" and not x["evicted"]) == 2,
            "s1 re-seed",
        )
        seqs = [x["sequence_number"] for x in r if x["session_id"] == "s1" and not x["evicted"]]
        assert seqs == [1, 1]
    finally:
        query.stop()


def test_streaming_exact_dedup_drops_replays(spark, tmp_path):
    """At-least-once replays of the same (user_id, event_id) within the
    watermark are dropped across micro-batches; distinct keys all pass."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cdc_agents_data_stream_spark.operators.dedup import streaming_exact_dedup

    src = tmp_path / "events"
    src.mkdir()

    def batch(name, rows):
        pd.DataFrame(rows).to_parquet(src / name)

    t0 = "2026-01-01 00:00:00"
    batch("b0.parquet", [
        {"user_id": 1, "event_id": 10, "ts": t0},
        {"user_id": 1, "event_id": 10, "ts": t0},  # same-batch dup
        {"user_id": 2, "event_id": 20, "ts": t0},
    ])
    stream = spark.readStream.schema("user_id long, event_id long, ts string").parquet(
        str(src)
    ).withColumn("event_time", F.to_timestamp("ts"))
    out = streaming_exact_dedup(stream, ["user_id", "event_id"], "event_time")
    query = (
        out.writeStream.format("memory").queryName("dedup_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").start()
    )
    try:
        query.processAllAvailable()
        # cross-batch replay of (1, 10) + a fresh key
        batch("b1.parquet", [
            {"user_id": 1, "event_id": 10, "ts": "2026-01-01 00:00:05"},
            {"user_id": 3, "event_id": 30, "ts": "2026-01-01 00:00:05"},
        ])
        query.processAllAvailable()
        rows = spark.sql("SELECT user_id, event_id FROM dedup_sink").collect()
        got = sorted((r["user_id"], r["event_id"]) for r in rows)
        assert got == [(1, 10), (2, 20), (3, 30)]
    finally:
        query.stop()


def test_ivm_rollup_replay_is_noop(spark, tmp_path):
    """A replayed foreachBatch id must not double-count (the meta row and
    the merged aggregates commit in one store version)."""
    from pyspark.sql import functions as F

    from cdc_agents_data_stream_spark.streaming.ivm import ContinuousRollup

    rows = [
        (1, "2024-01-01 10:15:00", "click", 1.50),
        (2, "2024-01-01 10:45:00", "click", 2.25),
        (3, "2024-01-01 11:05:00", "view", 4.00),
    ]
    batch = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rollup = ContinuousRollup(spark, str(tmp_path / "rollup"))

    assert rollup.merge_batch(batch, 0) is True
    first = {(r.win_start_ms, r.event_type): (r.n_events, r.sum_cents)
             for r in rollup.read().collect()}
    assert len(first) == 2
    assert list(first.values()).count((2, 375)) == 1  # two clicks, 150+225

    # replay of batch 0: no-op
    assert rollup.merge_batch(batch, 0) is False
    assert {(r.win_start_ms, r.event_type): (r.n_events, r.sum_cents)
            for r in rollup.read().collect()} == first

    # a NEW batch touching an existing window adds onto it
    more = spark.createDataFrame(
        [(4, "2024-01-01 10:59:00", "click", 1.00)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert rollup.merge_batch(more, 1) is True
    after = {(r.win_start_ms, r.event_type): (r.n_events, r.sum_cents)
             for r in rollup.read().collect()}
    assert list(after.values()).count((3, 475)) == 1


def test_envelope_apply_streams_with_deletes(spark, tmp_path):
    """c/u/d envelopes through a LIVE foreachBatch stream: the second tick
    deletes a key the first created, updates another, inserts a third."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cdc_agents_data_stream_spark.sources.envelope import apply_cdc_envelope
    from cdc_agents_data_stream_spark.state.store import ParquetStateStore

    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    schema = pa.schema(
        [("session_id", pa.string()), ("seq", pa.int64()), ("op", pa.string()),
         ("val", pa.int64())]
    )
    ticks = [
        [("a", 1, "c", 10), ("b", 2, "c", 20)],
        [("a", 3, "d", 0), ("b", 4, "u", 25), ("c", 5, "c", 30)],
    ]
    indir = tmp_path / "in"
    indir.mkdir()
    for i, rows in enumerate(ticks):
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(("session_id", "seq", "op", "val"), r)) for r in rows],
                schema=schema,
            ),
            str(indir / f"tick-{i}.parquet"),
        )
        os.utime(indir / f"tick-{i}.parquet", (1000 + i, 1000 + i))
    store = ParquetStateStore(
        spark, str(tmp_path / "state"), n_buckets=4,
        schema="session_id string, seq long, val long",
    )
    q = (
        spark.readStream.schema("session_id string, seq long, op string, val long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
        .writeStream.foreachBatch(
            lambda bdf, bid: apply_cdc_envelope(store, bdf, tiebreak_col="val")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout=120)
    finally:
        q.stop()
    out = {r.session_id: (r.seq, r.val) for r in store.read().collect()}
    assert out == {"b": (4, 25), "c": (5, 30)}  # a deleted, b updated, c inserted


def test_pipeline_restart_from_checkpoint(spark, tmp_path):
    """Crash-recovery contract: stop the pipeline mid-history, start a NEW
    query on the same checkpoint dir with more ticks staged — the restarted
    query must resume from the source offsets (not reprocess absorbed
    ticks) and converge to the same state a single uninterrupted run
    produces: seq == n_ticks, one diff per tick, no duplicates."""
    (tmp_path / "writes").mkdir()
    (tmp_path / "cps").mkdir()
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    log = ParquetAppendLog(spark, str(tmp_path / "diffs"))

    for tick in range(3):
        _drop_tick(tmp_path, tick)
    q1 = run_foreachbatch_pipeline(
        spark,
        str(tmp_path / "writes"),
        str(tmp_path / "cps"),
        store,
        log,
        checkpoint_location=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    assert {r["sequence_number"] for r in store.read().collect()} == {3}

    # "crash": the query object is gone; stage two more ticks and restart
    # on the SAME checkpoint location with the same store
    for tick in range(3, 5):
        _drop_tick(tmp_path, tick)
    q2 = run_foreachbatch_pipeline(
        spark,
        str(tmp_path / "writes"),
        str(tmp_path / "cps"),
        store,
        log,
        checkpoint_location=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    rows = {r["session_id"]: r for r in store.read().collect()}
    # absorbed exactly the 2 new ticks on top of the pre-restart state
    assert rows["thread-0"]["sequence_number"] == 5
    content = json.loads(rows["thread-0"]["cdc_content"])
    assert len(content["3_task__start__"]) == 5  # one __start__ item per tick
    diffs = log.read(dedup=True).collect()
    assert sorted(d["sequence_number"] for d in diffs) == [1, 2, 3, 4, 5]


def test_tws_api_capability_probe():
    """The TWS operator must pick transformWithStateInPandas only when
    the protobuf runtime exists; in this container the probe documents
    whichever path is active (both are oracle-gated identically)."""
    from cdc_agents_data_stream_spark.streaming import tws

    ok = tws.has_tws_support()
    try:
        import google.protobuf.descriptor  # noqa: F401

        assert ok
    except ImportError:
        assert not ok


def test_session_windows_survive_query_restart(spark, tmp_path):
    """Native session-window STATE must survive a stop/restart: tick 0
    runs to completion and the query stops; tick 1 arrives and a NEW
    query starts from the same checkpoint. Sessions spanning the restart
    must merge exactly as if the stream never stopped, and append-mode
    emission across the two runs must be exactly-once — the union of
    both runs' outputs equals the batch gaps-and-islands sessionization
    of all punctual data."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from cdc_agents_data_stream_spark.queries.base import load

    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    # sample like the stream_sessionization gate: unsampled sf0.001 has
    # ~15 users x ~66 events at ~11h spacing — every user is ONE
    # month-long session that never closes (verified: 15 state rows, 0
    # emissions, which is CORRECT append-mode behavior, just vacuous)
    ev = (
        load(spark, "/root/testdata/sf0.001", "events")
        .filter(F.col("event_id") % 13 == 0)
        .select("event_id", "ts", "user_id")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    n = len(ev)
    (tmp_path / "in").mkdir()

    def run_once(tag):
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "in"))
            .withWatermark("ts", "30 minutes")
            .groupBy(F.session_window("ts", "96 hours").alias("w"), "user_id")
            .agg(F.count("*").cast("long").alias("n_events"))
        )
        flat = stream.select(
            "user_id",
            F.unix_millis(F.col("w.start").cast("timestamp")).alias("s_ms"),
            "n_events",
        )
        # the memory sink cannot recover from a checkpoint; the parquet
        # sink can — which is exactly the restart contract under test
        q = (
            flat.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(timeout=300)
        finally:
            q.stop()
        rows = spark.read.parquet(str(tmp_path / "out")).collect()
        return {(r["user_id"], r["s_ms"]): r["n_events"] for r in rows}

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64())]
    )

    def stage(part, name):
        pq.write_table(
            pa.Table.from_pandas(
                part[["event_id", "ts", "user_id"]], schema=schema, preserve_index=False
            ),
            str(tmp_path / "in" / name),
        )

    stage(ev.iloc[: n // 2], "tick-0.parquet")
    first = run_once("a")
    stage(ev.iloc[n // 2 :], "tick-1.parquet")
    second = run_once("b")

    # the parquet sink accumulates across runs: run 2's table contains
    # run 1's rows plus the newly closed sessions, each emitted once
    assert set(first) <= set(second)
    assert len(second) == len(first) + (len(set(second) - set(first)))
    got = second

    # batch oracle: closed sessions over ALL data
    allpdf = spark.createDataFrame(ev)
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    e = allpdf.select("user_id", ms.alias("ts_ms"))
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts_ms")
    gap = 96 * 3600 * 1000
    sess = (
        e.withColumn(
            "brk",
            (
                F.coalesce(
                    (F.col("ts_ms") - F.lag("ts_ms").over(w)) > gap, F.lit(True)
                )
            ).cast("int"),
        )
        .withColumn("sid", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts_ms").alias("s_ms"),
            F.max("ts_ms").alias("last_ms"),
            F.count("*").cast("long").alias("n_events"),
        )
    )
    wm = e.agg((F.max("ts_ms") - 30 * 60000).alias("w")).collect()[0]["w"]
    closed = {
        (r["user_id"], r["s_ms"]): r["n_events"]
        for r in sess.filter(F.col("last_ms") + gap <= F.lit(wm)).collect()
    }
    assert got == closed
    assert len(set(second) - set(first)) > 0  # the restart emitted NEW sessions


# --- streaming crash injection ------------------------------------------------

CRASH_SCRIPT = r"""
import json, os, signal, sys, time
sys.path.insert(0, {repo!r})
base, kill_after, n_ticks = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .appName("crash-foreachbatch")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from cdc_agents_data_stream_spark.state.store import ParquetAppendLog, ParquetStateStore
from cdc_agents_data_stream_spark.streaming.pipeline import run_foreachbatch_pipeline

store = ParquetStateStore(spark, f"{{base}}/state")
log = ParquetAppendLog(spark, f"{{base}}/diffs")

# Kill points straddle the two store operations of every micro-batch:
# odd index = BEFORE the op, even = AFTER it (i.e. between the diff
# append and the state MERGE, and between the state MERGE and Spark's
# checkpoint-offset advance). The kill takes down the JVM first, then
# this driver — a whole-app crash, not a polite stop.
count = {{"n": 0}}
def bump():
    count["n"] += 1
    if 0 < kill_after <= count["n"]:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        os.kill(jvm_pid, signal.SIGKILL)
        os.kill(os.getpid(), signal.SIGKILL)
def arm(obj, name):
    real = getattr(obj, name)
    def wrapped(*a, **k):
        bump()
        out = real(*a, **k)
        bump()
        return out
    setattr(obj, name, wrapped)
arm(log, "append_rows")
arm(store, "upsert_rows")

query = run_foreachbatch_pipeline(
    spark, f"{{base}}/writes", f"{{base}}/cps", store, log,
    checkpoint_location=f"{{base}}/ckpt",
    trigger={{"availableNow": True}},
    max_files_per_trigger=1,
)
query.awaitTermination(180)

rows = {{r["session_id"]: r for r in store.read().collect()}}
doc = rows["thread-0"]
content = json.loads(doc["cdc_content"])
diffs_all = [r["sequence_number"] for r in log.read().collect()]
diffs = sorted(r["sequence_number"] for r in log.read(dedup=True).collect())
print("RESULT", json.dumps({{
    "seq": doc["sequence_number"],
    "n_last_task_msgs": len(json.loads(content["0_task"][0]["content"])),
    "n_start_items": len(content["3_task__start__"]),
    "diffs_dedup": diffs,
    "n_diff_raw": len(diffs_all),
    "ops": count["n"],
}}))
spark.stop()
"""


# 3 ticks x 2 store ops x 2 (before/after) = 12 in-run kill points; 13
# lands past the end (no kill - the control). Sweep batch 0 and batch 1
# exhaustively plus a batch-2 point and the control; each point costs two
# JVM launches, so the full 13-point sweep is left to ad-hoc runs.
@pytest.mark.parametrize("kill_after", [1, 2, 3, 4, 6, 9, 13])
def test_sigkill_mid_foreachbatch_replays_idempotently(spark, tmp_path, kill_after):
    """Whole-app SIGKILL between the diff append, the state MERGE, and
    Spark's checkpoint advance must never double-apply or lose a tick:
    after a cold restart on the same checkpoint, the replayed batch is
    absorbed idempotently (X3 staleness gate + keyed MERGE + diff-log
    dedup), so the final state doc and the deduped diff log are exactly
    what an uninterrupted run produces. This converts the exactly-once
    claim in run_foreachbatch_pipeline's docstring from an argument into
    a measured property (store-level twin: tests/test_store_crash.py)."""
    import subprocess
    import sys as _sys

    n_ticks = 3
    (tmp_path / "writes").mkdir()
    (tmp_path / "cps").mkdir()
    for tick in range(n_ticks):
        _drop_tick(tmp_path, tick)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = CRASH_SCRIPT.format(repo=repo)

    p1 = subprocess.run(
        [_sys.executable, "-c", script, str(tmp_path), str(kill_after), str(n_ticks)],
        capture_output=True, text=True, timeout=300,
    )
    killed = p1.returncode == -signal.SIGKILL
    if kill_after >= 13:
        # the control point lands past the 12 in-run ops: no kill
        assert not killed, p1.stderr[-2000:]
        assert p1.returncode == 0, f"stdout:\n{p1.stdout}\nstderr:\n{p1.stderr[-3000:]}"
    else:
        # 3 ticks x 2 ops x 2 (before/after) = 12 in-run points exist by
        # construction, so every kill_after <= 12 MUST actually SIGKILL.
        # Without this, a refactor that stops routing through the armed
        # store/log bound methods would silently degrade every
        # parameterization into the no-crash control — still green, but
        # testing nothing.
        assert killed, (
            f"kill point {kill_after} never fired (rc={p1.returncode}) — "
            f"arm() no longer intercepts the store/log ops\n"
            f"stderr:\n{p1.stderr[-2000:]}"
        )

    # resume phase: same dirs + checkpoint, kills disarmed
    p2 = subprocess.run(
        [_sys.executable, "-c", script, str(tmp_path), "0", str(n_ticks)],
        capture_output=True, text=True, timeout=300,
    )
    assert p2.returncode == 0, f"stdout:\n{p2.stdout}\nstderr:\n{p2.stderr[-3000:]}"
    line = [ln for ln in p2.stdout.splitlines() if ln.startswith("RESULT ")][-1]
    res = json.loads(line[len("RESULT "):])
    # exactly-once effects: every tick absorbed once, none lost
    assert res["seq"] == n_ticks, res
    assert res["n_last_task_msgs"] == n_ticks, res
    assert res["n_start_items"] == n_ticks, res
    assert res["diffs_dedup"] == list(range(1, n_ticks + 1)), res
    # the raw log MAY carry a replayed duplicate (at-least-once append);
    # it must never carry more than one extra copy per crash
    assert res["n_diff_raw"] <= n_ticks + 1, res
