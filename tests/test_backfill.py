"""End-to-end batch backfill (X7): snapshot → state store + diff log, then
an incremental second batch exercising staleness and idempotency."""

from __future__ import annotations

import json

import pytest

from cdc_agents_data_stream_spark.plans.backfill import backfill
from cdc_agents_data_stream_spark.state.store import ParquetAppendLog, ParquetStateStore
from tests.checkpointgen import gen_checkpoint_tables


@pytest.fixture()
def paths(tmp_path):
    return tmp_path


def _write_tables(spark, base, **gen_kwargs):
    cps, writes = gen_checkpoint_tables(**gen_kwargs)
    cps.to_parquet(base / "checkpoints.parquet")
    writes.to_parquet(base / "checkpoint_writes.parquet")
    return (
        spark.read.parquet(str(base / "checkpoints.parquet")),
        spark.read.parquet(str(base / "checkpoint_writes.parquet")),
    )


def test_backfill_creates_state_docs(spark, paths):
    cps_df, writes_df = _write_tables(spark, paths, n_threads=2, n_ticks=4)
    store = ParquetStateStore(spark, str(paths / "state"))
    log = ParquetAppendLog(spark, str(paths / "diffs"))

    state = backfill(spark, writes_df, cps_df, store, log)
    rows = {r["session_id"]: r for r in state.collect()}
    assert set(rows) == {"thread-0", "thread-1"}

    doc = json.loads(rows["thread-0"]["cdc_content"])
    assert set(doc) == {"0_task", "1_task", "2_task", "3_task__start__", "4_task"}
    # latest tick absorbed: tick 3 repeats eff_tick=2 (idempotency probe)
    # -> its blob carries 3 messages
    msgs = json.loads(doc["0_task"][0]["content"])
    assert len(msgs) == 3

    diffs = log.read().collect()
    assert all(d["source"] == "cdc" for d in diffs)
    assert {d["session_id"] for d in diffs} == {"thread-0", "thread-1"}
    assert all(d["sequence_number"] == 1 for d in diffs)


def test_backfill_incremental_batch_bumps_seq(spark, paths):
    cps_df, writes_df = _write_tables(spark, paths, n_threads=1, n_ticks=3, repeat_tick=None)
    store = ParquetStateStore(spark, str(paths / "state"))
    log = ParquetAppendLog(spark, str(paths / "diffs"))

    backfill(spark, writes_df, cps_df, store, log)
    s1 = {r["session_id"]: r for r in store.read().collect()}["thread-0"]
    assert s1["sequence_number"] == 1

    # second batch: 2 more ticks -> new latest content -> seq 2 and a diff
    base2 = paths / "b2"
    base2.mkdir()
    cps2, writes2 = _write_tables(spark, base2, n_threads=1, n_ticks=5, repeat_tick=None)
    backfill(spark, writes2, cps2, store, log)
    s2 = {r["session_id"]: r for r in store.read().collect()}["thread-0"]
    assert s2["sequence_number"] == 2

    # replay of the SAME batch: no content change -> seq stays, no new diff
    n_diffs = log.read().count()
    backfill(spark, writes2, cps2, store, log)
    s3 = {r["session_id"]: r for r in store.read().collect()}["thread-0"]
    assert s3["sequence_number"] == 2
    assert log.read().count() == n_diffs

    # __start__ task accumulated history, others last-write-wins
    content = json.loads(s3["cdc_content"])
    assert len(content["3_task__start__"]) == 2  # one per distinct absorbed ts
    assert len(content["0_task"]) == 1


def test_backfill_replay_is_byte_identical(spark, paths):
    """Replaying a batch with the same ``now_ms`` writes byte-identical
    state rows — one batch timestamp is stamped everywhere, never
    per-group wall clock."""
    cps_df, writes_df = _write_tables(spark, paths, n_threads=2, n_ticks=3, repeat_tick=None)
    rows = []
    for attempt in range(2):
        store = ParquetStateStore(spark, str(paths / f"state{attempt}"))
        backfill(spark, writes_df, cps_df, store, now_ms=1_700_000_000_000)
        rows.append(sorted(tuple(r) for r in store.read().collect()))
    assert rows[0] == rows[1]
    assert all(r[-1] == 1_700_000_000_000 for r in rows[0])  # updated_ts_millis


def test_backfill_large_result_uses_distributed_merge(spark, paths):
    """Forcing the threshold to 0 exercises the distributed MERGE sink on
    the same inputs and produces the same state as the driver fast path."""
    cps_df, writes_df = _write_tables(spark, paths, n_threads=2, n_ticks=3, repeat_tick=None)
    out = {}
    for name, threshold in (("small", 500), ("large", 0)):
        store = ParquetStateStore(spark, str(paths / f"state-{name}"))
        log = ParquetAppendLog(spark, str(paths / f"diffs-{name}"))
        backfill(
            spark, writes_df, cps_df, store, log,
            now_ms=1_700_000_000_000, small_result_max_rows=threshold,
        )
        out[name] = {
            "state": sorted(tuple(r) for r in store.read().collect()),
            "diff_keys": sorted(
                (r["session_id"], r["sequence_number"], r["source"])
                for r in log.read().collect()
            ),
        }
    assert out["small"]["state"] == out["large"]["state"]
    assert out["small"]["diff_keys"] == out["large"]["diff_keys"]


def test_transition_rows_fn_matches_transition():
    """The Arrow path's per-session function is ``transition`` plus the
    state-row codec and nothing else — for a fresh session (all-None state
    columns), a session with prior state, a prior row that still carries
    the diff-history columns of an older store, and rows with a None
    task_id (the noise rows the filter must drop)."""
    from cdc_agents_data_stream_spark.operators.merge import new_state, transition
    from cdc_agents_data_stream_spark.plans.backfill import (
        doc_to_state_row,
        make_transition_rows_fn,
    )
    from cdc_agents_data_stream_spark.schemas import DATA_STREAM_STATE_SCHEMA

    state_cols = DATA_STREAM_STATE_SCHEMA.fieldNames()
    now = 1_700_000_000_000

    prior_doc = new_state("s-1")
    prior_doc["sequence_number"] = 3
    prior_doc["cdc_content"] = {"t1": [{"content": "old", "timestamp": 5,
                                        "thread_id": "s-1", "checkpoint_id": "cp0",
                                        "task_id": "t1"}]}
    prior_row = doc_to_state_row(prior_doc, now - 1000)
    legacy_cols = {"cdc_checkpoint_diffs": '[{"sequenceNumber": 3}]',
                   "ide_checkpoint_diffs": "[]"}

    def mk_rows(session_id, prior):
        base = {c: (prior[c] if prior else None) for c in state_cols}
        base.pop("updated_ts_millis", None)
        if prior:
            base.update({c: prior[c] for c in legacy_cols if c in prior})
        rows = []
        for i, task in enumerate(["t1", "t2", None]):
            r = dict(base)
            r.update(
                session_id=session_id,
                task_id=task,
                content=f"c-{i}" if task else None,
                ts_millis=100 + i,
                checkpoint_id=f"cp-{i}" if task else None,
            )
            rows.append(r)
        return rows

    fn_rows = make_transition_rows_fn("cdc", None, now)
    for sid, prior in (
        ("s-0", None),
        ("s-1", prior_row),
        ("s-1", {**prior_row, **legacy_cols}),
    ):
        rows = mk_rows(sid, prior)
        items = [
            {"task_id": r["task_id"], "content": r["content"], "timestamp": r["ts_millis"],
             "thread_id": sid, "checkpoint_id": r["checkpoint_id"]}
            for r in rows
            if r["task_id"] is not None
        ]
        doc, diff = transition(prior_doc if prior else None, sid, items, source="cdc")
        expected = {**doc_to_state_row(doc, now), "batch_diff": json.dumps(diff)}
        assert fn_rows(sid, rows) == expected, f"mismatch for {sid}"


def test_diff_content_shape(spark, paths):
    cps_df, writes_df = _write_tables(spark, paths, n_threads=1, n_ticks=2, repeat_tick=None)
    store = ParquetStateStore(spark, str(paths / "state"))
    log = ParquetAppendLog(spark, str(paths / "diffs"))
    backfill(spark, writes_df, cps_df, store, log)
    d = log.read().collect()[0]
    diff_data = json.loads(d["diff_data"])
    ch = diff_data["0_task"]["changes"][0]["change"]
    assert ch["type"] == "insert_content"
    assert ch["linesToAdd"]["start"] == 0


@pytest.mark.parametrize("threshold", [500, 0], ids=["driver-merge", "distributed-merge"])
def test_store_with_diff_history_columns_reads_and_upserts(spark, paths, monkeypatch, threshold):
    """A store written while the state row still carried the
    ``cdc_checkpoint_diffs`` / ``ide_checkpoint_diffs`` columns (by both
    write paths: the distributed MERGE and the driver-side pyarrow MERGE,
    whose schema constants are swapped back for the legacy write) keeps
    reading and absorbing batches: the transition ignores the old columns,
    rows it writes carry none, and untouched rows keep theirs."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from cdc_agents_data_stream_spark.plans.backfill import apply_transition_batch
    from cdc_agents_data_stream_spark.schemas import DATA_STREAM_STATE_SCHEMA
    from cdc_agents_data_stream_spark.state import store as store_mod

    legacy_cols = ["cdc_checkpoint_diffs", "ide_checkpoint_diffs"]
    fields = DATA_STREAM_STATE_SCHEMA.fields
    legacy_schema = T.StructType(
        fields[:-1] + [T.StructField(c, T.StringType(), True) for c in legacy_cols] + fields[-1:]
    )
    pa_fields = list(store_mod._STATE_PA_SCHEMA)
    legacy_pa = pa.schema(pa_fields[:-1] + [(c, pa.string()) for c in legacy_cols] + pa_fields[-1:])

    def legacy_row(sid, content):
        return {
            "session_id": sid,
            "sequence_number": 1,
            "cdc_content": json.dumps({"t": [{"content": content, "timestamp": 10,
                                              "thread_id": sid, "checkpoint_id": "c1",
                                              "task_id": "t"}]}),
            "ide_content": "{}",
            "metadata": "{}",
            "ctx": "[]",
            "cdc_checkpoint_diffs": json.dumps([{"sequenceNumber": 1, "diffData": {}}]),
            "ide_checkpoint_diffs": "[]",
            "updated_ts_millis": 1_000,
        }

    store = ParquetStateStore(spark, str(paths / "state"), n_buckets=4)
    store.upsert(spark.createDataFrame([legacy_row(f"s{i}", "old") for i in range(4)], legacy_schema))
    with monkeypatch.context() as m:
        m.setattr(store_mod, "_STATE_PA_SCHEMA", legacy_pa)
        m.setattr(store_mod, "DATA_STREAM_STATE_SCHEMA", legacy_schema)
        store.upsert_rows([legacy_row(f"s{i}", "old") for i in range(4, 8)])

    before = {r["session_id"]: r.asDict() for r in store.read().collect()}
    assert set(legacy_cols) <= set(store.read().columns) and len(before) == 8
    assert set(store.read_docs(["s0", "s5"])) == {"s0", "s5"}

    touched = ["s0", "s5"]
    latest = spark.createDataFrame(
        [(sid, "t", "new", 20, "c2") for sid in touched],
        "thread_id string, task_id string, content string, ts_millis long, checkpoint_id string",
    )
    log = ParquetAppendLog(spark, str(paths / "diffs"))
    n = apply_transition_batch(latest, store, log, "cdc", now_ms=2_000, small_result_max_rows=threshold)
    assert n == len(touched)

    after = {r["session_id"]: r.asDict() for r in store.read().collect()}
    assert set(after) == set(before)
    for sid, row in after.items():
        content = json.loads(row["cdc_content"])["t"][0]["content"]
        if sid in touched:
            assert (row["sequence_number"], content) == (2, "new")
            assert all(row.get(c) is None for c in legacy_cols)
        else:
            assert (row["sequence_number"], content) == (1, "old")
    diffs = log.read(dedup=True).select("session_id", "sequence_number").collect()
    assert sorted(tuple(r) for r in diffs) == [(sid, 2) for sid in touched]
    # the distributed MERGE keeps the old columns on rows it does not replace
    if threshold == 0:
        untouched = [sid for sid in after if sid not in touched]
        assert all(after[s]["cdc_checkpoint_diffs"] == before[s]["cdc_checkpoint_diffs"] for s in untouched)
    # a second batch reads back what the first wrote, through either path
    store.upsert_rows([{**after["s1"], "sequence_number": 3}])
    assert {r["session_id"]: r["sequence_number"] for r in store.read().collect()}["s1"] == 3
