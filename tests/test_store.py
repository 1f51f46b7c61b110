"""Unit tests for the bucketed manifest state store: Spark-path and
pyarrow-path writes interleave on one layout, reads bucket-prune, vacuum
retains what live manifests reference, and the streaming pipeline's fast
and distributed paths produce identical state/diffs."""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
import pytest

from cdc_agents_data_stream_spark.state.store import (
    ParquetAppendLog,
    ParquetStateStore,
    bucket_of,
)


def _row(sid: str, seq: int = 1):
    return {
        "session_id": sid,
        "sequence_number": seq,
        "cdc_content": "{}",
        "ide_content": "{}",
        "metadata": "{}",
        "ctx": "[]",
        "updated_ts_millis": 1000 + seq,
    }


def test_bucket_hash_matches_spark(spark, tmp_path):
    """The Python md5-bucket must equal the Spark expression's bucket for
    the same keys — the two write paths address one layout."""
    store = ParquetStateStore(spark, str(tmp_path / "s"), n_buckets=16)
    keys = [f"session-{i}" for i in range(50)]
    df = spark.createDataFrame([(k,) for k in keys], "session_id string")
    got = {
        r["session_id"]: r["b"]
        for r in df.select("session_id", store._bucket_expr("session_id").alias("b")).collect()
    }
    for k in keys:
        assert got[k] == bucket_of(k, 16)


def test_spark_and_pyarrow_upserts_interleave(spark, tmp_path):
    from cdc_agents_data_stream_spark.schemas import DATA_STREAM_STATE_SCHEMA

    store = ParquetStateStore(spark, str(tmp_path / "s"), n_buckets=8)
    # v1 via Spark — rows must carry the DECLARED schema (dict inference
    # would widen sequence_number to int64 and conflict with the pyarrow
    # path's int32 under schema-merging reads)
    store.upsert(
        spark.createDataFrame([_row("a", 1), _row("b", 1)], DATA_STREAM_STATE_SCHEMA)
    )
    # v2 via pyarrow: update a, insert c
    store.upsert_rows([_row("a", 2), _row("c", 1)])
    # v3 via Spark again: update c
    store.upsert(spark.createDataFrame([_row("c", 3)], DATA_STREAM_STATE_SCHEMA))

    rows = {r["session_id"]: r["sequence_number"] for r in store.read().collect()}
    assert rows == {"a": 2, "b": 1, "c": 3}
    # pyarrow point reads see the same state
    docs = store.read_docs(["a", "b", "c"])
    assert {k: v["sequence_number"] for k, v in docs.items()} == {"a": 2, "b": 1, "c": 3}
    assert store.max_sequence_number() == 3


def test_read_bucket_pruning(spark, tmp_path):
    store = ParquetStateStore(spark, str(tmp_path / "s"), n_buckets=8)
    rows = [_row(f"s{i}") for i in range(20)]
    store.upsert_rows(rows)
    keys = spark.createDataFrame([("s0",), ("s7",)], "session_id string")
    pruned = store.read(keys=keys)
    # the pruned read scans only the wanted buckets: every returned row
    # hashes into one of them, and the lookup keys are all present
    want = {bucket_of("s0", 8), bucket_of("s7", 8)}
    got = {r["session_id"] for r in pruned.collect()}
    assert {"s0", "s7"} <= got
    assert all(bucket_of(s, 8) in want for s in got)


def test_vacuum_keeps_buckets_referenced_by_live_manifests(spark, tmp_path):
    store = ParquetStateStore(spark, str(tmp_path / "s"), n_buckets=4)
    # session "x" lands in one bucket at v1 and is never touched again
    store.upsert_rows([_row("x", 1)])
    # data dirs are uniquely named per writer attempt: resolve x's bucket
    # dir through the v1 manifest
    v1_rel = store._manifest(1)[str(bucket_of("x", 4))]
    v1_dir = os.path.join(store.path, v1_rel.split("/", 1)[0])
    # churn other sessions well past KEEP_VERSIONS
    for i in range(store.KEEP_VERSIONS + 3):
        sid = f"churn-{i}"
        if bucket_of(sid, 4) == bucket_of("x", 4):
            sid = sid + "-alt"  # keep x's bucket untouched
        if bucket_of(sid, 4) != bucket_of("x", 4):
            store.upsert_rows([_row(sid, i + 1)])
    # x's v1 bucket file must survive vacuum (current manifest points at it)
    assert os.path.isdir(v1_dir)
    assert store.read_docs(["x"])["x"]["sequence_number"] == 1
    # manifests older than the retention window are gone
    v = store.current_version()
    assert not os.path.exists(store._manifest_file(max(1, v - store.KEEP_VERSIONS)))


def test_append_log_rows_and_dedup(spark, tmp_path):
    log = ParquetAppendLog(spark, str(tmp_path / "log"))
    d = {"session_id": "s", "sequence_number": 1, "source": "cdc", "diff_data": "{}", "ts_millis": 5}
    log.append_rows([d])
    log.append_rows([d])  # replayed batch
    assert log.read().count() == 2
    assert log.read(dedup=True).count() == 1


def _diff(i: int) -> dict:
    return {
        "session_id": f"s{i % 5}",
        "sequence_number": i // 5,
        "source": "cdc" if i % 2 else "ide",
        "diff_data": f'[{{"line": {i}}}]',
        "ts_millis": 1000 + i,
    }


def test_append_log_reader_survives_compaction(spark, tmp_path):
    """A ``read()`` DataFrame built before a compaction still collects
    every row after it: the compaction publishes a new generation and the
    old one is kept for ``KEEP_GENERATIONS`` rounds, then deleted."""
    log = ParquetAppendLog(spark, str(tmp_path / "log"))
    for i in range(40):
        log.append_rows([_diff(i)])
    early = log.read()
    expected = sorted(tuple(_diff(i).values()) for i in range(40))
    assert log.compact(target_files=2, min_files=32)
    assert sorted(tuple(r) for r in early.collect()) == expected
    assert sorted(tuple(r) for r in log.read().collect()) == expected
    # each compacted file holds one sorted run of (session, seq, source)
    d = log._data_dir()
    files = log._files(d)
    assert len(files) == 2
    for f in files:
        keys = [(r["session_id"], r["sequence_number"], r["source"]) for r in pq.read_table(os.path.join(d, f)).to_pylist()]
        assert keys == sorted(keys)
    # later rounds expire the early reader's generation, and only it
    for i in range(40, 40 + log.KEEP_GENERATIONS * log.FAN_IN):
        log.append_rows([_diff(i)])
        log.merge_tiers()
    gens = sorted(n for n in os.listdir(log.path) if n.startswith("d"))
    assert len(gens) == log.KEEP_GENERATIONS and os.path.basename(d) not in gens
    assert log.read(dedup=True).count() == 40 + log.KEEP_GENERATIONS * log.FAN_IN


@pytest.mark.parametrize("force_distributed", [False, True])
def test_pipeline_paths_equivalent(spark, tmp_path, force_distributed):
    """The driver fast path and the distributed path must produce the same
    final state and the same diff-log bytes for the same input ticks."""
    from cdc_agents_data_stream_spark.streaming.pipeline import run_foreachbatch_pipeline
    from tests.checkpointgen import gen_checkpoint_tables

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        base = tmp_path / ("dist" if force_distributed else "fast")
        (base / "writes").mkdir(parents=True)
        (base / "cps").mkdir()
        n_ticks = 3
        cps, writes = gen_checkpoint_tables(n_threads=2, n_ticks=n_ticks, repeat_tick=None)
        cps.to_parquet(base / "cps" / "all.parquet")
        tick_of = writes.checkpoint_id.str.split("-").str[2].astype(int)
        for tick in range(n_ticks):
            writes[tick_of == tick].to_parquet(base / "writes" / f"tick-{tick}.parquet")
        store = ParquetStateStore(spark, str(base / "state"))
        log = ParquetAppendLog(spark, str(base / "diffs"))
        query = run_foreachbatch_pipeline(
            spark,
            str(base / "writes"),
            str(base / "cps"),
            store,
            log,
            checkpoint_location=str(base / "ckpt"),
            max_files_per_trigger=1,
            # 0 forces every batch down the distributed path
            small_batch_max_rows=0 if force_distributed else 500,
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()

        state = {}
        for r in store.read().collect():
            content = json.loads(r["cdc_content"])
            state[r["session_id"]] = (
                r["sequence_number"],
                {t: [it["content"] for it in items] for t, items in sorted(content.items())},
            )
        diffs = sorted(
            (r["session_id"], r["sequence_number"], r["source"], r["diff_data"])
            for r in log.read(dedup=True).collect()
        )
        assert diffs and all(json.loads(d) for *_, d in diffs)
        key = "dist" if force_distributed else "fast"
        _RESULTS[key] = (state, diffs)
        if len(_RESULTS) == 2:
            assert _RESULTS["fast"] == _RESULTS["dist"]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


_RESULTS: dict = {}


def test_time_travel_read_within_retention(spark, tmp_path):
    """Any version whose manifest is retained can be read as-of; versions
    beyond the window or never committed raise clearly."""
    store = ParquetStateStore(spark, str(tmp_path / "s"), n_buckets=4)
    for seq in (1, 2, 3):
        store.upsert_rows([_row("x", seq)])
    assert store.current_version() == 3
    for v in (1, 2, 3):
        got = {r["session_id"]: r["sequence_number"] for r in store.read(version=v).collect()}
        assert got == {"x": v}
    with pytest.raises(ValueError, match="not committed"):
        store.read(version=9)
    # churn past the retention window: v1's manifest ages out
    for seq in (4, 5, 6):
        store.upsert_rows([_row("x", seq)])
    with pytest.raises(ValueError, match="retention window"):
        store.read(version=1)
    assert {r["sequence_number"] for r in store.read(version=store.current_version()).collect()} == {6}


def test_delete_removes_keys_and_empty_buckets_survive(spark, tmp_path):
    """DELETE drops rows; a bucket the delete empties is manifest-marked
    empty (not left pointing at stale data), and later reads/upserts on
    that bucket work."""
    from pyspark.sql import functions as F

    from cdc_agents_data_stream_spark.state.store import ParquetStateStore

    schema = "session_id string, val long"
    store = ParquetStateStore(spark, str(tmp_path / "s"), n_buckets=4, schema=schema)
    rows = [(f"k{i}", i) for i in range(20)]
    store.upsert(spark.createDataFrame(rows, schema))

    # delete half the keys, including (deterministically) every key of at
    # least one bucket: nuke k0..k14 — with 4 buckets, some bucket surely
    # empties entirely
    dels = spark.createDataFrame([(f"k{i}",) for i in range(15)], "session_id string")
    store.delete(dels)
    left = {r.session_id for r in store.read().collect()}
    assert left == {f"k{i}" for i in range(15, 20)}

    # deleting absent keys is a no-op
    store.delete(spark.createDataFrame([("nope",)], "session_id string"))
    assert {r.session_id for r in store.read().collect()} == left

    # an emptied bucket accepts new rows again
    store.upsert(spark.createDataFrame([("k0", 100)], schema))
    out = {r.session_id: r.val for r in store.read().collect()}
    assert out["k0"] == 100 and len(out) == 6

    # vacuum over versions with ""-marked buckets never touches the root
    for i in range(5):
        store.upsert(spark.createDataFrame([(f"k{i}", i * 10)], schema))
    assert store.exists() and len(store.read().collect()) >= 6


def test_upsert_schema_evolution(spark, tmp_path):
    """A later upsert may ADD columns: old rows read back with nulls there
    (mergeSchema), and rows replaced by a narrower update carry nulls in
    the columns it omitted (LWW replaces whole rows)."""
    from cdc_agents_data_stream_spark.state.store import ParquetStateStore

    store = ParquetStateStore(
        spark, str(tmp_path / "s"), n_buckets=4, schema="session_id string, a long"
    )
    store.upsert(spark.createDataFrame([("k1", 1), ("k2", 2)], "session_id string, a long"))
    # evolve: add column b
    store.upsert(
        spark.createDataFrame([("k3", 3, 30)], "session_id string, a long, b long")
    )
    out = {r.session_id: (r.a, r.b) for r in store.read().collect()}
    assert out == {"k1": (1, None), "k2": (2, None), "k3": (3, 30)}
    # narrow update replaces the whole row (b -> null)
    store.upsert(spark.createDataFrame([("k3", 33)], "session_id string, a long"))
    out = {r.session_id: (r.a, r.b) for r in store.read().collect()}
    assert out["k3"] == (33, None)


def test_changes_between_versions_cdf(spark, tmp_path):
    """Change-data-feed read: snapshot diff between two retained versions
    tags inserts, updates (postimage), and deletes; unchanged keys emit
    nothing."""
    from cdc_agents_data_stream_spark.state.store import ParquetStateStore

    store = ParquetStateStore(spark, str(tmp_path / "s"), n_buckets=8)
    store.upsert_rows([_row("a", 1), _row("b", 1), _row("c", 1)])
    v1 = store.current_version()
    store.upsert_rows([_row("b", 2), _row("d", 1)])  # update b, insert d
    store.delete(
        spark.createDataFrame([("c",)], "session_id string"), key="session_id"
    )
    v3 = store.current_version()
    cdf = {
        r["session_id"]: r["_change_type"]
        for r in store.changes_between(v1, v3).collect()
    }
    assert cdf == {"b": "update_postimage", "d": "insert", "c": "delete"}
    # full feed from nothing = every live row as insert
    cdf0 = {
        r["session_id"]: r["_change_type"]
        for r in store.changes_between(0, v3).collect()
    }
    assert cdf0 == {"a": "insert", "b": "insert", "d": "insert"}
    # postimage payload rides along for non-deletes
    post = {
        r["session_id"]: r["sequence_number"]
        for r in store.changes_between(v1, v3).collect()
        if r["_change_type"] != "delete"
    }
    assert post == {"b": 2, "d": 1}


def test_cdf_tracks_live_pipeline_ticks(spark, tmp_path):
    """Drive the real foreachBatch pipeline tick by tick and assert the
    store's change feed between consecutive versions names exactly the
    sessions each tick touched — the CDF read is how a downstream
    consumer would tail this store without rescanning snapshots."""
    from cdc_agents_data_stream_spark.streaming.pipeline import run_foreachbatch_pipeline
    from tests.checkpointgen import gen_checkpoint_tables

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        base = tmp_path / "cdf"
        (base / "writes").mkdir(parents=True)
        (base / "cps").mkdir()
        cps, writes = gen_checkpoint_tables(n_threads=2, n_ticks=2, repeat_tick=None)
        cps.to_parquet(base / "cps" / "all.parquet")
        tick_of = writes.checkpoint_id.str.split("-").str[2].astype(int)
        for tick in range(2):
            writes[tick_of == tick].to_parquet(base / "writes" / f"tick-{tick}.parquet")
        store = ParquetStateStore(spark, str(base / "state"))
        log = ParquetAppendLog(spark, str(base / "diffs"))
        q = run_foreachbatch_pipeline(
            spark, str(base / "writes"), str(base / "cps"), store, log,
            checkpoint_location=str(base / "ckpt"), max_files_per_trigger=1,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        v = store.current_version()
        assert v >= 2
        # tick 2's delta: both thread sessions updated (new checkpoints)
        feed = store.changes_between(v - 1, v).collect()
        assert {r["_change_type"] for r in feed} <= {"insert", "update_postimage"}
        assert len(feed) == 2
        # from-scratch feed equals the live snapshot as inserts
        feed0 = store.changes_between(0, v).collect()
        assert all(r["_change_type"] == "insert" for r in feed0)
        assert len(feed0) == store.read().count()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_pinned_schema_read_and_pre_upgrade_fallback(spark, tmp_path):
    """Manifests record each data dir's schema so reads pin an explicit
    schema (no mergeSchema footer job). The pinned read must (a) be
    recorded for every live dir, (b) produce the same rows/columns across
    schema evolution as the mergeSchema path, and (c) fall back cleanly
    when a manifest predates the upgrade (no dir_schemas key)."""
    from pyspark.sql import types as T

    store = ParquetStateStore(
        spark, str(tmp_path / "s"), n_buckets=4, schema="session_id string, a long"
    )
    store.upsert(spark.createDataFrame([("k1", 1), ("k2", 2)], "session_id string, a long"))
    store.upsert(
        spark.createDataFrame([("k3", 3, 30)], "session_id string, a long, b long")
    )
    v = store.current_version()
    # (a) every live dir has a recorded schema
    live = {rel.split("/", 1)[0] for rel in store._manifest(v).values() if rel}
    assert set(store._dir_schemas(v)) >= live
    for j in store._dir_schemas(v).values():
        T.StructType.fromJson(json.loads(j))  # valid Spark schema JSON
    # (b) pinned read: union columns, nulls filled for pre-evolution dirs
    out = {r.session_id: (r.a, r.b) for r in store.read().collect()}
    assert out == {"k1": (1, None), "k2": (2, None), "k3": (3, 30)}
    paths = store._bucket_paths(v)
    pinned = store._read_parquet(v, paths)
    merged = spark.read.option("mergeSchema", "true").parquet(*paths)
    assert sorted(pinned.columns) == sorted(merged.columns)
    assert {tuple(r) for r in pinned.select(*sorted(pinned.columns)).collect()} == {
        tuple(r) for r in merged.select(*sorted(merged.columns)).collect()
    }
    # (c) strip dir_schemas => pre-upgrade manifest => mergeSchema fallback
    mf = store._manifest_file(v)
    doc = json.load(open(mf))
    doc.pop("dir_schemas")
    os.unlink(mf)  # _try_commit linked it; replace with the stripped doc
    with open(mf, "w") as fh:
        json.dump(doc, fh)
    assert store._dir_schemas(v) == {}
    out = {r.session_id: (r.a, r.b) for r in store.read().collect()}
    assert out == {"k1": (1, None), "k2": (2, None), "k3": (3, 30)}
    # and the next commit starts recording again for its own dir
    store.upsert(spark.createDataFrame([("k4", 4, 40)], "session_id string, a long, b long"))
    nv = store.current_version()
    vnames = {rel.split("/", 1)[0] for rel in store._manifest(nv).values() if rel}
    assert set(store._dir_schemas(nv)) & vnames
