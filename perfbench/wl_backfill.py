"""backfill_bulk: catch-up batches of many short sessions.

600 session slots, each session lives 4 ticks; a catch-up batch brings 2
ticks for every slot, so each batch updates 600 sessions (half of them
new, half in the second half of their life) and the store grows by 300
sessions per batch. There are no late or duplicate checkpoints: inside one
batch the argmax absorbs them, so they would only make input sizes vary by
seed. 600 updated sessions is above the 500-row ``small_result_max_rows``
threshold, so every batch takes the distributed MERGE sink. The pointer
table accumulates one file per batch and is read whole, as a catch-up job
would see it.

Latency = one ``backfill`` call; throughput = checkpoint-write rows
absorbed per second of batch time. The traced run also probes the store's
read paths on the store the batches built.
"""

from __future__ import annotations

import itertools
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

import check
import engine_trace
import gen
from harness import p50, store_bytes, tail

POP = gen.Population(slots=600, lifetime=4, stagger=2, growth=1)
TICKS_PER_BATCH = 2
MIN_BATCHES = 3  # a batch takes 6-8 s on 4 cores
MAX_BATCHES = 30
WARM = gen.Population(slots=40, lifetime=4, stagger=2)
ZIPF_S = 1.1  # session popularity skew of the traced run's read probes


def _batches(root: str, seed: int, pop: gen.Population, n_batches: int):
    """The events of each batch, and a function that writes batch i's
    write rows and pointer rows (staged) and returns its row count."""
    events = gen.schedule(seed, pop, n_batches * TICKS_PER_BATCH)
    blobs = gen.BlobCache()
    batches: list[list[gen.Event]] = [[] for _ in range(n_batches)]
    for e in events:
        batches[e.tick // TICKS_PER_BATCH].append(e)
    os.makedirs(os.path.join(root, "cps"), exist_ok=True)
    os.makedirs(os.path.join(root, "cps_staged"), exist_ok=True)

    def write(i: int) -> int:
        w = gen.writes_table(batches[i], blobs)
        pq.write_table(w, os.path.join(root, f"writes-{i:03d}.parquet"))
        pq.write_table(gen.checkpoints_table(batches[i]), os.path.join(root, "cps_staged", f"part-{i:03d}.parquet"))
        return w.num_rows

    return batches, write


def run(b, tracer) -> bool:
    from cdc_agents_data_stream_spark.operators.latest import latest_blobs_per_task
    from cdc_agents_data_stream_spark.plans.backfill import backfill
    from cdc_agents_data_stream_spark.state.store import ParquetAppendLog, ParquetStateStore

    spark = b.spark

    def batch_inputs(root: str, i: int):
        # the pointer rows land before the writes that reference them
        os.rename(
            os.path.join(root, "cps_staged", f"part-{i:03d}.parquet"),
            os.path.join(root, "cps", f"part-{i:03d}.parquet"),
        )
        return (
            spark.read.parquet(os.path.join(root, f"writes-{i:03d}.parquet")),
            spark.read.parquet(os.path.join(root, "cps")),
        )

    # setup generates the first MIN_BATCHES batches; later ones are written
    # just before they run, outside their latency
    gen_s = []
    for rep in range(3):
        t0 = time.perf_counter()
        root = os.path.join(b.work, f"in{rep}")
        batches, write = _batches(root, b.seed, POP, MAX_BATCHES)
        rows = [write(i) for i in range(MIN_BATCHES)]
        gen_s.append(time.perf_counter() - t0)

    # warm-up: one small batch forced through the distributed sink
    t0 = time.perf_counter()
    wroot = os.path.join(b.work, "warm")
    _batches(wroot, b.seed, WARM, 1)[1](0)
    w, c = batch_inputs(wroot, 0)
    backfill(
        spark, w, c,
        ParquetStateStore(spark, os.path.join(b.work, "warm-state")),
        ParquetAppendLog(spark, os.path.join(b.work, "warm-diffs")),
        now_ms=gen.EPOCH_MS, small_result_max_rows=0,
    )
    warm_s = time.perf_counter() - t0

    store = ParquetStateStore(spark, os.path.join(b.work, "state"))
    log = ParquetAppendLog(spark, os.path.join(b.work, "diffs"))
    if b.trace:
        engine_trace.instrument_backfill(tracer, store, log)
    b.reset_peak_rss()
    lat, done, rows_in = [], [], 0
    traced, untraced = [], []
    t_measure = time.time()
    t_begin = time.perf_counter()
    for i in range(MAX_BATCHES):
        if i >= MIN_BATCHES and time.perf_counter() - t_begin >= b.seconds:
            break
        if i == len(rows):
            rows.append(write(i))
        w, c = batch_inputs(root, i)
        tracer.on = b.trace and i % 2 == 0  # traced and untraced batches alternate
        tracer.unit = i
        if tracer.on:
            t0 = time.perf_counter()
            latest_blobs_per_task(w, c).count()
            tracer.sample("latest.probe_ms", (time.perf_counter() - t0) * 1000.0)
        t0 = time.perf_counter()
        backfill(spark, w, c, store, log, now_ms=gen.EPOCH_MS + 1000 + i)
        lat.append((time.perf_counter() - t0) * 1000.0)
        (traced if tracer.on else untraced).append(lat[-1])
        done.append(batches[i])
        rows_in += rows[i]
    t_stop = time.time()
    tracer.on = False
    rss = b.peak_rss_mb()
    if len(done) == MAX_BATCHES:
        raise RuntimeError(f"all {MAX_BATCHES} generated batches ran; generate more")

    # -- correctness -----------------------------------------------------------
    writes = pa.concat_tables(pq.read_table(os.path.join(root, f"writes-{i:03d}.parquet")) for i in range(len(done)))
    expected = check.duckdb_latest(writes, pq.read_table(os.path.join(root, "cps")))
    models = check.replay(done, with_ctx=False)
    state_rows = store.read_docs(sorted({s for s, _ in expected}))
    errors = check.compare_state(state_rows, expected, models, check.diff_counts(log))
    for e in errors[:20]:
        print("CHECK FAIL:", e)
    b.attempted = len(done)
    b.failed = len(errors)
    b.notes.update(batches=len(lat), batch_ms=[round(x, 1) for x in lat], rows_in=rows_in,
                   tail_pct=tail(lat)[1])
    b.setup_parts = {"session.start_s": b.session_start_s, "setup.gen_s": p50(gen_s), "setup.warm_s": warm_s}

    if not b.trace:
        b.put("latency_p50_ms", p50(lat))
        b.put("latency_tail_ms", tail(lat)[0])  # = p50: too few batches for a tail
        b.put("throughput_per_s", rows_in / (sum(lat) / 1000.0))
        b.put("state_mb", store_bytes(store, log) / 2**20)
        return not errors

    engine_trace.put_span_metrics(b, tracer, t_measure, t_stop, units=len(traced))
    engine_trace.put_overhead(b, traced, untraced)
    wrong_reads = _read_probes(b, tracer, store, log, done, expected, models)
    b.failed += wrong_reads
    b.put("latest.probe_ms", p50(tracer.samples.get("latest.probe_ms", [])))
    b.put("backfill.rows_in", rows_in)
    for k, v in rss.items():
        b.put(f"rss.{k}_mb", v)
    b.put("log.files", log.file_count())
    return not errors and not wrong_reads


def _read_probes(b, tracer, store, log, done, expected, models) -> int:
    """Traced run only: time the store's read paths on the store the
    batches built, and check each answer; returns the number of wrong
    answers. Three rounds, over Zipf-popular sessions, of 5 ``read_docs``
    (one session's document), 2 diff-since reads
    (``ParquetAppendLog.read(dedup=True)`` rows of one session after a
    sequence number) and 1 ``changes_between`` the last two versions."""
    from pyspark.sql import functions as F

    last = {e.session_id for e in done[-1]}
    earlier = {e.session_id for batch in done[:-1] for e in batch}
    # Zipf-popular sessions, as a client reading live sessions would pick
    picks = iter(gen.zipf_keys(b.seed + 3, sorted(models), ZIPF_S, 3 * 7))
    v = store.current_version()
    wrong = 0
    t0 = time.time()
    tracer.on = True
    for _ in range(3):
        for sid in itertools.islice(picks, 5):
            with tracer.span("request.read_docs"):
                row = store.read_docs([sid]).get(sid)
            got = check.content_latest(row["cdc_content"]) if row else {}
            wrong += row is None or int(row["sequence_number"]) != models[sid].seq or any(
                got.get(t) != expected[(sid, t)] for t in gen.TASKS
            )
        for sid in itertools.islice(picks, 2):
            with tracer.span("request.diff_since"):
                out = (
                    log.read(dedup=True)
                    .filter((F.col("session_id") == sid) & (F.col("sequence_number") > 1))
                    .select("sequence_number")
                    .collect()  # bounded: one session's diffs
                )
            wrong += sorted(r[0] for r in out) != list(range(2, models[sid].seq + 1))
        with tracer.span("request.changes_between"):
            out = store.changes_between(v - 1, v).select("_change_type", "session_id").collect()
        kinds = {r[1]: r[0] for r in out}
        wrong += set(kinds) != last or any(
            kinds[sid] != ("update_postimage" if sid in earlier else "insert") for sid in last
        )
    tracer.on = False
    t1 = time.time()
    for name in ("request.read_docs", "request.diff_since", "request.changes_between",
                 "store.read_docs", "store.changes_between", "log.read"):
        b.put(f"{name}_ms", p50(tracer.durations_ms(name, t0, t1)))
    return wrong
