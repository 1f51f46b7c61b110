"""live_cadence: the reference scenario at its own rate, as an open loop.

Every 500 ms each active session writes one checkpoint (5 task message
lists, one a ``__start__`` task, plus a noise row). A tick's checkpoints
are staged outside the watched directory in one file and published there
by atomic rename at the tick's due time; the publisher never waits for
the engine. A few % of ticks also carry a late checkpoint or a replay of
an earlier one, published in a file of its own half a tick later. The
test-report ctx provider runs with a deterministic clock, and a quarter
of the checkpoints come with a report file for it to consume. Report
writes and the provider's read-then-delete hold one advisory file lock,
as the reference's consumer does: the provider deletes every file in a
session's directory after reading it, so a report landing in between
would be lost.

Three session slots, each session lives 60 ticks and is then replaced;
slot ages are staggered by a third of a lifetime, so the population is
stationary. Setup brings every slot's session to its staggered age by
running the ticks before the live start through the same pipeline entry
point, one tick per micro-batch and as fast as the engine goes
(``availableNow``); the live query then continues on that store.

Latency of a checkpoint = end of the micro-batch that committed it minus
its due time. Samples start after a two-tick lead-in of the live query.
"""

from __future__ import annotations

import contextlib
import fcntl
import itertools
import json
import os
import threading
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import check
import engine_trace
import gen
from harness import InvalidRun, p50, store_bytes, tail

LIFETIME = 60  # ticks a session lives: 30 s at the reference cadence
POP = gen.Population(slots=3, lifetime=LIFETIME, stagger=LIFETIME // 3, growth=1, late_share=0.03, dup_share=0.03)
LEAD_TICKS = 2  # live ticks before the window: the live query's first batches
REPORT_SHARE = 0.25
LATE_LIMIT_MS = 250.0  # generator lateness beyond this invalidates the run
BACKLOG_LIMIT = 4  # files published but not committed at window end: two ticks' worth
TRACE_TOGGLE_S = 2.0  # traced run: tracing alternates on/off in blocks this long


@contextlib.contextmanager
def _report_lock(path: str):
    """Exclusive advisory lock on ``path``; it holds across threads too,
    since each holder opens its own file description."""
    with open(path, "a") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        yield


def _parse_iso_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _batch_files(ckpt: str) -> dict[str, int]:
    """file name -> batch id, from the file source's metadata log."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def run(b, tracer) -> bool:
    from cdc_agents_data_stream_spark.ctx import make_test_report_provider
    from cdc_agents_data_stream_spark.state.store import ParquetAppendLog, ParquetStateStore
    from cdc_agents_data_stream_spark.streaming.pipeline import run_foreachbatch_pipeline

    spark = b.spark
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    # every slot's session at the live start was born inside the prefill,
    # the oldest at tick prefill_from; earlier ticks would only build
    # sessions that end before the live start
    prefill_ticks = POP.lifetime
    prefill_from = prefill_ticks - (POP.slots - 1) * POP.stagger
    measured_ticks = int(round(b.seconds * 1000 / gen.TICK_MS))
    n_ticks = prefill_ticks + LEAD_TICKS + measured_ticks

    # -- inputs --------------------------------------------------------------
    def generate(root: str):
        events = [e for e in gen.schedule(b.seed, POP, n_ticks) if e.tick >= prefill_from]
        blobs = gen.BlobCache()
        # prefill: one file per tick, every slot's events in it; file times
        # one second apart, so one-file batches take them in tick order
        by_tick: dict[int, list] = {}
        # live: every slot's regular checkpoint of a tick in one file, due
        # at the tick; late and replayed checkpoints in a second file half a
        # tick later, so they reach the engine after the newer checkpoint
        # was committed and meet the staleness check
        by_file: dict[tuple[int, int], list] = {}
        for e in events:
            if e.tick < prefill_ticks:
                by_tick.setdefault(e.tick, []).append(e)
            else:
                by_file.setdefault((e.tick - prefill_ticks, int(e.kind != gen.NORMAL)), []).append(e)
        stage = os.path.join(root, "stage")
        os.makedirs(stage, exist_ok=True)
        os.makedirs(os.path.join(root, "cps"), exist_ok=True)
        os.makedirs(os.path.join(root, "prefill"), exist_ok=True)
        pq.write_table(gen.checkpoints_table(events), os.path.join(root, "cps", "part-0.parquet"))
        prefill = []
        mtime0 = time.time() - prefill_ticks - 60
        for k, evs in sorted(by_tick.items()):
            name = f"p{k:05d}.parquet"
            path = os.path.join(root, "prefill", name)
            pq.write_table(gen.writes_table(evs, blobs), path)
            os.utime(path, (mtime0 + k, mtime0 + k))
            prefill.append((name, evs))
        rng = np.random.default_rng(b.seed + 1)
        files = []
        for (k, extra), evs in sorted(by_file.items()):
            name = f"t{k:05d}-{extra}.parquet"
            pq.write_table(gen.writes_table(evs, blobs), os.path.join(stage, name))
            reports = []  # (session, file name), published just before the tick file
            for e in evs if not extra else ():
                if rng.random() < REPORT_SHARE:
                    reports.append((e.session_id, f"report-{k:05d}-s{e.slot:02d}.txt"))
                    with open(os.path.join(stage, reports[-1][1]), "w") as fh:
                        fh.write(f"tests of {e.session_id} at tick {k}: ok\n")
            files.append((k * gen.TICK_MS + extra * gen.TICK_MS / 2, name, evs, reports))
        return events, prefill, files

    gen_s = []
    for rep in range(3):
        root = os.path.join(b.work, f"in{rep}")
        t0 = time.perf_counter()
        events, prefill, files = generate(root)
        gen_s.append(time.perf_counter() - t0)
    b.notes["events"] = len(events)
    b.notes["files"] = len(files)

    store = ParquetStateStore(spark, os.path.join(b.work, "state"))
    log = ParquetAppendLog(spark, os.path.join(b.work, "diffs"))
    writes_dir = os.path.join(b.work, "writes")
    runner = os.path.join(b.work, "reports")
    os.makedirs(writes_dir)
    os.makedirs(runner)
    stamps = itertools.count(gen.EPOCH_MS + 1)  # deterministic ctx clock
    report_lock = os.path.join(b.work, "reports.lock")
    consume_reports = make_test_report_provider([runner], clock=lambda: next(stamps))

    def provider(doc):
        with _report_lock(report_lock):
            return consume_reports(doc)

    if b.trace:
        raw_provider = provider

        def provider(doc):
            with tracer.span("ctx.provider"):
                item = raw_provider(doc)
            tracer.count("ctx.items")
            return item

        engine_trace.instrument_driver_path(tracer, store, log)

    ckpt = os.path.join(b.work, "ckpt")
    published: list[float] = []  # wall time each file was published
    stop = threading.Event()
    pub_error: list[Exception] = []

    def publish(t_start: float) -> None:
        stage = os.path.join(root, "stage")
        try:
            for due_ms, name, _evs, reports in files:
                delay = t_start + due_ms / 1000.0 - time.time()
                if delay > 0 and stop.wait(delay):
                    return
                with _report_lock(report_lock):
                    for sid, report in reports:
                        sdir = os.path.join(runner, sid)
                        os.makedirs(sdir, exist_ok=True)
                        os.rename(os.path.join(stage, report), os.path.join(sdir, report))
                os.rename(os.path.join(stage, name), os.path.join(writes_dir, name))
                published.append(time.time())
        except OSError as exc:  # surfaced by the main thread
            pub_error.append(exc)

    # -- prefill: age every slot's session to its staggered age ----------------
    # through the same pipeline entry point, one tick per micro-batch, as
    # fast as the engine goes; the live query then continues on the store
    t0 = time.perf_counter()
    pre = run_foreachbatch_pipeline(
        spark, os.path.join(root, "prefill"), os.path.join(root, "cps"), store, log,
        checkpoint_location=os.path.join(b.work, "ckpt-prefill"), ctx_providers=[provider],
        trigger={"availableNow": True}, max_files_per_trigger=1,
    )
    pre.awaitTermination()
    if pre.exception() is not None:
        raise pre.exception()
    prefill_s = time.perf_counter() - t0
    pre_batch = _batch_files(os.path.join(b.work, "ckpt-prefill"))

    # -- run -----------------------------------------------------------------
    def wait_until(t: float) -> None:
        while time.time() < t:
            if pub_error:
                raise pub_error[0]
            if query.exception() is not None:
                raise query.exception()
            time.sleep(0.005)

    query = run_foreachbatch_pipeline(
        spark, writes_dir, os.path.join(root, "cps"), store, log,
        checkpoint_location=ckpt, ctx_providers=[provider],
    )
    t_start = time.time() + 0.05
    t_measure = t_start + LEAD_TICKS * gen.TICK_MS / 1000.0
    t_end = t_measure + measured_ticks * gen.TICK_MS / 1000.0
    pub = threading.Thread(target=publish, args=(t_start,), daemon=True)
    pub.start()
    toggles: list[tuple[float, bool]] = []  # traced run: (time, tracer.on)
    try:
        wait_until(t_measure)
        b.reset_peak_rss()
        if b.trace:
            on = True
            while time.time() < t_end:
                tracer.on = on
                toggles.append((time.time(), on))
                on = not on
                wait_until(min(t_end, time.time() + TRACE_TOGGLE_S))
            tracer.on = False
            toggles.append((time.time(), False))
        wait_until(t_end)
        rss = b.peak_rss_mb()
        pub.join(timeout=60)
        if pub_error:
            raise pub_error[0]
        query.processAllAvailable()
    finally:
        stop.set()
        query.stop()
        pub.join(timeout=10)
    # -- latency -------------------------------------------------------------
    # batches that carried files (the driver fast path leaves numInputRows 0)
    file_batch = _batch_files(ckpt)
    with_files = set(file_batch.values())
    progress = [
        p for p in query.recentProgress if p["batchId"] in with_files and "addBatch" in p["durationMs"]
    ]
    batch_end: dict[int, float] = {}
    batch_start: dict[int, float] = {}
    for p in progress:
        s = _parse_iso_s(p["timestamp"])
        batch_start[p["batchId"]] = s
        batch_end[p["batchId"]] = s + p["durationMs"]["triggerExecution"] / 1000.0
    lat, lat_batch, n_regular = [], [], 0
    for due_ms, name, evs, _r in files:
        due = t_start + due_ms / 1000.0
        if t_measure <= due < t_end:
            bid = file_batch[name]
            for e in evs:  # one sample per checkpoint
                lat.append((batch_end[bid] - due) * 1000.0)
                lat_batch.append(bid)
                n_regular += e.kind == gen.NORMAL
    late_max = max((pt - (t_start + f[0] / 1000.0)) * 1000.0 for pt, f in zip(published, files))

    # backlog at time t: files published by t minus files committed by t
    pub_t = np.sort(published)
    commit_t = np.sort([batch_end[bid] for bid in file_batch.values()])

    def backlog(t: float) -> int:
        return int(np.searchsorted(pub_t, t, side="right") - np.searchsorted(commit_t, t, side="right"))

    backlog_max = max(backlog(t) for t in pub_t if t_measure <= t < t_end)
    end_backlog = backlog(t_end)
    if late_max > LATE_LIMIT_MS:
        raise InvalidRun(f"generator ran {late_max:.0f} ms late (limit {LATE_LIMIT_MS:.0f})")
    if end_backlog > BACKLOG_LIMIT:
        raise InvalidRun(f"backlog of {end_backlog} files at window end (limit {BACKLOG_LIMIT})")

    # -- correctness -------------------------------------------------------------
    pre_batches: dict[int, list] = {}
    for name, evs in prefill:
        pre_batches.setdefault(pre_batch[name], []).extend(evs)
    by_batch: dict[int, list] = {}
    for _due, name, evs, _r in files:
        by_batch.setdefault(file_batch[name], []).extend(evs)
    models = check.replay(
        [pre_batches[k] for k in sorted(pre_batches)] + [by_batch[k] for k in sorted(by_batch)], with_ctx=True
    )
    all_writes = pa.concat_tables(
        [pq.read_table(os.path.join(root, "prefill", name)) for name, _evs in prefill]
        + [pq.read_table(os.path.join(writes_dir, f[1])) for f in files]
    )
    expected = check.duckdb_latest(all_writes, pq.read_table(os.path.join(root, "cps")))
    sids = sorted({s for s, _ in expected})
    rows = store.read_docs(sids)
    errors = check.compare_state(rows, expected, models, check.diff_counts(log))
    # every report file consumed exactly once, by its own session
    want = {r for f in files for r in f[3]}
    got: list[tuple[str, str]] = []
    for sid, row in rows.items():
        for item in json.loads(row["ctx"] or "[]"):
            for key in item.get("testReports", {}):
                got.append((sid, key.split(":", 1)[1]))
    if sorted(got) != sorted(want):
        errors.append(f"ctx reports: {len(got)} consumed, {len(want)} written")
    for sid, m in models.items():
        n_ctx = len(json.loads(rows[sid]["ctx"] or "[]")) if sid in rows else -1
        if n_ctx != m.transitions:
            errors.append(f"{sid}: {n_ctx} ctx items != {m.transitions} transitions")
    b.attempted = len(prefill) + len(files)
    b.failed = len(errors)
    for e in errors[:20]:
        print("CHECK FAIL:", e)

    window = [p for p in progress if t_measure <= batch_start[p["batchId"]] < t_end]
    b.notes.update(
        samples=len(lat), batches_in_window=len(window), prefill_batches=len(pre_batches),
        tail_pct=round(tail(lat)[1], 2), late_ms_max=round(late_max, 2),
        backlog_max_files=backlog_max, end_backlog_files=end_backlog,
    )
    b.setup_parts = {"session.start_s": b.session_start_s, "setup.gen_s": p50(gen_s), "setup.warm_s": prefill_s}

    if not b.trace:
        b.put("latency_p50_ms", p50(lat))
        b.put("latency_tail_ms", tail(lat)[0])
        # regular checkpoints committed per second, up to the commit of the
        # window's last one: the generator's rate (slots per tick) while the
        # engine keeps up. Late and replayed files vary in number by seed.
        b.put("throughput_per_s", n_regular / (max(batch_end[x] for x in lat_batch) - t_measure))
        b.put("state_mb", store_bytes(store, log) / 2**20)
        return not errors

    # -- per layer (traced run) ----------------------------------------------
    def traced_state(bid: int) -> bool | None:
        """True/False when tracing stayed on/off for the whole batch."""
        s, e = batch_start[bid], batch_end[bid]
        before = [on for t, on in toggles if t <= s]
        if not before or any(s < t < e for t, _ in toggles):
            return None
        return before[-1]

    traced = [x for x, bid in zip(lat, lat_batch) if traced_state(bid) is True]
    untraced = [x for x, bid in zip(lat, lat_batch) if traced_state(bid) is False]
    phases = {
        "latest_offset": "latestOffset", "get_batch": "getBatch", "query_planning": "queryPlanning",
        "wal_commit": "walCommit", "commit_offsets": "commitOffsets", "add_batch": "addBatch",
    }
    for k, v in phases.items():
        b.put(f"streaming.{k}_ms", p50([p["durationMs"].get(v, 0) for p in window]))
    busy = sum(p["durationMs"]["triggerExecution"] for p in window) / 1000.0
    b.put("streaming.busy_frac", busy / (t_end - t_measure))
    b.put("streaming.backlog_max_files", backlog_max)
    b.put("gen.late_ms_max", late_max)
    engine_trace.put_overhead(b, traced, untraced)
    # engine self time: each traced batch minus the batch-body calls the
    # wrappers saw (root spans inside it)
    roots = [(s.start, s.end) for s in tracer.spans if s.parent < 0 and s.end]
    engine_self = []
    for p in window:
        bs, be = batch_start[p["batchId"]], batch_end[p["batchId"]]
        covered = sum(e - s for s, e in roots if bs <= s and e <= be)
        if covered:
            engine_self.append(p["durationMs"]["triggerExecution"] - covered * 1000.0)
    b.put("self.streaming_ms", p50(engine_self))
    n_traced = sum(1 for p in window if traced_state(p["batchId"]))
    for span in tracer.spans:  # the batch each span ran in
        span.unit = next((bid for bid in batch_start if batch_start[bid] <= span.start < batch_end[bid]), None)
    engine_trace.put_span_metrics(b, tracer, t_measure, t_end, units=max(1, n_traced))
    for k, v in rss.items():
        b.put(f"rss.{k}_mb", v)
    b.put("log.files", log.file_count())
    return not errors
