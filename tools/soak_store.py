#!/usr/bin/env python3
"""Long-run state-store soak: per-op flatness over TIME, not just scale.

tools/scaling_store.py proves one MERGE costs O(touched-bucket bytes) at
session decades; this proves the property HOLDS ACROSS A LONG SESSION —
the failure modes it hunts are cumulative, invisible to per-op decades:

- version/manifest debris escaping vacuum (disk creep),
- manifest dictionaries growing per commit (latency creep),
- JVM/session degradation across thousands of write jobs,
- diff-log files piling up one per batch, or retained log generations
  escaping expiry.

Protocol: seed an R-resident store at the 100 TB bucket configuration
(n_buckets = R/1000 so bucket bytes stay bounded — scaling_store's
``store_upsert_scaledb`` shape), then run N consecutive 64-session
micro-batch MERGEs in ONE session (each upsert vacuums on commit, the
store's deployment behavior). Each batch also appends one diff file to a
``ParquetAppendLog`` under its writer lock and, after the commit, runs
the log's ``merge_tiers`` — the streaming driver path's commit point.
Every SAMPLE_EVERY batches, record MERGE latency, live-manifest count,
store disk bytes, and the log's file count and bytes.

Pass criteria (asserted, non-zero exit on failure):
- live manifests <= KEEP_VERSIONS at every sample point,
- disk FLAT in steady state: KEEP_VERSIONS retains up to 3 versions of
  every touched bucket, so the bounded steady state is a small multiple
  of the post-seed baseline, reached within the first SAMPLE_EVERY
  batches; from there to the end growth must stay under DISK_CREEP_MAX
  (creep past the retention window = vacuum debris),
- latency flat: median of the last decile <= LAT_CREEP_MAX x median of
  the first decile (medians so host-noise spikes don't fail the run),
- the log's file count <= its tier bound at every sample point
  ((FAN_IN - 1) files per tier, one tier per power of FAN_IN appended
  files),
- the log's bytes do not creep: live bytes per row at the end <=
  DISK_CREEP_MAX x at the first sample, and the log directory's disk
  bytes (distinct inodes, so retained generations' hard links count
  once) <= KEEP_GENERATIONS x its live bytes.

Run: python tools/soak_store.py [N_BATCHES] [RESIDENT] [out.md]
Defaults: 2000 batches, 200k resident. Writes /tmp/SOAK_store.md; rows
merged into SCALING.md's store section by hand with the run date.
Measure on a QUIET host — the latency gate is a real gate.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BATCH = 64
SAMPLE_EVERY = 100
DISK_CREEP_MAX = 1.5
LAT_CREEP_MAX = 1.5


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _manifest_count(path: str) -> int:
    return sum(1 for n in os.listdir(path) if n.startswith("_manifest_v"))


def _inode_bytes(path: str) -> int:
    """Disk bytes under ``path`` counting each hard-linked file once."""
    seen: dict[tuple[int, int], int] = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(root, f))
            except OSError:
                continue
            seen[(st.st_dev, st.st_ino)] = st.st_size
    return sum(seen.values())


def _log_file_bound(n_appended: int) -> int:
    from cdc_agents_data_stream_spark.state.store import ParquetAppendLog

    tiers = 1
    while ParquetAppendLog.FAN_IN**tiers <= n_appended:
        tiers += 1
    return (ParquetAppendLog.FAN_IN - 1) * tiers


def _diff_rows(i: int, ids) -> list[dict]:
    """Batch ``i``'s diff rows: one per session, repeating content the
    way a live session's successive diffs do."""
    return [
        {
            "session_id": f"thread-{s}",
            "sequence_number": i + 1,
            "source": "cdc",
            "diff_data": '[{"op": "add", "line": "tick for thread-%d"}]' % s,
            "ts_millis": 1706600000000 + i,
        }
        for s in ids
    ]


def main() -> int:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    resident = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    out_path = sys.argv[3] if len(sys.argv) > 3 else "/tmp/SOAK_store.md"

    from cdc_agents_data_stream_spark.session import get_spark
    from cdc_agents_data_stream_spark.state.store import ParquetAppendLog, ParquetStateStore
    from tools.scaling_store import _load_df, _state_df

    spark = get_spark("store-soak")
    base = tempfile.mkdtemp(prefix="soak_store_")
    store = ParquetStateStore(spark, os.path.join(base, "state"),
                              n_buckets=max(8, resident // 1000))
    t0 = time.monotonic()
    store.upsert(_load_df(spark, resident))
    seed_s = time.monotonic() - t0
    log = ParquetAppendLog(spark, os.path.join(base, "diffs"))
    disk_baseline = _du(store.path)
    print(f"seeded {resident} sessions in {seed_s:.1f}s, "
          f"baseline {disk_baseline / 1e6:.1f} MB, "
          f"n_buckets={store.n_buckets}", flush=True)

    lat: list[float] = []
    samples: list[dict] = []
    failures: list[str] = []
    for i in range(n_batches):
        # deterministic rolling key window: every batch hits real existing
        # sessions, the window walks the whole store over the run
        ids = [(i * 17 + j * 131) % resident for j in range(BATCH)]
        t0 = time.monotonic()
        with log.writing():
            log.append_rows(_diff_rows(i, ids))
            store.upsert(_state_df(spark, ids))
        log.merge_tiers()
        lat.append(time.monotonic() - t0)
        if (i + 1) % SAMPLE_EVERY == 0:
            m = _manifest_count(store.path)
            d = _du(store.path)
            live = _du(log._data_dir())
            samples.append({
                "batch": i + 1,
                "median_lat_s": round(statistics.median(lat[-SAMPLE_EVERY:]), 3),
                "manifests": m,
                "disk_mb": round(d / 1e6, 1),
                "log_files": log.file_count(),
                "log_bytes_per_row": round(live / ((i + 1) * BATCH), 2),
                "log_disk_mb": round(_inode_bytes(log.path) / 1e6, 2),
                "log_live_mb": round(live / 1e6, 2),
                "load": open("/proc/loadavg").read().split()[0],
            })
            print(json.dumps(samples[-1]), flush=True)
            if m > ParquetStateStore.KEEP_VERSIONS:
                failures.append(
                    f"batch {i + 1}: {m} manifests > KEEP_VERSIONS"
                )
            if samples[-1]["log_files"] > _log_file_bound(i + 1):
                failures.append(
                    f"batch {i + 1}: {samples[-1]['log_files']} log files > "
                    f"tier bound {_log_file_bound(i + 1)}"
                )
            if _inode_bytes(log.path) > ParquetAppendLog.KEEP_GENERATIONS * live:
                failures.append(
                    f"batch {i + 1}: log disk {samples[-1]['log_disk_mb']} MB > "
                    f"KEEP_GENERATIONS x live {samples[-1]['log_live_mb']} MB"
                )

    dec = max(1, len(lat) // 10)
    first_med = statistics.median(lat[:dec])
    last_med = statistics.median(lat[-dec:])
    disk_end = _du(store.path)
    if last_med > LAT_CREEP_MAX * first_med:
        failures.append(
            f"latency creep: first-decile median {first_med:.3f}s -> "
            f"last-decile {last_med:.3f}s (> {LAT_CREEP_MAX}x)"
        )
    if samples and samples[-1]["log_bytes_per_row"] > DISK_CREEP_MAX * samples[0]["log_bytes_per_row"]:
        failures.append(
            f"log bytes per row creep: {samples[0]['log_bytes_per_row']} at "
            f"batch {SAMPLE_EVERY} -> {samples[-1]['log_bytes_per_row']} at end "
            f"(> {DISK_CREEP_MAX}x)"
        )
    disk_steady = samples[0]["disk_mb"] if samples else disk_end / 1e6
    if disk_end / 1e6 > DISK_CREEP_MAX * disk_steady:
        failures.append(
            f"disk creep past steady state: {disk_steady:.1f} MB at "
            f"batch {SAMPLE_EVERY} -> {disk_end / 1e6:.1f} MB at end "
            f"(> {DISK_CREEP_MAX}x)"
        )

    with open(out_path, "w") as fh:
        fh.write(
            f"# Store soak: {n_batches} consecutive MERGEs, "
            f"{resident} resident, n_buckets={store.n_buckets}\n\n"
            f"first-decile median {first_med:.3f}s | last-decile median "
            f"{last_med:.3f}s | disk {disk_baseline / 1e6:.1f} -> "
            f"{disk_end / 1e6:.1f} MB | result "
            f"{'FAIL' if failures else 'PASS'}\n\n"
            "| batch | median lat s | manifests | disk MB | log files "
            "| log B/row | log disk MB | load |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for s in samples:
            fh.write(
                f"| {s['batch']} | {s['median_lat_s']} | {s['manifests']} "
                f"| {s['disk_mb']} | {s['log_files']} | {s['log_bytes_per_row']} "
                f"| {s['log_disk_mb']} | {s['load']} |\n"
            )
        for f in failures:
            fh.write(f"\nFAIL: {f}\n")
    print(f"wrote {out_path}; "
          f"{'FAIL: ' + '; '.join(failures) if failures else 'PASS'}",
          flush=True)
    shutil.rmtree(base, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
