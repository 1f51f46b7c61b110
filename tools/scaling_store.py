#!/usr/bin/env python3
"""Scaling evidence for the state store itself (ParquetStateStore MERGE /
read / vacuum and ParquetAppendLog compaction), complementing
tools/scaling_cdc.py's pipeline decades.

The store's correctness is crash-sweep-proven (tests/test_store_crash.py,
tests/test_streaming.py); this measures its COST MODEL at session decades,
the claim being O(touched-bucket bytes) per MERGE — never O(store size) —
with the bucket count as the knob that bounds bucket bytes at any scale
(reference analogue: repository/CdcAgentsDataStreamRepository.java:16-29's
per-session upsert, which is O(1) row-at-a-time and therefore O(n) total
where one Spark MERGE batch is O(touched buckets)).

Shapes measured, each at x10 session decades:

- ``store_upsert_64b``: a fixed 64-session update batch into an
  R-resident store at the default 64 buckets. Statistically touches ALL
  buckets, so cost ~ R (the full store is one bucket-set); the decade
  ratio documents the worst case — an unbucketed-update MERGE is linear.
- ``store_upsert_1b``: the same-size batch chosen to hash into ONE
  bucket: cost ~ R/64. The ratio between this row and store_upsert_64b
  at fixed R is the direct O(touched-bucket) evidence — same update
  row-count, ~1/64 of the rewrite bytes.
- ``store_upsert_scaledb``: the 100 TB design point — n_buckets grows
  with the corpus (here R/1000) so bucket bytes stay bounded; the
  64-session batch then touches a bounded byte volume and the decade
  curve must go FLAT. This is the configuration a 1000-executor
  deployment would run.
- ``store_read``: full-store scan at decades (pure parquet read of the
  manifest's bucket dirs).
- ``log_compact``: ParquetAppendLog.compact at x10 file-count decades
  (fixed rows/file) — reads all small files, writes target_files sorted
  files.

Vacuum/manifest boundedness is asserted (not timed): after the load +
update churn, live manifests <= KEEP_VERSIONS and live data dirs carry no
expired-version debris.

Run: python tools/scaling_store.py [out.md]  (default /tmp/SCALING_store.md;
rows merged into SCALING.md's store section by hand with the run date).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

SESSION_DECADES = (2_000, 20_000, 200_000, 2_000_000)
COMPACT_FILE_DECADES = (64, 640)
BATCH = 64


def _state_df(spark, ids):
    """Update batch in DATA_STREAM_STATE_SCHEMA shape for the given ids."""
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [(f"thread-{i}",) for i in ids], "session_id string"
    ).select(
        "session_id",
        F.lit(1).cast("int").alias("sequence_number"),
        F.concat(
            F.lit('{"0_task": [{"content": "tick for "}, {"content": "'),
            F.col("session_id"),
            F.lit('"}]}'),
        ).alias("cdc_content"),
        F.lit(None).cast("string").alias("ide_content"),
        F.lit("{}").alias("metadata"),
        F.lit("[]").alias("ctx"),
        F.lit(1706600000000).cast("long").alias("updated_ts_millis"),
    )


def _load_df(spark, n):
    """Bulk load: n sessions generated distributively (no driver list)."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.concat(F.lit("thread-"), F.col("id")).alias("session_id"),
        F.lit(1).cast("int").alias("sequence_number"),
        F.concat(
            F.lit('{"0_task": [{"content": "seed "}, {"content": "s'),
            F.col("id"),
            F.lit('"}]}'),
        ).alias("cdc_content"),
        F.lit(None).cast("string").alias("ide_content"),
        F.lit("{}").alias("metadata"),
        F.lit("[]").alias("ctx"),
        F.lit(1706600000000).cast("long").alias("updated_ts_millis"),
    )


def _one_bucket_ids(n_buckets: int, want: int) -> list[int]:
    """Session ordinals whose thread-<i> key hashes to bucket 0."""
    from cdc_agents_data_stream_spark.state.store import bucket_of

    out, i = [], 0
    while len(out) < want:
        if bucket_of(f"thread-{i}", n_buckets) == 0:
            out.append(i)
        i += 1
    return out


def _assert_bounded(store) -> None:
    from cdc_agents_data_stream_spark.state.store import ParquetStateStore

    manifests = [
        n for n in os.listdir(store.path) if n.startswith("_manifest_v")
    ]
    assert len(manifests) <= ParquetStateStore.KEEP_VERSIONS, (
        f"vacuum failed to bound manifests: {len(manifests)} live "
        f"(> KEEP_VERSIONS={ParquetStateStore.KEEP_VERSIONS})"
    )
    # every live data dir must be referenced by a retained manifest
    cur = store.current_version()
    lo = max(1, cur - ParquetStateStore.KEEP_VERSIONS + 1)
    referenced = set()
    for v in range(lo, cur + 1):
        try:
            for rel in store._manifest(v).values():
                if rel:
                    referenced.add(rel.split("/", 1)[0])
        except FileNotFoundError:
            continue
    live_dirs = {
        n
        for n in os.listdir(store.path)
        if os.path.isdir(os.path.join(store.path, n))
    }
    orphans = live_dirs - referenced
    assert not orphans, f"vacuum left expired data dirs: {sorted(orphans)}"


def main(out: str = "/tmp/SCALING_store.md") -> None:
    from cdc_agents_data_stream_spark.session import get_spark
    from cdc_agents_data_stream_spark.state.store import (
        ParquetAppendLog,
        ParquetStateStore,
    )

    spark = get_spark("scaling-store")
    spark.sparkContext.setLogLevel("ERROR")

    base = tempfile.mkdtemp(prefix="scaling-store-")
    rows = []
    try:
        # warm the MERGE plan + write path outside the measured region
        warm = ParquetStateStore(spark, f"{base}/warm")
        warm.upsert(_load_df(spark, 100))
        warm.upsert(_state_df(spark, range(10)))

        up64, up1, upsc, rd = [], [], [], []
        for r_sessions in SESSION_DECADES:
            # --- default 64-bucket layout -------------------------------
            store = ParquetStateStore(spark, f"{base}/s{r_sessions}")
            store.upsert(_load_df(spark, r_sessions))

            t0 = time.perf_counter()
            store.upsert(_state_df(spark, range(BATCH)))
            up64.append((r_sessions, round(time.perf_counter() - t0, 3)))

            one_bucket = _one_bucket_ids(store.n_buckets, BATCH)
            t0 = time.perf_counter()
            store.upsert(_state_df(spark, one_bucket))
            up1.append((r_sessions, round(time.perf_counter() - t0, 3)))

            t0 = time.perf_counter()
            n = store.read().count()
            rd.append((r_sessions, round(time.perf_counter() - t0, 3)))
            # one-bucket batch ids beyond the resident range insert new rows
            expect = len(set(range(r_sessions)) | set(one_bucket))
            assert n == expect, (n, expect)
            _assert_bounded(store)
            print(
                f"# R={r_sessions}: upsert64b={up64[-1][1]}s "
                f"upsert1b={up1[-1][1]}s read={rd[-1][1]}s",
                file=sys.stderr,
            )

            # --- scaled-bucket layout (the 100 TB design point) ---------
            nb = max(64, r_sessions // 1000)
            sstore = ParquetStateStore(
                spark, f"{base}/sc{r_sessions}", n_buckets=nb
            )
            sstore.upsert(_load_df(spark, r_sessions))
            t0 = time.perf_counter()
            sstore.upsert(_state_df(spark, range(BATCH)))
            upsc.append((r_sessions, round(time.perf_counter() - t0, 3)))
            print(
                f"# R={r_sessions}: upsert_scaledb(nb={nb})={upsc[-1][1]}s",
                file=sys.stderr,
            )
            shutil.rmtree(f"{base}/sc{r_sessions}", ignore_errors=True)
            shutil.rmtree(f"{base}/s{r_sessions}", ignore_errors=True)

        rows.append(("store_upsert_64b", "64-session MERGE, 64 buckets (all touched)", "resident sessions", up64))
        rows.append(("store_upsert_1b", "64-session MERGE into ONE bucket", "resident sessions", up1))
        rows.append(("store_upsert_scaledb", "64-session MERGE, n_buckets=R/1000 (bounded bucket bytes)", "resident sessions", upsc))
        rows.append(("store_read", "full-store scan", "resident sessions", rd))

        # --- append-log compaction at file-count decades ----------------
        cp = []
        for n_files in COMPACT_FILE_DECADES:
            log = ParquetAppendLog(spark, f"{base}/log{n_files}")
            for i in range(n_files):
                log.append_rows(
                    [
                        {
                            "session_id": f"thread-{i % 50}",
                            "sequence_number": i,
                            "source": "cdc",
                            "diff_data": '[{"op": "add", "line": %d}]' % i,
                            "ts_millis": 1706600000000 + i,
                        }
                        for _ in range(10)
                    ]
                )
            assert log.file_count() == n_files
            t0 = time.perf_counter()
            assert log.compact(min_files=32)
            cp.append((n_files, round(time.perf_counter() - t0, 3)))
            print(f"# log_compact @ {n_files} files: {cp[-1][1]}s", file=sys.stderr)
        rows.append(("log_compact", "append-log small-file compaction", "files", cp))

        with open(out, "w") as fh:
            fh.write(
                "# SCALING (state store) — generated by tools/scaling_store.py\n\n"
                "| shape | scenario | knob | points (knob: sec) | x10 ratio (last step) |\n"
                "|---|---|---|---|---|\n"
            )
            for name, scen, knob, cells in rows:
                ratio = (
                    round(cells[-1][1] / cells[-2][1], 1)
                    if cells[-2][1]
                    else float("inf")
                )
                pts = ", ".join(f"{n}: {t}s" for n, t in cells)
                fh.write(f"| {name} | {scen} | {knob} | {pts} | {ratio} |\n")
        print(f"wrote {out}", file=sys.stderr)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:2])
