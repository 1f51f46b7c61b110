#!/usr/bin/env python3
"""Stage-level profile of one registry query: run it on a UI-enabled
session, then dump per-stage executor-time, task-skew (median vs max task),
and shuffle volumes from the UI REST API. This is the tool that localized
the round-5 fuzzy_entity_match cost (uniform verify volume, NOT a
straggler — median task 56.8 s vs max 58.6 s in the dominant stage),
turning a guessed "salt the skew" plan into a measured volume fix.

Every call (warm-ups included) also prints its driver-side split: the
DataFrame build (the query function itself), planning (``executedPlan``),
the run (``collect``) and the number of Spark jobs the call ran. That
split showed the small-input floor of the analytics mix: a 32-column
SimHash aggregation built from ``Column`` objects and a footer-inference
job per table read.

Usage: python tools/stage_profile.py QUERY [SF_DIR] [top_n]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(query: str, sf_dir: str = "/root/testdata/sf0.1", top_n: str = "18") -> None:
    from cdc_agents_data_stream_spark.session import get_spark

    # the engine's session, with the UI on: the REST API is the whole point
    spark = get_spark(f"profile-{query}", ui=True)
    spark.sparkContext.setLogLevel("ERROR")
    from cdc_agents_data_stream_spark.queries.registry import all_queries

    fn = all_queries()[query].fn
    ui = spark.sparkContext.uiWebUrl
    app = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))[0]["id"]

    # warm runs: a cold first run is dominated by whole-stage-codegen C2
    # compilation (a 2.3 s warm query reads 41 s cold), which mis-ranks
    # every stage; profile the LAST run only, after the JIT settles
    warm_runs = int(os.environ.get("SPARK_GRAFT_PROFILE_WARMUPS", "3"))
    for i in range(warm_runs):
        profiled_call(spark, fn, sf_dir, f"warm{i}")
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
    seen = {
        s["stageId"]
        for s in json.load(
            urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages")
        )
    }
    profiled_call(spark, fn, sf_dir, f"{query}@{os.path.basename(sf_dir)}")

    stages = [
        s
        for s in json.load(
            urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages?status=complete"
            )
        )
        if s["stageId"] not in seen
    ]
    rows = []
    for s in stages:
        sid = s["stageId"]
        try:
            q = json.load(
                urllib.request.urlopen(
                    f"{ui}/api/v1/applications/{app}/stages/{sid}/0/taskSummary?quantiles=0.5,1.0"
                )
            )
            med, mx = q["executorRunTime"]
        except Exception:
            med, mx = -1, -1
        rows.append(
            (
                s.get("executorRunTime", 0) / 1000.0,
                sid,
                s["numCompleteTasks"],
                med / 1000.0,
                mx / 1000.0,
                s.get("shuffleWriteBytes", 0) // 2**20,
                s.get("shuffleReadBytes", 0) // 2**20,
            )
        )
    rows.sort(reverse=True)
    print("sumRun_s stage tasks medTask_s maxTask_s shufW_MB shufR_MB  (skew = max/med)")
    for r in rows[: int(top_n)]:
        skew = (r[4] / r[3]) if r[3] > 0 else float("nan")
        print(
            f"{r[0]:8.1f} {r[1]:5d} {r[2]:5d} {r[3]:9.2f} {r[4]:9.2f} "
            f"{r[5]:8d} {r[6]:8d}  {skew:5.2f}"
        )
    spark.stop()


def profiled_call(spark, fn, sf_dir: str, label: str) -> None:
    """Run ``fn(spark, sf_dir)`` to its collected rows in a job group of
    its own and print the driver-side split."""
    sc = spark.sparkContext
    group = f"stage-profile-{label}"
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        n = len(df.collect())
        t3 = time.perf_counter()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    print(
        f"# {label}: build {(t1 - t0) * 1e3:.1f} ms, plan {(t2 - t1) * 1e3:.1f} ms, "
        f"run {(t3 - t2) * 1e3:.1f} ms, {jobs} jobs, {n} rows",
        file=sys.stderr,
    )


if __name__ == "__main__":
    main(*sys.argv[1:4])
