"""Replicate the driver's correctness harness: vanilla SparkSession, every
declared query vs its DuckDB oracle, type-strict value comparison.

Run: python tests/driver_replica.py [sf_dir] [query ...]
(with query names, only those queries run)
"""

from __future__ import annotations

import os
import sys
import traceback

# The repository root, on the driver's sys.path AND on PYTHONPATH: Spark's
# Python workers inherit the environment, not sys.path, and the queries'
# UDFs import the package inside them.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _check_closure_budget(name: str) -> None:
    """Assert the scale-oracle's unrolled pointer-jumping round budget
    covers the graph the engine just solved, and report the observed
    diameter proxy next to the budget so an under-provisioned _LP_ROUNDS
    is diagnosable BEFORE the oracle's in-SQL fixpoint proof poisons the
    value hash. Plain-propagation convergence rounds (recorded by
    connected_components) upper-bound the max component diameter;
    pointer jumping needs ~ceil(log2(diameter)) + 1 rounds."""
    import math

    from cdc_agents_data_stream_spark.operators.dedup import connected_components
    from cdc_agents_data_stream_spark.queries.dedup_queries import _LP_ROUNDS

    rounds = getattr(connected_components, "last_rounds", None)
    if rounds is None:
        return
    need = math.ceil(math.log2(max(rounds, 2))) + 1
    print(
        f"     [{name}] observed max component diameter <= {rounds} "
        f"(engine propagation rounds); pointer-jumping oracle needs "
        f"~{need} rounds, budget _LP_ROUNDS={_LP_ROUNDS}"
    )
    assert _LP_ROUNDS >= need, (
        f"{name}: closure scale-oracle round budget too small — observed "
        f"diameter proxy {rounds} needs ~{need} pointer-jumping rounds "
        f"but _LP_ROUNDS={_LP_ROUNDS}; raise it in queries/dedup_queries.py"
    )


def main(sf_dir: str = "/root/testdata/sf0.01", *only: str) -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as e
    from tests.oracle_harness import compare, duck_con

    # Vanilla session — no engine config, like the driver builds. One
    # opt-in knob: SPARK_GRAFT_REPLICA_MEM raises the driver heap for
    # beyond-driver-scale sweeps (the sf1 derivative OOMs the 1g default
    # JVM; at the driver's own sf0.01 the default stays untouched).
    builder = (
        SparkSession.builder.master("local[8]")
        .appName("driver-replica")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
    )
    mem = os.environ.get("SPARK_GRAFT_REPLICA_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    con = duck_con(sf_dir)
    qs, oracles = e.queries(), e.oracle_sql()
    if os.environ.get("SPARK_GRAFT_SCALE_ORACLES"):
        # beyond-driver-scale sweeps: overlay the lossless pigeonhole
        # variants of the brute-force closure oracles (see
        # dedup_queries.SCALE_ORACLES; equivalence to the gate SQL is
        # pinned by tests/test_scale_oracles.py)
        from cdc_agents_data_stream_spark.queries.dedup_queries import (
            SCALE_ORACLES,
        )

        oracles = {**oracles, **SCALE_ORACLES}
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    failed = []
    closure_trio = {"dedup_components", "dedup_keep_corpus", "dedup_keeper_by_quality"}
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            if name in closure_trio:
                _check_closure_budget(name)
            if name in oracles:
                problems = compare(df, con, oracles[name], name)
                if problems:
                    failed.append(name)
                    print(f"FAIL {name}")
                    for p in problems[:3]:
                        print("   ", p)
                else:
                    print(f"ok   {name}")
            else:
                n = df.count()
                print(f"ok   {name} (rows-only: {n})")
        except Exception as exc:
            failed.append(name)
            print(f"ERR  {name}")
            traceback.print_exc(limit=3)
            if "OutOfMemoryException" in type(exc).__name__ or "Out of Memory" in str(exc):
                print(
                    f"     hint: the DuckDB oracle exceeded its memory budget "
                    f"(shards divide the auto-size; SPARK_GRAFT_DUCK_SHARDS="
                    f"{os.environ.get('SPARK_GRAFT_DUCK_SHARDS', '1')}). "
                    f"Re-run this query in a solo pass (full budget): "
                    f"tools/sweep_shards.py --solo-file, or set "
                    f"SPARK_GRAFT_DUCK_MEM explicitly."
                )
        finally:
            # Queries that pin multi-consumer intermediates (persist /
            # localCheckpoint, e.g. the LSH shingle tables) hold their
            # blocks for the session lifetime otherwise; a full-registry
            # sweep in one session would accumulate every query's pinned
            # blocks until the storage pool — not the query under test —
            # is what OOMs. Mirrors tools/scaling_curve.py's cleanup.
            spark.catalog.clearCache()
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                try:
                    rdd.unpersist(True)
                except Exception:
                    pass
    print(f"\n{len(qs) - len(failed)}/{len(qs)} green; failed: {failed}")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
