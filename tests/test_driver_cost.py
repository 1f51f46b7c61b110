"""Fixed driver-side cost of analytical reads, counted in Spark jobs: a
table read with a known schema runs no footer-inference job, a rewritten
table is inferred again, and the analytics mix's queries run a pinned
number of jobs per warm call. Jobs are counted per job group (a count
over the whole shared test session drops once it passes
``spark.ui.retainedJobs``)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from __spark_entry__ import _SMOKE_SF_DIR as SF_DIR
from cdc_agents_data_stream_spark.queries import base
from cdc_agents_data_stream_spark.queries.base import load


def _jobs(spark, group: str, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("table", ["documents", "events"])
def test_second_load_of_unchanged_table_runs_no_job(spark, table):
    first, _ = _jobs(spark, f"load_first_{table}", lambda: load(spark, SF_DIR, table))
    again, n = _jobs(spark, f"load_again_{table}", lambda: load(spark, SF_DIR, table))
    assert n == 0
    assert again.schema == first.schema


def test_rewritten_table_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    path.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), path / "part-0.parquet")
    assert load(spark, str(tmp_path), "t").columns == ["a"]
    _, n = _jobs(spark, "load_unchanged_t", lambda: load(spark, str(tmp_path), "t"))
    assert n == 0

    # same path, same file name, an extra column
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path / "part-0.parquet")
    df = load(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]
    assert [k for k in base._SCHEMAS if k.startswith(str(tmp_path))] == [f"{tmp_path}/t.parquet"]

    # a conf that changes inference is part of the entry's key
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        _, n = _jobs(spark, "load_conf_changed_t", lambda: load(spark, str(tmp_path), "t"))
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert n >= 1


def test_append_log_read_runs_no_job_and_pins_the_inferred_schema(spark, tmp_path):
    from cdc_agents_data_stream_spark.state.store import ParquetAppendLog

    log = ParquetAppendLog(spark, str(tmp_path / "log"))
    log.append_rows(
        [{"session_id": "s", "sequence_number": 1, "source": "cdc", "diff_data": "{}", "ts_millis": 5}]
    )
    # a Spark-side append is cast to the log's types (sequence_number int)
    log.append(
        spark.createDataFrame(
            [("t", 2, "ide", "{}", 6, "extra")],
            "session_id string, sequence_number long, source string, diff_data string, "
            "ts_millis long, other string",
        )
    )
    df, n = _jobs(spark, "log_read", log.read)
    assert n == 0
    assert df.schema == spark.read.parquet(log._data_dir()).schema
    assert sorted(tuple(r) for r in df.collect()) == [("s", 1, "cdc", "{}", 5), ("t", 2, "ide", "{}", 6)]
    with pytest.raises(ValueError, match="ts_millis"):
        log.append(
            spark.createDataFrame(
                [("u", 3, "cdc", "{}")],
                "session_id string, sequence_number int, source string, diff_data string",
            )
        )


# Jobs per warm call (the call and its collect) of the analytics mix's
# queries, measured on 4 cores. A table read without a known schema adds
# a footer-inference job: read that way they ran 5, 4 and 28 jobs (one,
# one and three tables per call). graph_bfs_reach ran 25 while each BFS
# round was checkpointed; as one linear plan it is the edge set's
# materialization (3), its broadcast and the result job.
MIX_WARM_JOBS = {"ann_cosine_topk": 4, "dedup_simhash": 3, "graph_bfs_reach": 5}


@pytest.mark.parametrize("name", sorted(MIX_WARM_JOBS))
def test_analytics_mix_warm_job_counts(spark, name):
    from cdc_agents_data_stream_spark.queries.registry import all_queries

    fn = all_queries()[name].fn
    fn(spark, SF_DIR).collect()
    _, n = _jobs(spark, f"mix_warm_{name}", lambda: fn(spark, SF_DIR).collect())
    assert n == MIX_WARM_JOBS[name]
