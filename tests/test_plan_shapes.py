"""Physical-plan regression tests for the relational headline queries —
the README's scale claims (broadcast dims, pushed filters, pruned scans)
asserted against the executed plan, not just documented."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def registry():
    from cdc_agents_data_stream_spark.queries.registry import all_queries

    return all_queries()


def test_tpch_q3_broadcasts_dims_and_pushes_filters(spark, registry):
    plan = _plan(registry["tpch_q3"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims are broadcast-small at any SF ratio
    assert "PushedFilters: [" in plan
    # the segment filter must reach the customer scan, not a post-join Filter
    assert "In(c_mktsegment" in plan or "EqualTo(c_mktsegment" in plan


def test_tpch_q5_no_cartesian_and_pruned_scans(spark, registry):
    plan = _plan(registry["tpch_q5_region_revenue"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # this variant groups by region (no r_name filter); the region scan
    # must still read only the join key + name, never the comment column
    region_scans = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln and "r_name" in ln
    ]
    assert region_scans
    assert all("r_comment" not in ln for ln in region_scans)


def test_latest_event_per_user_prunes_columns(spark, registry):
    plan = _plan(registry["latest_event_per_user"].fn(spark, SF_DIR))
    # the scan reads only the columns the window/agg needs — a full-schema
    # read would include the wide payload column
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines
    assert all("payload" not in ln for ln in scan_lines)


def test_events_filter_json_pushes_type_filter(spark, registry):
    plan = _plan(registry["events_filter_json"].fn(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    assert "event_type" in plan.split("PushedFilters:")[1].split("]")[0]


def test_interval_join_is_bucketed_equi_join(spark, registry):
    plan = _plan(registry["event_attribution_window"].fn(spark, SF_DIR))
    # the range-bucketing rewrite must keep Catalyst on a hash join keyed
    # (user_id, bucket); the naive range predicate would degrade to BNLJ
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "_rj_bucket" in plan


def test_bloom_probe_is_map_only(spark, registry):
    from cdc_agents_data_stream_spark.operators import dedup as D
    from cdc_agents_data_stream_spark.queries.base import load

    docs = load(spark, SF_DIR, "documents")
    packed = D.bloom_build(docs.limit(50))
    plan = _plan(D.bloom_probe(docs, packed))
    # the probe is a literal-array bit test: no join, no shuffle
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_partitioned_lake_write_prunes_partitions(spark, tmp_path):
    """Date-partitioned lake layout: a day filter must prune to that
    day's directory at plan time (PartitionFilters), not scan-and-filter."""
    from pyspark.sql import functions as F

    from cdc_agents_data_stream_spark.queries.base import load

    ev = load(spark, SF_DIR, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    out = str(tmp_path / "events_by_day")
    ev.write.partitionBy("day").parquet(out)

    got = spark.read.parquet(out).filter(F.col("day") == "2024-01-05")
    plan = _plan(got)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "2024-01-05" in pf[0]
    # and the pruned read returns exactly that day's rows
    want = ev.filter(F.col("day") == "2024-01-05").count()
    assert got.count() == want > 0


def test_tfidf_retrieval_is_takeordered_broadcast(spark, registry):
    """Ranking must be TakeOrdered (never a full sort) and the per-term
    document frequencies must come back via broadcast; the query-term
    restriction must sit below the explode's shuffle."""
    plan = _plan(registry["tfidf_retrieval_topk"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_embedding_covariance_shuffles_only_partials(spark, registry):
    """The raw embedding column must never reach an exchange — only the
    d(d+1)/2-row partial moments do (treeAggregate shape)."""
    plan = _plan(registry["embedding_covariance"].fn(spark, SF_DIR))
    # one mapInPandas stage before any exchange
    pos_map = plan.find("MapInPandas")
    assert pos_map != -1
    # every Exchange sits AFTER the python stage in the plan tree string
    # (executed plans print leaves last: the scan/python stage appears
    # below the exchange, i.e. at a LARGER offset)
    pos_ex = plan.find("Exchange")
    assert pos_ex != -1 and pos_ex < pos_map
    # the exchange carries the tiny partial schema, not the vector column
    assert "embedding" not in plan.split("Exchange")[1].split("\n")[0]


def test_rp_projection_is_map_only(spark, registry):
    """The JL projection must be a pure map: no exchange other than the
    final presentation orderBy, no python runner at all."""
    from cdc_agents_data_stream_spark.operators import linalg as L
    from cdc_agents_data_stream_spark.queries.base import load

    emb = load(spark, SF_DIR, "embeddings")
    plan = _plan(L.rp_project(emb, "embedding", 64, 16))
    assert "Exchange" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_grouped_ols_single_partial_agg(spark, registry):
    """The OLS plan is one hash aggregate pair (partial+final) over one
    exchange — the sufficient-statistics shape."""
    plan = _plan(registry["event_value_trend"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "HashAggregate" in plan


def test_dynamic_partition_pruning_on_fact_scan(spark, tmp_path):
    """Dynamic partition pruning: joining a day-partitioned fact table to
    a FILTERED dimension must prune fact partitions with a runtime
    subquery (`dynamicpruning` in the scan's partition filters) — the
    star-schema read path where the prunable days are only known after
    the dim filter runs, not at plan time."""
    from pyspark.sql import functions as F

    from cdc_agents_data_stream_spark.queries.base import load

    ev = load(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    fact = str(tmp_path / "fact")
    ev.write.partitionBy("day").parquet(fact)
    days = (
        ev.select("day").distinct().orderBy("day").limit(3)
        .withColumn("tag", F.lit("wanted"))
    )
    dim = str(tmp_path / "dim")
    days.write.parquet(dim)
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    f = spark.read.parquet(fact)
    d = spark.read.parquet(dim).filter(F.col("tag") == "wanted")
    joined = f.join(d, "day").groupBy("day").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the result only covers the 3 wanted days
    assert joined.count() == 3


def test_aqe_skew_join_splits_hot_partitions(spark, tmp_path):
    """AQE skew-join: a join where one key holds ~90% of the rows must be
    re-planned at runtime with the hot partition split (`isSkew=true` /
    skew-handled SMJ) once the skew thresholds are in range — the
    engine-level complement of the manual salted join
    (`operators/skew.py`), proving the runtime fallback exists when
    salting wasn't applied."""
    from pyspark.sql import functions as F

    big = spark.range(0, 200_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 97).alias("k"),
        # md5 payload: incompressible bytes so the hot partition's shuffle
        # size (compressed) actually crosses the skew threshold
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    small = spark.range(0, 97).select(
        F.col("id").alias("k"), F.lit("dim").alias("tag")
    )
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ path
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = big.join(small, "k").groupBy("tag").count()
        joined.collect()  # AQE finalizes the plan only on execution
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isSkew=true" in plan or "skew=true" in plan.lower(), plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpch_q6_is_pushdown_only_scan(spark, registry):
    """Q6 is the canonical pushdown probe: every predicate reaches the
    parquet scan's DataFilters, no join appears, and the scan reads only
    the four referenced columns."""
    plan = _plan(registry["tpch_q6_forecast_revenue"].fn(spark, SF_DIR))
    assert "Join" not in plan
    scan = plan[plan.index("FileScan parquet") :]
    assert "l_shipdate" in scan.split("DataFilters")[1][:400]
    assert "l_discount" in scan.split("DataFilters")[1][:400]
    assert "l_quantity" in scan.split("DataFilters")[1][:400]
    # column pruning: tax/returnflag/etc never leave the reader
    first_scan_line = scan.splitlines()[0]
    assert "l_tax" not in first_scan_line and "l_returnflag" not in first_scan_line


def test_tpch_q4_exists_is_semi_join(spark, registry):
    """Q4's EXISTS decorrelates to a LeftSemi hash join with the lateness
    predicate as the join residual — not an aggregate-then-join rewrite."""
    plan = _plan(registry["tpch_q4_order_priority"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan
    # quarter filter reaches the orders scan
    assert "o_orderdate" in plan.split("FileScan")[1]


def test_tpch_q21_semi_plus_anti(spark, registry):
    """Q21's EXISTS + NOT-EXISTS pair must survive as one LeftSemi and one
    LeftAnti join (no cartesian fallback), with the status filter pushed
    to every orders scan."""
    plan = _plan(registry["tpch_q21_waiting_supplier"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "(o_orderstatus" in plan  # pushed into the scans


def test_tpch_q22_anti_join_and_scalar_threshold(spark, registry):
    """Q22: the no-large-order predicate is a LeftAnti join and the
    average-balance threshold is a 1-row broadcast (BNLJ against a scalar
    is by design, not a cartesian on data)."""
    plan = _plan(registry["tpch_q22_prospects"].fn(spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "o_totalprice" in plan.split("LeftAnti")[1]  # pushed under the anti side


def test_semdedup_pairs_are_cluster_blocked(spark, registry):
    """SemDeDup's pairwise stage must be an equi-join on the cluster
    assignment (pair volume bounded by the quantizer), never a cartesian
    over the corpus; the only BNLJ allowed is the broadcast-centroid
    assignment cross."""
    plan = _plan(registry["semdedup_prune"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    joins = [l for l in plan.splitlines() if "SortMergeJoin" in l or "BroadcastHashJoin" in l]
    assert any("cluster" in l for l in joins)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime-filter proof: when the dimension side is selectively
    filtered and the join cannot broadcast, Spark injects a bloom filter
    built from the dimension keys and applies `might_contain` on the
    fact side BEFORE the shuffle — at 100 TB this is the difference
    between shuffling the full fact table and shuffling the ~matching
    sliver. SQL confs set/restored at runtime."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_totalprice") > 490000
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = _plan(j)
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
        # the probe must sit under the lineitem scan side, pre-shuffle
        fact_side = plan[plan.index("might_contain") :]
        assert "lineitem" in fact_side
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_streaks_single_exchange_family(spark, registry):
    """user_active_streaks: the distinct, both windows, and both
    aggregations are all keyed on user_id — the plan may exchange on
    user_id-rooted keys only (never a wider reshuffle), and the window
    sorts stay inside those partitions."""
    plan = _plan(registry["user_active_streaks"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "user_id" in ln, ln


def test_interval_union_single_window_pass(spark, registry):
    """interval_union_coverage: one user-keyed sort serves the running-max
    window and the island numbering — exactly one sort below the window
    operators, all exchanges on user_id."""
    plan = _plan(registry["interval_union_coverage"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "user_id" in ln, ln
    # both window computations collapse into Window operators over the
    # same child sort — no second Exchange+Sort pair between them
    assert plan.count("Exchange hashpartitioning") <= 2


def test_hierarchy_windows_ride_the_nation_aggregate(spark, registry):
    """revenue_share_hierarchy: nation and region are explicitly
    broadcast (bounded dims at any SF — orders/customer may legitimately
    go sort-merge at scale, so no assertion on them), and the hierarchy
    windows sit above the nation-level aggregate, never above a
    fact-table exchange."""
    plan = _plan(registry["revenue_share_hierarchy"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the window stage partitions on r_name (25-row aggregate), which
    # must appear as an exchange strictly smaller than the fact columns
    assert any(
        "Exchange hashpartitioning(r_name" in ln for ln in plan.splitlines()
    ) or "Exchange SinglePartition" in plan


@pytest.fixture(scope="module")
def pr_bucketed_graph(spark, tmp_path_factory):
    """A small directed graph materialized via the bucketed lake layout
    (8 buckets), plus the same graph as DataFrames for parity checks."""
    import pyspark.sql.functions as F

    from cdc_agents_data_stream_spark.operators import graph as G

    edf = (
        spark.range(0, 5000)
        .select(
            (F.col("id") % 480).alias("src"),
            ((F.col("id") * 7 + 3) % 500).alias("dst"),
        )
        .distinct()
    )
    ndf = spark.range(0, 500).select(F.col("id").alias("node"))  # 480+ dangling
    base = tmp_path_factory.mktemp("pr_lake")
    G.materialize_pagerank_graph(ndf, edf, "pr_shape", 8, base_path=str(base))
    yield spark, ndf, edf
    for t in ("pr_shape_adj", "pr_shape_nodes"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pagerank_bucketed_round_moves_only_rank_mass(pr_bucketed_graph):
    """The big-|V| deployment path: inside one round the adjacency is a
    bucketed SCAN (never shuffled, never cached) and the ONLY exchanges
    are the |V|-bounded contribution partial-agg (keyed node) and the
    1-row dangling sum. Both loop joins consume the bucket partitioning
    directly — no exchange on either side, and no per-round sort."""
    import pyspark.sql.functions as F

    from cdc_agents_data_stream_spark.operators import graph as G

    spark = pr_bucketed_graph[0]
    ed = spark.table("pr_shape_adj")
    nodestr = spark.table("pr_shape_nodes")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_shuf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        ranks = nodestr.select(
            "node", "strength", F.lit(1000000).cast("long").alias("rank_ppm")
        )
        rnd = G._pagerank_round(ed, nodestr, ranks, 500, None)
        plan = _plan(rnd)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuf)

    hp = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(hp) == 1, plan  # the contrib partial agg, nothing else
    assert "(node#" in hp[0]  # ...keyed on node
    assert not any("(src#" in ln for ln in hp)  # adjacency side co-located
    assert plan.count("Exchange SinglePartition") == 1  # 1-row dangling sum
    assert "SortMergeJoin" not in plan  # both joins build hashes, no sorts
    assert plan.count("ShuffledHashJoin") == 2
    # the adjacency really is read bucketed, not re-shuffled
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan


def test_pagerank_bucketed_matches_inmemory_pagerank(pr_bucketed_graph):
    """Bit-identical ranks between the cached/broadcast gate plan and
    the bucketed lake plan — the integer ppm grid makes cross-plan
    equality exact, so any partitioning-induced divergence (lost rows,
    double-counted mass, wrong dangling handling) fails loudly."""
    from cdc_agents_data_stream_spark.operators import graph as G

    spark, ndf, edf = pr_bucketed_graph
    mem = {r["node"]: r["rank_ppm"] for r in G.pagerank(ndf, edf, iterations=3).collect()}
    lake = {
        r["node"]: r["rank_ppm"]
        for r in G.pagerank_bucketed(spark, "pr_shape", iterations=3).collect()
    }
    assert mem == lake


def test_pagerank_bucketed_job_growth_is_linear(pr_bucketed_graph):
    """Each round is eagerly checkpointed, so total job count must grow
    LINEARLY with the iteration count. The guarded failure mode is real
    (measured on Spark 4.1): without the per-round cut the rank table's
    two consumers duplicate every prior round's subtree and neither
    ReusedExchange nor AQE stage reuse dedups it — 2^(k+1)-2 distinct
    ShuffleQueryStages for k uncut rounds."""
    from cdc_agents_data_stream_spark.operators import graph as G

    spark = pr_bucketed_graph[0]
    sc = spark.sparkContext

    def n_jobs(iterations: int) -> int:
        # jobs counted in a group of their own: the status tracker keeps
        # only the newest spark.ui.retainedJobs jobs, so a count over all
        # jobs of a long test session drops when older jobs are evicted
        group = f"pagerank_job_growth_{iterations}"
        sc.setJobGroup(group, "pagerank job count")
        try:
            G.pagerank_bucketed(spark, "pr_shape", iterations=iterations)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    j2 = n_jobs(2)
    j6 = n_jobs(6)
    per_round = (j6 - j2) / 4
    assert per_round <= 4, (j2, j6)  # measured: ~2 jobs/round


def test_backfill_batch_is_one_bucket_aligned_job(spark, tmp_path):
    """A cdc ``backfill`` batch is the latest-blob reduction plus ONE
    bucket-aligned transition-and-MERGE job: at most 4 Spark jobs (AQE
    query stages), on an empty store and on a store that already holds the
    sessions. Before the bucket job a batch ran 16: the whole-store read
    shuffled into a join, cache + count, the distributed upsert's bucket
    collect, anti-join and write, a separate log append and a listing job
    for the returned read."""
    from cdc_agents_data_stream_spark.plans.backfill import backfill
    from cdc_agents_data_stream_spark.state.store import ParquetAppendLog, ParquetStateStore
    from tests.checkpointgen import gen_checkpoint_tables

    sc = spark.sparkContext
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    log = ParquetAppendLog(spark, str(tmp_path / "diffs"))
    counts = []
    for batch in range(2):
        cps, writes = gen_checkpoint_tables(n_threads=40, n_ticks=2 + batch, repeat_tick=None)
        cps.to_parquet(tmp_path / f"cps-{batch}.parquet")
        writes.to_parquet(tmp_path / f"writes-{batch}.parquet")
        w = spark.read.parquet(str(tmp_path / f"writes-{batch}.parquet"))
        c = spark.read.parquet(str(tmp_path / f"cps-{batch}.parquet"))
        group = f"backfill_batch_jobs_{batch}"
        sc.setJobGroup(group, "backfill job count")
        try:
            state = backfill(spark, w, c, store, log)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert max(counts) <= 4, counts  # measured: 4 per batch
    assert {r["sequence_number"] for r in state.collect()} == {2}
