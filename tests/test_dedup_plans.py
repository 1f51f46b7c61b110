"""Plan-shape and equivalence tests for the banded near-dup candidate
filters: the O(n²) cross joins must be gone from the physical plans, and
the simhash pigeonhole banding must be output-identical to brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_agents_data_stream_spark.operators.dedup import simhash_pairs, simhash_values
from cdc_agents_data_stream_spark.operators.similarity import embedding_neardup_pairs

SF_DIR = "/root/testdata/sf0.001"


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_simhash_pairs_plan_has_no_cross_join(docs):
    plan = _physical_plan(simhash_pairs(docs, max_hamming=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_values_is_one_wide_aggregation(docs):
    """All 32 per-bit balances come from a single groupBy(doc_id): exactly
    one shuffle (with map-side partial agg), and no ×bits row fan-out —
    the old layout exploded a 0..31 sequence per token hash."""
    plan = _physical_plan(simhash_values(docs))
    assert plan.count("Exchange") == 1
    assert "sequence(" not in plan
    assert "partial_sum" in plan


def test_simhash_values_match_a_python_simhash(docs):
    """The one-expression aggregation against a plain-Python SimHash: md5
    of each space-split token (occurrences weighted), bit j set when more
    tokens have it set than not."""
    import hashlib

    want = {}
    for r in docs.select("doc_id", "text").collect():
        if r["text"] is None:
            continue
        balance = [0] * 32
        for tok in r["text"].split(" "):
            h0 = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            for j in range(32):
                balance[j] += 1 if (h0 >> j) & 1 else -1
        want[r["doc_id"]] = sum(1 << j for j in range(32) if balance[j] > 0)
    got = {r["doc_id"]: r["simhash"] for r in simhash_values(docs).collect()}
    assert len(got) > 100
    assert got == want


def test_embedding_neardup_plan_has_no_cross_join(emb):
    plan = _physical_plan(embedding_neardup_pairs(emb, threshold=0.45))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_banding_is_lossless(docs, spark):
    """Pigeonhole guarantee: banded candidates reproduce the brute-force
    pair set exactly (Hamming <= k pairs must share one of k+1 blocks)."""
    sv = simhash_values(docs)
    a, b = sv.alias("a"), sv.alias("b")
    brute = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )
    expected = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in brute.collect()}
    actual = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    assert actual == expected


def test_pq_adc_plan_broadcasts_tables(emb):
    """The PQ scan must probe broadcast code/distance tables — no
    sort-merge join and no cross join anywhere in the ADC chain."""
    from cdc_agents_data_stream_spark.operators.similarity import pq_adc_topk

    plan = _physical_plan(pq_adc_topk(emb, query_ids_below=3, k=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_connected_components_chain_and_clusters(spark):
    """A 5-node path (worst-case diameter for label propagation) plus a
    separate triangle and an isolated pair all resolve to min-id labels."""
    from cdc_agents_data_stream_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_minhash_incremental_max_bucket_prunes_degenerate_buckets(spark):
    """max_bucket drops (band, bucket) groups larger than the cap on
    either side BEFORE the probe join, and leaves sub-cap semantics
    untouched.

    Construction: 40 'degenerate' history docs share one identical
    text (so all their bands land in the same buckets), plus one
    clean near-dup pair. With max_bucket=8 the degenerate buckets
    (population 40 > 8) are pruned, so a probe that would match the
    shared text finds nothing; the clean pair still links. With the
    default (None) the degenerate probe matches all 40."""
    from cdc_agents_data_stream_spark.operators.dedup import (
        minhash_lsh_incremental,
    )

    boiler = "the quick brown fox jumps over the lazy dog every day"
    hist = spark.createDataFrame(
        [(i, boiler) for i in range(40)]
        + [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (200, boiler),  # only matches via degenerate buckets
            (201, "alpha beta gamma delta epsilon zeta eta iota"),
        ],
        ["doc_id", "text"],
    )
    uncapped = {
        (r["doc_new"], r["doc_hist"])
        for r in minhash_lsh_incremental(hist, new, threshold=0.5).collect()
    }
    assert sum(1 for a, _ in uncapped if a == 200) == 40
    assert (201, 100) in uncapped

    capped = {
        (r["doc_new"], r["doc_hist"])
        for r in minhash_lsh_incremental(
            hist, new, threshold=0.5, max_bucket=8
        ).collect()
    }
    assert not any(a == 200 for a, _ in capped)
    assert (201, 100) in capped

def test_capped_join_salting_is_lossless(spark, monkeypatch):
    """The near-cap straggler salting (history side split into
    ceil(bsz/_SALT_BLOCK) salt sub-buckets, probe side replicated across
    exactly that domain) must be a pure physical rewrite: match sets
    bit-identical at any _SALT_BLOCK. Construction: 20 docs share one
    boilerplate text (bucket population 20, under the cap of 32 but over
    the forced salt block of 3 → n_salt = 7 engages) plus a clean pair.
    The forced-salt run and the salting-disabled run (block >= cap, so
    n_salt is always 1) must produce identical (pair, jaccard) sets."""
    from cdc_agents_data_stream_spark.operators import dedup as D

    boiler = "the quick brown fox jumps over the lazy dog every day"
    hist = spark.createDataFrame(
        [(i, boiler) for i in range(20)]
        + [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(200, boiler), (201, "alpha beta gamma delta epsilon zeta eta iota")],
        ["doc_id", "text"],
    )

    def run(verify):
        return {
            (r["doc_new"], r["doc_hist"], r["jaccard"])
            for r in D.minhash_lsh_incremental(
                hist, new, threshold=0.5, max_bucket=32, verify=verify
            ).collect()
        }

    monkeypatch.setattr(D, "_SALT_BLOCK", 3)
    salted = run("index")
    salted_arr = run("array")
    monkeypatch.setattr(D, "_SALT_BLOCK", 1_000_000)
    unsalted = run("index")
    assert salted == unsalted
    # the array-intersect verify is a pure physical rewrite of the index
    # verify: identical (pair, jaccard) sets
    assert salted_arr == salted
    assert sum(1 for a, _, _ in salted if a == 200) == 20  # cap not hit
    assert any(a == 201 and b == 100 for a, b, _ in salted)


def test_fuzzy_cap_recall_gate_properties(spark):
    """fuzzy_cap_recall invariants at sf0.001: the capped match set is a
    subset of the uncapped truth (n_capped <= n_true, both positive) and
    the ppm arithmetic is the integer grid both engines share. Plan lint:
    no cartesian product in the executed plan."""
    from cdc_agents_data_stream_spark.queries.dedup_queries import fuzzy_cap_recall

    df = fuzzy_cap_recall(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    row = df.collect()[0]
    assert row["n_true"] > 0
    assert 0 < row["n_capped"] <= row["n_true"]
    assert row["n_lost"] == row["n_true"] - row["n_capped"]
    assert row["recall_ppm"] == row["n_capped"] * 1_000_000 // row["n_true"]


def test_lsh_operators_accept_custom_id_col(spark, docs):
    """The LSH internals key on the literal 'doc_id' name; the entry-point
    normalization must make id_col != 'doc_id' produce the SAME pairs as
    the canonical name (previously an opaque unresolved-column error),
    and a genuine name conflict must raise a clear ValueError."""
    from cdc_agents_data_stream_spark.operators.dedup import (
        minhash_lsh_incremental,
        minhash_lsh_pairs,
    )

    sample = docs.limit(60)
    renamed = sample.withColumnRenamed("doc_id", "entity_id")

    base = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(sample, threshold=0.5).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(renamed, threshold=0.5, id_col="entity_id").collect()
    }
    assert got == base

    hist, new = sample.filter(F.col("doc_id") % 2 == 0), sample.filter(
        F.col("doc_id") % 2 == 1
    )
    base_inc = {
        (r["doc_new"], r["doc_hist"])
        for r in minhash_lsh_incremental(hist, new, threshold=0.5).collect()
    }
    got_inc = {
        (r["doc_new"], r["doc_hist"])
        for r in minhash_lsh_incremental(
            hist.withColumnRenamed("doc_id", "entity_id"),
            new.withColumnRenamed("doc_id", "entity_id"),
            threshold=0.5,
            id_col="entity_id",
            max_bucket=256,
        ).collect()
    }
    assert got_inc == base_inc

    conflicted = sample.withColumn("entity_id", F.col("doc_id"))
    with pytest.raises(ValueError, match="conflicts with an existing 'doc_id'"):
        minhash_lsh_pairs(conflicted, id_col="entity_id")


def test_recall_ppm_zero_truth_yields_null_not_error(spark):
    """NULLIF zero-guard parity: at a corpus slice with ZERO uncapped
    matches both engines must return recall_ppm = NULL instead of
    diverging (Spark DIV-by-zero -> NULL vs DuckDB // -> error)."""
    import duckdb

    spark_row = (
        spark.range(1)
        .select(
            F.lit(0).cast("long").alias("n_true"),
            F.lit(0).cast("long").alias("n_capped"),
        )
        .select(
            F.expr("(n_capped * 1000000) DIV NULLIF(n_true, 0)")
            .cast("long")
            .alias("recall_ppm")
        )
        .collect()[0]
    )
    duck_row = duckdb.sql(
        "SELECT CAST((0 * 1000000) // NULLIF(0, 0) AS BIGINT) AS recall_ppm"
    ).fetchone()
    assert spark_row["recall_ppm"] is None
    assert duck_row[0] is None


def test_pair_jaccard_recomputes_sizes_unless_told_they_are_carried(spark):
    """A candidates frame with an unrelated ``sz_a``/``sz_b`` column takes
    the sizes from the shingles unless the caller says they are carried."""
    from cdc_agents_data_stream_spark.operators.dedup import _pair_jaccard

    sh = spark.createDataFrame(
        [(1, "x"), (1, "y"), (1, "z"), (2, "y"), (2, "z"), (2, "w")], "doc_id long, shingle string"
    )
    # |{x,y,z} ∩ {y,z,w}| = 2, union 4; the bogus sizes would give 2/(9+9-2)
    cands = spark.createDataFrame([(1, 2, 9, 9)], "doc_a long, doc_b long, sz_a long, sz_b long")
    recomputed = _pair_jaccard(sh, cands).collect()  # bounded: one pair
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in recomputed] == [(1, 2, 0.5)]
    carried = _pair_jaccard(sh, cands, sizes_carried=True).collect()  # bounded: one pair
    assert [r.jaccard for r in carried] == [0.125]
    # a second index is only read by the sizes-carried form
    with pytest.raises(ValueError, match="sh_b"):
        _pair_jaccard(sh, cands, sh_b=sh)


def test_minhash_incremental_overlapping_id_keeps_each_side(spark):
    """A doc_id present in the new batch AND in the history is two
    documents: the index verify must score each side's own gram set. Its
    pairs equal the array verify's (which joins per side by
    construction), and no score exceeds 1. Unioning both sides' shingles
    gave new doc 5 both gram sets: its pair with history doc 6 (the same
    text) scored 11/(12-11) = 11."""
    from cdc_agents_data_stream_spark.operators.dedup import minhash_lsh_incremental

    x = "alpha beta gamma delta epsilon zeta eta theta"
    x2 = "alpha beta gamma delta epsilon zeta eta iota"  # 5 of x's 6 trigrams
    hist = spark.createDataFrame([(5, x2), (6, x)], ["doc_id", "text"])
    new = spark.createDataFrame([(5, x)], ["doc_id", "text"])

    def pairs(verify):
        return {
            (r["doc_new"], r["doc_hist"]): r["jaccard"]
            for r in minhash_lsh_incremental(hist, new, threshold=0.5, verify=verify).collect()
        }

    got = pairs("index")
    assert got == pairs("array")
    assert got[(5, 6)] == 1.0
    assert got.get((5, 5), round(5 / 7, 6)) == round(5 / 7, 6)
    assert all(j <= 1.0 for j in got.values())
