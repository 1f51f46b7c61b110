"""Graph-analytics gates: PageRank over the customer↔supplier purchase
graph. Vertices are every customer and supplier (isolated vertices kept —
they are the dangling/teleport-only case); edges are the distinct
(customer, supplier) purchase pairs from orders ⋈ lineitem, both
directions. Ranks live on an integer ppm grid (see operators/graph.py)
so the unrolled-CTE oracle reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import graph as G
from ..operators.graph import triangle_counts
from .base import Q, load


def graph_pagerank(spark, sf_dir):
    """3-iteration integer-grid PageRank (operators/graph.py::pagerank)
    over the bipartite purchase graph. Node encoding: customer c →
    2c, supplier s → 2s+1 (collision-free in one BIGINT key space).
    The edge list is built once from one orders ⋈ lineitem pass and
    reused across rounds; each round is one equi-join + one partial-agg
    grouped sum — the connected-components scale shape."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("ck"),
            F.col("l_suppkey").cast("long").alias("sk"),
        )
        .distinct()
    )
    edges = pairs.select(
        (F.col("ck") * 2).alias("src"), (F.col("sk") * 2 + 1).alias("dst")
    ).unionByName(
        pairs.select((F.col("sk") * 2 + 1).alias("src"), (F.col("ck") * 2).alias("dst"))
    )
    nodes = (
        load(spark, sf_dir, "customer")
        .select((F.col("c_custkey").cast("long") * 2).alias("node"))
        .unionByName(
            load(spark, sf_dir, "supplier").select(
                (F.col("s_suppkey").cast("long") * 2 + 1).alias("node")
            )
        )
    )
    return G.pagerank(nodes, edges).orderBy("node")


GRAPH_PAGERANK_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS ck,
                  CAST(l.l_suppkey AS BIGINT) AS sk
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS MATERIALIZED (
  SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT sk * 2 + 1, ck * 2 FROM pairs
),
nodes AS MATERIALIZED (
  SELECT CAST(c_custkey AS BIGINT) * 2 AS node FROM customer
  UNION
  SELECT CAST(s_suppkey AS BIGINT) * 2 + 1 FROM supplier
),
deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
r0 AS (SELECT node, CAST({G.PR_INIT_PPM} AS BIGINT) AS rank_ppm FROM nodes),
{G.pagerank_oracle_iterations()}
SELECT node, rank_ppm FROM r{G.PR_ITERATIONS} ORDER BY node
"""


QUERIES = {
    "graph_pagerank": Q(
        graph_pagerank,
        GRAPH_PAGERANK_SQL,
        "3-iteration integer-grid PageRank over the purchase graph",
    ),
}


def graph_triangle_counts(spark, sf_dir):
    """Per-document triangle participation in the simhash near-dup graph
    (operators/graph.py::triangle_counts) — triangle density is the
    classic cluster-cohesion signal (a quasi-clique of duplicates is
    triangle-rich; a chain of borderline matches is not). Degree-oriented
    wedge enumeration keeps the join fan-out arboricity-bounded; the
    oracle enumerates the same triangle set id-canonically."""
    from ..operators import dedup as D

    docs = load(spark, sf_dir, "documents")
    pairs = D.simhash_pairs(docs, max_hamming=3)
    return (
        triangle_counts(pairs)
        .select(F.col("node").alias("doc_id"), "n_triangles")
        .orderBy("doc_id")
    )


_SIMHASH_PAIR_CTES = """toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h0 FROM toks),
bits AS (
  SELECT doc_id, j, CASE WHEN (h0 >> j) & 1 = 1 THEN 1 ELSE -1 END AS c
  FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS j) jj
),
perbit AS (SELECT doc_id, j, SUM(c) AS s FROM bits GROUP BY doc_id, j),
sv AS (
  SELECT doc_id,
         SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END) AS simhash
  FROM perbit GROUP BY doc_id
),
prs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sv a JOIN sv b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
)"""

GRAPH_TRIANGLE_COUNTS_SQL = f"""
WITH {_SIMHASH_PAIR_CTES},
tris AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM prs e1
  JOIN prs e2 ON e2.doc_a = e1.doc_b
  JOIN prs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
corners AS (
  SELECT a AS doc_id FROM tris
  UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["graph_triangle_counts"] = Q(
    graph_triangle_counts,
    GRAPH_TRIANGLE_COUNTS_SQL,
    "degree-oriented triangle counting over the near-dup graph",
)


def graph_label_communities(spark, sf_dir):
    """Deterministic synchronous label-propagation communities
    (operators/graph.py::label_propagation) over the same bidirectional
    purchase graph as `graph_pagerank`, with each node's final label and
    its community size — the community-detection checkbox next to
    connected components (transitive closure) and PageRank (centrality)."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("ck"),
            F.col("l_suppkey").cast("long").alias("sk"),
        )
        .distinct()
    )
    edges = pairs.select(
        (F.col("ck") * 2).alias("src"), (F.col("sk") * 2 + 1).alias("dst")
    ).unionByName(
        pairs.select((F.col("sk") * 2 + 1).alias("src"), (F.col("ck") * 2).alias("dst"))
    )
    nodes = (
        load(spark, sf_dir, "customer")
        .select((F.col("c_custkey").cast("long") * 2).alias("node"))
        .unionByName(
            load(spark, sf_dir, "supplier").select(
                (F.col("s_suppkey").cast("long") * 2 + 1).alias("node")
            )
        )
    )
    labels = G.label_propagation(nodes, edges)
    sizes = labels.groupBy("label").agg(
        F.count("*").cast("long").alias("community_size")
    )
    return labels.join(sizes, "label").select(
        "node", "label", "community_size"
    ).orderBy("node")


GRAPH_LABEL_COMMUNITIES_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS ck,
                  CAST(l.l_suppkey AS BIGINT) AS sk
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS MATERIALIZED (
  SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT sk * 2 + 1, ck * 2 FROM pairs
),
nodes AS MATERIALIZED (
  SELECT CAST(c_custkey AS BIGINT) * 2 AS node FROM customer
  UNION
  SELECT CAST(s_suppkey AS BIGINT) * 2 + 1 FROM supplier
),
l0 AS (SELECT node, node AS label FROM nodes),
{G.lpa_oracle_iterations()},
sizes AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size
  FROM l{G.LPA_ITERATIONS} GROUP BY label
)
SELECT l.node, l.label, s.community_size
FROM l{G.LPA_ITERATIONS} l JOIN sizes s USING (label)
ORDER BY l.node
"""

QUERIES["graph_label_communities"] = Q(
    graph_label_communities,
    GRAPH_LABEL_COMMUNITIES_SQL,
    "deterministic synchronous label-propagation communities over the purchase graph",
)


def graph_ppr_nation(spark, sf_dir):
    """Personalized PageRank seeded at one market segment — nation-0
    customers — over the purchase graph: ranks now measure supplier
    relevance TO THAT SEGMENT (random walk with restart), the
    related-item/audience-expansion recommendation primitive. Teleport
    and dangling mass return only to seeds; everything else identical to
    `graph_pagerank`, including the bit-for-bit unrolled oracle."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("ck"),
            F.col("l_suppkey").cast("long").alias("sk"),
        )
        .distinct()
    )
    edges = pairs.select(
        (F.col("ck") * 2).alias("src"), (F.col("sk") * 2 + 1).alias("dst")
    ).unionByName(
        pairs.select((F.col("sk") * 2 + 1).alias("src"), (F.col("ck") * 2).alias("dst"))
    )
    customer = load(spark, sf_dir, "customer")
    nodes = customer.select(
        (F.col("c_custkey").cast("long") * 2).alias("node")
    ).unionByName(
        load(spark, sf_dir, "supplier").select(
            (F.col("s_suppkey").cast("long") * 2 + 1).alias("node")
        )
    )
    seeds = customer.filter(F.col("c_nationkey") == 0).select(
        (F.col("c_custkey").cast("long") * 2).alias("node")
    )
    return G.personalized_pagerank(nodes, edges, seeds).orderBy("node")


GRAPH_PPR_NATION_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS ck,
                  CAST(l.l_suppkey AS BIGINT) AS sk
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS MATERIALIZED (
  SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT sk * 2 + 1, ck * 2 FROM pairs
),
nodes AS MATERIALIZED (
  SELECT CAST(c_custkey AS BIGINT) * 2 AS node FROM customer
  UNION
  SELECT CAST(s_suppkey AS BIGINT) * 2 + 1 FROM supplier
),
seeds AS (
  SELECT CAST(c_custkey AS BIGINT) * 2 AS node FROM customer WHERE c_nationkey = 0
),
smark AS (
  SELECT n.node, CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed
  FROM nodes n LEFT JOIN seeds s USING (node)
),
deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, CAST({G.PR_INIT_PPM} AS BIGINT) AS rank_ppm FROM nodes),
{G.ppr_oracle_iterations("(SELECT COUNT(*) FROM nodes)", "(SELECT COUNT(*) FROM seeds)")}
SELECT node, rank_ppm FROM r{G.PR_ITERATIONS} ORDER BY node
"""

QUERIES["graph_ppr_nation"] = Q(
    graph_ppr_nation,
    GRAPH_PPR_NATION_SQL,
    "personalized PageRank seeded at nation-0 customers (random walk with restart)",
)


def graph_pagerank_weighted(spark, sf_dir):
    """Weighted PageRank over the purchase graph: edge weight = number
    of DISTINCT ORDERS linking the customer and supplier, so the walk
    follows actual purchase volume instead of mere existence — repeat
    business pulls rank. Same integer grid; contrib = rank·w DIV
    strength per edge."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    wpairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("ck"),
            F.col("l_suppkey").cast("long").alias("sk"),
            "o_orderkey",
        )
        .distinct()
        .groupBy("ck", "sk")
        .agg(F.count("*").cast("long").alias("w"))
    )
    edges = wpairs.select(
        (F.col("ck") * 2).alias("src"), (F.col("sk") * 2 + 1).alias("dst"), "w"
    ).unionByName(
        wpairs.select(
            (F.col("sk") * 2 + 1).alias("src"), (F.col("ck") * 2).alias("dst"), "w"
        )
    )
    nodes = (
        load(spark, sf_dir, "customer")
        .select((F.col("c_custkey").cast("long") * 2).alias("node"))
        .unionByName(
            load(spark, sf_dir, "supplier").select(
                (F.col("s_suppkey").cast("long") * 2 + 1).alias("node")
            )
        )
    )
    return G.pagerank(nodes, edges, weight_col="w").orderBy("node")


GRAPH_PAGERANK_WEIGHTED_SQL = f"""
WITH wpairs AS (
  SELECT ck, sk, CAST(COUNT(*) AS BIGINT) AS w FROM (
    SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS ck,
                    CAST(l.l_suppkey AS BIGINT) AS sk,
                    o.o_orderkey
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  ) GROUP BY ck, sk
),
edges AS MATERIALIZED (
  SELECT ck * 2 AS src, sk * 2 + 1 AS dst, w FROM wpairs
  UNION ALL
  SELECT sk * 2 + 1, ck * 2, w FROM wpairs
),
nodes AS MATERIALIZED (
  SELECT CAST(c_custkey AS BIGINT) * 2 AS node FROM customer
  UNION
  SELECT CAST(s_suppkey AS BIGINT) * 2 + 1 FROM supplier
),
deg AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS strength FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
r0 AS (SELECT node, CAST({G.PR_INIT_PPM} AS BIGINT) AS rank_ppm FROM nodes),
{G.pagerank_oracle_iterations(weighted=True)}
SELECT node, rank_ppm FROM r{G.PR_ITERATIONS} ORDER BY node
"""

QUERIES["graph_pagerank_weighted"] = Q(
    graph_pagerank_weighted,
    GRAPH_PAGERANK_WEIGHTED_SQL,
    "volume-weighted PageRank (contrib = rank·w DIV strength)",
)


def graph_bfs_reach(spark, sf_dir):
    """4-hop BFS distances from the nation-0 customer set over the
    purchase graph (operators/graph.py::bfs_levels) — hop-bounded
    reachability, the path-query primitive: distance 1 = their
    suppliers, 2 = co-buyers of those suppliers, and so on. Frontier
    relaxation is the CC/pagerank join shape with an explicit depth
    budget."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("ck"),
            F.col("l_suppkey").cast("long").alias("sk"),
        )
        .distinct()
    )
    # both directions from ONE read of pairs (a union would plan the
    # join + distinct twice)
    edges = pairs.select(
        F.expr(
            "inline(array(named_struct('src', ck * 2, 'dst', sk * 2 + 1),"
            " named_struct('src', sk * 2 + 1, 'dst', ck * 2)))"
        )
    )
    sources = load(spark, sf_dir, "customer").filter(F.col("c_nationkey") == 0).select(
        (F.col("c_custkey").cast("long") * 2).alias("node")
    )
    return G.bfs_levels(edges, sources).orderBy("node")


GRAPH_BFS_REACH_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS ck,
                  CAST(l.l_suppkey AS BIGINT) AS sk
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS MATERIALIZED (
  SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT sk * 2 + 1, ck * 2 FROM pairs
),
d0 AS (
  SELECT CAST(c_custkey AS BIGINT) * 2 AS node, CAST(0 AS BIGINT) AS dist
  FROM customer WHERE c_nationkey = 0
),
{G.relax_oracle_iterations("dist", "1")}
SELECT node, dist FROM d{G.BFS_ROUNDS} ORDER BY node
"""

QUERIES["graph_bfs_reach"] = Q(
    graph_bfs_reach,
    GRAPH_BFS_REACH_SQL,
    "hop-bounded BFS distances from a seed set (frontier relaxation)",
)


def graph_cheapest_route(spark, sf_dir):
    """Bounded weighted shortest path (operators/graph.py::
    minplus_levels): cheapest purchase-hop cost from the nation-0
    customer seed set within 4 edges over the bipartite purchase graph,
    edge weight = the pair's minimum line price in cents (a determinate
    integer). Bellman-Ford rounds with the BFS join shape — weight 1
    degenerates to graph_bfs_reach exactly."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").cast("long").alias("ck"),
            F.col("l_suppkey").cast("long").alias("sk"),
        )
        .agg(F.min("cents").alias("w"))
    )
    edges = pairs.select(
        F.expr(
            "inline(array(named_struct('src', ck * 2, 'dst', sk * 2 + 1, 'w', w),"
            " named_struct('src', sk * 2 + 1, 'dst', ck * 2, 'w', w)))"
        )
    )
    sources = load(spark, sf_dir, "customer").filter(F.col("c_nationkey") == 0).select(
        (F.col("c_custkey").cast("long") * 2).alias("node")
    )
    return G.minplus_levels(edges, sources).orderBy("node")


GRAPH_CHEAPEST_ROUTE_SQL = f"""
WITH pairs AS (
  SELECT CAST(o.o_custkey AS BIGINT) AS ck,
         CAST(l.l_suppkey AS BIGINT) AS sk,
         MIN(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS w
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
),
edges AS MATERIALIZED (
  SELECT ck * 2 AS src, sk * 2 + 1 AS dst, w FROM pairs
  UNION ALL
  SELECT sk * 2 + 1, ck * 2, w FROM pairs
),
d0 AS (
  SELECT CAST(c_custkey AS BIGINT) * 2 AS node, CAST(0 AS BIGINT) AS cost
  FROM customer WHERE c_nationkey = 0
),
{G.relax_oracle_iterations("cost", "e.w")}
SELECT node, cost FROM d{G.BFS_ROUNDS} ORDER BY node
"""

QUERIES["graph_cheapest_route"] = Q(
    graph_cheapest_route,
    GRAPH_CHEAPEST_ROUTE_SQL,
    "bounded Bellman-Ford: cheapest k-edge route cost from a seed set",
)


def graph_degree_histogram(spark, sf_dir):
    """Degree-distribution profile of the purchase graph — the power-law
    sanity check every graph pipeline runs first, and the input to
    skew-aware partitioning decisions (a heavy-tailed histogram says
    salt the hubs). Distinct (customer, supplier) edges reduce to
    per-side degrees in one partial agg; degrees land in base-2 buckets
    via exact integer bit length (shared with the quantile sketch — no
    float log), and the output is ≤ ~12 rows per side at any scale."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("ck"),
            F.col("l_suppkey").cast("long").alias("sk"),
        )
        .distinct()
    )
    deg = pairs.groupBy("ck").agg(F.count("*").alias("d")).select(
        F.lit("customer").alias("side"), "d"
    ).unionByName(
        pairs.groupBy("sk").agg(F.count("*").alias("d")).select(
            F.lit("supplier").alias("side"), "d"
        )
    )
    return (
        deg.select("side", (F.length(F.bin(F.col("d"))) - 1).alias("bucket"))
        .groupBy("side", "bucket")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .orderBy("side", "bucket")
    )


GRAPH_DEGREE_HISTOGRAM_SQL = """
WITH pairs AS (
  SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS ck,
                  CAST(l.l_suppkey AS BIGINT) AS sk
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
deg AS MATERIALIZED (
  SELECT 'customer' AS side, COUNT(*) AS d FROM pairs GROUP BY ck
  UNION ALL
  SELECT 'supplier' AS side, COUNT(*) AS d FROM pairs GROUP BY sk
)
SELECT side, length(to_base(d, 2)) - 1 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY side, bucket ORDER BY side, bucket
"""

QUERIES["graph_degree_histogram"] = Q(
    graph_degree_histogram,
    GRAPH_DEGREE_HISTOGRAM_SQL,
    "log2-bucketed degree distribution of the purchase graph (skew profile)",
)


_KCORE_ROUNDS = 3
_KCORE_K = 3


def graph_kcore_prune(spark, sf_dir):
    """k-core decomposition by iterative degree pruning — the subgraph-
    shrinking loop (peel nodes of degree < k, which lowers neighbors'
    degrees, repeat): 3 unrolled rounds at k=3 over the purchase graph,
    each round one degree aggregation + one semi-join that SHRINKS the
    edge list — the working set only ever gets smaller, the property
    that makes peeling cheap at 100 TB (full convergence would loop
    to fixpoint with a driver-side empty-delta check; 3 rounds are
    unrolled here so the oracle replays the identical prefix). Output:
    surviving-core per-side node and edge counts plus the minimum
    surviving degree per round-3 side."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("u"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    for _ in range(_KCORE_ROUNDS):
        und = edges.select("u", "v").unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        deg = und.groupBy("u").agg(F.count("*").alias("d"))
        keep = deg.filter(F.col("d") >= _KCORE_K).select(F.col("u").alias("node"))
        edges = (
            edges.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
        )
    und = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    return (
        deg.select(
            F.when(F.col("u") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("side"),
            "d",
        )
        .groupBy("side")
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("d").cast("bigint").alias("n_half_edges"),
            F.min("d").cast("bigint").alias("min_degree"),
        )
        .orderBy("side")
    )


def _kcore_oracle_sql() -> str:
    sql = """WITH e0 AS MATERIALIZED (
  SELECT DISTINCT CAST(o.o_custkey AS BIGINT) * 2 AS u,
                  CAST(l.l_suppkey AS BIGINT) * 2 + 1 AS v
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)"""
    for r in range(_KCORE_ROUNDS):
        sql += f""",
d{r} AS MATERIALIZED (
  SELECT u, COUNT(*) AS d FROM (
    SELECT u, v FROM e{r} UNION ALL SELECT v AS u, u AS v FROM e{r}
  ) GROUP BY u
),
k{r} AS MATERIALIZED (SELECT u AS node FROM d{r} WHERE d >= {_KCORE_K}),
e{r + 1} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{r} e
  WHERE e.u IN (SELECT node FROM k{r}) AND e.v IN (SELECT node FROM k{r})
)"""
    r = _KCORE_ROUNDS
    sql += f""",
dfin AS MATERIALIZED (
  SELECT u, COUNT(*) AS d FROM (
    SELECT u, v FROM e{r} UNION ALL SELECT v AS u, u AS v FROM e{r}
  ) GROUP BY u
)
SELECT CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'supplier' END AS side,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(d) AS BIGINT) AS n_half_edges,
       CAST(MIN(d) AS BIGINT) AS min_degree
FROM dfin GROUP BY 1 ORDER BY side"""
    return sql


QUERIES["graph_kcore_prune"] = Q(
    graph_kcore_prune,
    _kcore_oracle_sql(),
    "k-core peeling: 3 rounds of degree pruning over the purchase graph",
)
