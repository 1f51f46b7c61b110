"""Graph analytics over DataFrame joins — PageRank on an integer grid.

The reference has no graph operator; this extends the engine the way the
near-dup clustering did (``operators/dedup.py::connected_components``):
iterative label/mass propagation expressed as the same join + partial-agg
primitives Spark already optimizes, so the 100 TB story is unchanged —
each round is one edge⋈rank equi-join (shuffle on ``src``) and one grouped
sum (partial aggregation on ``dst``), with the edge list persisted once
and reused across rounds.

Determinism: the classic float PageRank is NOT cross-engine reproducible
(float addition order varies by partitioning), so ranks live on an exact
integer grid — parts-per-million BIGINTs, integer division everywhere.
``a DIV b`` (Spark) and ``a // b`` (DuckDB) agree on non-negative
operands, and BIGINT sums are order-free, so a DuckDB oracle that unrolls
the same iterations reproduces every rank bit-for-bit.

Dangling mass (nodes with no out-edges — e.g. customers with no orders at
small SFs) is redistributed uniformly each round, as in the original
formulation: ``rank' = teleport + d·(Σ contrib + dangling_sum/N)``, all
on the ppm grid.

One consumer per round: on Spark 4.1 a subtree read by two consumers is
computed once per consumer — neither ReusedExchange nor AQE stage reuse
dedups it — so a loop whose round reads the previous round twice grows
exponentially in the round count unless every round is cut (an eager
``localCheckpoint`` each round, as ``pagerank_bucketed`` does, or a lazy
one every few rounds). A round that reads the previous round exactly
once needs no cut: its plan grows by one join and one aggregate per
round, and a broadcast loop-invariant input is one reused exchange. The
BFS / min-plus relaxation (``_relax``) is written that way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

# Rank grid: parts-per-million. damping d = 0.85 → teleport (1-d) = 0.15.
PR_INIT_PPM = 1_000_000
PR_TELEPORT_PPM = 150_000
PR_DAMP_MILLI = 850
PR_ITERATIONS = 3


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = PR_ITERATIONS,
    weight_col: str | None = None,
) -> DataFrame:
    """``(node, rank_ppm)`` after ``iterations`` synchronous PageRank
    rounds. ``nodes`` is one ``node: long`` column (the full vertex set,
    including isolated vertices); ``edges`` is ``(src, dst)`` directed,
    pre-deduplicated by the caller.

    Scale shape: the strength-annotated edge table is built with ONE
    shuffle (window-sum on ``src``), persisted, and reused every round —
    the rank side is the only thing that changes, so each round joins the
    broadcast-size rank table against the cached |E|-row edge table and
    partially aggregates |E| rows on ``dst`` (grouped sum). The
    dangling-mass and vertex-count scalars are 1-row aggregates broadcast
    into the update — no ``collect`` of anything unbounded.
    """
    # Materialize the loop-invariant edge table ONCE: the contribution
    # join consumes it every round, and without a cut each round would
    # re-run the caller's whole edge-build subtree (orders⋈lineitem +
    # distinct in the purchase-graph gate). A real deployment
    # materializes the edge list as a table anyway; this is that, scoped
    # to the job.
    # ``weight_col``: a positive BIGINT edge weight — the walk leaves a
    # node proportionally to edge weight (contrib = rank·w DIV strength,
    # strength = Σw per source). The unweighted case is w ≡ 1, where
    # strength = outdeg and the formulas coincide; rank·w stays well
    # inside int64 for ppm ranks × realistic weights.
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    edges = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        w.alias("w"),
    )
    nodes = nodes.select(F.col("node").cast("long").alias("node")).localCheckpoint()
    # Persist the loop-invariant edge set as per-source ADJACENCY ARRAYS
    # (one shuffle on src, |V|-row output) instead of a flat annotated
    # |E|-row table: each round then joins ranks against |V| adjacency
    # rows and fans the contributions out MAP-SIDE via explode, rather
    # than probing all |E| edge rows per round. Strength (Σw per source)
    # is an array fold over the same row. A/B at the measured sf10
    # decade (117M edges, 1.6M sources): 36.6 s → 25.0 s end-to-end,
    # bit-identical ranks (integer contributions are order-free).
    # Element order inside collect_list is partition-dependent — safe
    # here because each element's contribution is computed and summed
    # independently on the integer grid.
    # Unweighted graphs (the big gate) store bare dst arrays — half the
    # per-element footprint of the struct form, which matters on skewed
    # hub sources whose adjacency runs to ~10⁵ entries; strength is then
    # just the array size. Weighted graphs carry (dst, w) structs.
    if weight_col is None:
        ed = (
            edges.groupBy("src")
            .agg(F.collect_list("dst").alias("adj"))
            .withColumn("strength", F.size("adj").cast("long"))
            .persist()
        )
    else:
        ed = (
            edges.groupBy("src")
            .agg(F.collect_list(F.struct("dst", "w")).alias("adj"))
            .withColumn(
                "strength",
                F.aggregate(
                    "adj", F.lit(0).cast("long"), lambda acc, x: acc + x["w"]
                ),
            )
            .persist()
        )
    # deg (the distinct source set, |V|-scale) derives from the CACHED
    # adjacency table — one map-side projection.
    deg = ed.select("src").localCheckpoint()
    # Vertex count: a bounded dimension-table count (the node set is
    # metadata-scale even when the edge list is not).
    n_nodes = nodes.count()
    ranks = nodes.select("node", F.lit(PR_INIT_PPM).cast("long").alias("rank_ppm"))
    for it in range(iterations):
        joined = ed.join(ranks.withColumnRenamed("node", "src"), "src")
        if weight_col is None:
            expanded = joined.select(
                F.explode("adj").alias("node"),
                F.expr("rank_ppm DIV strength").alias("c"),
            )
        else:
            expanded = joined.select(
                F.explode("adj").alias("e"), "rank_ppm", "strength"
            ).select(
                F.col("e.dst").alias("node"),
                F.expr("(rank_ppm * e.w) DIV strength").alias("c"),
            )
        contrib = expanded.groupBy("node").agg(F.sum("c").alias("contrib"))
        dangling = (
            ranks.join(deg.select(F.col("src").alias("node")), "node", "left_anti")
            .agg(F.coalesce(F.sum("rank_ppm"), F.lit(0)).cast("long").alias("dsum"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(PR_TELEPORT_PPM)
                    + F.expr(
                        f"({PR_DAMP_MILLI} * (coalesce(contrib, 0)"
                        f" + dsum DIV {n_nodes})) DIV 1000"
                    )
                )
                .cast("long")
                .alias("rank_ppm"),
            )
        )
        # Cut the growing lineage every few rounds — each cut is an extra
        # job, and at 3-5 rounds the plain plan is cheaper than cutting
        # per round. A/B-measured at the sf10 decade (117M cached edges):
        # the uncut 3-round loop costs 1.4 s over the persisted edge
        # table (ReusedExchange dedups ranks_i's double consumption by
        # contrib + dangling), while per-round eager cuts cost ~28 s —
        # the checkpointed RDD loses size stats, so the contrib join
        # stops broadcasting the |V|-row rank side and falls back to
        # shuffling the full edge table every round.
        if (it + 1) % 4 == 0:
            ranks = ranks.localCheckpoint(eager=False)
    ed.unpersist()
    return ranks


def pagerank_oracle_iterations(
    iterations: int = PR_ITERATIONS, weighted: bool = False
) -> str:
    """CTE chain ``r1 .. r{iterations}`` unrolling the same integer-grid
    update for DuckDB; expects ``nodes(node)``, ``edges(src, dst)``,
    ``deg(src, outdeg)``, ``nn(n)`` and ``r0(node, rank_ppm)`` CTEs to be
    in scope. With ``weighted``, expects ``edges(src, dst, w)`` and
    ``deg(src, strength)`` instead."""
    contrib_expr = (
        "SUM((r.rank_ppm * e.w) // d.strength)"
        if weighted
        else "SUM(r.rank_ppm // d.outdeg)"
    )
    parts = []
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(
            f"""
c{i} AS MATERIALIZED (
  SELECT e.dst AS node, {contrib_expr} AS contrib
  FROM edges e JOIN deg d USING (src) JOIN r{p} r ON r.node = e.src
  GROUP BY e.dst
),
d{i} AS MATERIALIZED (
  SELECT COALESCE(SUM(r.rank_ppm), 0) AS dsum
  FROM r{p} r LEFT JOIN deg d ON r.node = d.src WHERE d.src IS NULL
),
r{i} AS MATERIALIZED (
  SELECT nd.node,
         CAST({PR_TELEPORT_PPM} + ({PR_DAMP_MILLI} * (COALESCE(c.contrib, 0)
              + (SELECT dsum FROM d{i}) // (SELECT n FROM nn))) // 1000
              AS BIGINT) AS rank_ppm
  FROM nodes nd LEFT JOIN c{i} c USING (node)
)"""
        )
    return ",".join(parts)


def triangle_counts(pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b") -> DataFrame:
    """``(node, n_triangles)`` for every vertex on >=1 triangle of the
    undirected graph given as canonical pairs (``a < b``, deduplicated).

    Degree-oriented node-iterator: every edge is oriented from its
    lower-(degree, id) endpoint to the higher one, wedges are built only
    between a vertex's ORIENTED out-neighbors, and a triangle is found
    when the closing oriented edge exists — each triangle enumerated
    exactly once. Orienting by degree (not id) is the scale choice: the
    per-vertex wedge fan-out is bounded by the graph's arboricity
    (out-degrees stay small even at power-law hubs), where id-ordering
    would square the hub degree. The orientation key packs (degree, id)
    into one BIGINT so the comparison stays scalar codegen."""
    e0 = pairs.select(
        F.col(a_col).cast("long").alias("u"), F.col(b_col).cast("long").alias("v")
    )
    sym = (
        e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()  # deg AND the two orientation joins consume
        # this; without a cut the caller's pair-generation plan (simhash
        # over the whole corpus in the near-dup gate) runs once per
        # consumer
    )
    deg = sym.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    keyed = (
        sym.join(deg.select(F.col("u"), (F.col("d") * F.lit(1 << 32) + F.col("u")).alias("ku")), "u")
        .join(
            deg.select(F.col("u").alias("v"), (F.col("d") * F.lit(1 << 32) + F.col("u")).alias("kv")),
            "v",
        )
    )
    o = (
        keyed.filter(F.col("ku") < F.col("kv"))
        .select("u", "v", "kv")
        .localCheckpoint()  # reused three times below; don't re-derive
    )
    wedges = (
        o.select("u", F.col("v").alias("x"), F.col("kv").alias("kx"))
        .join(o.select("u", F.col("v").alias("y"), F.col("kv").alias("ky")), "u")
        .filter(F.col("kx") < F.col("ky"))
        .select("u", "x", "y")
    )
    tri = wedges.join(
        o.select(F.col("u").alias("x"), F.col("v").alias("y")), ["x", "y"]
    )
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("x").alias("node")))
        .unionByName(tri.select(F.col("y").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count("*").cast("long").alias("n_triangles")
    )


LPA_ITERATIONS = 3


def label_propagation(
    nodes: DataFrame, edges: DataFrame, iterations: int = LPA_ITERATIONS
) -> DataFrame:
    """``(node, label)`` after ``iterations`` SYNCHRONOUS majority-vote
    label-propagation rounds (community detection). Classic async LPA is
    run-order-dependent; this variant is fully deterministic: every node
    simultaneously adopts the most frequent label among its neighbors
    PLUS ITSELF (the self-vote breaks the 2-cycle oscillation synchronous
    LPA is known for — without it a connected pair swaps labels forever),
    ties broken by the SMALLEST label; isolated nodes keep their own.
    Same per-round scale shape as pagerank: one edge⋈label equi-join + a
    two-level grouped argmax (count per (node,label), then max_by per
    node) — all partial-aggregated."""
    edges = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    ).localCheckpoint()
    nodes = nodes.select(F.col("node").cast("long").alias("node")).localCheckpoint()
    labels = nodes.select("node", F.col("node").alias("label"))
    for it in range(iterations):
        votes = edges.join(
            labels.select(F.col("node").alias("src"), "label"), "src"
        ).select(F.col("dst").alias("node"), "label").unionByName(
            labels.select("node", "label")  # self-vote
        )
        nbr = votes.groupBy("node", "label").agg(
            F.count("*").cast("long").alias("cnt")
        )
        best = nbr.groupBy("node").agg(
            F.max_by("label", F.struct(F.col("cnt"), -F.col("label"))).alias("nlabel")
        )
        labels = (
            nodes.join(best, "node", "left")
            .select(
                "node",
                # isolated nodes never receive votes; their label is their
                # own id for every round, so coalescing to `node` is exact
                F.coalesce("nlabel", F.col("node")).cast("long").alias("label"),
            )
        )
        # lazy cut every few rounds — per-round eager cuts strip size
        # stats and de-broadcast the per-round label join (see pagerank)
        if (it + 1) % 4 == 0:
            labels = labels.localCheckpoint(eager=False)
    return labels


def lpa_oracle_iterations(iterations: int = LPA_ITERATIONS) -> str:
    """CTE chain ``l1 .. l{iterations}`` unrolling the same synchronous
    majority-vote update for DuckDB; expects ``nodes(node)``,
    ``edges(src, dst)`` and ``l0(node, label)`` in scope."""
    parts = []
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(
            f"""
n{i} AS (
  SELECT node, label, COUNT(*) AS cnt FROM (
    SELECT e.dst AS node, l.label FROM edges e JOIN l{p} l ON l.node = e.src
    UNION ALL
    SELECT node, label FROM l{p}
  ) GROUP BY node, label
),
b{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
    FROM n{i}
  ) WHERE rn = 1
),
l{i} AS (
  SELECT nd.node, CAST(COALESCE(b.label, nd.node) AS BIGINT) AS label
  FROM nodes nd LEFT JOIN b{i} b USING (node)
)"""
        )
    return ",".join(parts)


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = PR_ITERATIONS,
) -> DataFrame:
    """Personalized PageRank: teleport (and dangling) mass returns ONLY
    to the seed set, so ranks measure relevance TO THE SEEDS rather than
    global centrality — the random-walk-with-restart behind related-item
    and audience-expansion recommendations. Same integer ppm grid and
    per-round shapes as `pagerank`; the only structural change is that
    the teleport/dangling terms join against the (bounded, broadcast)
    seed table instead of being uniform constants.

        rank'(v) = [v ∈ S]·(T·N + d·dsum) / |S|  +  d·Σ contrib(v)

    (all integer division; T = teleport ppm, N = |V|, S = seeds)."""
    edges = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    nodes = nodes.select(F.col("node").cast("long").alias("node")).localCheckpoint()
    seeds = seeds.select(F.col("node").cast("long").alias("node")).localCheckpoint()
    # one-shuffle outdeg attach + single persisted edge table — see
    # pagerank for the sf10 A/B behind this shape
    ed = edges.withColumn(
        "outdeg", F.count("*").over(Window.partitionBy("src")).cast("long")
    ).persist()
    deg = ed.groupBy("src").agg(F.max("outdeg").alias("outdeg")).localCheckpoint()
    n_nodes = nodes.count()
    n_seeds = seeds.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    seed_marked = nodes.join(
        F.broadcast(seeds.withColumn("is_seed", F.lit(1))), "node", "left"
    ).select("node", F.coalesce("is_seed", F.lit(0)).alias("is_seed")).localCheckpoint()
    ranks = nodes.select("node", F.lit(PR_INIT_PPM).cast("long").alias("rank_ppm"))
    for it in range(iterations):
        contrib = (
            ed.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("rank_ppm DIV outdeg")).alias("contrib"))
            .select(F.col("dst").alias("node"), "contrib")
        )
        dangling = (
            ranks.join(deg.select(F.col("src").alias("node")), "node", "left_anti")
            .agg(F.coalesce(F.sum("rank_ppm"), F.lit(0)).cast("long").alias("dsum"))
        )
        ranks = (
            seed_marked.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.expr(
                        f"is_seed * (({PR_TELEPORT_PPM} * {n_nodes}L"
                        f" + ({PR_DAMP_MILLI} * dsum) DIV 1000) DIV {n_seeds}L)"
                    )
                    + F.expr(f"({PR_DAMP_MILLI} * coalesce(contrib, 0)) DIV 1000")
                )
                .cast("long")
                .alias("rank_ppm"),
            )
        )
        # lazy cut every few rounds — per-round eager cuts strip size
        # stats and de-broadcast the contrib join (see pagerank)
        if (it + 1) % 4 == 0:
            ranks = ranks.localCheckpoint(eager=False)
    ed.unpersist()
    return ranks


def ppr_oracle_iterations(n_nodes_sql: str, n_seeds_sql: str, iterations: int = PR_ITERATIONS) -> str:
    """CTE chain for :func:`personalized_pagerank`; expects ``nodes``,
    ``edges``, ``deg``, ``smark(node, is_seed)`` and ``r0`` in scope.
    ``n_nodes_sql`` / ``n_seeds_sql`` are scalar subquery strings."""
    parts = []
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(
            f"""
c{i} AS MATERIALIZED (
  SELECT e.dst AS node, SUM(r.rank_ppm // d.outdeg) AS contrib
  FROM edges e JOIN deg d USING (src) JOIN r{p} r ON r.node = e.src
  GROUP BY e.dst
),
d{i} AS MATERIALIZED (
  SELECT COALESCE(SUM(r.rank_ppm), 0) AS dsum
  FROM r{p} r LEFT JOIN deg d ON r.node = d.src WHERE d.src IS NULL
),
r{i} AS MATERIALIZED (
  SELECT s.node,
         CAST(s.is_seed * (({PR_TELEPORT_PPM} * {n_nodes_sql}
                + ({PR_DAMP_MILLI} * (SELECT dsum FROM d{i})) // 1000) // {n_seeds_sql})
              + ({PR_DAMP_MILLI} * COALESCE(c.contrib, 0)) // 1000
              AS BIGINT) AS rank_ppm
  FROM smark s LEFT JOIN c{i} c USING (node)
)"""
        )
    return ",".join(parts)


BFS_ROUNDS = 4


def bfs_levels(edges: DataFrame, sources: DataFrame, rounds: int = BFS_ROUNDS) -> DataFrame:
    """``(node, dist)`` shortest hop-distance from the source set within
    ``rounds`` hops (unreached nodes are absent) — `minplus_levels` with
    every edge weight 1. Rounds bound the radius explicitly (at 100 TB you
    budget depth, not iterate to convergence — most reachability
    questions are k-hop)."""
    return _relax(edges.select("src", "dst", F.lit(1).alias("w")), sources, rounds, "dist")


def minplus_levels(edges: DataFrame, sources: DataFrame, rounds: int = BFS_ROUNDS) -> DataFrame:
    """Weighted shortest-path cost (min-plus / tropical relaxation):
    ``(node, cost)`` = cheapest total edge weight ``w`` from the source
    set using at most ``rounds`` edges — Bellman-Ford's round structure;
    integer weights keep the oracle cross-engine exact. The round budget
    bounds both work and path length (the k-edge-cheapest-route question,
    not full SSSP convergence)."""
    return _relax(edges, sources, rounds, "cost")


def _relax(edges: DataFrame, sources: DataFrame, rounds: int, out: str) -> DataFrame:
    """``(node, out)`` after ``rounds`` synchronous min-plus rounds over
    ``edges(src, dst, w)`` from ``sources(node)`` at 0; a source listed
    twice is one row.

    A round reads the previous one once: ``prev LEFT JOIN edges ON node =
    src`` emits ``(node, d)`` and ``(dst, d + w)`` per joined row, and a
    grouped ``min`` per node closes it — no per-round cut (module
    docstring). The edge set is materialized once and counted on the way
    (an ``Observation``, no extra job). When that count times the row
    width fits the session's ``autoBroadcastJoinThreshold`` — the size
    test Spark applies to every join — the edge set is broadcast into
    every round and the distance table stays in ONE partition, so no
    grouped min needs an exchange and a caller's ``orderBy`` is a local
    sort. Above it nothing is broadcast: the edge set is shuffled on
    ``src`` once (the exchange is reused by every round) and each round
    shuffles only its grouped min, after a map-side partial min (an
    explicit repartition on ``node`` would drop that combine: 1.3-1.5×
    slower at sf0.1).

    Every cost is capped at the oracle's ``2^60`` "unreached" sentinel
    (``relax_oracle_iterations``; ``least`` skips NULL), so a NULL weight
    reaches its destination at the sentinel and no emitted ``d`` is NULL."""
    spark = edges.sparkSession
    size = Observation()
    e = (
        edges.select(*(F.col(c).cast("long").alias(c) for c in ("src", "dst", "w")))
        .observe(size, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    # 32 bytes: Spark's size-per-row estimate for three longs (an 8-byte
    # row header plus 8 per column); a threshold of -1 never broadcasts
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    one_task = size.get["n"] * 32 <= limit
    d0 = sources.select(F.col("node").cast("long").alias("node"), F.lit(0).cast("long").alias("d"))
    hint = "/*+ BROADCAST(e) */" if one_task else ""
    ctes = ["d0 AS (SELECT * FROM {d0})"] + [
        f"""d{i} AS (SELECT node, min(d) AS d FROM (
  SELECT {hint}
         inline(array(named_struct('node', p.node, 'd', p.d),
                      named_struct('node', e.dst, 'd', least(p.d + e.w, {1 << 60}))))
  FROM d{i - 1} p LEFT JOIN {{e}} e ON p.node = e.src
) WHERE node IS NOT NULL GROUP BY node)"""
        for i in range(1, rounds + 1)
    ]
    # rounds=0 still folds a repeated source; coalesce: a group's min is
    # never NULL (nor is any d it is taken over), and the output schema
    # says so (dist/cost NOT NULL)
    last = f"d{rounds}" if rounds else "(SELECT node, min(d) AS d FROM d0 GROUP BY node)"
    return spark.sql(
        f"WITH {', '.join(ctes)} SELECT node, coalesce(d, 0) AS {out} FROM {last}",
        d0=d0.coalesce(1) if one_task else d0,
        e=e,
    )


def relax_oracle_iterations(col: str, weight: str, rounds: int = BFS_ROUNDS) -> str:
    """CTE chain ``d1 .. d{rounds}`` unrolling the same relaxation for
    DuckDB in the two-step form (the relaxed frontier, full-outer-joined
    with the previous round); expects ``edges`` and ``d0(node, {col})``.
    ``weight`` is the SQL edge weight: ``1`` for BFS, ``e.w`` for min-plus."""
    parts = []
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f"""
r{i} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(MIN(d.{col} + {weight}) AS BIGINT) AS n{col}
  FROM edges e JOIN d{p} d ON d.node = e.src
  GROUP BY e.dst
),
d{i} AS MATERIALIZED (
  SELECT COALESCE(d.node, r.node) AS node,
         CAST(LEAST(COALESCE(d.{col}, 1152921504606846976),
                    COALESCE(r.n{col}, 1152921504606846976)) AS BIGINT) AS {col}
  FROM d{p} d FULL OUTER JOIN r{i} r ON d.node = r.node
)"""
        )
    return ",".join(parts)


# ---------------------------------------------------------------------------
# Bucketed-lake PageRank: the big-|V| deployment path.
#
# `pagerank` above caches the |V|-row adjacency in executor memory and lets
# Catalyst broadcast the rank table into each round — the right plan while
# ranks fit a broadcast (|V| up to the tens of millions). At true 100 TB
# graph scale neither holds: the adjacency doesn't fit memory and a
# billion-row rank table can't broadcast. The lake answer is a ONE-TIME
# bucketed layout (`bucketBy(src)` + `bucketBy(node)`, same bucket count):
# every round then reads the adjacency straight off disk already hash-
# placed, the rank table lives at the same partitioning round over round,
# and the only per-round data movement is the |V|-bounded contribution
# partial-agg shuffle — the same communication floor a vertex-centric
# engine (Pregel message combine) pays. Round-7 paired A/B at the sf10
# decade (117M directed edges): for the GATE (single-shot build+run) the
# cached/broadcast plan wins (35.3 s vs 40.3 s — build dominates and
# per-round broadcast beats per-round checkpointing at this |V|), so
# `pagerank` keeps the gate; the bucketed path is for repeated runs over
# a materialized graph, where per-run cost drops to the rounds alone.
# ---------------------------------------------------------------------------


def materialize_pagerank_graph(
    nodes: DataFrame,
    edges: DataFrame,
    name: str,
    buckets: int,
    weight_col: str | None = None,
    base_path: str | None = None,
) -> None:
    """One-time lake layout for repeated PageRank over a graph too large
    to cache or broadcast: writes ``{name}_adj`` (``src, adj, strength``)
    bucketed+sorted by ``src`` and ``{name}_nodes`` (``node, strength``
    — strength NULL for dangling nodes) bucketed+sorted by ``node``,
    both with ``buckets`` buckets so hash(node) == hash(src) co-locates
    every loop join in `pagerank_bucketed`. Same caller contract as
    `pagerank`: directed, pre-deduplicated edges."""
    spark = edges.sparkSession
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    edges = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        w.alias("w"),
    )
    nodes = nodes.select(F.col("node").cast("long").alias("node"))
    if weight_col is None:
        adj = (
            edges.groupBy("src")
            .agg(F.collect_list("dst").alias("adj"))
            .withColumn("strength", F.size("adj").cast("long"))
        )
    else:
        adj = (
            edges.groupBy("src")
            .agg(F.collect_list(F.struct("dst", "w")).alias("adj"))
            .withColumn(
                "strength",
                F.aggregate(
                    "adj", F.lit(0).cast("long"), lambda acc, x: acc + x["w"]
                ),
            )
        )
    nodestr = nodes.join(
        adj.select(F.col("src").alias("node"), "strength"), "node", "left"
    )
    for tbl, df, key in ((f"{name}_adj", adj, "src"), (f"{name}_nodes", nodestr, "node")):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        writer = df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key)
        if base_path is not None:
            writer = writer.option("path", f"{base_path}/{tbl}")
        writer.saveAsTable(tbl)


def pagerank_bucketed(
    spark,
    name: str,
    iterations: int = PR_ITERATIONS,
    weight_col: str | None = None,
) -> DataFrame:
    """``(node, rank_ppm)`` over a graph laid out by
    `materialize_pagerank_graph` — bit-identical to `pagerank` on the
    same graph (integer-grid update, order-free BIGINT sums).

    Per-round shape (asserted by tests/test_plan_shapes.py): the
    adjacency is a bucketed SCAN — never shuffled, never required to fit
    memory; the rank table enters each round already at the bucket
    partitioning (first round: projection of the bucketed nodes table;
    later rounds: the previous round's checkpoint, which records the
    update join's HashPartitioning). The ONLY per-round exchanges are
    the |V|-bounded contribution partial-agg and the 1-row dangling sum.

    Each round is EAGERLY checkpointed — load-bearing, not cosmetic:
    ``ranks`` has two consumers per round (the contribution projection
    and the dangling sum), and on Spark 4.1 neither ReusedExchange nor
    AQE stage reuse dedups the duplicated subtree (measured: 3 uncut
    rounds ran 14 distinct ShuffleQueryStages = 2^(k+1)-2 — every prior
    round's contrib shuffle recomputed once per consumer path,
    exponential in the round count). With the cut, each round reads only
    materialized inputs: constant plan size, 2 shuffle stages per round.

    The loop compiles under AQE off so each checkpoint's LogicalRDD
    records the real HashPartitioning (under AQE the adaptive plan's
    partitioning is unresolved at checkpoint time and the LogicalRDD
    records UnknownPartitioning, silently re-inserting every loop
    exchange), and ``spark.sql.shuffle.partitions`` is pinned to the
    table's bucket count so the contrib aggregate lands exactly on the
    bucket partitioning. Both settings are restored on exit."""
    ed = spark.table(f"{name}_adj")
    nodestr = spark.table(f"{name}_nodes")
    buckets = _bucket_count(spark, f"{name}_adj")
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
    shuf_prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(buckets))
    try:
        n_nodes = nodestr.count()
        ranks = nodestr.select(
            "node", "strength", F.lit(PR_INIT_PPM).cast("long").alias("rank_ppm")
        )
        for _ in range(iterations):
            ranks = _pagerank_round(
                ed, nodestr, ranks, n_nodes, weight_col
            ).localCheckpoint()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
        spark.conf.set("spark.sql.shuffle.partitions", shuf_prev)
    return ranks.select("node", "rank_ppm")


def _bucket_count(spark, table: str) -> int:
    """Bucket count of a saved table, from DESCRIBE EXTENDED."""
    # bounded: catalog metadata rows for one table (tens), graph-size-independent
    for row in spark.sql(f"DESCRIBE EXTENDED {table}").collect():
        if row["col_name"] == "Num Buckets":
            return int(row["data_type"])
    raise ValueError(f"{table} is not bucketed")


def _pagerank_round(ed, nodestr, ranks, n_nodes: int, weight_col):
    """One synchronous integer-grid update over co-partitioned inputs —
    see `pagerank_bucketed` for the partitioning contract and why its
    caller checkpoints each round's output."""
    # Per-source contribution rate: pure projection over the rank table —
    # keeps HashPartitioning(node→src) without any exchange.
    if weight_col is None:
        contribs = ranks.filter(F.col("strength").isNotNull()).select(
            F.col("node").alias("src"),
            F.expr("rank_ppm DIV strength").alias("rate"),
        )
    else:
        # per-edge division needs rank and strength separately; alias
        # strength so it can't collide with the adjacency table's
        contribs = ranks.filter(F.col("strength").isNotNull()).select(
            F.col("node").alias("src"),
            F.col("rank_ppm"),
            F.col("strength").alias("st"),
        )
    # SHUFFLE_HASH hint: both sides are already co-partitioned, so a
    # sort-merge join would add two per-round sorts for nothing; a
    # shuffled-hash join builds on the narrow rank side.
    joined = ed.join(contribs.hint("shuffle_hash"), "src")
    if weight_col is None:
        expanded = joined.select(
            F.explode("adj").alias("node"), F.col("rate").alias("c")
        )
    else:
        expanded = joined.select(
            F.explode("adj").alias("e"), "rank_ppm", "st"
        ).select(
            F.col("e.dst").alias("node"),
            F.expr("(rank_ppm * e.w) DIV st").alias("c"),
        )
    contrib = expanded.groupBy("node").agg(F.sum("c").alias("contrib"))
    # Dangling mass: strength IS NULL marks no-out-edge nodes on the rank
    # table itself — a map-side filtered sum, no anti-join.
    dangling = ranks.filter(F.col("strength").isNull()).agg(
        F.coalesce(F.sum("rank_ppm"), F.lit(0)).cast("long").alias("dsum")
    )
    # Update join: nodes table (bucketed scan, hash(node, B)) ⋈ contrib
    # (agg output at B partitions) — exchange-free; its output keeps the
    # node partitioning, which is exactly what the next round's
    # contribution projection needs. The 1-row dangling aggregate
    # broadcasts.
    return (
        nodestr.join(contrib.hint("shuffle_hash"), "node", "left")
        .crossJoin(F.broadcast(dangling))
        .select(
            "node",
            "strength",
            (
                F.lit(PR_TELEPORT_PPM)
                + F.expr(
                    f"({PR_DAMP_MILLI} * (coalesce(contrib, 0)"
                    f" + dsum DIV {n_nodes})) DIV 1000"
                )
            )
            .cast("long")
            .alias("rank_ppm"),
        )
    )
