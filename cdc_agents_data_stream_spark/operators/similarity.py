"""Similarity search over embedding columns (``array<float>``).

Two paths, per the large-scale-pipeline brief:

- ``cosine_topk``: brute-force exact top-k — the correctness baseline. The
  dot product is a JVM-side ``aggregate(zip_with(...))`` fold (no Python in
  the hot path); per-vector norms are computed once before the pair join.
  At 100 TB the query side is small and broadcast, so the plan is an
  embarrassingly-parallel map over the corpus followed by a per-query
  top-k (partial top-k per partition via the rank window on a
  query-partitioned shuffle).
- ``lsh_bucketed_topk``: the scale path — random-hyperplane signatures
  (fixed deterministic planes) bucket the corpus; probes only rerank their
  own bucket. Recall is tunable by planes/probes; the bucketing join
  replaces the cross join with an equi-join Catalyst can hash-partition.

All constants are fixed literals so an external engine (the DuckDB oracle)
reproduces signatures and buckets exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

N_PLANES = 8
_DIM = 64


def _plane_constants(n: int = N_PLANES, dim: int = _DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1] (fixed LCG)."""
    planes, x = [], 12345
    for _ in range(n):
        row = []
        for _ in range(dim):
            x = (x * 6364136223846793005 + 1442695040888963407) % (2**63)
            row.append(((x % 2001) - 1000) / 1000.0)
        planes.append(row)
    return planes


PLANES = _plane_constants()


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _materialize_quantizer(df: DataFrame) -> DataFrame:
    """Collect a trained quantizer (centroids / codebooks — bounded-small by
    construction: ``MAX_CENTROIDS`` / ``PQ_MAX_CODES`` rows) and rebuild it
    as a literal DataFrame.

    Why: the Lloyd training loop builds a deep lineage, and the consumers
    (corpus encode join + ADC distance table) each re-evaluate it — Catalyst
    only dedupes identical exchanges, not whole repeated subplans. A trained
    quantizer is a small ARTIFACT, not a query: real systems persist it and
    broadcast the values. Doubles round-trip exactly through collect, so the
    oracle-visible values are unchanged (and they're 6-decimal-rounded
    anyway). Measured 3.7 s → ~2 s on ``ann_pq_trained`` at sf0.1."""
    # bounded: trained codebook = k codes × m subspaces (PQ_MAX_CODES-capped),
    # never corpus rows
    return df.sparkSession.createDataFrame(df.collect(), schema=df.schema)


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    return df.withColumn("vec", v).withColumn("norm", F.sqrt(_dot(F.col("vec"), F.col("vec"))))


def cosine_topk(
    emb: DataFrame,
    query_ids_below: int = 5,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (excluding self)."""
    base = with_norm(emb, vec_col).select(F.col(id_col), "vec", "norm")
    q = base.filter(F.col(id_col) < query_ids_below).select(
        F.col(id_col).alias("query_id"), F.col("vec").alias("qvec"), F.col("norm").alias("qnorm")
    )
    c = base.select(F.col(id_col).alias("neighbor_id"), "vec", "norm")
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("vec"), F.col("qvec")) / (F.col("norm") * F.col("qnorm"))).alias("sim"),
        )
    )
    # Two-phase exact top-k: a window keyed by query_id alone has only
    # |queries| partitions, so each task sorts a full corpus copy
    # single-threaded (5 × 200k rows at the measured sf10 decade). Rank
    # within each (query, input-partition) first — the global top-k is a
    # subset of every local top-k — then rank the ≤ |q|·|parts|·k
    # survivors globally. Same rows, same order; the heavy sort
    # parallelizes across all cores.
    w_local = Window.partitionBy("query_id", "pid").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("pid", F.spark_partition_id())
        .withColumn("lrank", F.row_number().over(w_local))
        .filter(F.col("lrank") <= k)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim_r"))
    )


def plane_bucket(vec_col):
    """Bucket id: sign bits of the vector against the fixed hyperplanes."""
    bucket = F.lit(0)
    for j, plane in enumerate(PLANES):
        lits = F.array(*[F.lit(v) for v in plane])
        bucket = bucket + F.when(_dot(vec_col, lits) >= 0, F.lit(1 << j)).otherwise(0)
    return bucket.cast("int")


def lsh_bucketed_topk(
    emb: DataFrame,
    query_ids_below: int = 5,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: rerank only the query's own hyperplane bucket."""
    base = with_norm(emb, vec_col).select(
        F.col(id_col), "vec", "norm", plane_bucket(F.col("vec")).alias("bucket")
    )
    q = base.filter(F.col(id_col) < query_ids_below).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
        F.col("bucket").alias("qbucket"),
    )
    sims = (
        base.join(F.broadcast(q), (F.col("bucket") == F.col("qbucket")) & (F.col(id_col) != F.col("query_id")))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (_dot(F.col("vec"), F.col("qvec")) / (F.col("norm") * F.col("qnorm"))).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim_r"))
    )


CENTROID_MOD = 37  # deterministic k-means init: every 37th vector...
MAX_CENTROIDS = 256  # ...capped: the centroid set must NOT grow with the
# corpus (an uncapped every-Nth rule makes assignment quadratic and the
# broadcast unbounded at 100 TB); 256 ≈ sqrt(65k) — re-tune per corpus


def _assign(
    base: DataFrame, cents: DataFrame, id_col: str, cent_rows: list | None = None
) -> DataFrame:
    """Nearest-centroid assignment as an Arrow-vectorized numpy pass —
    map-only, zero shuffle: the centroid table is a bounded artifact
    (≤ ``MAX_CENTROIDS`` rows — the audited-collect contract) shipped in
    the UDF closure; each Arrow batch computes all corpus×centroid
    cosines with 64 vectorized accumulation steps.

    BIT-IDENTICAL to the previous broadcast-join + ``max_by`` form (and
    to the DuckDB oracle), not merely close: the accumulation loops over
    dimensions j=0..63 doing ``acc += v_j * c_j`` — per scalar exactly
    the left-fold addition order ``_dot``'s ``aggregate`` and DuckDB's
    ``list_dot_product`` evaluate, so every IEEE operation matches; and
    ``argmax`` over centroids pre-sorted by id picks the first max,
    which equals the ``max_by(struct(csim, -centroid_id))`` tie-break.
    (A plain ``V @ C.T`` matmul would be faster still but reorders the
    additions — sub-ulp drift near assignment ties is exactly the kind
    of cross-engine hazard the oracle gates exist to catch.)

    Why not the broadcast-join form: Catalyst evaluates the
    ``aggregate`` fold through the expression interpreter once per
    (corpus row × centroid) — measured 111 s at the sf1 decade once the
    centroid set hits its 256 cap (5.1M interpreted 64-dim folds per
    assignment), vs ~1 s vectorized. Unrolling the dot into 64 explicit
    codegen terms was also tried and is 3.6× slower than the fold at
    this width (method-budget fallback).

    Arrow, not pandas: ``mapInPandas`` converts the list column to a
    pandas object Series (one numpy object per ROW) on the way in and
    re-serializes it row-by-row on the way out — at the sf10 decade that
    conversion was 97% of the pass (11.6 s for ~0.3 s of matmul).
    ``mapInArrow`` reads the list values buffer as one flat float64
    array (zero-copy reshape) and passes the input vec/norm arrays
    straight through to the output batch untouched.

    ``cent_rows`` (pre-collected ``centroid_id``/``cvec``/``cnorm`` rows)
    skips the internal collect — callers that assign several row subsets
    against ONE centroid table (full corpus + code sample + queries)
    otherwise pay a centroid-derivation job per call."""
    import numpy as np
    import pyarrow as pa

    if cent_rows is None:
        # bounded: ≤ MAX_CENTROIDS rows (capped constant), never corpus rows
        cent_rows = cents.select("centroid_id", "cvec", "cnorm").collect()
    rows = sorted(
        ((int(r["centroid_id"]), list(r["cvec"]), float(r["cnorm"])) for r in cent_rows),
        key=lambda t: t[0],
    )
    out_schema = f"{id_col} long, cluster long, vec array<double>, norm double"
    if not rows:
        # empty training corpus -> no centroids -> no assignments
        return base.sparkSession.createDataFrame([], out_schema)
    ids = np.array([t[0] for t in rows], dtype=np.int64)
    C = np.array([t[1] for t in rows], dtype=np.float64)
    cn = np.array([t[2] for t in rows], dtype=np.float64)
    dim = C.shape[1]

    def assign(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            id_arr = rb.column(0).cast(pa.int64())
            vec_arr = rb.column(1)
            norm_arr = rb.column(2)
            # fixed-width lists (all dim long, no nulls): flatten() honors
            # the batch's slice offset and exposes the values buffer
            V = np.asarray(vec_arr.flatten()).reshape(n, dim)
            acc = np.zeros((n, len(ids)), dtype=np.float64)
            for j in range(dim):  # left-fold order: acc -> +v1c1 -> +v2c2 ...
                acc += V[:, j, None] * C[None, :, j]
            sim = acc / (np.asarray(norm_arr)[:, None] * cn[None, :])
            k = np.argmax(sim, axis=1)  # first max == smallest centroid_id
            yield pa.RecordBatch.from_arrays(
                [id_arr, pa.array(ids[k]), vec_arr, norm_arr],
                names=[id_col, "cluster", "vec", "norm"],
            )

    return base.select(F.col(id_col), "vec", "norm").mapInArrow(
        assign, schema=out_schema
    )


def kmeans_centroids(
    base: DataFrame, iters: int, id_col: str, train_sample_mod: int = 1
) -> DataFrame:
    """Spherical k-means (Lloyd) on DataFrame ops: deterministic init
    (every ``CENTROID_MOD``-th vector), cosine assignment, element-wise
    mean per cluster as the new centroid.

    The mean is computed via posexplode → (cluster, pos) partial-aggregated
    avg → re-assembled array: the 64× scalar fan-out shuffles only
    (cluster, pos, double) triples with map-side combine. Components round
    to 6 decimals so float summation order (engine/partition dependent)
    cannot leak into the result — the DuckDB oracle reproduces training
    bit-for-bit.

    ``train_sample_mod > 1`` runs the Lloyd iterations over the
    deterministic sample ``id % mod == 0`` (init is unchanged) — standard
    IVF practice, and the 100 TB shape: quantizer training cost scales
    with the SAMPLE while the final full-corpus assignment stays the one
    linear pass it always was. Deterministic and oracle-reproducible by
    construction (the oracle applies the same predicate)."""
    cents = base.filter(
        (F.col(id_col) % CENTROID_MOD == 0)
        & (F.col(id_col) < CENTROID_MOD * MAX_CENTROIDS)
    ).select(
        F.col(id_col).alias("centroid_id"),
        F.col("vec").alias("cvec"),
        F.col("norm").alias("cnorm"),
    )
    train = (
        base.filter(F.col(id_col) % train_sample_mod == 0)
        if train_sample_mod > 1
        else base
    )
    for _ in range(iters):
        assigned = _assign(train, cents, id_col)
        means = (
            assigned.select("cluster", F.posexplode("vec").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("m"))
        )
        newc = means.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda x: F.round(x["m"], 6),
            ).alias("cvec")
        )
        cents = newc.select(
            F.col("cluster").alias("centroid_id"),
            F.col("cvec"),
            F.sqrt(_dot(F.col("cvec"), F.col("cvec"))).alias("cnorm"),
        )
        # Materialize EVERY iteration, not just the trained result: each
        # Lloyd step references the previous step's centroids, so an
        # unmaterialized loop nests the full corpus assignment ``iters``
        # deep and every consumer re-executes the whole chain. The
        # centroid table is a bounded artifact (≤ MAX_CENTROIDS rows —
        # the audited-collect contract), so pinning it per iteration
        # caps the plan at ONE corpus pass per iteration. Found by the
        # measured sf1 decade: 116.6 s → linear after this change.
        cents = _materialize_quantizer(cents)
    return cents


def ivf_index(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
    train_sample_mod: int = 1,
):
    """IVF coarse index: (centroids, assignments).

    ``train_iters=0`` keeps the deterministic-sample quantizer (the
    cheapest oracle-reproducible build); ``train_iters>0`` runs that many
    spherical k-means Lloyd iterations (``kmeans_centroids``) before the
    final assignment — same probe/rerank path either way.
    """
    base = with_norm(emb, vec_col).select(F.col(id_col), "vec", "norm")
    cents = kmeans_centroids(base, train_iters, id_col, train_sample_mod)
    if train_iters > 0:
        cents = _materialize_quantizer(cents)
    assigned = _assign(base, cents, id_col)
    return cents, assigned


def ivf_topk(
    emb: DataFrame,
    query_ids_below: int = 5,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
    train_sample_mod: int = 1,
) -> DataFrame:
    """IVF-style approximate top-k: probe the ``nprobe`` nearest centroid
    lists per query, rerank only those lists' vectors by exact cosine.

    Plan shape at scale: centroids broadcast twice (assignment + probe
    selection); the only shuffle keyed on data volume is the
    cluster-equi-join between probes and the assigned corpus, which
    replaces the brute-force cross join with a join Catalyst hash-
    partitions on ``cluster``."""
    base = with_norm(emb, vec_col).select(F.col(id_col), "vec", "norm")
    cents = kmeans_centroids(base, train_iters, id_col, train_sample_mod)
    # bounded: ≤ MAX_CENTROIDS rows — collect once, reuse as a
    # literal in the assignment closures and the probe dim table — the
    # assigned.filter(query) form hid a SECOND full-corpus assignment
    # pass under the query filter (assignment is per-row, so assigning
    # just the query rows is bit-identical).
    cent_rows = cents.select("centroid_id", "cvec", "cnorm").collect()
    cents_lit = emb.sparkSession.createDataFrame(cent_rows, schema=cents.schema)
    assigned = _assign(base, cents_lit, id_col, cent_rows=cent_rows)
    # The query side needs only (id, vec, norm) — probe selection below
    # reranks against ALL centroids — so the previous query-side _assign
    # (whose cluster column this select dropped) was a pure waste of one
    # Python-boundary pass; Catalyst cannot prune through the opaque
    # mapInArrow (guide §4).
    q = base.filter(F.col(id_col) < query_ids_below).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    qsim = _dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm"))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("qcsim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(cents_lit))
        .select("query_id", "qvec", "qnorm", "centroid_id", qsim.alias("qcsim"))
        .withColumn("probe_rank", F.row_number().over(wq))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "qvec", "qnorm", F.col("centroid_id").alias("cluster"))
    )
    sims = (
        assigned.join(F.broadcast(probes), "cluster")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (_dot(F.col("vec"), F.col("qvec")) / (F.col("norm") * F.col("qnorm"))).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim_r"))
    )


# 4 bands × 2 planes: candidates must share one band exactly. Band size
# tunes the LSH trade — for sim s, per-plane agreement is 1 - arccos(s)/π,
# band collision is that to the band_size power, OR-ed over bands. At the
# declared threshold (0.45 → ~0.65/plane) 4×2 gives ~0.89 recall vs ~0.33
# for 2×4; fewer/larger bands tighten the candidate set at higher
# thresholds (0.9 → ~0.86/plane: 2×4 already ~0.74 recall).
N_BANDS = 4


def plane_band_sig(vec_col, band: int, band_size: int = N_PLANES // N_BANDS):
    """Integer signature of one band's plane-sign bits."""
    sig = F.lit(0)
    for j in range(band * band_size, (band + 1) * band_size):
        lits = F.array(*[F.lit(v) for v in PLANES[j]])
        sig = sig + F.when(_dot(vec_col, lits) >= 0, F.lit(1 << (j % band_size))).otherwise(0)
    return sig.cast("int")


def embedding_neardup_pairs(
    emb: DataFrame, threshold: float = 0.9, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Near-duplicate vector pairs by cosine >= threshold, restricted to
    hyperplane-band candidates (same trade as ``minhash_lsh_pairs``).

    The 8 plane-sign bits split into ``N_BANDS`` bands; a pair is a
    candidate iff some band's signature matches exactly, turning the O(n²)
    cross join into an equi-join on (band, signature) that Catalyst
    hash-partitions. Near-identical vectors agree on almost every plane
    sign, so band collisions catch them w.h.p.; like any LSH scheme the
    recall is < 1 by construction (a deliberate ANN trade, mirrored
    exactly by the DuckDB oracle)."""
    base = with_norm(emb, vec_col).select(F.col(id_col), "vec", "norm")
    bands = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                plane_band_sig(F.col("vec"), band).alias("sig"),
            )
            for band in range(N_BANDS)
        ]
    )
    keyed = base.select(F.col(id_col), F.explode(bands).alias("bs")).select(
        F.col(id_col), F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"), F.col(f"b.{id_col}").alias("vec_b")
        )
        .distinct()
    )
    va = base.select(F.col(id_col).alias("vec_a"), F.col("vec").alias("va"), F.col("norm").alias("na"))
    vb = base.select(F.col(id_col).alias("vec_b"), F.col("vec").alias("vb"), F.col("norm").alias("nb"))
    return (
        candidates.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", F.round("sim", 6).alias("sim_r"))
    )


# --- Product quantization (PQ + ADC scan) -------------------------------------

PQ_M = 4         # subspaces per vector
PQ_CODE_MOD = 20  # deterministic codebook: every 20th vector's subvectors...
PQ_MAX_CODES = 64  # ...capped at 64 codes/subspace: real PQ uses a FIXED
# k (classically 256); an uncapped every-Nth codebook grows with the
# corpus, making the encode join quadratic and the ADC distance-table
# broadcast unbounded


def _dot_unrolled(a, b, n: int):
    """Dot product unrolled to explicit element terms — valid when the
    array length ``n`` is known at plan time (PQ subvectors are). Unlike
    ``aggregate``/``zip_with`` (interpreted per element), the unrolled sum
    stays inside whole-stage codegen: measured 2.4× on the sf0.1 ADC scan
    (7.5 s → 3.1 s warm), bit-identical output — the left-fold addition
    order is the same associativity ``_dot`` and DuckDB's
    ``list_dot_product`` use."""
    expr = None
    for j in range(1, n + 1):
        term = F.element_at(a, j) * F.element_at(b, j)
        expr = term if expr is None else expr + term
    return expr


def _d2_scaled(a, b, n: int):
    """Squared L2 distance on the micro-integer grid: the 3-dot expansion
    (``aa - 2ab + bb``) is evaluated with the SAME scalar chain the DuckDB
    oracle uses, then snapped to a BIGINT of 1e-6 units — downstream SUMs
    over integers are exact and order-free, so PQ distances can cross the
    engine boundary without float-summation-order hazards."""
    d2 = _dot_unrolled(a, a, n) - 2 * _dot_unrolled(a, b, n) + _dot_unrolled(b, b, n)
    return F.round(d2 * 1e6).cast("long")


def pq_subvectors(
    emb: DataFrame, m: int = PQ_M, dim: int = _DIM, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, s, sv): each vector split into ``m`` contiguous subvectors —
    a map-side projection, no shuffle; the m× fan-out carries dim/m-sized
    slices, so total bytes are unchanged."""
    sub_len = dim // m
    base = emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec"))
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice("vec", s * sub_len + 1, sub_len).alias("sv"),
            )
            for s in range(m)
        ]
    )
    return base.select(F.col(id_col), F.explode(subs).alias("x")).select(
        F.col(id_col), F.col("x.s").alias("s"), F.col("x.sv").alias("sv")
    )


def _round_half_up(x):
    """numpy HALF_UP (away-from-zero) to match Spark/DuckDB ROUND — numpy's
    own ``round`` is banker's HALF_EVEN and would disagree at exact .5."""
    import numpy as np

    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype(np.int64)


def _pq_assign_vectorized(
    sub: DataFrame,
    codes_rows,
    sub_len: int,
    id_col: str = "vec_id",
    keep_sv: bool = False,
    passthrough: tuple = (),
) -> DataFrame:
    """Nearest-code assignment as an Arrow-vectorized numpy matmul.

    The broadcast-join + grouped ``min_by`` form evaluates the distance
    expression once per (corpus row × code) through Catalyst's expression
    interpreter — correct, but the per-element cost dominates PQ end-to-end
    (measured ~1.5 s per assignment pass at sf0.1). This path ships the
    collected codebook (bounded: ``PQ_MAX_CODES`` × ``PQ_M`` rows) to the
    executors in the UDF closure and computes all distances for a batch
    with one BLAS matmul per subspace — map-only, zero shuffle, the exact
    shape a 100 TB scan wants.

    Distances land on the same 1e-6 integer grid as ``_d2_scaled`` (with
    HALF_UP rounding to match Spark/DuckDB ``ROUND``), and codes are sorted
    ascending so ``argmin``'s first-match tie-break equals the
    ``min_by(struct(d, code_id))`` rule. Grid agreement with the scalar
    chain is asserted by ``tests/test_dedup_plans.py``-style equivalence
    tests at sf0.01 and by the driver oracle gates (`ann_pq_adc`,
    `ann_pq_trained`) — the grid absorbs the sub-ulp differences between
    BLAS and left-fold summation orders."""
    import numpy as np
    import pandas as pd

    books: dict[int, list] = {}
    for r in codes_rows:
        books.setdefault(int(r["s"]), []).append((int(r["code_id"]), list(r["cv"])))
    mats = {}
    for s, lst in books.items():
        lst.sort(key=lambda t: t[0])
        ids = np.array([t[0] for t in lst], dtype=np.int64)
        C = np.array([t[1] for t in lst], dtype=np.float64)
        mats[s] = (ids, C, (C * C).sum(axis=1))

    out_fields = f"{id_col} long, s int, code long"
    if keep_sv:
        out_fields += ", sv array<double>"
    for pc, pt in passthrough:
        out_fields += f", {pc} {pt}"

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["sv"].to_numpy())
            aa = (V * V).sum(axis=1)
            code_out = np.empty(len(pdf), dtype=np.int64)
            for s, idx in pdf.groupby("s").indices.items():
                ids, C, bb = mats[int(s)]
                d2 = aa[idx, None] - 2.0 * (V[idx] @ C.T) + bb[None, :]
                grid = _round_half_up(d2 * 1e6)
                code_out[idx] = ids[np.argmin(grid, axis=1)]
            out = {
                id_col: pdf[id_col].to_numpy(),
                "s": pdf["s"].to_numpy(),
                "code": code_out,
            }
            if keep_sv:
                out["sv"] = pdf["sv"]
            for pc, _ in passthrough:
                out[pc] = pdf[pc].to_numpy()
            yield pd.DataFrame(out)

    cols = [id_col, "s", "sv"] + [pc for pc, _ in passthrough]
    return sub.select(*cols).mapInPandas(assign, schema=out_fields)


def pq_train_codebooks(
    sub: DataFrame, iters: int, id_col: str = "vec_id", sub_len: int = _DIM // PQ_M
) -> DataFrame:
    """Per-subspace L2 k-means (Lloyd) for the PQ codebooks — ALL ``m``
    subspaces train simultaneously in one DataFrame program keyed on
    ``(s, code_id)``, the same trained-quantizer pattern as
    ``kmeans_centroids`` (deterministic every-``PQ_CODE_MOD``-th init,
    assignment on the 1e-6 integer distance grid with code_id tie-break,
    6-decimal-rounded element means) so a SQL oracle reproduces training
    bit-for-bit. ``iters=0`` returns the raw sample codebook.

    Scale shape: codebooks stay broadcast-small; each Lloyd iteration is
    one broadcast-join + grouped argmin over the corpus plus a
    (s, code, pos)-keyed partial-agg mean — shuffled rows are scalar
    triples, with map-side combine."""
    codes = sub.filter(
        (F.col(id_col) % PQ_CODE_MOD == 0)
        & (F.col(id_col) < PQ_CODE_MOD * PQ_MAX_CODES)
    ).select(F.col(id_col).alias("code_id"), "s", F.col("sv").alias("cv"))
    for _ in range(iters):
        # Each Lloyd iteration: collect the codebook, then one vectorized
        # map-only assignment pass over the corpus — see
        # _pq_assign_vectorized for why this beats the broadcast-join form.
        # bounded: ≤ PQ_MAX_CODES codes × m subspaces, never corpus rows
        assigned = _pq_assign_vectorized(
            sub, codes.collect(), sub_len, id_col, keep_sv=True
        )
        means = (
            assigned.select("s", "code", F.posexplode("sv").alias("pos", "val"))
            .groupBy("s", "code", "pos")
            .agg(F.avg("val").alias("m"))
        )
        codes = (
            means.groupBy("s", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda x: F.round(x["m"], 6),
                ).alias("cv")
            )
            .select(F.col("code").alias("code_id"), "s", "cv")
        )
    return codes


def pq_index(
    emb: DataFrame,
    m: int = PQ_M,
    dim: int = _DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
):
    """PQ encode: per-subspace codebook and the nearest-code assignment
    for every (vector, subspace). ``train_iters=0`` keeps the
    deterministic-sample codebook (cheapest oracle-reproducible build);
    ``train_iters>0`` runs that many per-subspace k-means Lloyd
    iterations (``pq_train_codebooks``) first — same encode/scan path
    either way.

    Scale shape: the codebook is tiny (k codes × m subspaces) and ships in
    the encode UDF's closure; encoding is one vectorized map-only pass over
    the corpus (``_pq_assign_vectorized``) — zero shuffle. Memory win at
    100 TB: a 64-dim float vector (256 B) compresses to m=4 BIGINT codes
    (~4 B effective with dictionary encoding) — the classic ~64× PQ
    compression that lets a billion-vector index fit one machine tier
    down."""
    sub = pq_subvectors(emb, m, dim, id_col, vec_col)
    trained = pq_train_codebooks(sub, train_iters, id_col, dim // m)
    # bounded: trained codebook = k codes × m subspaces (PQ_MAX_CODES-capped)
    rows = trained.collect()
    codes = emb.sparkSession.createDataFrame(rows, schema=trained.schema)
    assigned = _pq_assign_vectorized(sub, rows, dim // m, id_col)
    return codes, assigned


def pq_adc_topk(
    emb: DataFrame,
    query_ids_below: int = 5,
    k: int = 10,
    m: int = PQ_M,
    dim: int = _DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: queries stay full-precision, the
    corpus is its PQ codes; approx distance = Σ_s table[s][code(doc, s)].

    The distance TABLE (queries × codes × subspaces) is small and
    broadcasts; the scan over the encoded corpus is one broadcast probe +
    integer SUM per (query, doc) — never touches the original vectors.
    This is the memory-bound ANN scan shape (IVF selects candidates, PQ
    scores them); the exactness baseline stays ``cosine_topk``."""
    codes, assigned = pq_index(emb, m, dim, id_col, vec_col, train_iters)
    qsub = pq_subvectors(
        emb.filter(F.col(id_col) < query_ids_below), m, dim, id_col, vec_col
    ).select(F.col(id_col).alias("query_id"), "s", F.col("sv").alias("qv"))
    dtable = qsub.join(codes, "s").select(
        "query_id", "s", F.col("code_id").alias("code"),
        _d2_scaled(F.col("qv"), F.col("cv"), dim // m).alias("dt"),
    )
    approx = (
        assigned.join(F.broadcast(dtable), ["s", "code"])
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("dt").cast("long").alias("approx_d2"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        approx.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "approx_d2")
    )


def _sample_code_rows(sample_rows, cent_rows, m: int, sub_len: int) -> list[dict]:
    """Driver-side encode of the BOUNDED codebook sample (≤ PQ_MAX_CODES
    docs): nearest-centroid assignment, residual, and the m subvector
    slices as plain numpy over already-collected rows — bit-identical to
    running the sample through ``_assign`` + the residual projection
    (same left-fold accumulation order, same first-max/ smallest-id
    tie-break, same elementwise float64 subtraction), without spending a
    Python-boundary stage on 64 rows. Returns ``_pq_assign_vectorized``-
    style rows: one ``{code_id, s, cv}`` dict per (doc, subspace)."""
    import numpy as np

    if not sample_rows or not cent_rows:
        return []
    crows = sorted(
        ((int(r["centroid_id"]), list(r["cvec"]), float(r["cnorm"])) for r in cent_rows),
        key=lambda t: t[0],
    )
    C = np.array([t[1] for t in crows], dtype=np.float64)
    cn = np.array([t[2] for t in crows], dtype=np.float64)
    dim = C.shape[1]
    out: list[dict] = []
    for r in sample_rows:
        v = np.array(list(r["vec"]), dtype=np.float64)
        acc = np.zeros(len(crows), dtype=np.float64)
        for j in range(dim):  # left-fold order, exactly _assign's loop
            acc += v[j] * C[:, j]
        k = int(np.argmax(acc / (float(r["norm"]) * cn)))  # first max
        rvec = v - C[k]
        for s in range(m):
            out.append(
                {
                    "code_id": int(r[0]),
                    "s": s,
                    "cv": [float(x) for x in rvec[s * sub_len : (s + 1) * sub_len]],
                }
            )
    return out


def ivfpq_topk(
    emb: DataFrame,
    query_ids_below: int = 5,
    k: int = 10,
    nprobe: int = 2,
    m: int = PQ_M,
    dim: int = _DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Composed IVF-PQ with residual encoding — the billion-scale index
    shape (FAISS ``IVFx,PQy``): a coarse quantizer routes each vector to a
    cluster, PQ encodes the RESIDUAL (vector − centroid, where quantization
    error is small), and queries scan only their ``nprobe`` probed
    clusters with per-(query, cluster) ADC distance tables over the query
    residual.

    Scale shape: centroids and codebooks are broadcast-bounded artifacts;
    residuals are a zip_with map (exact IEEE subtraction — no rounding
    needed for the oracle, both engines subtract the same doubles); the
    encode is the vectorized map-only pass; the scan joins the encoded
    corpus to the distance table on (cluster, s, code) — docs outside the
    probed clusters never join, which is the entire point of IVF.

    The deterministic-sample quantizer/codebooks keep the oracle replay
    cheap; the trained variants (``kmeans_centroids`` /
    ``pq_train_codebooks``) drop in unchanged.
    """
    sub_len = dim // m
    spark = emb.sparkSession
    base = with_norm(emb, vec_col).select(F.col(id_col), "vec", "norm")
    cents = base.filter(
        (F.col(id_col) % CENTROID_MOD == 0)
        & (F.col(id_col) < CENTROID_MOD * MAX_CENTROIDS)
    ).select(
        F.col(id_col).alias("centroid_id"),
        F.col("vec").alias("cvec"),
        F.col("norm").alias("cnorm"),
    )
    # bounded: coarse quantizer ≤ MAX_CENTROIDS rows (the audited-collect
    # contract) — collect it ONCE and reuse it as a
    # literal everywhere (assignment closures + residual/probe dim
    # tables). Before this the plan re-derived the centroid subtree from
    # the corpus scan in four places. Doubles round-trip exactly through
    # collect (the _materialize_quantizer argument).
    cent_rows = cents.collect()
    cents_lit = spark.createDataFrame(cent_rows, schema=cents.schema)

    def _residual_subvectors(assigned_part: DataFrame) -> DataFrame:
        """residual = vec − centroid (exact double subtraction, map-only
        after one broadcast join on the cluster id), then the m subvector
        slices — per-row maps, so they commute with any id filter."""
        res = assigned_part.join(
            F.broadcast(cents_lit.select(F.col("centroid_id").alias("cluster"), "cvec")),
            "cluster",
        ).select(
            F.col(id_col),
            "cluster",
            F.zip_with("vec", "cvec", lambda a, b: a - b).alias("rvec"),
        )
        return res.select(
            F.col(id_col),
            "cluster",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.slice("rvec", s * sub_len + 1, sub_len).alias("sv"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("x"),
        ).select(
            F.col(id_col), "cluster", F.col("x.s").alias("s"), F.col("x.sv").alias("sv")
        )

    rsub = _residual_subvectors(_assign(base, cents_lit, id_col, cent_rows=cent_rows))
    # The codebook sample is a BOUNDED artifact (≤ PQ_MAX_CODES docs), so
    # its assign→residual→slice chain runs on the DRIVER in numpy against
    # the already-collected centroid rows — the same audited-collect class
    # as cent_rows. This removes an entire Python-boundary stage: at the
    # bench SF every mapInArrow stage costs ~0.3 s/task of fixed python
    # overhead across the 32 scan splits (stage-profiled), and that stage
    # existed to encode 64 docs. The math is _assign's left-fold +
    # first-max argmax and zip_with's elementwise float64 subtraction,
    # replicated operation-for-operation (value identity asserted by the
    # oracle gates and the old-vs-new equivalence A/B).
    # bounded: ≤ PQ_MAX_CODES rows by the id-mod cap in the filter below
    sample_rows = base.filter(
        (F.col(id_col) % PQ_CODE_MOD == 0)
        & (F.col(id_col) < PQ_CODE_MOD * PQ_MAX_CODES)
    ).collect()
    code_rows = _sample_code_rows(sample_rows, cent_rows, m, sub_len)
    codes_schema = "code_id long, s int, cv array<double>"
    # cluster rides through the encode as a passthrough column — joining
    # it back on vec_id afterwards would be a corpus-sized shuffle
    enc = _pq_assign_vectorized(
        rsub, code_rows, sub_len, id_col, passthrough=(("cluster", "long"),)
    )
    codes_lit = spark.createDataFrame(code_rows, schema=codes_schema)

    # query side: probe the nprobe nearest centroids, residualize the
    # query against EACH probed centroid, build per-(query, cluster)
    # distance tables. The query rows need only (id, vec, norm) — probe
    # selection reranks against ALL centroids below — so no nearest-
    # centroid assignment runs here at all: the previous _assign's
    # cluster column was dropped by this very select, burning a whole
    # Python-boundary pass (full-corpus in the r6 form, query-sliced in
    # the first r7 form) for nothing Catalyst could eliminate (the
    # mapInArrow is opaque to column pruning, guide §4).
    q = base.filter(F.col(id_col) < query_ids_below).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    qsim = _dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm"))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("qcsim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(cents_lit))
        .select(
            "query_id", "qvec", "centroid_id", "cvec", qsim.alias("qcsim")
        )
        .withColumn("probe_rank", F.row_number().over(wq))
        .filter(F.col("probe_rank") <= nprobe)
        .select(
            "query_id",
            F.col("centroid_id").alias("cluster"),
            F.zip_with("qvec", "cvec", lambda a, b: a - b).alias("qres"),
        )
    )
    qrsub = probes.select(
        "query_id",
        "cluster",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("qres", s * sub_len + 1, sub_len).alias("qv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("x"),
    ).select("query_id", "cluster", F.col("x.s").alias("s"), F.col("x.qv").alias("qv"))
    dtable = qrsub.join(codes_lit, "s").select(
        "query_id",
        "cluster",
        "s",
        F.col("code_id").alias("code"),
        _d2_scaled(F.col("qv"), F.col("cv"), sub_len).alias("dt"),
    )
    approx = (
        enc.join(F.broadcast(dtable), ["cluster", "s", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("dt").cast("long").alias("approx_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        approx.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "approx_d2")
    )


def sq8_encode_stats(
    emb: DataFrame,
    dim: int = _DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar quantization (SQ8, the FAISS ``SQ8`` shape): each dimension
    mapped to a uint8 code against per-dimension [min, max] bounds —
    4× compression with near-lossless recall for well-conditioned
    embeddings, and the cheapest quantizer to maintain incrementally
    (bounds are a one-pass min/max aggregate).

    Returns one row per dimension: the micro-grid bounds, the exact
    integer sum of codes, and the micro-grid sum of absolute
    reconstruction error — the quality signal an index owner monitors.
    Shape: posexplode → one (pos)-keyed partial-agg pass for bounds →
    broadcast back → one more partial-agg pass for code/error sums; the
    shuffled rows are scalar triples both times, with map-side combine.
    Degenerate dimensions (max == min) code to 0 with zero error.
    """
    comp = emb.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"),
    )
    bounds = comp.groupBy("pos").agg(
        F.min("v").alias("vmin"), F.max("v").alias("vmax")
    )
    scaled = comp.join(F.broadcast(bounds), "pos").select(
        "pos",
        "v",
        "vmin",
        "vmax",
        F.when(
            F.col("vmax") > F.col("vmin"),
            F.round(
                (F.col("v") - F.col("vmin"))
                / (F.col("vmax") - F.col("vmin"))
                * 255
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("code"),
    )
    recon = F.when(
        F.col("vmax") > F.col("vmin"),
        F.col("vmin")
        + F.col("code") * (F.col("vmax") - F.col("vmin")) / 255,
    ).otherwise(F.col("vmin"))
    return (
        scaled.select(
            "pos",
            "vmin",
            "vmax",
            "code",
            F.round(F.abs(F.col("v") - recon) * 1e6).cast("long").alias("err_micro"),
        )
        .groupBy("pos")
        .agg(
            F.round(F.first("vmin") * 1e6).cast("long").alias("vmin_micro"),
            F.round(F.first("vmax") * 1e6).cast("long").alias("vmax_micro"),
            F.sum("code").cast("long").alias("code_sum"),
            F.sum("err_micro").cast("long").alias("abs_err_micro_sum"),
        )
        .orderBy("pos")
    )


def ivf_append(
    emb_history: DataFrame,
    emb_new: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 1,
):
    """Incremental IVF index maintenance: the coarse quantizer is trained
    on the HISTORY corpus and then FROZEN; appended vectors are assigned
    to the existing centroids with one broadcast pass — the standard
    production practice (retraining the quantizer would relocate every
    stored vector; appends must be O(batch)). Returns
    ``(centroids, assignments)`` where assignments carry ``is_new``.

    Scale shape: training touches history once (or runs on a sample); an
    append batch costs one map-side broadcast-join pass over the batch
    only — the existing index is never rewritten, exactly like the state
    store's touched-bucket MERGE discipline."""
    base_h = with_norm(emb_history, vec_col).select(F.col(id_col), "vec", "norm")
    cents = _materialize_quantizer(kmeans_centroids(base_h, train_iters, id_col))
    assigned_h = (
        _assign(base_h, cents, id_col)
        .select(id_col, "cluster")
        .withColumn("is_new", F.lit(0))
    )
    base_n = with_norm(emb_new, vec_col).select(F.col(id_col), "vec", "norm")
    assigned_n = (
        _assign(base_n, cents, id_col)
        .select(id_col, "cluster")
        .withColumn("is_new", F.lit(1))
    )
    return cents, assigned_h.unionByName(assigned_n)


def group_centroids(
    emb: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group mean embedding — the dataset-cartography profile (domain
    centroids for mixing diagnostics, cluster summaries, drift checks).

    Same exact-mean machinery as the k-means step: posexplode fans each
    vector into (group, pos, val) scalars, a partial-aggregated AVG per
    (group, pos) does the only shuffle (map-side combine bounds it by
    groups × dim), and components round to 6 decimals so float summation
    order cannot leak engine/partition dependence into the result. Also
    reports group size and the centroid's norm."""
    v = F.col(vec_col).cast("array<double>")
    per_pos = (
        emb.select(F.col(group_col), F.posexplode(v).alias("pos", "val"))
        .groupBy(group_col, "pos")
        .agg(F.avg("val").alias("m"), F.count("*").alias("n"))
    )
    return (
        per_pos.groupBy(group_col)
        .agg(
            F.max("n").cast("long").alias("n_vectors"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda x: F.round(x["m"], 6),
            ).alias("centroid"),
        )
        .select(
            group_col,
            "n_vectors",
            "centroid",
            F.round(F.sqrt(_dot(F.col("centroid"), F.col("centroid"))), 6).alias(
                "centroid_norm"
            ),
        )
    )
