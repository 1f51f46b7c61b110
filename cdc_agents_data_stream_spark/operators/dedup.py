"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference capability (driver north star): exact dedup, n-gram
Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup, all as
declarative DataFrame plans (no Python in the hot path — every kernel is
JVM-side expressions) so Catalyst/AQE handle pushdown, partial aggregation,
and skew.

Scale notes (100 TB design point):

- ``exact_dup_groups`` is a single hash aggregation on md5(text) — map-side
  partial agg, one shuffle keyed by digest (uniform by construction).
- ``ngram_jaccard_pairs`` builds an inverted shingle index; the self-join
  explodes on hot shingles, so at scale it MUST be preceded by the MinHash
  LSH candidate filter (``minhash_lsh_pairs``) — kept separate here so the
  exact-index variant stays oracle-checkable.
- ``minhash_lsh_pairs`` is the scale path: signatures are a fixed 32×
  universal-hash min-plan (k partial aggregates in ONE shuffle), banding
  bounds candidate pairs, and the exact-Jaccard verify only touches
  candidates. All hashes derive from md5 hex, so an external engine can
  reproduce them bit-for-bit (the DuckDB oracle does).
- ``simhash_pairs`` pairs on pigeonhole blocks (``max_hamming + 1`` exact
  block keys): a lossless candidate equi-join — identical output to the
  cross join it replaced, at hash-join cost.
- ``connected_components`` turns any pair list into duplicate CLUSTERS
  (min-label propagation) — pair lists alone are not actionable; the
  keep/drop decision needs the transitive closure and a canonical keeper
  per cluster.

Driver cost: the wide expressions — ``minhash_signatures``' 32 minima,
``minhash_band_buckets``' band array, ``simhash_values``' per-bit sums
and fold, ``simhash_pairs``' block array — are written as SQL text that
one ``F.expr`` parses. Built from ``Column`` objects every node is a py4j
round trip: building ``simhash_values`` took 164-197 ms of driver time
per call that way against 21-36 ms parsed, and MinHash signatures plus
bands 145-150 ms against 21-27 ms (sf0.001 and sf0.01 documents, 4-core
host), for the same plans and the same values. On small inputs that
build time was most of a query's latency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Universal-hash parameters: h_i(x) = (A[i] * (x mod P) + B[i]) mod P with
# P = 2^31 - 1; products stay < 2^62 so the arithmetic is exact in int64 in
# both Spark and DuckDB. Constants from a fixed LCG so the oracle can embed
# the identical literals.
MERSENNE_P = 2_147_483_647
N_HASHES = 32
BAND_SIZE = 4  # 8 bands of 4 -> catches J>=0.5 pairs w.h.p.
# Max history docs a single salted probe-join task compares against per
# (band, bucket): buckets larger than this are split into
# ceil(bsz / _SALT_BLOCK) salt sub-buckets (lossless — see
# minhash_lsh_incremental). 32 keeps the worst per-task pair block at
# max_bucket × 32 (~8k at cap 256) while leaving p99.9 buckets (<100
# docs) un-split.
_SALT_BLOCK = 32


def _lcg_constants(n: int, seed: int, lo: int = 1) -> list[int]:
    out, x = [], seed
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (2**63)
        out.append(lo + x % (MERSENNE_P - lo - 1))
    return out


HASH_A = _lcg_constants(N_HASHES, seed=42)
HASH_B = _lcg_constants(N_HASHES, seed=7)


def _text_md5_int(col):
    """First 60 bits of md5 as a BIGINT — reproducible in any engine."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _pin_spill(df: DataFrame) -> DataFrame:
    """Materialize a multi-consumer intermediate ONCE, like
    ``localCheckpoint``, but in the DataFrame cache (columnar, compressed,
    evictable, disk-spillable) instead of deserialized RDD blocks.

    For data-proportional intermediates (the shingle tables here scale
    linearly with the corpus) ``localCheckpoint`` stores every partition
    as deserialized row objects and unrolls them in heap during the
    checkpoint job — at the 100×-bench decade (20M shingle rows) that
    OOMs a 32 GB single JVM before the query proper even starts. The
    columnar cache stores the same partitions ~20-50× smaller, evicts
    under pressure, and spills to disk; the eager ``count()`` preserves
    the checkpoint's one-materialization guarantee for the downstream
    fan-out. Dimension-bounded pins elsewhere keep ``localCheckpoint``
    (plan truncation matters more there, and their size is fixed)."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def _normalize_id(df: DataFrame, id_col: str) -> DataFrame:
    """Alias ``id_col`` to the canonical ``doc_id`` name at operator entry.

    The LSH internals (``minhash_signatures``, the band-bucket salt
    expression) key on the literal column name ``doc_id``; without this
    normalization any ``id_col != 'doc_id'`` fails deep in the plan with
    an opaque unresolved-column error. Renaming once at the boundary
    keeps every internal reference valid and costs nothing (a rename is
    metadata-only)."""
    if id_col == "doc_id":
        return df
    if "doc_id" in df.columns:
        raise ValueError(
            f"id_col={id_col!r} conflicts with an existing 'doc_id' column; "
            "drop or rename it before calling the LSH operators"
        )
    return df.withColumnRenamed(id_col, "doc_id")


def _gram_array(text_col: str, n: int):
    """Distinct word n-gram set of a text column, as an array expression —
    the single gram definition shared by the exploded shingle index and
    the array-intersect verify (so both compute the SAME Jaccard).

    PERFORMANCE HAZARD: this inline form re-evaluates ``split(text)`` PER
    TRANSFORM ELEMENT — higher-order functions run interpreted
    (CodegenFallback), and every lambda call re-walks the closure's
    expression tree, so the slice's split child executes once per gram:
    O(tokens²) per document (a 2k-token doc measured 12× slower than the
    hoisted form; a 400k-token doc turns minutes into hours). Callers on
    data-scale rows must materialize the token array as a REAL column
    (projection alias) and use ``_gram_array_of`` — a bound column
    reference is O(1) per element. Kept only for bounded-row expression
    contexts and as the readable statement of the shared gram definition."""
    return _gram_array_of(F.split(F.col(text_col), " "), n)


def _gram_array_of(toks, n: int):
    """`_gram_array` over an existing token-array column expression.

    Pass a materialized column (``withColumn``/select alias), not an
    inline ``split`` — see the hazard note on ``_gram_array``. The
    projection holding the alias survives CollapseProject because the
    array is referenced more than once and splitting is non-cheap."""
    if n == 1:
        # 1-grams ARE the tokens: concat_ws over a 1-element slice is the
        # element itself (split output is never null), so the indexed
        # transform reduces to the distinct token set — same values, no
        # per-element lambda at all (the entity-resolution path runs n=1
        # over the whole catalog)
        return F.array_distinct(toks)
    # guard: Spark's sequence(1, x) DESCENDS when x < 1, so short docs need
    # an explicit empty-gram branch
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def shingles(df: DataFrame, text_col: str = "text", n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    The input is hash-repartitioned by ``id_col`` FIRST: a small parquet
    scan arrives in few (often 1) partitions, which would serialize the
    CPU-heavy explode+md5 across one core; the shuffle moves only the raw
    doc bytes, and because it is hash(doc_id) the later per-doc
    aggregations (minhash ``groupBy(doc_id)``) reuse the exchange instead
    of shuffling the much larger exploded shingle stream. The partition
    count is EXPLICIT: a bare ``repartition(col)`` is an AQE-coalescible
    exchange, and on a small scan AQE merges it back to ~1 partition,
    silently serializing the kernel again (measured 8s -> 2s at sf0.1).

    The token array is materialized as its own projection AFTER the
    exchange (the shuffle carries raw text bytes, not the wider array)
    so the gram transform's slice reads a bound column — the inline-split
    form re-runs split() per gram (O(tokens²)/doc, `_gram_array` note)."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    toked = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
    return toked.select(
        F.col(id_col), F.explode(_gram_array_of(F.col("__toks"), n)).alias("shingle")
    )


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keeper assignment per content digest (dup_cnt > 1 rows\n    are the actual duplicate groups)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.min(id_col).alias("keeper_doc_id"),
            F.count("*").alias("dup_cnt"),
        )
    )


def _pair_jaccard(
    sh: DataFrame,
    candidates: DataFrame | None = None,
    sizes_carried: bool = False,
    sh_b: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over a shingle index; optionally restricted to
    candidate (doc_a, doc_b) pairs. With ``sizes_carried``, ``sh_b`` is
    the index ``doc_b`` is looked up in (default: ``sh``) — the
    incremental probe keeps the new and the history side apart; the
    other forms take sizes from ``sh`` and refuse an ``sh_b``.

    ``sizes_carried=True`` says ``candidates`` carries ``sz_a``/``sz_b`` (the
    size-carry form: per-doc set sizes computed as a free extra aggregate in
    ``minhash_signatures(with_size=True)`` and ridden through the band
    self-join); the sizes aggregation + two joins are then skipped entirely —
    the shingle input's only remaining consumers are the two intersection
    sides. Without it, sizes are recomputed from ``sh`` whatever columns
    ``candidates`` has."""
    if sh_b is not None and (candidates is None or not sizes_carried):
        raise ValueError("sh_b needs candidates with sizes_carried=True")
    if candidates is not None and sizes_carried:
        a_sh = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b_sh = (sh if sh_b is None else sh_b).select(
            F.col("doc_id").alias("b_doc"), F.col("shingle").alias("b_shingle")
        )
        return (
            candidates.join(a_sh, "doc_a")
            .join(b_sh, (F.col("doc_b") == F.col("b_doc")) & (F.col("shingle") == F.col("b_shingle")))
            # sz_a/sz_b are functions of doc_a/doc_b — grouping on them
            # keeps the groups identical and the sizes available for free
            .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
            .agg(F.count("*").alias("inter"))
            .select(
                "doc_a",
                "doc_b",
                F.round(
                    F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
                ).alias("jaccard"),
            )
        )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    if candidates is None:
        # full inverted-index self-join: O(sum per-shingle count^2) — only
        # viable when no candidate filter exists (exact-Jaccard variant)
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("inter"))
        )
    else:
        # candidate-restricted intersection: expand only candidate docs'
        # shingles (LSH keeps |candidates| tiny relative to |pairs|), so the
        # heavy all-pairs shingle join never materializes. The candidate
        # side is broadcast-sized by construction; AQE picks broadcast.
        a_sh = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b_sh = sh.select(F.col("doc_id").alias("b_doc"), F.col("shingle").alias("b_shingle"))
        inter = (
            candidates.join(a_sh, "doc_a")
            .join(b_sh, (F.col("doc_b") == F.col("b_doc")) & (F.col("shingle") == F.col("b_shingle")))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    exact: bool = False,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard.

    Default (``exact=False``): MinHash-LSH band buckets generate the
    candidate pairs and the exact Jaccard verifies them — the shape that
    survives 100 TB (the banding bounds the self-join; at J >= 0.8 the
    8-band/4-hash scheme's recall is ~1 - (1 - 0.8^4)^8 ≈ 0.99).

    ``exact=True`` runs the full inverted-index self-join: exact recall,
    O(sum per-shingle count²) — the oracle-parity variant, only for
    corpora small enough that hot shingles cannot explode the join."""
    if exact:
        sh = shingles(df, text_col, n, id_col)
        return _pair_jaccard(sh).filter(F.col("jaccard") >= threshold)
    return minhash_lsh_pairs(df, threshold, n, text_col, id_col)


def minhash_signatures(sh: DataFrame, with_size: bool = False) -> DataFrame:
    """(doc_id, sig_0..sig_31): all 32 minhashes in ONE wide aggregation.

    One shuffle keyed by doc_id, 32 ``min`` aggregates evaluated over the
    same shingle hash — partial (map-side) aggregation applies to every
    column, and there is no row fan-out. This replaced an explode(32)-based
    tall layout that multiplied the shingle stream 32× through the shuffle
    and needed a second shuffle to re-assemble bands; at sf0.1 the wide plan
    cut the LSH query ~3×, and at 100 TB the shuffled bytes are ~32× lower.

    ``with_size=True`` adds ``sz`` = the per-doc distinct-shingle count as
    a 33rd aggregate on the SAME shuffle (``shingles`` emits the distinct
    gram set, so ``count(*)`` here equals the Jaccard denominator's set
    size). The verify stage then reads both pair sizes off the candidate
    row itself instead of re-deriving a sizes aggregation from the shingle
    sliver and joining it twice — two fewer consumers of the sliver, two
    fewer joins, at the cost of one int column riding the band explode.
    """
    h0 = (_text_md5_int(F.col("shingle")) % MERSENNE_P).alias("h0")
    aggs = [
        f"min(({HASH_A[i]} * h0 + {HASH_B[i]}) % {MERSENNE_P}) AS sig_{i}" for i in range(N_HASHES)
    ]
    if with_size:
        aggs.append("count(1) AS sz")
    return sh.select("doc_id", h0).groupBy("doc_id").agg(*map(F.expr, aggs))


def minhash_band_buckets(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket): md5 over each band's ordered signature slice,
    derived from the wide signature row by pure projection (no shuffle);
    the explode only multiplies by n_bands (8), after aggregation.

    Non-signature extras on the input (e.g. the ``sz`` column from
    ``minhash_signatures(with_size=True)``) are carried through unchanged,
    so candidate pairs built from the bucket self-join can read per-doc
    metadata without another join."""
    carry = [c for c in sigs.columns if c != "doc_id" and not c.startswith("sig_")]
    bands = ", ".join(
        f"named_struct('band', {band}, 'bucket', md5(concat_ws(',', "
        + ", ".join(f"CAST(sig_{band * BAND_SIZE + j} AS STRING)" for j in range(BAND_SIZE))
        + ")))"
        for band in range(N_HASHES // BAND_SIZE)
    )
    return sigs.select("doc_id", *carry, F.expr(f"inline(array({bands}))"))


def minhash_lsh_pairs(
    df: DataFrame, threshold: float = 0.5, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """MinHash+LSH near-dup: band-bucket candidates, then exact-Jaccard
    verify (so no false positives; banding controls false negatives)."""
    df, id_col = _normalize_id(df, id_col), "doc_id"
    sh = shingles(df, text_col, n, id_col)
    buckets = minhash_band_buckets(minhash_signatures(sh, with_size=True))
    a = buckets.alias("a")
    b = buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            # size-carry: both Jaccard denominators ride the candidate row
            # (minhash_signatures(with_size=True)), so the verify needs no
            # sizes aggregation or joins — see _pair_jaccard
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
        # both the verify join AND the cand_docs semi-join consume this tiny
        # set; without materialization the whole shingle->signature->bucket->
        # self-join chain executes twice (broadcast vs hash exchange blocks
        # Catalyst's ReusedExchange). Measured 2.9s -> 1.6s at sf0.1.
        .localCheckpoint()
    )
    # re-shingle ONLY candidate docs for the exact-Jaccard verify: the
    # candidate doc set is tiny after banding, so the verify branch reads a
    # semi-joined sliver of the corpus instead of recomputing the full
    # shingle index a second time (the exact sizes/intersections only ever
    # involve candidate docs, so the restriction is lossless)
    cand_docs = candidates.select(
        F.explode(F.array("doc_a", "doc_b")).alias(id_col)
    ).distinct()
    sh_cand = shingles(
        df.join(cand_docs, id_col, "left_semi"), text_col, n, id_col
    ).localCheckpoint()
    # ^ materialized: with the size-carry the verify's remaining consumers
    # of sh_cand are the two intersection sides (r7's four consumers —
    # sizes as sz_a AND sz_b plus both intersection sides — are down to
    # two: the sizes now ride the candidate rows), and each non-pinned
    # consumer re-runs the semi-join's full corpus scan. The checkpoint is
    # candidate-docs × shingles (banding keeps it tiny), so the verify
    # scans the corpus once instead of twice.
    return _pair_jaccard(sh_cand, candidates, sizes_carried=True).filter(
        F.col("jaccard") >= threshold
    )


def minhash_lsh_incremental(
    df_hist: DataFrame,
    df_new: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
    verify: str = "index",
) -> DataFrame:
    """Incremental near-dup: probe a NEW batch against the corpus's
    stored LSH index — the maintenance mode of `minhash_lsh_pairs`
    (which rebuilds pair candidates over everything).

    The history side's band buckets are the persisted index (in
    production: the parquet artifact `minhash_band_buckets` writes once;
    here recomputed so the gate is self-contained). The probe is an
    equi-join on (band, bucket) between the SMALL new batch's buckets and
    the index — cost scales with the batch, never with history size.
    New-vs-new duplicates are intentionally out of scope
    (run the batch variant within the batch); this operator answers "is
    anything in this drop a near-dup of what we already have", the
    decontamination-style question every incremental corpus build asks.
    Output: (doc_new, doc_hist, jaccard ≥ threshold).

    ``max_bucket`` drops (band, bucket) groups holding more than that
    many docs on EITHER side before the probe join. Buckets whose
    population grows with the corpus are degenerate by construction —
    their members collide on ubiquitous shared tokens, not on content —
    and their pair fan-out is quadratic in bucket size. Measured on the
    100×-bench derivative (2M-part catalog): max clean-side bucket
    13,578 docs vs p99.9 = 62, and the handful of degenerate buckets
    alone generate ~10^8 verify pairs (ran a 32 GB JVM out of disk);
    with a cap at 256 the candidate volume returns to linear at a
    measured recall cost of ~0.1% of matches (a true J≥0.6 pair
    collides in ~half its 8 bands, so a link is lost only when EVERY
    colliding band is a degenerate bucket — see SWEEPS.md for the
    sf0.1/sf1 counts). ``None`` keeps exact candidate semantics for
    bounded corpora/gates.

    ``verify`` picks the exact-Jaccard physical strategy (identical
    values either way — the gram set definition is shared, so the oracle
    SQL needs no mirror):

    - ``"index"`` (default): inverted shingle-index intersection join —
      only candidate docs are re-shingled; the right shape when docs are
      large (the per-pair row volume is sum-of-intersections, never
      |doc|² per pair).
    - ``"array"``: join each side's distinct-gram ARRAY onto the pair
      list and compute `size(array_intersect)/size(union)` in one
      codegen projection. For SHORT docs (entity strings, titles —
      tens of grams) this removes the exploded intersection stream
      entirely: profiled at the 100×-bench decade, the index verify's
      pair×gram join + pair groupBy was 6.5 GB of shuffle and ~57 s
      ×32 tasks of uniform (not skewed) aggregation work that the
      array form replaces with two narrow joins.

    CACHE CONTRACT (caller must clear): the multi-consumer intermediates
    this operator pins (``_pin_spill`` — MEMORY_AND_DISK persist) stay
    pinned for the session lifetime; the operator cannot unpersist them
    itself because the returned DataFrame still reads through the cached
    blocks lazily. Embedders that run many queries in one session must
    release them after consuming the result — either
    ``spark.catalog.clearCache()`` or unpersisting
    ``sparkContext._jsc.getPersistentRDDs()`` — as the replica harness
    (tests/driver_replica.py) and tools/scaling_curve.py both do."""
    if verify not in ("index", "array"):
        raise ValueError(f"verify must be 'index' or 'array', got {verify!r}")
    df_hist = _normalize_id(df_hist, id_col)
    df_new = _normalize_id(df_new, id_col)
    id_col = "doc_id"
    if verify == "index":
        # one shingle pass per side, materialized: the band index AND the
        # exact-Jaccard verify both consume these (re-shingling the
        # candidate sliver is cheaper only when candidates are rare; at
        # entity-resolution match rates ~100% of docs are candidates and
        # the re-shingle is a full second pass — best-of-3 on the
        # fuzzy_entity_match bench 5.9 s → 4.5 s by reusing the
        # checkpointed tables)
        sh_hist = _pin_spill(shingles(df_hist, text_col, n, id_col))
        sh_new = _pin_spill(shingles(df_new, text_col, n, id_col))
    else:
        # array verify never consumes the exploded shingles again — the
        # signature build is their only consumer, so no pin is needed
        sh_hist = shingles(df_hist, text_col, n, id_col)
        sh_new = shingles(df_new, text_col, n, id_col)
    # index verify: carry each doc's set size on its bucket rows so the
    # pair list is born with both Jaccard denominators (see _pair_jaccard);
    # the array verify computes sizes from the gram arrays it already joins
    with_size = verify == "index"
    bh = minhash_band_buckets(minhash_signatures(sh_hist, with_size=with_size))
    bn = minhash_band_buckets(minhash_signatures(sh_new, with_size=with_size))
    if max_bucket is not None:
        # One windowed count per side, partitioned on the SAME
        # (band, bucket) key as the probe join, so the window's exchange
        # is the join's exchange — the filter costs one extra sort, not
        # an extra shuffle. (A/B'd against a broadcast anti-join on the
        # tiny over-cap list: that form re-evaluates the signature
        # subtree for the count and serializes behind the broadcast
        # barrier — 2× slower at sf0.1.)
        w = Window.partitionBy("band", "bucket")
        # Straggler control for NEAR-cap buckets (the capped path's one
        # remaining skew class): a (band, bucket) key with ~max_bucket
        # docs on each side makes the single probe-join task owning that
        # key emit bsz_n × bsz_h (~65k at cap 256) pairs while the p99.9
        # bucket emits <100 — a measured 5th-decade straggler tail
        # (SCALING.md ×10 ratio 11.7 before this change). Fix: split the
        # history side of every over-block bucket into
        # ceil(bsz / _SALT_BLOCK) salt sub-buckets (salt = a doc_id hash,
        # so membership is deterministic) and replicate the probe side's
        # rows across exactly that bucket's salt domain via a
        # broadcast-joined per-hot-key salt count. Every (probe, hist)
        # pair still meets exactly once — the history doc owns ONE salt
        # and the probe doc visits ALL of them — so the candidate set is
        # bit-identical to the unsalted join (the oracle SQL needs no
        # mirror) while no task owns more than max_bucket × _SALT_BLOCK
        # pair emissions per key.
        n_salt = F.greatest(
            F.lit(1), F.ceil(F.col("bsz") / F.lit(_SALT_BLOCK)).cast("int")
        )
        bh = (
            bh.withColumn("bsz", F.count("*").over(w))
            .filter(F.col("bsz") <= max_bucket)
            .withColumn("n_salt", n_salt)
            .drop("bsz")
        )
        # bh is consumed twice below (hot-key list + salted join input);
        # pin it so the shingle→signature→window subtree runs once. The
        # pin is docs × n_bands narrow rows — linear, spillable.
        bh = _pin_spill(bh)
        hot = bh.filter(F.col("n_salt") > 1).select("band", "bucket", "n_salt").distinct()
        bh = bh.withColumn(
            "salt", F.pmod(F.xxhash64("doc_id"), F.col("n_salt")).cast("int")
        ).drop("n_salt")
        bn = (
            bn.withColumn("bsz", F.count("*").over(w))
            .filter(F.col("bsz") <= max_bucket)
            .drop("bsz")
            .join(F.broadcast(hot), ["band", "bucket"], "left")
            .withColumn(
                "salt",
                F.explode(
                    F.sequence(F.lit(0), F.coalesce(F.col("n_salt"), F.lit(1)) - 1)
                ),
            )
            .drop("n_salt")
        )
        join_cond = (
            (F.col("n.band") == F.col("h.band"))
            & (F.col("n.bucket") == F.col("h.bucket"))
            & (F.col("n.salt") == F.col("h.salt"))
        )
    else:
        join_cond = (F.col("n.band") == F.col("h.band")) & (
            F.col("n.bucket") == F.col("h.bucket")
        )
    pair_cols = [F.col("n.doc_id").alias("doc_a"), F.col("h.doc_id").alias("doc_b")]
    if with_size:
        pair_cols += [F.col("n.sz").alias("sz_a"), F.col("h.sz").alias("sz_b")]
    candidates = (
        bn.alias("n")
        .join(bh.alias("h"), join_cond)
        .select(*pair_cols)
        .distinct()
    )
    if verify == "array":
        # candidates has exactly one consumer here — no pin. Two narrow
        # joins attach each side's distinct-gram array; the Jaccard is a
        # pure projection (|A∩B| / (|A|+|B|-|A∩B|), identical to the
        # index form because _gram_array is the shared gram definition).
        ga = df_new.select(
            F.col(id_col).alias("doc_a"), F.split(F.col(text_col), " ").alias("__toks")
        ).select("doc_a", _gram_array_of(F.col("__toks"), n).alias("g_a"))
        gb = df_hist.select(
            F.col(id_col).alias("doc_b"), F.split(F.col(text_col), " ").alias("__toks")
        ).select("doc_b", _gram_array_of(F.col("__toks"), n).alias("g_b"))
        inter = F.size(F.array_intersect("g_a", "g_b"))
        return (
            candidates.join(ga, "doc_a")
            .join(gb, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                F.round(
                    inter / (F.size("g_a") + F.size("g_b") - inter), 6
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
            .select(
                F.col("doc_a").alias("doc_new"),
                F.col("doc_b").alias("doc_hist"),
                "jaccard",
            )
        )
    # match-rate-proportional (every dirty record links at entity
    # resolution), so the pin must spill too
    candidates = _pin_spill(candidates)
    # one semi-join per side: a doc_id present in both batches keeps two
    # gram sets, so the union of both sides would double its rows and
    # push the intersection count past the set sizes (Jaccard > 1)
    sh_a = sh_new.join(candidates.select(F.col("doc_a").alias(id_col)), id_col, "left_semi")
    sh_b = sh_hist.join(candidates.select(F.col("doc_b").alias(id_col)), id_col, "left_semi")
    return (
        _pair_jaccard(sh_a, candidates, sizes_carried=True, sh_b=sh_b)
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("doc_a").alias("doc_new"),
            F.col("doc_b").alias("doc_hist"),
            "jaccard",
        )
    )


def simhash_values(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """(doc_id, simhash): sign-aggregated token-hash bits (token occurrences
    weighted, not distinct).

    All ``bits`` per-bit balances come out of ONE wide aggregation — the
    same shape as ``minhash_signatures``: a single ``groupBy(doc_id)`` with
    one conditional sum per bit, folded into the integer by the
    aggregate's own result expression. The previous tall layout exploded
    every token hash ×``bits`` before aggregating on (doc_id, j); partial
    aggregation kept that correct, but its shuffle carried docs×bits rows
    where this one carries docs rows — ~32× fewer at the default width.

    The aggregate is ONE expression parsed from SQL text (module
    docstring, "Driver cost")."""
    toks = df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    h = toks.select(id_col, _text_md5_int(F.col("tok")).alias("h0"))
    return h.groupBy(id_col).agg(
        F.expr(
            " + ".join(
                f"IF(sum(IF((shiftright(h0, {j}) & 1) = 1, 1, -1)) > 0, "
                f"CAST({1 << j} AS BIGINT), CAST(0 AS BIGINT))"
                for j in range(bits)
            )
        ).alias("simhash")
    )


def streaming_exact_dedup(
    stream: DataFrame,
    key_cols: list[str],
    event_time_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Ingest-time exact dedup on a STREAM: keep the first arrival per
    key, drop replays that land within the watermark horizon. State is
    bounded — Spark evicts seen-keys older than the watermark, so this
    runs forever on unbounded input (the batch ``exact_dup_groups`` is
    the retrospective equivalent). Classic use: upstream at-least-once
    delivery (Kafka replays, retried webhooks) feeding a training-data
    lake that must stay append-exact."""
    return stream.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 50,
) -> DataFrame:
    """(node, comp) for every node that appears in ``pairs``, where
    ``comp`` is the smallest node id in the node's connected component —
    the transitive closure that turns near-dup PAIRS into duplicate
    CLUSTERS with a canonical keeper (the min id).

    Min-label propagation on DataFrame ops: each round every node takes
    the least of its own label and its neighbors' labels; the loop stops
    when a round changes nothing. Rounds = graph diameter, and near-dup
    clusters are dense (quasi-cliques), so convergence is typically 2-4
    rounds; ``localCheckpoint`` truncates the growing plan lineage each
    round, and the convergence probe is a ``limit(1)`` existence check,
    not a full count. At 100 TB the same loop holds — each round is one
    edge⋈label join + a grouped min (two shuffles, partial agg); for
    adversarial long-path graphs swap in large-star/small-star, which
    bounds rounds at O(log n) with the same join primitives."""
    # The diameter diagnostic below is a function attribute; clear it at
    # entry so a caller that short-circuits (or a concurrent reader) can
    # never observe a stale round count from a PREVIOUS graph.
    connected_components.last_rounds = None
    edges = pairs.select(
        F.col(a_col).cast("long").alias("a"), F.col(b_col).cast("long").alias("b")
    ).localCheckpoint()  # the union below reads it twice; don't run the
    # (possibly expensive) pair-generation plan once per branch
    sym = (
        edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("comp")
    ).localCheckpoint()
    for _iter in range(max_iters):
        nbr_min = (
            sym.join(
                labels.select(F.col("node").alias("b"), F.col("comp").alias("bcomp")), "b"
            )
            .groupBy("a")
            .agg(F.min("bcomp").alias("nmin"))
            .select(F.col("a").alias("node"), "nmin")
        )
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).alias("comp"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            # Diameter diagnostic for the scale-oracle budget: plain
            # min-label propagation converges in (label-eccentricity ≈
            # component diameter) rounds, so the round count is a free
            # upper-bound proxy for the max component diameter. The
            # unrolled pointer-jumping DuckDB oracle
            # (queries/dedup_queries._LP_ROUNDS) covers diameters up to
            # ~2^rounds; the replica sweep reads this attribute to assert
            # the budget holds BEFORE the oracle's in-SQL fixpoint proof
            # can poison a hash (tests/driver_replica.py).
            connected_components.last_rounds = _iter + 1
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds — "
        "pathological graph diameter; use a star-contraction variant"
    )


def simhash_pairs(
    df: DataFrame, max_hamming: int = 3, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Pigeonhole banding: split the ``bits``-bit simhash into
    ``max_hamming + 1`` blocks — any pair within the Hamming budget MUST
    agree exactly on at least one block, so an equi-join on (block_idx,
    block_value) generates every qualifying pair (LOSSLESS candidate set,
    unlike probabilistic LSH) and the exact Hamming check then discards
    the false positives. The O(n²) cross join becomes a hash join Catalyst
    partitions on the block key; block values spread near-uniformly, and a
    degenerate hot block (e.g. a constant-prefix corpus) is exactly the
    skew AQE's skew-join splitting handles."""
    # NOTE (round-7 negative A/B): the banded self-join consumes sv on both
    # sides and the broadcast build blocks ReusedExchange, so the
    # tokenize→md5→32-sum subtree executes twice. Materializing sv with
    # localCheckpoint removes the duplicate pass but measured SLOWER
    # (sf0.1 1.45→1.48 s min, sf1 derivative 4.55→4.85 s min): the
    # duplicated subtrees run in parallel inside one job while the
    # checkpoint serializes a barrier + block write. Kept un-materialized.
    sv = simhash_values(df, text_col, id_col, bits)
    n_blocks = max_hamming + 1
    block_bits = bits // n_blocks
    blocks = ", ".join(
        f"named_struct('blk', {i}, 'val', shiftright(simhash, {i * block_bits}) & "
        # the last block absorbs the remainder bits
        f"{(1 << (bits - i * block_bits if i == n_blocks - 1 else block_bits)) - 1})"
        for i in range(n_blocks)
    )
    keyed = sv.select("doc_id", "simhash", F.expr(f"inline(array({blocks}))"))
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair can agree on several blocks
    )


# --- Bloom-filter incremental dedup ------------------------------------------

BLOOM_M_BITS = 1024  # filter size used by the declared gate query: small
# enough that the fixed testdata produces REAL false positives, so the
# oracle verifies FP semantics, not just the all-miss path. Production
# sizing: m ≈ -n·ln(p)/ln(2)², e.g. 10^10 docs at p=1e-3 → ~1.8 GB of
# bits — still one broadcast artifact per executor.
BLOOM_K = 3  # probes; disjoint 8-hex-char windows of md5(text)


def _bloom_pos_sql(text_col: str, j: int, m_bits: int) -> str:
    """Probe j's bit position as a Spark-SQL expr string — md5 hex window
    [1+8j, 8] parsed as a 32-bit int, mod m. The DuckDB oracle spells the
    identical computation (`CAST('0x'||substr(...) AS BIGINT) % m`)."""
    return (
        f"CAST(conv(substring(md5({text_col}), {1 + 8 * j}, 8), 16, 10) AS BIGINT)"
        f" % {m_bits}"
    )


def bloom_build(
    history: DataFrame,
    text_col: str = "text",
    k: int = BLOOM_K,
    m_bits: int = BLOOM_M_BITS,
) -> list[int]:
    """Build the packed bloom words (m/64 int64s) from the history corpus.

    One explode(k positions) + bit_or aggregation: map-side partial
    bit_or means the shuffle carries at most (partitions × m/64) rows no
    matter how large history is, and the collect is bounded by m/64 —
    the filter is a fixed-size ARTIFACT, like a trained quantizer. This
    is the incremental-ingest shape at 100 TB: dedup a new batch against
    ALL of history without ever joining history again."""
    pos = history.selectExpr(
        f"explode(array({', '.join(_bloom_pos_sql(text_col, j, m_bits) for j in range(k))})) AS pos"
    )
    words = (
        pos.withColumn("w", F.floor(F.col("pos") / 64).cast("int"))
        .groupBy("w")
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            ).alias("word")
        )
    )
    packed = [0] * (m_bits // 64)
    # bounded: ≤ m_bits/64 rows (one per 64-bit filter word), corpus-independent
    for r in words.collect():
        packed[r["w"]] = r["word"]
    return packed


def bloom_probe(
    incoming: DataFrame,
    packed: list[int],
    text_col: str = "text",
    k: int = BLOOM_K,
    m_bits: int = BLOOM_M_BITS,
    hit_col: str = "bloom_hit",
) -> DataFrame:
    """Flag each incoming row whose k probe bits are ALL set in the filter.

    The packed words are embedded as a literal array, so the probe is a
    map-only projection — zero joins, zero shuffles; Catalyst folds the
    array constant and the whole predicate stays in codegen. Bit test is
    `(word >> bit) & 1` (arithmetic shift: sign extension is harmless
    since only bit 0 survives the mask)."""
    words_sql = f"array({', '.join(str(w) + 'L' for w in packed)})"
    probes = []
    for j in range(k):
        p = f"({_bloom_pos_sql(text_col, j, m_bits)})"
        probes.append(
            f"(shiftright(element_at({words_sql}, CAST({p} DIV 64 AS INT) + 1),"
            f" CAST({p} % 64 AS INT)) & 1) = 1"
        )
    return incoming.withColumn(hit_col, F.expr(" AND ".join(probes)))


# --- Duplicated-span detection (substring dedup) ------------------------------

SPAN_K = 8  # tokens per gram: spans shorter than K tokens are invisible,
# the standard trade (Lee et al. 2022 use 50 BPE tokens at corpus scale)


def dup_spans(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = SPAN_K
) -> DataFrame:
    """Exact duplicated-substring detection, n-gram approximation of the
    suffix-array method ("Deduplicating Training Data Makes Language
    Models Better", Lee et al. 2022): every position whose k-token gram
    occurs more than once in the corpus is duplicated text; runs of
    duplicated positions merge into maximal spans (gaps-and-islands over
    a per-doc window).

    Scale shape: positional grams are a map-side explode (md5 digests, not
    the text, enter the shuffle); duplicate grams are one partial-agg
    count keyed by digest (uniform); the mark-back is a digest equi-join;
    span merging shuffles only (doc, pos) pairs of DUPLICATED positions —
    at 100 TB the span-merge input is proportional to how much duplication
    exists, not corpus size. Output: one row per maximal span with its
    token bounds (end inclusive) and gram count."""
    from pyspark.sql.window import Window

    # same serialization hazard as `shingles`: a small scan arrives in ~1
    # partition and the explode+md5 kernel runs on one core; explicit
    # partition count so AQE cannot coalesce it back
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    # token array materialized post-exchange so the positional gram
    # transform slices a bound column: an inline split re-runs per gram
    # under the interpreted HOF path — O(tokens²)/doc (`_gram_array` note)
    toked = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))
    toks = F.col("__toks")
    grams = toked.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(toks) >= k,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(F.concat_ws(" ", F.slice(toks, i, k))).alias("g"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<pos:int,g:string>>"))
        ).alias("x"),
    ).select(F.col(id_col), F.col("x.pos").alias("pos"), F.col("x.g").alias("g"))
    dupg = grams.groupBy("g").agg(F.count("*").alias("cnt")).filter(F.col("cnt") > 1)
    marks = (
        grams.join(dupg.select("g"), "g", "left_semi")
        .select(id_col, "pos")
        .distinct()
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    cum = Window.partitionBy(id_col).orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    spans = (
        marks.withColumn(
            "brk",
            F.when(
                F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn("span_id", F.sum("brk").over(cum))
        .groupBy(id_col, "span_id")
        .agg(
            F.min("pos").alias("start_pos"),
            (F.max("pos") + (k - 1)).alias("end_pos"),
            F.count("*").alias("n_dup_grams"),
        )
    )
    return spans.select(
        F.col(id_col),
        F.col("start_pos").cast("long"),
        F.col("end_pos").cast("long"),
        (F.col("end_pos") - F.col("start_pos") + 1).cast("long").alias("span_tokens"),
        F.col("n_dup_grams").cast("long"),
    )


def prefix_filter_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Set-similarity self-join by PREFIX FILTERING (the PPJoin family)
    — the exact, LSH-free alternative to banding, over the SAME 3-gram
    shingle sets the MinHash path uses (unigram token sets are too
    coarse against a small vocabulary — measured 51k pairs at J≥0.7 vs
    the discriminative shingle space): shingles are globally ordered by
    (document frequency ASC, shingle ASC), each document only indexes
    its first ``|d| − ceil(t·|d|) + 1`` shingles in that order (two sets
    with Jaccard ≥ t MUST share at least one prefix element — pigeonhole
    on the required overlap), candidates are an equi-join on prefix
    shingles, and the exact Jaccard verifies. Rare-first ordering makes
    prefix postings short, so the candidate join is bounded by
    rare-shingle frequencies, not corpus² — and unlike MinHash banding
    the result has NO false negatives at the threshold.

    All arithmetic integer: ceil(t·s) = (7s+9) DIV 10 for t = 0.7 —
    float ceil is not cross-engine safe."""
    from pyspark.sql.window import Window

    if abs(threshold - 0.7) > 1e-9:
        raise ValueError("integer prefix math is specialized to t=0.7")
    toks = shingles(df, text_col, 3, id_col).select(
        F.col(id_col), F.col("shingle").alias("tok")
    ).localCheckpoint()  # consumed by sizes/dfreq/pos AND the verify
    sizes = toks.groupBy(id_col).agg(F.count("*").cast("long").alias("sz"))
    dfreq = toks.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    w_doc = Window.partitionBy(id_col).orderBy(F.col("df").asc(), F.col("tok").asc())
    pos = (
        toks.join(dfreq, "tok")
        .withColumn("pos", F.row_number().over(w_doc).cast("long"))
        .join(sizes, id_col)
    )
    prefix = pos.filter(
        F.col("pos") <= F.col("sz") - F.expr("(7 * sz + 9) DIV 10") + 1
    ).select(F.col(id_col), "tok")
    a, b = prefix.alias("a"), prefix.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
        .localCheckpoint()
    )
    # exact verify via the standard inter/union computation
    ta = toks.select(F.col(id_col).alias("doc_a"), "tok")
    tb = toks.select(F.col(id_col).alias("doc_b"), F.col("tok").alias("tok"))
    overlap = (
        candidates.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("szb"))
    return (
        overlap.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= 0.7)
        .select("doc_a", "doc_b", "jaccard")
    )
