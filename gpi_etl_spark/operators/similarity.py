"""Similarity search over embedding columns (``array<float>``).

North-star operators (BASELINE.json): brute-force cosine top-k as the
exact baseline, and an LSH-bucketed variant as the scale path. All
vector math is native array expressions (``zip_with`` dot products,
``aggregate`` folds) — JVM-side, no Python per row.

Scale notes: brute force is O(Q×N) — fine when Q (queries) is small and
broadcast; for Q≈N use :func:`random_hyperplane_lsh` buckets (or an IVF
coarse quantizer built from a sampled k-means) so the join is an
equi-join on bucket keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gpi_etl_spark import runscope
from gpi_etl_spark.functions.rounding import fs6


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a native fold (no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _arr_lit(values, dtype="float64") -> Column:
    """A vector constant as ONE array Literal node instead of a
    ``CreateArray`` of N scalar Literal nodes. ``F.lit(ndarray)``
    becomes a single typed Literal at ANALYSIS time; the N-scalar form
    only collapses to the same Literal during optimizer constant
    folding, so every analysis/optimizer walk before that pays a
    dim-proportional tree. Same values, same result type
    (float64 → array<double>, int32 → array<int>), but the Lloyd/PQ/ADC
    loops build a NEW centroid expression every iteration and the
    tree-size tax was paid per pass (round-12 measurement on the
    k=8×dim=64 assignment job: min 1.10 → 0.71 s/iter, bit-identical
    assignments)."""
    import numpy as np

    return F.lit(np.asarray(list(values), dtype=dtype))


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k neighbors of each query vector (broadcast path).

    One pass over ``vectors`` per partition; the window top-k uses
    Spark's rank-limit pushdown so only k rows per query survive the
    shuffle.
    """
    pairs = vectors.crossJoin(F.broadcast(queries))
    if metric == "cosine":
        score = cosine(F.col(vec_col), F.col(query_vec))
    elif metric == "dot":
        score = dot(F.col(vec_col), F.col(query_vec))
    else:
        raise ValueError(f"unknown metric {metric!r}")
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        pairs.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "score", "rank")
    )


def train_ivf_centroids(
    vectors: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    sample_rows: int = 4096,
    iters: int = 10,
    seed: int = 42,
):
    """k-means coarse quantizer for IVF, trained driver-side on a bounded
    sample (centroid training is model fitting, like the reference's
    sklearn artifact U1 — HTIPNEXSITE/__init__.py:354-358 — not a data-
    path op; the sample is capped so this never scales with input size).

    Returns an (n_cells × dim) float64 numpy matrix, row-normalized so
    cell assignment by max dot product == max cosine (spherical k-means).
    """
    import numpy as np

    sample = (
        vectors.select(vec_col)
        .orderBy(F.xxhash64(vec_col, F.lit(seed)))  # deterministic shuffle
        .limit(sample_rows)
        .toPandas()[vec_col]
    )
    x = np.asarray([np.asarray(v, dtype=np.float64) for v in sample])
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    for _ in range(iters):
        assign = (x @ cents.T).argmax(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
        cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    return cents


def _kmeans_base(vectors: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The double-cast (id, vec) projection every k-means-family
    trainer iterates over, pinned for the run. Semantically identical
    requests share one cached copy through Spark's CacheManager (q212
    runs the coarse Lloyd AND the PQ trainer over the same corpus, on
    two threads), and the registry dispatcher's scope drain releases
    it, so each bench/oracle invocation still computes from parquet."""
    to_double = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return runscope.pin(vectors.select(id_col, to_double.alias(vec_col)))


def distributed_kmeans(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Full-corpus Lloyd k-means with DISTRIBUTED assign and update
    steps (the MLlib pattern, vs :func:`train_ivf_centroids`'s bounded
    driver-side sample).

    Per iteration: assignment is a narrow projection against the
    inlined centroid literal (no join), and the centroid update is one
    shuffle of (cell, dim_pos, partial-sum) — ``posexplode`` then
    groupBy, so the wire carries k×dim aggregates, not vectors. Only
    the k×dim centroid matrix (model state, not data) ever reaches the
    driver, exactly like MLlib's per-iteration aggregate. Deterministic
    init: the k DISTINCT vectors with the smallest ids (dedup first —
    duplicate inits would pin an identical centroid pair and strand an
    empty cluster), normalized. If fewer than k distinct vectors exist,
    k shrinks to that count.

    The input is persisted MEMORY_AND_DISK for the iteration loop
    (iters+1 passes otherwise re-scan the corpus each round — the MLlib
    pattern caches before iterating); semantically identical inputs
    share one cached copy within a query run (:func:`_kmeans_base`),
    released when the next registry query is dispatched.

    Returns (centroids ndarray, assigned DataFrame with ``cell``).
    """
    import numpy as np

    base = _kmeans_base(vectors, id_col, vec_col)

    init = (
        base.groupBy(vec_col)
        .agg(F.min(id_col).alias("_mid"))
        .orderBy("_mid")
        .limit(k)
        .toPandas()[vec_col]
    )
    cents = np.asarray([np.asarray(v, dtype=np.float64) for v in init])
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    for _ in range(iters):
        assigned = base.withColumn("cell", _nearest_cells(vec_col, cents, 1)[0])
        sums = (
            assigned.select("cell", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = cents.copy()
        agg: dict[int, dict[int, tuple]] = {}
        for r in sums:
            agg.setdefault(r["cell"], {})[r["pos"]] = (r["s"], r["n"])
        for c, dims in agg.items():
            vec = np.array([dims[p][0] / dims[p][1] for p in sorted(dims)])
            new[c] = vec
        new /= np.maximum(np.linalg.norm(new, axis=1, keepdims=True), 1e-12)
        # break only on the EXACT fixed point (bit-equal centroids):
        # a tolerance break could stop on a near-fixed point and
        # diverge from the oracle's full unroll, whose safety argument
        # ("extra iterations change nothing") holds only for true
        # fixed points (review find; allclose's default rtol=1e-5 was
        # the hazard)
        if np.array_equal(new, cents):
            break
        cents = new
    return cents, base.withColumn("cell", _nearest_cells(vec_col, cents, 1)[0])


def _nearest_cells(vec_col, centroids, n: int, vec: Column | None = None) -> Column:
    """Array of the ``n`` centroid ids nearest (by dot product) to the
    vector — native expressions over an inlined centroid literal, so
    assignment runs JVM-side with no Python and no broadcast variable.
    ``vec`` overrides ``vec_col`` with an arbitrary column expression
    (pq_train assigns codes on embedding SLICES)."""
    v = vec if vec is not None else F.col(vec_col)
    scored = F.array(
        *[
            F.struct(
                dot(v, _arr_lit(c)).alias("s"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, n)
    return F.transform(top, lambda st: st["cell"])


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer: every vector is
    assigned to its nearest centroid cell (one equi-join key), each
    query probes its ``nprobe`` nearest cells, and exact cosine ranks
    within the probed cells only.

    Scale path vs :func:`brute_force_topk`: candidate set shrinks to
    ~nprobe/n_cells of the corpus and the join is an equi-join on
    ``cell`` — shuffle-partitionable, AQE-skew-handled, no cross join.
    """
    v = vectors.withColumn("cell", _nearest_cells(vec_col, centroids, 1)[0])
    q = queries.withColumn(
        "cell", F.explode(_nearest_cells(query_vec, centroids, nprobe))
    )
    pairs = v.join(q, "cell").dropDuplicates([query_id, id_col])
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        pairs.withColumn("score", cosine(F.col(vec_col), F.col(query_vec)))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "score", "rank")
    )


def srp_sign_matrix(
    n_planes: int, dim: int, seed: int = 20260814
) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix for sign-random-projection,
    from a seeded Mersenne twister (CPython guarantees ``Random(seed)``
    sequences are stable across versions). The matrix is config data:
    it inlines as literal arrays in BOTH engines' plans, which makes
    SRP codes oracle-replayable — the audit-path alternative to the
    in-expression ``xxhash64`` planes (same trade-off contract as
    ``functions/xhash.py``; a weak closed-form bit source is NOT
    usable here — correlated hyperplanes collapse the code space, a
    failure mode measured before this matrix was chosen)."""
    import random

    rng = random.Random(seed)
    return [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
        for _ in range(n_planes)
    ]


def random_hyperplane_lsh(
    vectors: DataFrame,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
    signs: list[list[float]] | None = None,
) -> DataFrame:
    """Sign-of-projection LSH bucket id per vector (cosine-preserving).

    Default mode: hyperplanes are deterministic pseudo-random unit-free
    vectors derived from ``xxhash64(seed, plane, coord)`` — generated
    inside the expression, so executors need no broadcast side data.
    With ``signs`` (a ±1 matrix from :func:`srp_sign_matrix`), the
    planes are literal arrays instead and the sign threshold moves to
    the 6-dp floor-scaled grid, so the codes replay bit-exactly in the
    DuckDB oracle (projections are in-order array folds — no
    cross-row float sum anywhere). Bucket = n_planes sign bits packed
    into a long; vectors in the same bucket are cosine-near with the
    usual SRP-LSH probability, and candidate pairs come from an
    equi-join on (bucket) instead of a cross join.
    """
    if dim is None:
        raise ValueError("dim (embedding dimensionality) is required")
    bits = []
    for p in range(n_planes):
        if signs is not None:
            proj = F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    _arr_lit(signs[p]),
                    lambda v, s: v * s,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bit_on = fs6(proj) >= 0
        else:
            # plane p, coordinate c → pseudo-random ±1 weight
            proj = F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda v, c: v
                    * F.when(
                        F.xxhash64(F.lit(seed), F.lit(p), c).bitwiseAND(1)
                        == 1,
                        1.0,
                    ).otherwise(-1.0),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bit_on = proj > 0
        bits.append(
            F.when(
                bit_on, F.shiftleft(F.lit(1).cast("long"), p)
            ).otherwise(F.lit(0).cast("long"))
        )
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket.bitwiseOR(b)
    return vectors.select(id_col, vec_col, bucket.alias("bucket"))


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    seed: int = 42,
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: SRP-LSH bucket equi-join, then exact cosine
    rank within the bucket. ``probes=1`` is multi-probe: each query
    also searches every 1-bit-flip neighbor bucket (n_planes+1 buckets
    total) — recall rises steeply for the cost of a wider (still
    equi-join) candidate set; 0 probes = exact-bucket only.
    """
    v = random_hyperplane_lsh(vectors, n_planes, id_col, vec_col, seed, dim)
    q = random_hyperplane_lsh(
        queries.select(F.col(query_id), F.col(query_vec).alias(vec_col)),
        n_planes, query_id, vec_col, seed, dim,
    ).select(query_id, F.col(vec_col).alias(query_vec), "bucket")
    if probes >= 1:
        neighbor_buckets = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p).cast("long"))
              for p in range(n_planes)],
        )
        q = q.withColumn("bucket", F.explode(neighbor_buckets))
    pairs = v.join(q, "bucket").dropDuplicates([query_id, id_col])
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        pairs.withColumn("score", cosine(F.col(vec_col), F.col(query_vec)))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "score", "rank")
    )


def semantic_dedup(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 4,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style embedding near-duplicate pruning at corpus scale.

    All-pairs cosine over a corpus is O(N²) and impossible at 100 TB;
    the published recipe (SemDeDup, arXiv:2303.09540) k-means-buckets
    the embeddings first and compares WITHIN clusters only, making the
    quadratic term O(Σ|cluster|²) — tunable via k. Composition here:

    1. :func:`distributed_kmeans` (deterministic init, so the whole op
       replays in DuckDB for the oracle) buckets every vector;
    2. a cell equi-join forms within-cluster candidate pairs — the only
       shuffle that grows with corpus size, and it carries no
       cross-cluster pairs;
    3. a vector is marked duplicate iff a SMALLER-id vector in its
       cluster has cosine ≥ ``threshold`` (rounded to 6 dp so the
       boundary is engine-stable) — min-id representatives survive,
       deterministically.

    Returns (id, cell, is_dup); callers keep ``~is_dup`` rows or join
    back to documents by id.
    """
    _cents, assigned = distributed_kmeans(vectors, k, iters, id_col, vec_col)
    # normalize ONCE per vector before the pair join: cosine per pair is
    # then a single dot fold instead of dot + two norm folds recomputed
    # for every pair the vector appears in (the norm column is a plain
    # attribute, so the divide lambda reads it per element for free)
    normed = (
        assigned.withColumn("_n", l2_norm(F.col(vec_col)))
        .withColumn(
            "_nv",
            F.transform(
                F.col(vec_col),
                lambda x: x / F.greatest(F.col("_n"), F.lit(1e-300)),
            ),
        )
    )
    a = normed.select(
        F.col(id_col).alias("id_a"), "cell", F.col("_nv").alias("va")
    )
    b = normed.select(
        F.col(id_col).alias("id_b"), "cell", F.col("_nv").alias("vb")
    )
    pairs = a.join(b, "cell").filter(F.col("id_a") < F.col("id_b"))
    sim = F.round(dot(F.col("va"), F.col("vb")), 6)
    dropped = (
        pairs.filter(sim >= threshold)
        .select(F.col("id_b").alias("_dup_id"))
        .distinct()
    )
    return assigned.join(
        dropped, assigned[id_col] == dropped._dup_id, "left"
    ).select(
        id_col, "cell", F.col("_dup_id").isNotNull().alias("is_dup")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|x|/127``,
    ``q_i = clamp(floor(x_i/scale + 0.5), ±127)`` (zero vectors get
    scale 1 and all-zero codes).

    The 100 TB lever for the ANN family: an int8 code array is 4× (vs
    float32) smaller in cache, shuffle and parquet, and cosine over
    codes needs NO dequantization — the scales cancel, so the scoring
    scan is pure integer arithmetic (see :func:`quantized_topk`).
    ``floor(x/s + 0.5)`` is used instead of ``round`` because its IEEE
    evaluation is bit-identical in every engine — the DuckDB oracle
    replays quantization exactly, and the integer code sums hash-match
    with no float tolerance at all.

    Everything is native expressions; the scale is let_-bound so the
    per-element lambda reads a computed value (not re-running the
    array_max per element — the O(d²) trap documented in hof.py).

    Returns the input plus ``qscale`` (double) and ``q``
    (array<tinyint>).
    """
    from gpi_etl_spark.functions.hof import let_

    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))

    def _quant(xv):
        amax = F.array_max(F.transform(xv, F.abs))
        # Guard on the COMPUTED scale, not amax: for subnormal amax
        # (< ~6.4e-322) amax/127.0 underflows to exactly 0.0 even though
        # amax > 0, and the per-element x/scale then raises
        # DIVIDE_BY_ZERO under ANSI mode — one denormal embedding in
        # 100 TB would kill the whole ANN job. The same expression is
        # mirrored in the q125 DuckDB oracle and the driver-side
        # quantizers so all paths stay bit-identical.
        scale = F.when(
            amax / F.lit(127.0) > 0, amax / F.lit(127.0)
        ).otherwise(F.lit(1.0))
        return let_(
            scale,
            lambda s: F.struct(
                s.alias("scale"),
                F.transform(
                    xv,
                    lambda v: F.greatest(
                        F.lit(-127).cast("bigint"),
                        F.least(
                            F.lit(127).cast("bigint"),
                            F.floor(v / s + F.lit(0.5)),
                        ),
                    ).cast("tinyint"),
                ).alias("q"),
            ),
        )

    return (
        df.withColumn("_qz", let_(x, _quant))
        .withColumn("qscale", F.col("_qz.scale"))
        .withColumn("q", F.col("_qz.q"))
        .drop("_qz")
    )


def int_dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ over integer code arrays — exact (no float accumulation),
    so the result is order-independent and oracle-gateable with zero
    tolerance. Codes are widened to long before the multiply (int8·int8
    can't overflow long at any realistic dimensionality)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantized_cosine(a: Column, b: Column) -> Column:
    """Cosine between two int8 code arrays. The per-vector scales
    cancel algebraically (cos(s_a·q_a, s_b·q_b) = cos(q_a, q_b)), so
    this never touches the scale columns: three exact integer folds and
    one sqrt. Zero-norm codes score 0."""
    num = int_dot(a, b).cast("double")
    den = F.sqrt((int_dot(a, a) * int_dot(b, b)).cast("double"))
    return F.when(den > 0, num / den).otherwise(F.lit(0.0))


def quantized_topk(
    vectors: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors — the memory-bound
    twin of :func:`brute_force_topk`: the scan touches only code arrays
    (4× smaller) and integer ALU ops, with the query quantized
    driver-side and inlined as a literal (no join, no broadcast
    variable). Compose with IVF/LSH bucketing for the sub-linear path.

    Returns ``(vec_id, qcos, rank)`` for the ``k`` best by quantized
    cosine (ties broken by id).
    """
    q = [float(v) for v in query_vec]
    amax = max((abs(v) for v in q), default=0.0)
    # Same computed-scale guard as quantize_embeddings: amax/127.0
    # underflows to 0.0 for subnormal amax, so test the quotient.
    s = amax / 127.0 if amax / 127.0 > 0 else 1.0
    import math

    codes = [
        int(max(-127, min(127, math.floor(v / s + 0.5)))) for v in q
    ]
    p = _arr_lit(codes, dtype="int32")
    qz = quantize_embeddings(vectors, id_col, vec_col)
    w = Window.orderBy(F.col("qcos").desc(), F.col(id_col).asc())
    return (
        qz.withColumn("qcos", quantized_cosine(F.col("q"), p))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "qcos", "rank")
    )


def centroid_outliers(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 4,
    frac: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Prototypicality pruning (the SSL-Prototypes / SemDeDup-paper
    companion recipe): k-means the corpus, score every vector by cosine
    to its own centroid, flag the ``frac`` LEAST prototypical members
    of each cluster as outliers — the "probably noise/off-distribution"
    slice a curation pipeline drops or routes to review.

    Scoring is a narrow projection against the inlined centroid matrix
    (no join — same trick as the k-means assignment step); ranking is
    one window per cluster. Similarities are rounded to 6 dp BEFORE
    ranking, with id tie-breaks, so the flagged set is deterministic
    and the DuckDB Lloyd-replay oracle reproduces it exactly.

    Returns the assignment frame plus ``sim_r`` (rounded cosine to own
    centroid) and ``is_outlier``.
    """
    from gpi_etl_spark.functions.hof import let_

    cents, assigned = distributed_kmeans(
        vectors, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    cent_arr = F.array(*[_arr_lit(c) for c in cents])
    nv = let_(
        F.col(vec_col),
        lambda v: let_(
            F.greatest(
                F.sqrt(
                    F.aggregate(
                        v, F.lit(0.0), lambda acc, x: acc + x * x
                    )
                ),
                F.lit(1e-12),
            ),
            lambda nrm: F.transform(v, lambda x: x / nrm),
        ),
    )
    sim = F.round(
        dot(nv, F.element_at(cent_arr, F.col("cell") + 1)), 6
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("sim_r").asc(), F.col(id_col).asc()
    )
    wc = Window.partitionBy("cell")
    return (
        assigned.withColumn("sim_r", sim)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_cnt", F.count(F.lit(1)).over(wc))
        .withColumn(
            "is_outlier",
            F.col("_rn") <= F.ceil(F.lit(float(frac)) * F.col("_cnt")),
        )
        .drop("_rn", "_cnt")
    )


def pq_train(
    vectors: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Product quantization (Jégou et al. '11): split the vector into
    ``m`` contiguous subspaces and Lloyd-train an independent codebook
    in each, so every vector compresses to ``m`` small codes — 64
    float32 dims become 4 bytes at m=4/k≤256, the compression that
    lets a 100 TB embedding corpus live in cluster memory as codes.
    Spherical variant: each codebook quantizes the subspace DIRECTION
    (centroids L2-normalized, assignment by max dot), inheriting
    :func:`distributed_kmeans`'s deterministic init and bounded driver
    state per subspace.

    The m trainings are FUSED into one distributed loop: assignment is
    a single projection computing all m codes against inlined
    literals, and the update is ONE shuffle of (subspace, cell, dim,
    partial-sum) — per iteration the corpus is scanned once and the
    wire carries m·k·(dim/m) = k·dim aggregates, the same bytes as one
    full-width k-means, instead of m sequential passes (measured 2.5×
    on q212's cold lane). Results are bit-identical to m independent
    :func:`distributed_kmeans` runs — same init rule, same per-cell
    float sums (exact: float32 inputs summed in double), same
    all-subspaces convergence fixed point — which is what the q212
    oracle's m independent CTE chains check, and
    test_pq_fused_equals_independent pins operator-level.

    Returns ``(codebooks, codes)``: a list of m (k_s × dim/m) centroid
    ndarrays, and a DataFrame ``(id, code0..code{m-1})``.
    """
    import numpy as np

    dim = vectors.select(F.size(vec_col).alias("d")).first()["d"]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    def sl(s):
        return F.slice(F.col(vec_col), s * sub + 1, sub)

    base = _kmeans_base(vectors, id_col, vec_col)

    # deterministic init, all subspaces in one job: k distinct
    # sub-vectors with the smallest ids per subspace, normalized
    subrows = base.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(s).alias("s"), sl(s).alias("sv"))
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select(id_col, F.col("e.s").alias("s"), F.col("e.sv").alias("sv"))
    wi = Window.partitionBy("s").orderBy("mid")
    init = (
        subrows.groupBy("s", "sv")
        .agg(F.min(id_col).alias("mid"))
        .withColumn("rn", F.row_number().over(wi))
        .filter(F.col("rn") <= k)
        .collect()
    )
    books = []
    for s in range(m):
        rows = sorted(
            (r for r in init if r["s"] == s), key=lambda r: r["mid"]
        )
        c = np.asarray([np.asarray(r["sv"], dtype=np.float64) for r in rows])
        c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
        books.append(c)

    for _ in range(iters):
        assigned = base
        for s in range(m):
            assigned = assigned.withColumn(
                f"_c{s}", _nearest_cells(None, books[s], 1, vec=sl(s))[0]
            )
        ex = assigned.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.col(f"_c{s}").alias("cell"),
                            sl(s).alias("sv"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("e")
        ).select(
            F.col("e.s").alias("s"),
            F.col("e.cell").alias("cell"),
            F.posexplode("e.sv").alias("pos", "x"),
        )
        sums = (
            ex.groupBy("s", "cell", "pos")
            .agg(F.sum("x").alias("su"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        stable = True
        new_books = []
        for s in range(m):
            agg: dict[int, dict[int, tuple]] = {}
            for r in sums:
                if r["s"] == s:
                    agg.setdefault(r["cell"], {})[r["pos"]] = (
                        r["su"], r["n"],
                    )
            new = books[s].copy()
            for c, dims in agg.items():
                new[c] = np.array(
                    [dims[p][0] / dims[p][1] for p in sorted(dims)]
                )
            new /= np.maximum(
                np.linalg.norm(new, axis=1, keepdims=True), 1e-12
            )
            if not np.array_equal(new, books[s]):
                stable = False
            new_books.append(new)
        books = new_books
        if stable:
            # bit-exact fixed points in EVERY subspace; extra
            # iterations provably change nothing (the oracle's unroll
            # argument) — a tolerance break would not have that proof
            break

    coded = base
    for s in range(m):
        coded = coded.withColumn(
            f"code{s}", _nearest_cells(None, books[s], 1, vec=sl(s))[0]
        )
    return books, coded.select(id_col, *[f"code{s}" for s in range(m)])


def ivfadc_topk(
    assigned: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    coarse_centroids,
    codebooks,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """IVFADC retrieval (the billion-scale FAISS architecture): the IVF
    coarse quantizer prunes candidates to the queries' ``nprobe``
    nearest cells (equi-join on the cell id — q176's shape, never
    Q×N), then candidates are scored in the COMPRESSED domain by
    asymmetric distance computation: per query, one ``m × k`` table of
    exact subspace dot products against the codebooks is precomputed
    as array literals, and each candidate's score is just ``m`` table
    lookups on its codes — no full vector is ever read at scoring
    time, which is the whole point (the scan is over 4-byte codes, not
    256-byte vectors). Inner-product ADC against the spherical
    codebooks; ranking ties break on the id, the repo's argmax
    discipline. ``assigned`` must carry (id, cell) from the coarse
    quantizer and ``codes`` the PQ codes from :func:`pq_train`.
    """
    m = len(codebooks)
    sub = codebooks[0].shape[1]
    q = queries.withColumn(
        "cell", F.explode(_nearest_cells(query_vec, coarse_centroids, nprobe))
    )
    for s in range(m):
        qsub = F.slice(F.col(query_vec), s * sub + 1, sub)
        q = q.withColumn(
            f"_adc{s}",
            F.array(
                *[dot(qsub, _arr_lit(c)) for c in codebooks[s]]
            ),
        )
    cand = assigned.join(codes, id_col).join(q, "cell").dropDuplicates(
        [query_id, id_col]
    )
    score = None
    for s in range(m):
        term = F.element_at(F.col(f"_adc{s}"), F.col(f"code{s}") + 1)
        score = term if score is None else score + term
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "score", "rank")
    )


def ivfadc_refine_topk(
    assigned: DataFrame,
    codes: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    coarse_centroids,
    codebooks,
    k: int = 5,
    shortlist: int = 20,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """IVFADC + refine: the ADC pass produces a ``shortlist``-deep
    candidate ranking per query, then ONLY those Q×shortlist rows are
    re-scored by exact full-vector cosine and cut to ``k``.

    This is the measured fix for the code-bound regime
    (docs/IVFADC_PROBE.md): at m=4 the 4-code ADC score saturates near
    0.84–0.88 recall and widening nprobe makes it WORSE (collision
    candidates outrank true neighbors), but the true neighbors are
    almost always IN the shortlist — one exact re-rank recovers them.
    Cost shape at 100 TB: the compressed scan still does all the
    winnowing (codes are the only thing read corpus-wide); the refine
    join touches ``Q × shortlist`` full vectors — bounded model-state
    scale, broadcast into the vector table — so the full-precision
    reads are proportional to the ANSWER size, not the corpus.
    """
    sl = ivfadc_topk(
        assigned, codes, queries, coarse_centroids, codebooks,
        k=shortlist, nprobe=nprobe, id_col=id_col,
        query_id=query_id, query_vec=query_vec,
    ).select(query_id, id_col)
    ref = (
        vectors.select(id_col, vec_col)
        .join(F.broadcast(sl), id_col)
        .join(F.broadcast(queries.select(query_id, query_vec)), query_id)
        .withColumn("score", cosine(F.col(vec_col), F.col(query_vec)))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        ref.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "score", "rank")
    )
