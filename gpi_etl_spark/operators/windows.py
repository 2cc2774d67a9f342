"""Window kit: forward-fill, run flags, sessionization, top-k.

Reference sites: carry-forward of geography names from the previous
spreadsheet row (HTGPIWASDE/__init__.py:593-594,807-808,924-925 → W4),
the ``Orden`` 1-if-new-run / 2-if-repeat flag via ``geoant`` state
(:595-599,926-933 → W5), ``ROW_NUMBER() OVER (ORDER BY mdist)`` +
``TOP 3`` pushed to SQL Server (HTIPPLSITE/__init__.py:105-121 → W1/W2),
and the contiguous-run compression of day→symbol maps
(HTGPIPROPHEDEX/__init__.py:174-194 — gaps-and-islands).

All are single-window, single-shuffle transforms; at 100 TB each one
shuffles exactly once on its partition keys (and not at all when the
data is already hash-partitioned on them).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gpi_etl_spark import runscope


def forward_fill(
    df: DataFrame,
    col: str,
    order_by: Sequence[str | Column],
    partition_by: Sequence[str] = (),
    out_col: str | None = None,
) -> DataFrame:
    """Last-non-null carry-forward (pandas ffill / W4).

    ``last(col, ignorenulls=True)`` over an unbounded-preceding frame.
    """
    w = Window.orderBy(*order_by).rowsBetween(Window.unboundedPreceding, 0)
    if partition_by:
        w = (
            Window.partitionBy(*partition_by)
            .orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    return df.withColumn(out_col or col, F.last(col, ignorenulls=True).over(w))


def run_change_flag(
    df: DataFrame,
    col: str,
    order_by: Sequence[str | Column],
    partition_by: Sequence[str] = (),
    out_col: str = "orden",
) -> DataFrame:
    """The reference's ``Orden``: 1 on the first row of a value run,
    2 when the value repeats the previous row's (W5).
    """
    w = Window.orderBy(*order_by)
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(*order_by)
    prev = F.lag(col).over(w)
    return df.withColumn(
        out_col,
        F.when(prev.isNotNull() & (prev == F.col(col)), F.lit(2)).otherwise(F.lit(1)),
    )


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "row_index",
) -> DataFrame:
    """W1+W2: ``row_number() ≤ k`` per group.

    Spark's physical plan for this is a single shuffle on the group
    keys + per-partition sort with a rank-limit pushdown
    (WindowGroupLimit in Spark ≥3.5) — it never materializes the full
    sorted group.
    """
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(*order_by)
    else:
        w = Window.orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
    session_col: str = "session_id",
) -> DataFrame:
    """Gaps-and-islands sessionization (F-DT11 generalized).

    ``lag`` change-detection + running sum of gap-breaks: one window,
    one shuffle on the user key. The streaming twin is
    ``session_window`` (streaming/windows.py).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    prev_ts = F.lag(ts_col).over(w)
    gap = F.col(ts_col).cast("long") - prev_ts.cast("long")
    is_new = F.when(prev_ts.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn(
        session_col,
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )


def compress_runs(
    df: DataFrame,
    value_col: str,
    order_col: str,
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Contiguous-run compression: (order, value) → (start, end, value).

    Reference: ``get_expiration_symbols_ranges`` collapses a day→symbol
    walk into query ranges (HTGPIPROPHEDEX/__init__.py:174-194). Classic
    gaps-and-islands: run-id = running count of value changes, then
    min/max per run.
    """
    w = (
        Window.partitionBy(*partition_by).orderBy(order_col)
        if partition_by
        else Window.orderBy(order_col)
    )
    # null-safe change detection: <=> keeps contiguous NULL values in
    # one run and still starts a run on the true partition-first row
    changed = F.when(
        F.row_number().over(w) == 1, 1
    ).otherwise(
        (~F.lag(value_col).over(w).eqNullSafe(F.col(value_col))).cast("int")
    )
    with_run = df.withColumn(
        "_run",
        F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    keys = [*partition_by, "_run", value_col]
    return (
        with_run.groupBy(*keys)
        .agg(F.min(order_col).alias("run_start"), F.max(order_col).alias("run_end"))
        .drop("_run")
    )


def linear_interpolate(
    df: DataFrame,
    order_col: str,
    value_col: str,
    partition_by: tuple[str, ...] = (),
    out_col: str | None = None,
) -> DataFrame:
    """Fill NULL gaps in a numeric series by linear interpolation
    between the nearest non-null neighbors along ``order_col`` —
    the standard sensor/market-data gap repair the reference's
    forward-fill (W4) can't express when flat-filling distorts the
    series. Leading/trailing gaps (no neighbor on one side) stay NULL
    — interpolation never extrapolates.

    Two windows per partition: a backward pass carrying the last
    non-null (value, order) and a forward pass carrying the next —
    each one shuffle-free ON TOP of the single partition sort, all
    JVM-side expressions. ``order_col`` must be numeric (the weight is
    an order-distance ratio). Shuffle ∝ rows, once, on the partition
    key — a 100 TB fact table interpolates in one pass per partition
    column set.
    """
    out = out_col or value_col
    wb = (
        Window.partitionBy(*partition_by)
        if partition_by
        else Window.partitionBy()
    )
    prev_w = wb.orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    next_w = wb.orderBy(order_col).rowsBetween(
        0, Window.unboundedFollowing
    )
    v = F.col(value_col)
    o = F.col(order_col).cast("double")
    prev_v = F.last(v, ignorenulls=True).over(prev_w)
    prev_o = F.last(
        F.when(v.isNotNull(), o), ignorenulls=True
    ).over(prev_w)
    next_v = F.first(v, ignorenulls=True).over(next_w)
    next_o = F.first(
        F.when(v.isNotNull(), o), ignorenulls=True
    ).over(next_w)
    filled = (
        F.when(v.isNotNull(), v.cast("double"))
        .when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v.cast("double")
            + (next_v.cast("double") - prev_v.cast("double"))
            * (o - prev_o)
            / (next_o - prev_o),
        )
        .otherwise(F.lit(None).cast("double"))
    )
    return df.withColumn(out, filled)


def ewma_final(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    alpha: float = 0.25,
) -> DataFrame:
    """Per-key exponentially weighted moving average (FINAL smoothed
    value): ``acc_1 = x_1; acc_t = α·x_t + (1−α)·acc_{t−1}`` over the
    key's rows ordered by ``order_cols``.

    EWMA is inherently recursive, so it is computed as ONE left fold
    per key: ``array_sort(collect_list(struct(order, value)))`` then a
    native ``aggregate`` — a single groupBy shuffle, zero Python. This
    is the BOUNDED-SERIES form (per-key history must fit an array —
    fine for per-entity telemetry, sensor, price series); unbounded
    streams belong to ``streaming/stateful.py``'s
    applyInPandasWithState pattern, and the numerically tempting
    two-cumulative-sum closed form (pow((1−α), −i) weights) overflows
    for long series, which is why it is NOT used here.

    Returns one row per key: ``(*key_cols, n_points, ewma)``.
    Determinism: the fold order is (order_cols, value) ascending and
    the blend runs left-to-right, so engines replaying the same fold
    (DuckDB ``list_reduce`` over ``list(value ORDER BY …)``) produce
    bit-identical doubles.
    """
    from gpi_etl_spark.functions.hof import let_

    a = float(alpha)
    one_minus = 1.0 - a  # emitted as an exact double literal both sides
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                *[F.col(c) for c in order_cols],
                F.col(value_col).cast("double").alias("_x"),
            )
        )
    )
    fold = let_(
        ordered,
        lambda arr: F.aggregate(
            F.slice(arr, 2, 1 << 30),
            F.element_at(arr, 1)["_x"],
            lambda acc, s: F.lit(a) * s["_x"] + F.lit(one_minus) * acc,
        ),
    )
    return df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_points"),
        fold.alias("ewma"),
    )


def global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed global row-number — WITHOUT the partition-less
    window that funnels the whole table through one task.

    The scalable recipe: range-partition on the sort keys (partition i
    holds keys ≤ partition i+1's), rank LOCALLY per partition, then
    add each partition's global offset — computed from one collected
    count per partition (bounded driver state: ``num_partitions``
    longs, the same class as k-means centroids).

    ``order_cols`` must define a TOTAL order (append a unique id as
    the last key): ties would otherwise resolve by physical row order
    and the rank would not be reproducible.

    The range exchange samples the data to pick boundaries with a
    non-reproducible seed, so the partitioned frame is eagerly
    ``localCheckpoint``-ed before the count action — both the offset
    computation and the final rank then read the SAME materialized
    partitioning (re-execution could legally draw different bounds).

    Returns the input plus ``rank_col`` (1-based bigint).
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    part, _ = runscope.checkpoint(
        df.repartitionByRange(n, *cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    counts = sorted(
        (r["_pid"], r["n"])
        for r in part.groupBy("_pid").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    )
    offsets, acc = [], 0
    for pid, c in counts:
        offsets.append((pid, acc))
        acc += c
    spark = df.sparkSession
    off = spark.createDataFrame(offsets, "_pid int, _off long")
    local = Window.partitionBy("_pid").orderBy(*cols)
    return (
        part.join(F.broadcast(off), "_pid")
        .withColumn(
            rank_col,
            (F.row_number().over(local) + F.col("_off")).cast("bigint"),
        )
        .drop("_pid", "_off")
    )


_DAY_US = 86_400_000_000


def interval_concurrency(
    df: DataFrame,
    start_col: str = "s_us",
    end_col: str = "e_us",
) -> DataFrame:
    """Per-day peak concurrency of half-open intervals ``[start, end)``
    (microsecond int64 timestamps) — the sweep-line "max concurrent
    sessions" readout, computed WITHOUT a global ordering.

    Each interval is exploded into the UTC days it intersects and
    clipped to the day's bounds, so the sweep (running sum of +1 at
    each clipped start, -1 at each clipped end) runs inside a
    ``PARTITION BY day`` window — per-day state, never a partition-less
    sort. At cluster scale the shuffle key is the day: a year of data
    sweeps as 365 independent partitions regardless of row count (a
    skewed single day is the irreducible sequential unit of this
    semantics). At equal timestamps the ``-1`` sorts first, so touching
    intervals (one ends exactly when another starts) never count as
    concurrent — the half-open contract; the per-day MAX is invariant
    to the remaining tie permutations (within a tie group the running
    sum only descends through ``-1``\\ s and ascends through ``+1``\\ s,
    so the group's peak is ``max(entry, exit)`` for every permutation).

    Returns one row per day: ``day_idx`` (days since epoch),
    ``n_intervals`` (intervals intersecting the day), and
    ``max_concurrency``. All arithmetic is int64 — exact in any engine.
    """
    s, e = F.col(start_col), F.col(end_col)
    day = F.explode(
        F.sequence(
            F.expr(f"{start_col} div {_DAY_US}"),
            F.expr(f"({end_col} - 1) div {_DAY_US}"),
        )
    ).alias("day_idx")
    clipped = (
        df.filter(e > s)
        .select(s.alias("_s"), e.alias("_e"), day)
        .select(
            "day_idx",
            F.greatest(F.col("_s"), F.col("day_idx") * _DAY_US).alias("cs"),
            F.least(
                F.col("_e"), (F.col("day_idx") + 1) * _DAY_US
            ).alias("ce"),
        )
    )
    bounds = clipped.select(
        "day_idx",
        F.explode(
            F.array(
                F.struct(
                    F.col("cs").alias("t"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col("ce").alias("t"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("b"),
    ).select("day_idx", F.col("b.t").alias("t"), F.col("b.delta").alias("delta"))
    w = (
        Window.partitionBy("day_idx")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = bounds.withColumn("conc", F.sum("delta").over(w))
    return swept.groupBy("day_idx").agg(
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_intervals"),
        F.max("conc").cast("long").alias("max_concurrency"),
    )
