"""Streaming sinks: foreachBatch folds into a maintained parquet state table.

Structured Streaming's built-in file sink is append-only; the
reference's pipelines need state that each micro-batch updates in
place — upsert semantics on the high-watermark tables (the J1
watermark pattern, SURVEY §2.3) and sketch or aggregate tables kept
current as data streams through. ``foreachBatch`` is the bridge: each
micro-batch arrives as a batch DataFrame, and every sink here folds it
into its table through one protocol (:func:`_fold`):

1. **recover** — heal a swap that a crash interrupted;
2. **read state** — the live table, or none on the first fold;
3. **stamp guard** — a state built with another geometry (k, hash
   family, width/depth, digits) raises before anything merges;
4. **replay skip** — sinks whose merge is not idempotent (CMS, AMS,
   agg view, rq) keep an applied-batch ledger inside the table and
   skip a ``batch_id`` they already folded, which makes an
   at-least-once replay exactly-once;
5. **merge** — the sink's own algebra;
6. **staged swap** — the merged table is written to ``<path>__staging``
   and renamed live (:func:`_swap_in`).

Only this module knows the ``__staging``/``__old`` swap dirs;
:func:`reset` deletes a table together with them. Every ``stream_*``
attacher runs its fold on each micro-batch with an ``availableNow``
trigger (:func:`_attach`) and returns the started StreamingQuery.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gpi_etl_spark.sources.local import local_frame


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path class, Path) for ``path``'s scheme — the
    Hadoop FS API sees whatever store the executors see (s3a://, hdfs://,
    file:), unlike driver-local ``os.path``."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path, jpath


def _swap_dirs(Path, base: str):
    """The (staging, retired) dirs of the table at ``base``."""
    return Path(base + "__staging"), Path(base + "__old")


def reset(spark: SparkSession, path: str) -> None:
    """Delete the table at ``path`` and its swap dirs, so the next fold
    starts from empty state. A checkpoint dir, which has no swap dirs,
    is deleted the same way."""
    base = path.rstrip("/")
    fs, Path, live = _hadoop_fs(spark, base)
    for d in (live, *_swap_dirs(Path, base)):
        fs.delete(d, True)


def _is_committed(fs, Path, d) -> bool:
    """A staging dir is promotable only when its write committed (the
    parquet job's ``_SUCCESS`` marker is present)."""
    return bool(fs.exists(d)) and bool(
        fs.exists(Path(d.toString() + "/_SUCCESS"))
    )


def _recover(fs, Path, live, staged, old) -> None:
    """Heal a crash that happened mid-swap: if the live dir is missing,
    promote a committed staging dir (it holds the complete merged
    table), else restore the retired previous table."""
    if fs.exists(live):
        return
    if _is_committed(fs, Path, staged):
        fs.rename(staged, live)
    elif fs.exists(old):
        fs.rename(old, live)


def _retire_live(fs, live, old) -> None:
    if not fs.rename(live, old):
        raise IOError(f"could not retire live table {live} -> {old}")


def _promote_staged(fs, staged, live) -> None:
    if not fs.rename(staged, live):
        raise IOError(f"could not promote staged table {staged} -> {live}")


def _swap_in(df: DataFrame, fs, live, staged, old, base: str) -> None:
    """Materialize ``df`` to the staging dir, then swap it live:
    retire live → promote staged → roll back on failure → clean up
    the retired copy. Callers run ``_recover`` first.

    The merge plan reads the live table, so it cannot overwrite it in
    one pass. Dir rename is atomic on local/HDFS filesystems; on
    S3-like object stores rename is copy+delete — use a lakehouse
    format's transactional ``MERGE INTO`` there instead."""
    df.write.mode("overwrite").parquet(base + "__staging")
    if fs.exists(old):
        fs.delete(old, True)
    had_live = fs.exists(live)
    if had_live:
        _retire_live(fs, live, old)
    try:
        _promote_staged(fs, staged, live)
    except BaseException:
        if had_live:
            fs.rename(old, live)  # put the previous table back
        raise
    fs.delete(old, True)


def _check_k(rows: DataFrame, k: int, path: str) -> None:
    """Raise unless the state ``rows`` were built with ``k`` registers.
    A build emits all registers ``i = 0..k-1`` of every group, so the
    state's k is ``max(i) + 1``; a merge across two k values would mix
    inconsistent register sets silently."""
    mi = rows.agg(F.max("i")).first()[0]
    if mi is not None and mi + 1 != k:
        raise ValueError(
            f"live state at {path} was built with k={mi + 1} but the "
            f"caller supplied k={k}; merging across k mixes inconsistent "
            "register sets. Use the state's k or rebuild the state."
        )


def _check_stamp(
    state: DataFrame, col: str, want, what: str, path: str
) -> None:
    """Raise unless the state's ``col`` stamp (one value on every row)
    equals ``want``: a state built with another ``what`` cannot be
    merged with this caller's batches."""
    if col not in state.columns:
        raise ValueError(
            f"live state at {path} predates the {col} stamp; rebuild the "
            "streamed state once (drop the table and its checkpoint)."
        )
    got = state.select(col).first()
    if got is not None and got[0] != want:
        raise ValueError(
            f"live state at {path} has {what} {got[0]} but the caller "
            f"supplied {what} {want}; folding across them corrupts the "
            f"state. Use the state's {what} or rebuild the state."
        )


def _fold(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    merge: Callable[[DataFrame], DataFrame],
    *,
    k: int | None = None,
    stamp: tuple[str, object, str] | None = None,
    ledger: tuple[Column, str, dict] | None = None,
) -> None:
    """Fold one batch into the state table at ``path``: recover →
    read state → stamp guard → replay skip → merge → staged swap.

    ``delta`` is the batch in the state's schema and becomes the table
    when no live state exists; otherwise ``merge(state)`` returns the
    new table from the live state's payload rows. Only a genuinely
    missing table (probed through the Hadoop FS) takes the first-fold
    branch, so a failing read or merge raises instead of overwriting
    history with one batch.

    Guards run on the live state before anything else reads it:
    ``k`` checks the register count (:func:`_check_k`, payload rows
    only); ``stamp = (col, want, what)`` checks a stamp column
    (:func:`_check_stamp`).

    ``ledger = (is_entry, id_col, entry)`` keeps an applied-batch
    ledger inside the table: ``is_entry`` is true on ledger rows, which
    carry a folded batch id in ``id_col``, and ``entry`` maps columns to
    this batch's ledger row (absent columns are NULL). A batch whose id
    is already ledgered is skipped; otherwise the merged payload, the
    old ledger rows and the new entry are swapped in together, so no
    crash point commits a fold without its ledger entry."""
    base = path.rstrip("/")
    fs, Path, live = _hadoop_fs(spark, base)
    staged, old = _swap_dirs(Path, base)
    _recover(fs, Path, live, staged, old)
    is_entry, id_col, entry = ledger or (None, None, None)
    if not fs.exists(live):
        merged = delta
    else:
        state = spark.read.parquet(path)
        payload = state if ledger is None else state.filter(~is_entry)
        if k is not None:
            _check_k(payload, k, path)
        if stamp is not None:
            _check_stamp(state, *stamp, path)
        if ledger is not None and state.filter(
            is_entry & (F.col(id_col) == entry[id_col])
        ).limit(1).count():
            return  # replayed batch: already folded
        merged = merge(payload)
        if ledger is not None:
            merged = merged.unionByName(state.filter(is_entry))
    if ledger is not None:
        schema = T.StructType(
            [T.StructField(f.name, f.dataType) for f in delta.schema]
        )
        row = [[entry.get(c) for c in schema.names]]
        merged = merged.unionByName(local_frame(spark, row, schema))
    _swap_in(merged, fs, live, staged, old, base)


def _attach(
    stream: DataFrame,
    checkpoint: str,
    fold: Callable[[SparkSession, DataFrame, int], None],
):
    """Run ``fold(spark, batch, batch_id)`` on every micro-batch of
    ``stream`` until the available input is consumed. Returns the
    StreamingQuery (caller awaits/stops it)."""
    spark = stream.sparkSession
    return (
        stream.writeStream.foreachBatch(
            lambda batch, batch_id: fold(spark, batch, batch_id)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def upsert_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: Sequence[str],
    ts_col: str,
) -> None:
    """Merge one batch into the parquet table at ``path``: per key keep
    the row with the highest ``ts_col`` (incoming wins ties), through
    the staged swap and crash recovery of :func:`_fold`. A failing
    read or merge raises rather than overwriting history with one
    batch."""
    from gpi_etl_spark.operators.watermark import upsert_by_key

    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).desc())
    first = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    _fold(
        spark, path, first,
        lambda state: upsert_by_key(state, batch, keys, ts_col),
    )


def stream_upsert(
    stream: DataFrame,
    path: str,
    keys: Sequence[str],
    ts_col: str,
    checkpoint: str,
):
    """Attach the upsert sink to a streaming DataFrame."""
    return _attach(
        stream, checkpoint,
        lambda spark, b, _id: upsert_batch(spark, b, path, keys, ts_col),
    )


def kmv_fold_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    item_col: str,
    group_cols: tuple[str, ...] = (),
    k: int = 64,
    hash_mode: str = "xxhash64",
) -> None:
    """Fold one micro-batch into the maintained KMV register table at
    ``path``: build the batch's registers (operators/sketches.py
    kmv_build) and merge register-wise (kmv_merge — min).

    IDEMPOTENT BY ALGEBRA, so no ledger: min is commutative,
    associative and idempotent, so an at-least-once replay of any
    batch, and any delivery split of the source, folds to the
    identical register table. The state is ``|groups|·k`` rows however
    much data streams through. The ``fam`` derivation tag rides the
    state table, so a family change fails at the first merge; the
    caller's ``k`` is checked against the state's k before merging."""
    from gpi_etl_spark.operators.sketches import kmv_build, kmv_merge

    delta = kmv_build(
        batch, item_col, group_cols=group_cols, k=k, hash_mode=hash_mode
    )
    _fold(spark, path, delta, lambda state: kmv_merge(state, delta), k=k)


def stream_kmv(
    stream: DataFrame,
    path: str,
    item_col: str,
    checkpoint: str,
    group_cols: tuple[str, ...] = (),
    k: int = 64,
    hash_mode: str = "xxhash64",
):
    """Attach the KMV register-fold sink to a streaming DataFrame —
    a distinct-count sketch maintained as micro-batch state."""
    return _attach(
        stream, checkpoint,
        lambda spark, b, _id: kmv_fold_batch(
            spark, b, path, item_col,
            group_cols=group_cols, k=k, hash_mode=hash_mode,
        ),
    )


#: sentinel row index marking applied-batch-id ledger rows inside a
#: streamed CMS state table (real counter rows always have row >= 0)
CMS_LEDGER_ROW = -1


def cms_state(spark: SparkSession, path: str) -> DataFrame:
    """The COUNTER rows of a streamed CMS state table (strips the
    applied-batch ledger rows cms_fold_batch embeds). Feed this to
    cms_estimate / cms_join_size."""
    t = spark.read.parquet(path)
    return t.filter(F.col("row") != CMS_LEDGER_ROW)


def cms_fold_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    path: str,
    item_col: str,
    width: int = 512,
    depth: int = 4,
    hash_mode: str = "xxhash64",
) -> None:
    """Fold one micro-batch into a maintained CMS counter table.
    Counter addition is not idempotent, so the fold keeps an
    applied-batch ledger: Structured Streaming replays a failed batch
    under the SAME ``batch_id``, and a ledgered id is skipped before
    anything merges, which makes the fold exactly-once.

    Ledger rows are ``(row = CMS_LEDGER_ROW, col = batch_id, c = 1,
    geo)`` inside the state table. Every row carries the ``geo``
    geometry stamp (sketches.cms_geo), and a live state with another
    width, depth or hash_mode raises before counters from two bucket
    spaces add. Read counters back through :func:`cms_state`; the state
    stays ``depth × width + n_batches`` rows."""
    from gpi_etl_spark.operators.sketches import cms_build, cms_geo, cms_merge

    geo = cms_geo(width, depth, hash_mode)
    delta = cms_build(
        batch, item_col, width=width, depth=depth, hash_mode=hash_mode
    )
    entry = {"row": CMS_LEDGER_ROW, "col": int(batch_id), "c": 1, "geo": geo}
    _fold(
        spark, path, delta, lambda counters: cms_merge(counters, delta),
        stamp=("geo", geo, "geometry"),
        ledger=(F.col("row") == CMS_LEDGER_ROW, "col", entry),
    )


def stream_cms(
    stream: DataFrame,
    path: str,
    item_col: str,
    checkpoint: str,
    width: int = 512,
    depth: int = 4,
    hash_mode: str = "xxhash64",
):
    """Attach the ledgered CMS counter-fold sink to a streaming
    DataFrame — a frequency sketch maintained as exactly-once
    micro-batch state."""
    return _attach(
        stream, checkpoint,
        lambda spark, b, batch_id: cms_fold_batch(
            spark, b, batch_id, path, item_col,
            width=width, depth=depth, hash_mode=hash_mode,
        ),
    )


#: sentinel register index marking applied-batch-id ledger rows inside
#: a streamed AMS state table (real components always have i >= 0)
AMS_LEDGER_I = -1


def ams_state(spark: SparkSession, path: str) -> DataFrame:
    """The COMPONENT rows of a streamed AMS state table (strips the
    applied-batch ledger rows ams_fold_batch embeds). Feed this to
    sketches.ams_f2 / ams_merge."""
    t = spark.read.parquet(path)
    return t.filter(F.col("i") != AMS_LEDGER_I)


def ams_fold_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    path: str,
    item_col: str,
    k: int = 64,
    hash_mode: str = "xxhash64",
) -> None:
    """Fold one micro-batch into a maintained AMS component table —
    the streaming F₂/self-join-size monitor: the sketch is linear, so
    each batch's signed counters ADD into the state for the cost of k
    int64s. Addition is not idempotent, so the fold keeps the
    applied-batch ledger of :func:`cms_fold_batch`: ledger rows are
    ``(i = AMS_LEDGER_I, x = batch_id, fam)``, and a ledgered batch id
    is skipped. Read components back through :func:`ams_state`.

    The state's k (max component index + 1) and its ``fam`` tag are
    both checked against the caller before merging: k or family drift
    across a checkpoint raises instead of mixing sign-hash spaces."""
    from gpi_etl_spark.operators.sketches import (
        AMS_FAMILIES,
        ams_build,
        ams_fam,
        ams_merge,
    )

    if hash_mode not in AMS_FAMILIES:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    fam = ams_fam(hash_mode, k)
    delta = ams_build(batch, item_col, k=k, hash_mode=hash_mode)
    entry = {"i": AMS_LEDGER_I, "x": int(batch_id), "fam": fam}
    _fold(
        spark, path, delta, lambda comps: ams_merge(comps, delta),
        k=k,
        stamp=("fam", fam, "family"),
        ledger=(F.col("i") == AMS_LEDGER_I, "x", entry),
    )


def stream_ams(
    stream: DataFrame,
    path: str,
    item_col: str,
    checkpoint: str,
    k: int = 64,
    hash_mode: str = "xxhash64",
):
    """Attach the ledgered AMS component-fold sink to a streaming
    DataFrame — a self-join-size / skew sketch maintained as
    exactly-once micro-batch state."""
    return _attach(
        stream, checkpoint,
        lambda spark, b, batch_id: ams_fold_batch(
            spark, b, batch_id, path, item_col, k=k, hash_mode=hash_mode,
        ),
    )


def agg_state(spark: SparkSession, path: str) -> DataFrame:
    """The AGGREGATE rows of a streamed agg-view state table
    ``(g, s, c)`` — strips the applied-batch ledger rows
    agg_fold_batch embeds (``is_ledger`` column dropped)."""
    t = spark.read.parquet(path)
    return t.filter(~F.col("is_ledger")).select("g", "s", "c")


def agg_fold_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    path: str,
    group_col: str,
    value_col: str,
) -> None:
    """Fold one micro-batch into an EXACT incremental materialized
    aggregate — per-group ``sum(value)`` + ``count`` maintained as
    micro-batch state, bounded at |groups| + n_batches rows. Sums are
    not idempotent, so the fold keeps the applied-batch ledger of
    :func:`cms_fold_batch`. Ledger rows ride as ``is_ledger = true``
    with the batch id in ``c`` — a flag column, NOT a sentinel group
    value, because ANY group value (including NULL) is legitimate
    aggregate state here.

    ``value_col`` must be an exact integer column (cents, micro-units;
    floats would make the maintained view order-dependent) and
    NON-NULL: a NULL value raises at execution, since sum() skipping
    it while count() counts the row would corrupt the view's mean.
    Σ|value| must stay inside int64 across the stream's lifetime — the
    ANSI sum overflow raises rather than wrapping. Read back through
    :func:`agg_state`."""
    vg = F.when(
        F.col(value_col).isNotNull(), F.col(value_col).cast("bigint")
    ).otherwise(
        F.raise_error(
            F.lit(
                "agg_fold_batch: NULL value in the aggregate stream — "
                "sum() would skip it while count() counts the row, "
                "silently corrupting the maintained view. Filter or "
                "impute upstream."
            )
        )
    )
    delta = batch.groupBy(
        F.col(group_col).cast("string").alias("g")
    ).agg(
        F.sum(vg).cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    ).select(
        "g", "s", "c", F.lit(False).alias("is_ledger")
    )

    def merge(aggs: DataFrame) -> DataFrame:
        return (
            aggs.unionByName(delta)
            .groupBy("g")
            .agg(
                F.sum("s").cast("bigint").alias("s"),
                F.sum("c").cast("bigint").alias("c"),
            )
            .select("g", "s", "c", F.lit(False).alias("is_ledger"))
        )

    _fold(
        spark, path, delta, merge,
        ledger=(
            F.col("is_ledger"), "c", {"c": int(batch_id), "is_ledger": True}
        ),
    )


def stream_agg_view(
    stream: DataFrame,
    path: str,
    group_col: str,
    value_col: str,
    checkpoint: str,
):
    """Attach the exact incremental-aggregate sink to a streaming
    DataFrame — a per-group sum/count materialized view maintained
    exactly-once."""
    return _attach(
        stream, checkpoint,
        lambda spark, b, batch_id: agg_fold_batch(
            spark, b, batch_id, path, group_col, value_col
        ),
    )


def sample_fam(k: int, hash_mode: str) -> str:
    """The geometry stamp a streamed bottom-k sample state table
    carries: priorities depend on the hash family, and the
    retained-set size IS the state's geometry — folding a k=16 delta
    into a k=64 state, or xxhash64 priorities into poly state,
    silently corrupts the sample. Bump the ``samp1`` segment on any
    future priority-derivation change."""
    return f"samp1-{hash_mode}-k{k}"


def sample_state(spark: SparkSession, path: str) -> DataFrame:
    """The sampled key rows of a streamed bottom-k sample —
    ``(*group_cols, key_col, pri)``, the fam stamp stripped. Semi-join
    any table sharing the key to materialize its sample (the
    coordination property holds against BATCH samples of the same
    hash_mode — one key universe, one priority)."""
    return spark.read.parquet(path).drop("fam")


def sample_fold_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key_col: str,
    k: int,
    group_cols: tuple[str, ...] = (),
    hash_mode: str = "xxhash64",
) -> None:
    """Fold one micro-batch into a maintained coordinated bottom-k
    KEY sample (operators/sampling.py::sample_keys_bottomk as
    streamed state) at ``k·|groups|`` state rows however much data
    flows. IDEMPOTENT BY ALGEBRA, so no ledger: the sample is a pure
    function of the SET of keys seen — bottom-k of a union, with each
    key's priority recomputed from the key itself — so an
    at-least-once replay or any delivery split folds to the identical
    state. The batch reduces to its own bottom-k first (≤ k·|groups|
    rows enter the merge), then the union with live state re-reduces.

    The ``fam`` stamp (:func:`sample_fam`) guards both drift axes: a
    checkpoint straddling a k or hash_mode change raises at the first
    fold. The weighted sampler (sampling.priority_sample) has NO
    streamed twin: accumulating key weights re-order priorities, so
    its sample is not maintainable from bounded state."""
    from gpi_etl_spark.operators.sampling import sample_keys_bottomk

    fam = sample_fam(k, hash_mode)

    def bottomk(df: DataFrame) -> DataFrame:
        return sample_keys_bottomk(
            df, key_col, k, group_cols, hash_mode
        ).withColumn("fam", F.lit(fam))

    delta = bottomk(batch)
    _fold(
        spark, path, delta,
        lambda state: bottomk(
            state.drop("fam", "pri").unionByName(delta.drop("fam", "pri"))
        ),
        stamp=("fam", fam, "geometry"),
    )


def stream_key_sample(
    stream: DataFrame,
    path: str,
    key_col: str,
    checkpoint: str,
    k: int = 64,
    group_cols: tuple[str, ...] = (),
    hash_mode: str = "xxhash64",
):
    """Attach the bottom-k sample-fold sink to a streaming DataFrame —
    a coordinated key sample maintained as micro-batch state."""
    return _attach(
        stream, checkpoint,
        lambda spark, b, _id: sample_fold_batch(
            spark, b, path, key_col, k,
            group_cols=group_cols, hash_mode=hash_mode,
        ),
    )


#: sentinel sign marking applied-batch-id ledger rows inside a
#: streamed rq bucket state table (real signs are -1 / 0 / 1)
RQ_LEDGER_SIGN = 2


def rq_state(spark: SparkSession, path: str) -> DataFrame:
    """The BUCKET rows of a streamed rq state table (strips the
    applied-batch ledger rows rq_fold_batch embeds). Feed this to
    sketches.rq_quantiles / rq_rollup / rq_range_estimate."""
    t = spark.read.parquet(path)
    return t.filter(F.col("sign") != RQ_LEDGER_SIGN)


def rq_fold_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    path: str,
    cents_col: str,
    digits: int = 3,
) -> None:
    """Fold one micro-batch into a maintained rq bucket table — the
    streaming QUANTILE monitor: histograms are linear, so each batch's
    bucket counts ADD into the state (rq_merge's law), and a pipeline
    watches a value column's full distribution (any quantile, any
    range selectivity via rq_range_estimate) for a few thousand int64s
    of state. Addition is not idempotent, so the fold keeps the
    applied-batch ledger of :func:`cms_fold_batch`: ledger rows are
    ``(sign = RQ_LEDGER_SIGN, p = 0, lead = batch_id, cnt = 1,
    dig = digits)``, and a ledgered batch id is skipped. Read buckets
    back through :func:`rq_state`.

    ``dig`` rides in every row, and a live state whose digits disagree
    with the caller raises: two digit generations rarely share bucket
    keys, so their mix would pass rq_merge silently and corrupt every
    quantile walk."""
    from gpi_etl_spark.operators.sketches import rq_build, rq_merge

    delta = rq_build(batch, cents_col, (), digits)
    entry = {
        "sign": RQ_LEDGER_SIGN, "p": 0, "lead": int(batch_id), "cnt": 1,
        "dig": int(digits),
    }
    _fold(
        spark, path, delta, lambda buckets: rq_merge(buckets, delta),
        stamp=("dig", int(digits), "digits"),
        ledger=(F.col("sign") == RQ_LEDGER_SIGN, "lead", entry),
    )


def stream_rq(
    stream: DataFrame,
    path: str,
    cents_col: str,
    checkpoint: str,
    digits: int = 3,
):
    """Attach the ledgered rq bucket-fold sink to a streaming
    DataFrame — a quantile/selectivity sketch maintained as
    exactly-once micro-batch state."""
    return _attach(
        stream, checkpoint,
        lambda spark, b, batch_id: rq_fold_batch(
            spark, b, batch_id, path, cents_col, digits=digits
        ),
    )
