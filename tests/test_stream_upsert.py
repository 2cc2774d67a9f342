"""foreachBatch upsert sink: last write per key must win across batches."""

import datetime as dt
import shutil
import tempfile

import pytest

from gpi_etl_spark.streaming.sinks import stream_upsert, upsert_batch


@pytest.fixture()
def dirs():
    made = [tempfile.mkdtemp() for _ in range(3)]
    yield made
    for d in made:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(d + "__staging", ignore_errors=True)


SCHEMA = "sym string, ts timestamp, close double"
T0 = dt.datetime(2024, 1, 1)


def test_upsert_batch_last_write_wins(spark, dirs):
    src, sink, _ = dirs
    b1 = spark.createDataFrame(
        [("CU", T0, 100.0), ("SB", T0, 20.0)], SCHEMA
    )
    upsert_batch(spark, b1, sink + "/t", ["sym"], "ts")
    b2 = spark.createDataFrame(
        [("CU", T0 + dt.timedelta(days=1), 101.0),  # newer → replaces
         ("SB", T0 - dt.timedelta(days=1), 19.0),   # older → ignored
         ("WH", T0, 55.0)],                          # new key → inserted
        SCHEMA,
    )
    upsert_batch(spark, b2, sink + "/t", ["sym"], "ts")
    got = {r.sym: (r.ts, r.close) for r in spark.read.parquet(sink + "/t").collect()}
    assert got == {
        "CU": (T0 + dt.timedelta(days=1), 101.0),
        "SB": (T0, 20.0),
        "WH": (T0, 55.0),
    }


def test_stream_upsert_across_micro_batches(spark, dirs):
    src, sink, ckpt = dirs
    spark.createDataFrame(
        [("CU", T0, 100.0), ("SB", T0, 20.0)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [("CU", T0 + dt.timedelta(days=1), 101.0)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_upsert(stream, sink + "/t", ["sym"], "ts", checkpoint=ckpt)
    q.awaitTermination(120)
    n_batches = len(q.recentProgress)
    q.stop()

    assert n_batches >= 2
    got = {r.sym: r.close for r in spark.read.parquet(sink + "/t").collect()}
    assert got == {"CU": 101.0, "SB": 20.0}


def _upsert_case(spark):
    frames = [
        spark.createDataFrame(rows, SCHEMA)
        for rows in (
            [("CU", T0, 100.0), ("SB", T0, 20.0)],
            [("CU", T0 + dt.timedelta(days=1), 101.0)],
            [("WH", T0, 55.0)],
        )
    ]

    def fold(path, batch_id):
        upsert_batch(spark, frames[batch_id], path, ["sym"], "ts")

    def state(path):
        return {r.sym: r.close for r in spark.read.parquet(path).collect()}

    expect = [
        {"CU": 100.0, "SB": 20.0},
        {"CU": 101.0, "SB": 20.0},
        {"CU": 101.0, "SB": 20.0, "WH": 55.0},
    ]
    return fold, state, expect


def _cms_case(spark):
    from functools import reduce

    from gpi_etl_spark.operators.sketches import cms_build
    from gpi_etl_spark.streaming.sinks import cms_fold_batch, cms_state

    frames = [
        spark.createDataFrame(
            [(f"u{i % m}",) for i in range(n)], "item string"
        )
        for m, n in ((7, 40), (11, 30), (5, 20))
    ]
    geometry = dict(width=64, depth=3, hash_mode="poly")

    def fold(path, batch_id):
        cms_fold_batch(
            spark, frames[batch_id], batch_id, path, "item", **geometry
        )

    def state(path):
        counters = sorted(map(tuple, cms_state(spark, path).collect()))
        ledger = spark.read.parquet(path).filter("row = -1").collect()
        return counters, sorted(r.col for r in ledger)

    def direct(n):
        union = reduce(lambda a, b: a.unionByName(b), frames[:n])
        built = cms_build(union, "item", **geometry).collect()
        return sorted(map(tuple, built)), list(range(n))

    return fold, state, [direct(n) for n in (1, 2, 3)]


def _agg_case(spark):
    from gpi_etl_spark.streaming.sinks import agg_fold_batch, agg_state

    batches = [
        [("a", 10), ("a", 5), (None, 7)],
        [("a", 1), ("b", 2), (None, 3)],
        [("b", 4), ("c", 6)],
    ]
    frames = [spark.createDataFrame(b, "g string, v bigint") for b in batches]

    def fold(path, batch_id):
        agg_fold_batch(spark, frames[batch_id], batch_id, path, "g", "v")

    def state(path):
        aggs = {r.g: (r.s, r.c) for r in agg_state(spark, path).collect()}
        ledger = sorted(
            r.c for r in spark.read.parquet(path).filter("is_ledger").collect()
        )
        return aggs, ledger

    def direct(n):
        aggs = {}
        for g, v in (row for b in batches[:n] for row in b):
            s, c = aggs.get(g, (0, 0))
            aggs[g] = (s + v, c + 1)
        return aggs, list(range(n))

    return fold, state, [direct(n) for n in (1, 2, 3)]


@pytest.mark.parametrize(
    "case", [_upsert_case, _cms_case, _agg_case], ids=["upsert", "cms", "agg"]
)
def test_upsert_batch_crash_between_renames_recovers(
    spark, tmp_path, monkeypatch, case
):
    """Kill the swap between retiring the live table and promoting the
    staged one — the worst crash point. The next fold must self-heal
    (promote the committed staging dir) with NO lost rows. A ledgered
    sink finds the crashed batch's id in the healed table, so
    re-folding it writes nothing, and the next id folds exactly once."""
    from gpi_etl_spark.streaming import sinks

    fold, state, expect = case(spark)
    path = str(tmp_path / "t")
    fold(path, 0)

    def boom(fs, staged, live):
        raise RuntimeError("crash between renames")

    real_promote = sinks._promote_staged
    monkeypatch.setattr(sinks, "_promote_staged", boom)
    with pytest.raises(RuntimeError, match="crash between renames"):
        fold(path, 1)
    # the rollback restored the previous table — readable, no data loss
    assert state(path) == expect[0]

    # crash harder: the rollback itself also died (live dir gone)
    monkeypatch.setattr(sinks, "_promote_staged", real_promote)
    fs, Path, live = sinks._hadoop_fs(spark, path)
    fs.rename(live, Path(path + "__old"))
    assert not fs.exists(live)
    if case is not _upsert_case:
        # heal from the committed staging dir; batch 1 is in its ledger
        real_swap = sinks._swap_in

        def no_write(*args):
            raise AssertionError("a replayed batch id was folded again")

        monkeypatch.setattr(sinks, "_swap_in", no_write)
        fold(path, 1)
        monkeypatch.setattr(sinks, "_swap_in", real_swap)
        assert state(path) == expect[1]
    # next batch heals from the committed staging dir (if not yet
    # healed), then merges once
    fold(path, 2)
    assert state(path) == expect[2]


def test_upsert_batch_recovers_from_retired_old_dir(spark, tmp_path):
    """No staging dir (or an uncommitted one): recovery falls back to
    the retired ``__old`` table."""
    from gpi_etl_spark.streaming import sinks

    path = str(tmp_path / "t")
    b1 = spark.createDataFrame([("CU", T0, 100.0)], SCHEMA)
    upsert_batch(spark, b1, path, ["sym"], "ts")
    fs, Path, live = sinks._hadoop_fs(spark, path)
    fs.rename(live, Path(path + "__old"))
    # an uncommitted staging dir (no _SUCCESS) must NOT be promoted
    fs.mkdirs(Path(path + "__staging"))
    b2 = spark.createDataFrame([("SB", T0, 20.0)], SCHEMA)
    upsert_batch(spark, b2, path, ["sym"], "ts")
    got = {r.sym: r.close for r in spark.read.parquet(path).collect()}
    assert got == {"CU": 100.0, "SB": 20.0}


def test_upsert_batch_schema_drift_raises_instead_of_overwriting(spark, tmp_path):
    import pytest as _pt

    from gpi_etl_spark.streaming.sinks import upsert_batch

    path = str(tmp_path / "t")
    full = spark.createDataFrame(
        [(1, "2024-01-01", 10.0)], "k long, ts string, v double"
    )
    upsert_batch(spark, full, path, ["k"], "ts")
    bad = spark.createDataFrame([(2, "2024-01-02")], "k long, ts string")
    with _pt.raises(Exception):
        upsert_batch(spark, bad, path, ["k"], "ts")  # missing column v
    # table history survives the failed merge
    assert spark.read.parquet(path).count() == 1


def test_kmv_fold_batch_matches_batch_build_and_is_idempotent(spark, dirs):
    """The streamed register table must equal a one-shot batch build
    over the union (min's algebra), and REPLAYING a batch — the
    at-least-once foreachBatch failure mode — must not change it."""
    from gpi_etl_spark.operators.sketches import kmv_build
    from gpi_etl_spark.streaming.sinks import kmv_fold_batch

    _, sink, _ = dirs
    path = sink + "/regs"
    b1 = spark.createDataFrame(
        [("a", f"u{i}") for i in range(30)], "g string, item string"
    )
    b2 = spark.createDataFrame(
        [("a", f"u{i}") for i in range(20, 50)]
        + [("b", f"v{i}") for i in range(10)],
        "g string, item string",
    )
    kmv_fold_batch(spark, b1, path, "item", ("g",), k=16, hash_mode="poly")
    kmv_fold_batch(spark, b2, path, "item", ("g",), k=16, hash_mode="poly")
    streamed = sorted(map(tuple, spark.read.parquet(path).collect()))
    direct = sorted(map(tuple, kmv_build(
        b1.unionByName(b2), "item", group_cols=("g",), k=16,
        hash_mode="poly",
    ).collect()))
    assert streamed == direct
    # replay b2 (duplicate delivery) — idempotent by min
    kmv_fold_batch(spark, b2, path, "item", ("g",), k=16, hash_mode="poly")
    again = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert again == direct


def test_cms_fold_batch_ledger_makes_replay_exactly_once(spark, dirs):
    """Counter addition is NOT idempotent — the ledger must make it
    so: replaying a batch under its original batch_id is a no-op,
    and the final counters equal a one-shot batch build."""
    from gpi_etl_spark.operators.sketches import cms_build
    from gpi_etl_spark.streaming.sinks import cms_fold_batch, cms_state

    _, sink, _ = dirs
    path = sink + "/ctrs"
    b1 = spark.createDataFrame(
        [(f"u{i % 7}",) for i in range(40)], "item string"
    )
    b2 = spark.createDataFrame(
        [(f"u{i % 11}",) for i in range(30)], "item string"
    )
    cms_fold_batch(spark, b1, 0, path, "item", width=64, depth=3,
                   hash_mode="poly")
    cms_fold_batch(spark, b2, 1, path, "item", width=64, depth=3,
                   hash_mode="poly")
    # replay batch 1 (same id) — MUST be skipped, not double-counted
    cms_fold_batch(spark, b2, 1, path, "item", width=64, depth=3,
                   hash_mode="poly")
    streamed = sorted(map(tuple, cms_state(spark, path).collect()))
    direct = sorted(map(tuple, cms_build(
        b1.unionByName(b2), "item", width=64, depth=3, hash_mode="poly"
    ).collect()))
    assert streamed == direct
    # the ledger itself carries exactly the two applied ids
    ledger = {r.col for r in spark.read.parquet(path)
              .filter("row = -1").collect()}
    assert ledger == {0, 1}


def test_kmv_fold_batch_k_drift_raises(spark, dirs):
    """The fam tag catches hash-family drift but not k drift (advice
    find): folding k=8 deltas into a k=16 state would merge silently
    and kmv_estimate — which derives k from the register count —
    would mis-scale forever after. The sink must derive the state's k
    and refuse a mismatched caller before anything merges."""
    import pytest

    from gpi_etl_spark.streaming.sinks import kmv_fold_batch

    _, sink, _ = dirs
    path = sink + "/regs_k"
    b1 = spark.createDataFrame(
        [("a", f"u{i}") for i in range(20)], "g string, item string"
    )
    kmv_fold_batch(spark, b1, path, "item", ("g",), k=16, hash_mode="poly")
    with pytest.raises(ValueError, match="k=16"):
        kmv_fold_batch(
            spark, b1, path, "item", ("g",), k=8, hash_mode="poly"
        )
    # and the state is untouched (the guard fired before the swap)
    assert spark.read.parquet(path).count() == 16


def test_cms_fold_batch_geometry_drift_raises(spark, dirs):
    """A checkpoint straddling a width/depth/hash_mode change must die
    at the sink, not add counters across bucket spaces (advice find —
    the CMS twin of the kmv fam guard)."""
    import pytest

    from gpi_etl_spark.streaming.sinks import cms_fold_batch

    _, sink, _ = dirs
    path = sink + "/ctrs_geo"
    b1 = spark.createDataFrame(
        [(f"u{i % 7}",) for i in range(40)], "item string"
    )
    cms_fold_batch(spark, b1, 0, path, "item", width=64, depth=3,
                   hash_mode="poly")
    with pytest.raises(ValueError, match="geometry"):
        cms_fold_batch(spark, b1, 1, path, "item", width=32, depth=3,
                       hash_mode="poly")
    with pytest.raises(ValueError, match="geometry"):
        cms_fold_batch(spark, b1, 1, path, "item", width=64, depth=3,
                       hash_mode="xxhash64")


def test_ams_fold_batch_ledger_makes_replay_exactly_once(spark, dirs):
    """AMS component addition is not idempotent — the ledger must make
    it so, and the final components must equal a one-shot build."""
    from gpi_etl_spark.operators.sketches import ams_build
    from gpi_etl_spark.streaming.sinks import ams_fold_batch, ams_state

    _, sink, _ = dirs
    path = sink + "/ams"
    b1 = spark.createDataFrame(
        [(f"u{i % 7}",) for i in range(40)], "item string"
    )
    b2 = spark.createDataFrame(
        [(f"u{i % 11}",) for i in range(30)], "item string"
    )
    ams_fold_batch(spark, b1, 0, path, "item", k=16, hash_mode="poly")
    ams_fold_batch(spark, b2, 1, path, "item", k=16, hash_mode="poly")
    # replay batch 1 (same id) — MUST be skipped, not double-added
    ams_fold_batch(spark, b2, 1, path, "item", k=16, hash_mode="poly")
    streamed = sorted(
        (r.i, r.x) for r in ams_state(spark, path).collect()
    )
    direct = sorted(
        (r.i, r.x)
        for r in ams_build(
            b1.unionByName(b2), "item", k=16, hash_mode="poly"
        ).collect()
    )
    assert streamed == direct


def test_ams_fold_batch_k_and_family_drift_raise(spark, dirs):
    import pytest

    from gpi_etl_spark.streaming.sinks import ams_fold_batch

    _, sink, _ = dirs
    path = sink + "/ams_drift"
    b = spark.createDataFrame([(f"u{i}",) for i in range(20)],
                              "item string")
    ams_fold_batch(spark, b, 0, path, "item", k=16, hash_mode="poly")
    with pytest.raises(ValueError, match="k=16"):
        ams_fold_batch(spark, b, 1, path, "item", k=8,
                       hash_mode="poly")
    with pytest.raises(ValueError, match="family"):
        ams_fold_batch(spark, b, 1, path, "item", k=16,
                       hash_mode="xxhash64")
    with pytest.raises(ValueError, match="unknown hash_mode"):
        ams_fold_batch(spark, b, 1, path, "item", k=16,
                       hash_mode="Poly")


def test_agg_fold_batch_exactly_once_and_matches_direct(spark, dirs):
    """The exact-aggregate view: replayed batch ids fold once, the
    final state equals a one-shot aggregate, and NULL groups are
    legitimate state (the ledger uses a flag column, not a sentinel
    group)."""
    from pyspark.sql import functions as F

    from gpi_etl_spark.streaming.sinks import agg_fold_batch, agg_state

    _, sink, _ = dirs
    path = sink + "/aggview"
    b1 = spark.createDataFrame(
        [("a", 10), ("a", 5), (None, 7)], "g string, v bigint"
    )
    b2 = spark.createDataFrame(
        [("a", 1), ("b", 2), (None, 3)], "g string, v bigint"
    )
    agg_fold_batch(spark, b1, 0, path, "g", "v")
    agg_fold_batch(spark, b2, 1, path, "g", "v")
    agg_fold_batch(spark, b2, 1, path, "g", "v")  # replay — no-op
    got = {
        r.g: (r.s, r.c) for r in agg_state(spark, path).collect()
    }
    assert got == {"a": (16, 3), "b": (2, 1), None: (10, 2)}


def test_agg_fold_batch_null_value_raises(spark, dirs):
    import pytest
    from pyspark.errors import PySparkException

    from gpi_etl_spark.streaming.sinks import agg_fold_batch

    _, sink, _ = dirs
    path = sink + "/aggnull"
    bad = spark.createDataFrame(
        [("a", 1), ("a", None)], "g string, v bigint"
    )
    with pytest.raises(PySparkException, match="NULL value"):
        agg_fold_batch(spark, bad, 0, path, "g", "v")


def test_sample_fold_batch_matches_batch_bottomk_and_is_idempotent(
    spark, dirs
):
    """The maintained sample must equal the one-shot bottom-k over
    the union under ANY batch split (min-heap algebra), and replaying
    a batch — at-least-once delivery — must not change it. No ledger
    exists to save it: the algebra is the exactly-once mechanism."""
    from gpi_etl_spark.operators.sampling import sample_keys_bottomk
    from gpi_etl_spark.streaming.sinks import (
        sample_fold_batch,
        sample_state,
    )

    _, sink, _ = dirs
    path = sink + "/samp"
    b1 = spark.createDataFrame(
        [("a", f"u{i}") for i in range(40)], "g string, key string"
    )
    b2 = spark.createDataFrame(
        [("a", f"u{i}") for i in range(30, 80)]
        + [("b", f"v{i}") for i in range(5)],
        "g string, key string",
    )
    for b in (b1, b2):
        sample_fold_batch(
            spark, b, path, "key", 8, ("g",), hash_mode="poly"
        )
    streamed = sorted(map(tuple, sample_state(spark, path).collect()))
    direct = sorted(map(tuple, sample_keys_bottomk(
        b1.unionByName(b2), "key", 8, ("g",), hash_mode="poly"
    ).collect()))
    assert streamed == direct
    # small group: fewer than k keys -> the whole group is the sample
    assert sum(1 for r in streamed if r[0] == "b") == 5
    # replay b1 — idempotent by algebra
    sample_fold_batch(
        spark, b1, path, "key", 8, ("g",), hash_mode="poly"
    )
    again = sorted(map(tuple, sample_state(spark, path).collect()))
    assert again == direct


def test_sample_fold_batch_geometry_drift_raises(spark, dirs):
    """A checkpoint straddling a k or hash-family change must die at
    the first fold — bottom-k over mixed priority families or sizes
    corrupts the sample silently otherwise."""
    import pytest

    from gpi_etl_spark.streaming.sinks import sample_fold_batch

    _, sink, _ = dirs
    path = sink + "/sampdrift"
    b = spark.createDataFrame(
        [("a", f"u{i}") for i in range(20)], "g string, key string"
    )
    sample_fold_batch(spark, b, path, "key", 8, ("g",), hash_mode="poly")
    with pytest.raises(ValueError, match="samp1-poly-k8"):
        sample_fold_batch(
            spark, b, path, "key", 16, ("g",), hash_mode="poly"
        )
    with pytest.raises(ValueError, match="samp1-poly-k8"):
        sample_fold_batch(
            spark, b, path, "key", 8, ("g",), hash_mode="xxhash64"
        )


def test_rq_fold_batch_ledger_makes_replay_exactly_once(spark, dirs):
    """Bucket-count addition is NOT idempotent — the embedded ledger
    must make it so: replaying a batch under its original batch_id
    is a no-op and the final buckets equal a one-shot build."""
    from gpi_etl_spark.operators.sketches import rq_build
    from gpi_etl_spark.streaming.sinks import rq_fold_batch, rq_state

    _, sink, _ = dirs
    path = sink + "/rqbuckets"
    b1 = spark.createDataFrame(
        [(1000 + (i * 13) % 500,) for i in range(40)], "c long"
    )
    b2 = spark.createDataFrame(
        [(-(2000 + i),) for i in range(30)], "c long"
    )
    rq_fold_batch(spark, b1, 0, path, "c", digits=3)
    rq_fold_batch(spark, b2, 1, path, "c", digits=3)
    rq_fold_batch(spark, b2, 1, path, "c", digits=3)  # replay
    cols = ["sign", "p", "lead", "cnt", "dig"]
    streamed = sorted(
        map(tuple, rq_state(spark, path).select(*cols).collect())
    )
    direct = sorted(map(tuple, rq_build(
        b1.unionByName(b2), "c", (), 3
    ).select(*cols).collect()))
    assert streamed == direct


def test_rq_fold_batch_digits_drift_raises(spark, dirs):
    """A checkpoint that straddles a digits change must die eagerly —
    bucket addition across granularities corrupts every quantile walk
    silently (two dig generations rarely share bucket keys)."""
    import pytest

    from gpi_etl_spark.streaming.sinks import rq_fold_batch

    _, sink, _ = dirs
    path = sink + "/rqdrift"
    b = spark.createDataFrame([(123456,)], "c long")
    rq_fold_batch(spark, b, 0, path, "c", digits=3)
    with pytest.raises(ValueError, match="digits"):
        rq_fold_batch(spark, b, 1, path, "c", digits=2)
