"""The table reader ``queries.t``: a repeat read reuses the cached
schema and launches no Spark job, a table rewritten in place is read
with its new schema, the events ``ts`` normalization holds on both
paths, and the cache keeps one entry per table path."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def schemas(monkeypatch):
    """An empty schema cache for the test, so its first reads infer."""
    from gpi_etl_spark import queries as Q

    cache: dict = {}
    monkeypatch.setattr(Q, "_SCHEMAS", cache)
    return cache


@pytest.mark.parametrize("name", ["documents", "events"])
def test_second_read_launches_no_job(spark, schemas, count_jobs, name):
    from gpi_etl_spark.queries import t

    assert count_jobs(lambda: t(spark, SF_DIR, name)) >= 1
    assert count_jobs(lambda: t(spark, SF_DIR, name)) == 0


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_table_rewritten_in_place_is_reinferred(spark, schemas, tmp_path, layout):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gpi_etl_spark.queries import t

    sf_dir = str(tmp_path / "sf")
    path = tmp_path / "sf" / "tbl.parquet"

    def write(cols):
        table = pa.table({c: list(range(3)) for c in cols})
        if layout == "file":
            path.parent.mkdir(exist_ok=True)
            pq.write_table(table, path)
        else:
            spark.createDataFrame(table.to_pandas()).write.mode(
                "overwrite"
            ).parquet(str(path))

    write(["a"])
    assert t(spark, sf_dir, "tbl").columns == ["a"]
    assert t(spark, sf_dir, "tbl").columns == ["a"]
    write(["a", "b"])
    df = t(spark, sf_dir, "tbl")
    assert df.columns == ["a", "b"]
    assert sorted(r.b for r in df.collect()) == [0, 1, 2]


@pytest.fixture()
def nanos_sf(tmp_path):
    """An sf dir whose ``events`` table stores ``ts`` as
    TIMESTAMP(NANOS), which Spark reads only as a long under
    ``nanosAsLong``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789 + i * 86_400_000_000_000 for i in range(3)]
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(3), pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns", tz="UTC")),
        }),
        tmp_path / "events.parquet",
    )
    return str(tmp_path)


@pytest.mark.parametrize("where", ["testdata", "nanos"])
def test_events_ts_is_timestamp_cached_and_uncached(spark, schemas, nanos_sf, where):
    from gpi_etl_spark.queries import t

    sf_dir = SF_DIR if where == "testdata" else nanos_sf
    uncached = t(spark, sf_dir, "events")
    cached = t(spark, sf_dir, "events")
    for df in (uncached, cached):
        assert dict(df.dtypes)["ts"] == "timestamp"
    rows = sorted(uncached.select("event_id", "ts").collect())
    assert rows == sorted(cached.select("event_id", "ts").collect())
    if where == "nanos":  # ns truncated to µs
        assert [r.ts.microsecond for r in rows] == [123456] * 3


def test_other_nanos_conf_value_reinfers(spark, schemas, nanos_sf, count_jobs):
    """A session whose ``nanosAsLong`` differs from the one the schema
    was inferred under infers it again instead of reusing it."""
    from gpi_etl_spark.queries import _NANOS_AS_LONG, t

    before = spark.conf.get(_NANOS_AS_LONG, "false")
    try:
        spark.conf.set(_NANOS_AS_LONG, "false")
        t(spark, nanos_sf, "events")  # falls back to nanosAsLong=true
        assert count_jobs(lambda: t(spark, nanos_sf, "events")) == 0
        spark.conf.set(_NANOS_AS_LONG, "false")
        assert count_jobs(lambda: t(spark, nanos_sf, "events")) >= 1
        df = t(spark, nanos_sf, "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert len(df.collect()) == 3
    finally:
        spark.conf.set(_NANOS_AS_LONG, before)


def test_one_cache_entry_per_path(spark, schemas):
    from gpi_etl_spark.queries import t

    names = ["orders", "events", "documents", "orders", "events", "orders"]
    for name in names:
        t(spark, SF_DIR, name)
    assert sorted(schemas) == sorted(
        f"{SF_DIR}/{n}.parquet" for n in set(names)
    )
