"""``tools/probe.py``: its scaled-input builder in process, and one
scaled CLI run end to end."""

import json
import os
import subprocess
import sys
import time
import uuid

import pytest

from tools import probe

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOLO_KEYS = ["name", "anchor_min", "cold", "warm_min", "warms", "ratio_warm"]

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="sf0.001 testdata not present"
)


@pytest.fixture(scope="module")
def scaled(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("probe_scaled"))
    probe.build_scaled(spark, SF_DIR, ["documents"], out)
    return out


def test_scaled_table_is_ten_shifted_copies_in_sixteen_files(spark, scaled):
    from pyspark.sql import functions as F

    path = os.path.join(scaled, "documents.parquet")
    parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(parts) == 16
    stock = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    big = spark.read.parquet(path)
    n = stock.count()
    step = stock.agg(F.max("doc_id")).first()[0] + 1
    assert big.count() == 10 * n
    assert big.select("doc_id").distinct().count() == 10 * n
    # copy c holds the keys [c·step, (c+1)·step) and the token probecopy{c}
    copy = big.select(
        (F.col("doc_id") / step).cast("int").alias("c"),
        F.regexp_extract("text", r" probecopy(\d+)$", 1).alias("token"),
    )
    per_copy = {
        (r.c, r.token): r["count"]
        for r in copy.groupBy("c", "token").count().collect()
    }
    assert per_copy == {(c, str(c)): n for c in range(10)}
    assert big.columns == stock.columns


def test_every_other_table_is_linked(scaled):
    assert not os.path.islink(os.path.join(scaled, "documents.parquet"))
    others = [
        fn for fn in os.listdir(SF_DIR)
        if fn.endswith(".parquet") and fn != "documents.parquet"
    ]
    assert others
    for fn in others:
        link = os.path.join(scaled, fn)
        assert os.path.islink(link)
        assert os.path.samefile(link, os.path.join(SF_DIR, fn))


def test_entry_reading_an_unscaled_table_runs_on_the_scaled_dir(spark, scaled):
    from gpi_etl_spark.queries import REGISTRY

    fn = REGISTRY["q01_pricing_summary"][0]
    stock = sorted(fn(spark, SF_DIR).collect())
    assert stock
    assert sorted(fn(spark, scaled).collect()) == stock


def _marked(marker: str) -> list[str]:
    """Pids of live processes whose environment carries ``marker``."""
    hits = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/environ", "rb") as fh:
                    if marker.encode() in fh.read():
                        hits.append(pid)
            except OSError:
                pass
    return hits


def test_cli_scaled_run_prints_one_line_and_leaves_nothing_behind(tmp_path):
    token = uuid.uuid4().hex
    marker = f"PROBE_TEST_MARKER={token}"
    env = dict(
        os.environ, SPARK_GRAFT_SF_DIR=SF_DIR, TMPDIR=str(tmp_path),
        PROBE_TEST_MARKER=token,
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "probe.py"),
         "--repeats", "1", "--tables", "documents", "q192_kcore"],
        capture_output=True, text=True, env=env, timeout=900,
    )
    assert out.returncode == 0, out.stdout + out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    assert len(lines) == 1, out.stdout
    row = json.loads(lines[0])
    assert list(row)[: len(SOLO_KEYS)] == SOLO_KEYS
    assert row["name"] == "q192_kcore" and row["growth"] > 0
    assert not [d for d in os.listdir(tmp_path) if d.startswith("gpi_probe_")]
    # neither a child interpreter nor its JVM outlives the run
    deadline = time.monotonic() + 30
    while _marked(marker):
        assert time.monotonic() < deadline, f"left running: {_marked(marker)}"
        time.sleep(0.5)
