"""Settings of the tuned session factory that do not show in query
results."""

from __future__ import annotations


def test_get_spark_turns_off_call_site_capture(spark):
    # the ``spark`` fixture is a get_spark() session; with the capture
    # on, every Column call pays extra py4j round trips (session.py)
    conf = spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
    assert conf == "false"
