"""The run scope: the one place in the package that persists or
checkpoints a frame.

* :func:`pin` persists (MEMORY_AND_DISK) a frame that several
  consumers of one query run read.
* :func:`checkpoint` eagerly ``localCheckpoint``-s a frame (a driver
  loop's lineage cut) and observes a row count on that same job.
* :func:`drain` releases everything the two recorded.

The registry dispatcher (``queries.query``) calls :func:`drain` when a
registry query is dispatched, so nothing one query pinned or
checkpointed stays resident while the next one runs in the same
long-lived session. It never drains at query exit: a released
checkpoint cannot be recomputed, and the frame a query returns may
read one. Spark's CacheManager matches cached plans by semantics, so
two pins of the same plan inside one run (q212's two trainer threads)
share one cached copy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

_pins: list[DataFrame] = []
#: JVM handles of the RDDs eager localCheckpoints persisted:
#: ``DataFrame.unpersist`` does not release them
_checkpoint_rdds: list = []


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` MEMORY_AND_DISK until the next :func:`drain`."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _pins.append(df)
    return df


def checkpoint(
    df: DataFrame, cond: Column | None = None
) -> tuple[DataFrame, bool]:
    """Eagerly ``localCheckpoint`` ``df`` and report whether any of its
    rows satisfies ``cond`` (any row at all when ``cond`` is None), in
    ONE Spark action: the count rides the checkpoint's own job as a
    ``pyspark.sql.Observation`` metric instead of a separate
    ``count()``. Only zero versus non-zero is returned, because a
    retried task can add its rows to an observed count twice.

    The checkpoint's RDD (the ``LogicalRDD`` under the returned frame;
    reading it launches no job) is released by the next :func:`drain`."""
    obs = Observation()
    hit = F.lit(1) if cond is None else F.when(cond, F.lit(1))
    df = df.observe(obs, F.count(hit).alias("n")).localCheckpoint(eager=True)
    _checkpoint_rdds.append(df._jdf.queryExecution().logical().rdd())
    return df, obs.get["n"] > 0


def drain() -> None:
    """Unpersist every recorded pin and release every recorded
    checkpoint RDD, without blocking. Frames that read a released
    checkpoint fail when executed, so only call this where no live
    frame of the run is still to be executed."""
    while _pins:
        _pins.pop().unpersist()
    while _checkpoint_rdds:
        _checkpoint_rdds.pop().unpersist(False)
