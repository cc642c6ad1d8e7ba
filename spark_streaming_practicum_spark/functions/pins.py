"""Query-scoped frame pinning: ``pin`` and ``release_pins``.

An operator pins a frame when several branches of its plan (or several
driver actions) read it, or when its lineage must be cut so consumers
re-plan a leaf instead of the whole upstream subtree. Every such pin is
a ``localCheckpoint``: the frame is materialized once into executor
storage and later plans scan it as ``Scan ExistingRDD``.

Checkpoint blocks are not tracked by the CacheManager, so neither
``df.unpersist()`` nor ``spark.catalog.clearCache()`` frees them, and
dropping every reference leaves some resident until a JVM GC happens to
reach them. ``pin`` therefore records the id of each checkpoint RDD,
and ``release_pins`` frees them all at a query boundary.

Only callers that own the query boundary release: ``bench.py``, the
profiling scripts and ``scripts/driver_contract_sweep.py``, each after
the query's action. ``__spark_entry__.queries()`` cannot: the driver
contract hands back unmaterialized frames and does not promise that one
is collected before the next is built, and releasing early turns a
stale block into a failed query. On that path pins are bounded by JVM
GC alone, as every ``localCheckpoint`` was before this module; the
blocks are stored MEMORY_AND_DISK, so a resident pin spills to local
disk rather than failing a later query. ``_pins`` then keeps growing by
a few integer pairs per query, which is negligible.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import DataFrame

# (context, checkpoint RDD id) for every pin since the last release. The
# context is kept with the id so a release after a session restart never
# frees an unrelated RDD of the new context that reuses the number.
_pins: list[tuple[SparkContext, int]] = []


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)``, recorded for ``release_pins``.

    ``eager=True`` materializes the frame now (one job); a lazy pin is
    filled by the first action that reads it. Use eager when the caller
    needs the frame complete before building on it, e.g. when the first
    action would read only some of its partitions."""
    pinned = df.localCheckpoint(eager)
    _pins.append(
        (df.sparkSession.sparkContext, pinned._jdf.logicalPlan().rdd().id())
    )
    return pinned


def release_pins() -> None:
    """Free the blocks of every frame pinned since the last call.

    Call it only at a query boundary, once every frame built since the
    last call has been materialized. A released pin has no lineage to
    recompute from: any plan that still reads it fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``, where an evicted persist would
    have recomputed. The same holds for losing an executor that holds a
    pin's blocks: the job reading it fails and is retried as a whole.
    That is the trade for truncated lineage and frozen contents (a
    ``repartitionByRange`` pin can never be recomputed with resampled
    boundaries)."""
    while _pins:
        sc, rdd_id = _pins.pop()
        if sc._jsc is not None:  # a stopped context has freed everything
            # blocking: the blocks are gone before the next query starts
            sc._jsc.sc().unpersistRDD(rdd_id, True)
