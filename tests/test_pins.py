"""Query-scoped pins (functions/pins.py): ``release_pins`` really frees
the checkpoint blocks that ``pin`` created, and a released pin cannot be
read again."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_streaming_practicum_spark.functions import pins
from spark_streaming_practicum_spark.functions.pins import pin, release_pins

from .conftest import release_query_pins


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_release_returns_persistent_rdds_to_their_size_before_the_pins(spark):
    release_query_pins()
    before = _persistent_ids(spark)
    eager = pin(spark.range(1000).repartition(4), eager=True)
    lazy = pin(spark.range(1000).withColumn("sq", F.col("id") * F.col("id")))
    assert lazy.agg(F.sum("sq")).collect()[0][0] == sum(i * i for i in range(1000))
    pinned = {rdd_id for _, rdd_id in pins._pins}
    assert len(pinned) == 2 and pinned <= _persistent_ids(spark)
    assert eager.count() == 1000

    release_pins()
    after = _persistent_ids(spark)
    # the ContextCleaner may drop unrelated RDDs meanwhile, never add pins
    assert after <= before and not (after & pinned)
    assert not pins._pins


def test_second_release_is_a_no_op(spark):
    release_query_pins()
    pin(spark.range(10), eager=True)
    release_pins()
    before = _persistent_ids(spark)
    release_pins()
    assert _persistent_ids(spark) == before
    assert not pins._pins


def test_reading_a_released_pin_fails_loudly(spark):
    df = pin(spark.range(100).repartition(4), eager=True)
    release_query_pins()
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        df.agg(F.sum("id")).collect()
