"""Repo-wide physical-plan lint: invariants that must hold for EVERY
registered batch query, not just the ones with dedicated plan tests.

The one non-negotiable at cluster scale is the unconstrained
CartesianProduct: |left| x |right| rows with no key, no broadcast bound
— a plan that can only exist because someone forgot a join condition.
Every deliberate cross join in this engine rides a broadcast (tiny
side), which plans as BroadcastNestedLoopJoin, never CartesianProduct.
This sweep keeps that true as the query surface grows. It reads the
plan of every frame a query pins as well as the query's own: a pin
prints as a leaf ``Scan ExistingRDD``, which hides the work upstream.

(True-streaming queries are skipped: constructing them executes the
stream; their plans are covered by their own e2e tests.)
"""

from __future__ import annotations

import pytest

from spark_streaming_practicum_spark.registry import all_queries

from .conftest import build_with_pinned_plans, release_query_pins


# `slow`: building all ~440 batch plans takes ~4 min (a third of the
# not-parity leg — round-10 verdict task 4 guard breach), so this lint
# runs as its own once-per-round leg: `python -m pytest -m slow`.
@pytest.mark.slow
def test_no_cartesian_product_anywhere(spark):
    offenders = []
    for name, d in sorted(all_queries().items()):
        if name.startswith("stream_"):
            continue
        _, plans = build_with_pinned_plans(name, spark)
        if any("CartesianProduct" in p for p in plans):
            offenders.append(name)
        release_query_pins()  # each build's eager pins hold blocks
    assert not offenders, f"unbounded cartesian products in: {offenders}"
