"""Physical-layout helpers shared by the operators:
`functions/layout.py`'s `pin` must keep its partitioning contract and
`release()` must free what it pinned."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from emdrive_spark.functions import layout
from emdrive_spark.functions.ckpt import release


@pytest.fixture
def _clean_blocks(spark):
    yield
    release(spark)


@pytest.mark.usefixtures("_clean_blocks")
def test_pin_reports_partitioning(spark):
    """The load-bearing property: a pinned frame's cached plan reports
    its hashpartitioning, so an equality join on the pin key adds NO
    Exchange above the InMemoryTableScan (ckpt's localCheckpoint
    materializes to UnknownPartitioning and re-exchanges)."""
    df = spark.range(0, 10000).select(
        F.col("id").alias("dst"), (F.col("id") % 7).alias("v")
    )
    pinned = layout.pin(df, "dst")
    other = spark.range(0, 100).select(F.col("id").alias("node"))
    j = pinned.join(other.hint("shuffle_hash"), pinned["dst"] == other["node"])
    plan = j._jdf.queryExecution().executedPlan().toString()
    left_branch = plan[plan.index("InMemoryTableScan") - 400 : plan.index("InMemoryTableScan")]
    assert "Exchange" not in left_branch.split("ShuffledHashJoin")[-1], plan
    assert "InMemoryTableScan" in plan


@pytest.mark.usefixtures("_clean_blocks")
def test_release_clears_layout_pins(spark):
    """release() drops pinned blocks AND the CacheManager registration
    — a pinned frame never survives a rep boundary."""
    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    layout.pin(df, "k")
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) > 0
    release(spark, blocking=True)
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
    # the catalog-level cache is gone too: a fresh identical plan does
    # not resolve to a cached relation
    df2 = spark.range(0, 1000).select(F.col("id").alias("k"))
    plan = df2._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan
