"""Partition-sizing policy tests (operators/layout.py)."""

from __future__ import annotations

from re_data_pipeline_spark.operators.layout import (
    KCENTER_PARTITION_BYTES,
    NARROW_TARGET_BYTES,
    narrow_small_frame,
    partition_count,
    plan_stats_bytes,
    widen_small_frame,
)


class _NoStats:
    """A frame stand-in whose JVM plan cannot be reached."""

    def __init__(self, spark):
        self.sparkSession = spark

    @property
    def _jdf(self):
        raise RuntimeError("no JVM plan")


def test_narrow_small_frame_coalesces_and_preserves_rows(spark):
    """A small shuffle-output frame coalesces to a size-derived partition
    count with its row set intact; at the shuffle-layout ceiling it
    no-ops."""
    agg = (
        spark.range(0, 1000)
        .selectExpr("id % 97 AS k")
        .groupBy("k")
        .count()
    )
    base = sorted((r.k, r["count"]) for r in agg.collect())

    narrowed = narrow_small_frame(agg)
    # a few-KB agg output must land far below the 2x-cores shuffle layout
    assert narrowed.rdd.getNumPartitions() < int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    assert sorted((r.k, r["count"]) for r in narrowed.collect()) == base

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # one-partition layout: the target count already reaches it
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        assert narrow_small_frame(agg) is agg
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_widen_small_frame_gate_and_unknown_stats(spark):
    small = spark.range(0, 100)
    widened = widen_small_frame(small)
    assert widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in widened.collect()) == list(range(100))
    stub = _NoStats(spark)
    assert widen_small_frame(stub) is stub


def test_plan_stats_bytes_fails_open(spark):
    assert plan_stats_bytes(_NoStats(spark)) is None
    assert plan_stats_bytes(spark.range(0, 10)) > 0


def test_partition_count_rule_at_both_targets():
    for target in (NARROW_TARGET_BYTES, KCENTER_PARTITION_BYTES):
        assert partition_count(1, target) == 1
        assert partition_count(target, target) == 1
        assert partition_count(target + 1, target) == 2
        assert partition_count(5 * target, target) == 5
    assert partition_count(40 << 20, NARROW_TARGET_BYTES) == 3
    assert partition_count(300 << 20, KCENTER_PARTITION_BYTES) == 3
