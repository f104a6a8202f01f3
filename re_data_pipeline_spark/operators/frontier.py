"""Distributed 2-D Pareto frontier (skyline) — minimize two metrics.

The naive skyline is a NOT-EXISTS theta self-join (O(n²)).  The sort-scan
rewrite — sort by (cost asc, delay asc, key) and keep rows whose delay is
strictly below the running minimum of all earlier delays — is O(n log n),
but a single ``Window.orderBy`` with no ``partitionBy`` plans an
``Exchange SinglePartition``: every row funnels through one task, a
driver-scale bottleneck at 100 TB.

This operator is the distributed form of the same scan:

1. ``repartitionByRange`` on the global order → partition *i* holds a
   contiguous range of the sort order, sorted within.
2. The running minimum over earlier rows splits exactly into
   (a) earlier rows in the SAME partition — a window partitioned by the
   range-partition id (row-scale work, fully parallel), and
   (b) all rows of EARLIER partitions — a per-partition min table
   (|partitions| rows), prefix-min'ed and broadcast back.
3. A row survives iff its delay beats the least of (a) and (b).

The only single-partition stage is the prefix-min window over the
partition-count-sized min table — identical in spirit to the per-partition
count exchange in ``assign_ordinals`` (operators/ids.py) and fine at any
scale.  The range-partitioned intermediate feeds BOTH branches (the local
window and the per-partition min table), so it is persisted before the
fan-out — ``spark_partition_id`` plus ``repartitionByRange``'s sampled
bounds are nondeterministic on recompute, and the ``__pid`` split is only
correct when both branches provably read the SAME assignment, not merely
when ReuseExchange happens to fire (same posture as ``assign_ordinals``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from re_data_pipeline_spark.operators.ids import pin, pinning


@pinning
def pareto_frontier_2d(
    df: DataFrame,
    cost_col: str,
    delay_col: str,
    tiebreak_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Rows not dominated by any other row (both metrics minimized;
    domination = ≤ on both and < on at least one).

    Inputs must be NULL-free in the three named columns and unique on
    ``tiebreak_col`` after a (cost, delay) dedupe — coincident duplicate
    points dominate nobody, and the scan keeps only the order-first one
    (dedupe on (cost, delay) beforehand if coincident points can occur).
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ordering = [
        F.col(cost_col).asc(),
        F.col(delay_col).asc(),
        F.col(tiebreak_col).asc(),
    ]
    parts = pin(
        df.repartitionByRange(n, *ordering)
        .sortWithinPartitions(*ordering)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    # (a) running min over earlier rows within the range partition
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*ordering)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = parts.withColumn("__lm", F.min(delay_col).over(w_local))
    # (b) min over all earlier partitions: |partitions| rows, prefix-min
    pmins = parts.groupBy("__pid").agg(F.min(delay_col).alias("__m"))
    # bounded-global-window: pmins has exactly |partitions| rows (one per
    # range partition), so the single-partition prefix-min frame is
    # partition-count-sized — never the table
    w_prefix = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    prefix = pmins.withColumn("__gm", F.min("__m").over(w_prefix)).select(
        "__pid", "__gm"
    )
    # F.least skips NULLs (earliest row of the earliest partition has both
    # NULL → no earlier row → always on the frontier)
    pm = F.least(F.col("__lm"), F.col("__gm"))
    return (
        local.join(F.broadcast(prefix), "__pid")
        .where(pm.isNull() | (F.col(delay_col) < pm))
        .drop("__pid", "__lm", "__gm")
    )
