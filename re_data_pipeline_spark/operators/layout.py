"""Partition sizing for small frames: the one place that decides when an
operator widens, narrows or coalesces its input, or runs a loop in one
task.

Every widen and narrow decision keys off the optimizer's own size
estimate (``plan_stats_bytes``), so it is scale-adaptive rather than a
local-mode constant, and unknown stats always leave the frame untouched;
the one-task gate reads measured bytes instead (below).  Every
rebalance is row-set-preserving (round-robin ``repartition`` or
``coalesce``), so query results do not depend on it.

**Widen** (guide §2.5 input parallelism) before a compute-dense verify
stage.  A broadcast join's probe side inherits the scan's partitioning, so
a few-MB, few-split input serializes per-candidate work that is quadratic
in bucket size onto a handful of cores.

- ``widen_small_frame``: repartition to ``defaultParallelism`` when the
  estimate is under ``cores × VERIFY_WIDEN_BYTES``.  Measured on q215's
  SRP-cosine verify: 6.3 s → 2.4 s at 32 cores.  The gate is conservative:
  with the default 128 MB ``spark.sql.files.maxPartitionBytes``, frames
  between cores×32 MB and cores×128 MB get neither the widen nor ≥cores
  natural splits, and in that band the extra exchange measured as a loss.
- ``widen_for_pairs``: the exact-substring candidate join widens its anchor
  table when the guard's estimated pair count reaches
  ``ES_WIDEN_PAIRS_PER_CORE × cores``.  q197's 720k candidates win
  9.4 → 6.2 s; the sparse span tiers of q125/q219 lose 0.5-0.9 s under an
  unconditional widen.

**Narrow** (guide §2.4 tiny-task overhead, §6 partition sizing) a small
shuffle output before it is persisted or checkpointed and re-scanned by a
loop.  A groupBy output inherits ``spark.sql.shuffle.partitions``, AQE
cannot re-coalesce a cached plan, and every round then pays ~70 near-empty
task launches per job.

- ``narrow_small_frame``: coalesce to ``partition_count(estimate,
  NARROW_TARGET_BYTES)``; a no-op once that count reaches the shuffle
  layout, so a corpus-scale table keeps its parallelism.  Applied to the
  loop-invariant tables: the CC/BSS edge lists, the PageRank node set, the
  LM unigram/bigram tables, and the BPE and unigram word tables (q211
  4.2 → 3.5 s, q218 5.9 → 4.9 s, q212 4.4 → 3.8 s).
- ``narrow_rescanned_frame``: the k-center selection frame
  (``selection.kcenter_select``) is coalesced to ``partition_count(estimate,
  KCENTER_PARTITION_BYTES)`` when the whole frame is under 1024 such
  partitions: it is re-scanned once per round, so task-launch overhead
  multiplies by k.  The 128 MB target matches the
  ``spark.sql.files.maxPartitionBytes`` default.
- ``coalesce`` adds no exchange.  When a shuffle sits below it, only the
  post-shuffle reduce side narrows and the expensive scan/explode upstream
  keeps its parallelism.  When there is none (e.g. the frame is the output
  of a broadcast join), the coalesce narrows the probe-side scan itself.

**Do not narrow:**

- Compute-dense verify caches (LSH buckets, exact-substring anchors,
  MinHash signatures): narrowing them would serialize exactly the
  per-candidate work the widen spreads (OPTIMIZATION_r19 item 10).
- Per-round loop checkpoints (CC labels, BSS edges, PageRank ranks): each
  call costs one driver-side ``optimizedPlan().stats()`` probe over a
  lineage that grows every round.  With per-round narrowing on, the full
  sf0.1 bench at 32 cores measured q82 0.69×, q128 0.72×, q71 0.65× and
  q136 0.90×, and an interleaved on/off A/B at 4 cores showed no gain on
  q82 or q136.

**One task** (guide §2.4 again, taken to its end): a fixpoint loop over a
small graph pays one or more Spark jobs per round (~60 ms each on a
4-core host, even over a cached checkpoint), so its wall is scheduling,
not data.  ``fits_one_task`` lets such a loop solve every round inside
one task instead (``coalesce(1)`` + an Arrow map over the whole edge
list): ``dedup.connected_components`` and ``graph.pagerank_fixed``.

- The gate reads the **measured** stored bytes (memory + disk) of an
  already-materialized checkpoint from the block manager
  (``measured_bytes``, no job), never ``plan_stats_bytes``: the optimizer
  estimated q82's CC edge list at 163 GB where the cache held 8 KB, so a
  stats-based gate would never fire, and an estimate that lies low could
  collapse a large loop into one task.
- The threshold, ``ONE_TASK_BYTES``, is ``NARROW_TARGET_BYTES``: the size
  ``narrow_small_frame`` already packs into one partition.  At an edge
  checkpoint of that size (16.0 MB stored, ~190k edges, ``local[4]``, 8
  shuffle partitions, steady min of 3) the one-task solve still wins:
  CC over 6-id chains 0.83 s against 5.16 s distributed, 5-round
  PageRank 0.43 s against 4.55 s.
- Unknown size fails open: a frame that is not a checkpoint scan, a lazy
  checkpoint not yet fully materialized, a released one, or any bridge
  error keeps the distributed loop, so the corpus-scale path keeps its
  shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

VERIFY_WIDEN_BYTES = 32 << 20
ES_WIDEN_PAIRS_PER_CORE = 2048
NARROW_TARGET_BYTES = 16 << 20
KCENTER_PARTITION_BYTES = 128 << 20
ONE_TASK_BYTES = NARROW_TARGET_BYTES


def plan_stats_bytes(df: DataFrame) -> int | None:
    """The optimizer's size-in-bytes estimate for ``df`` (file-size-exact
    for a bare parquet scan), or None when unavailable.  Fails open: any
    JVM/bridge error returns None and the caller no-ops."""
    try:
        v = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j converts scala.math.BigInt to a Python int; older bridges
        # hand back the Java object — str() covers both
        return int(str(v))
    except Exception:
        return None


def measured_bytes(df: DataFrame) -> int | None:
    """Memory + disk bytes the block manager holds for ``df`` when ``df``
    is a checkpoint scan whose every partition is stored; None otherwise
    (not a checkpoint, not fully materialized, released, or any JVM/bridge
    error).  Reads storage bookkeeping only: launches no job."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if not plan.getClass().getName().endswith("LogicalRDD"):
            return None
        rdd = plan.rdd()
        rdd_id = rdd.id()
        jsc = df.sparkSession.sparkContext._jsc
        if rdd.getNumPartitions() == 0:
            # no partition to store (an empty shuffle output AQE coalesced
            # away): 0 bytes while the checkpoint is live
            return 0 if jsc.getPersistentRDDs().containsKey(rdd_id) else None
        for info in jsc.sc().getRDDStorageInfo():
            if info.id() == rdd_id:
                if info.numCachedPartitions() < info.numPartitions():
                    return None
                return int(info.memSize()) + int(info.diskSize())
    except Exception:
        return None
    return None


def fits_one_task(df: DataFrame) -> bool:
    """True when the materialized checkpoint ``df`` measures at most
    ``ONE_TASK_BYTES``, so a loop over it can run in one task; False on
    any unknown size."""
    nb = measured_bytes(df)
    return nb is not None and nb <= ONE_TASK_BYTES


def partition_count(nbytes: int, target_bytes: int) -> int:
    """``ceil(nbytes / target_bytes)`` partitions, at least one."""
    return max(1, -(-nbytes // target_bytes))


def widen_small_frame(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to full core parallelism when its
    size estimate is under ``cores × VERIFY_WIDEN_BYTES``."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    nb = plan_stats_bytes(df)
    if nb is not None and 0 < nb < VERIFY_WIDEN_BYTES * cores:
        return df.repartition(cores)
    return df


def widen_for_pairs(df: DataFrame, est_pairs: int) -> DataFrame:
    """Round-robin repartition ``df`` to full core parallelism when the
    candidate join it feeds promises ≥ ``ES_WIDEN_PAIRS_PER_CORE`` pairs
    per core."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if est_pairs >= ES_WIDEN_PAIRS_PER_CORE * cores:
        return df.repartition(cores)
    return df


def narrow_small_frame(df: DataFrame) -> DataFrame:
    """Coalesce a small shuffle output to
    ``partition_count(estimate, NARROW_TARGET_BYTES)`` partitions; no-op on
    unknown stats or when that count reaches
    ``spark.sql.shuffle.partitions``."""
    nb = plan_stats_bytes(df)
    if nb is None or nb <= 0:
        return df
    n = partition_count(nb, NARROW_TARGET_BYTES)
    if n >= int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")):
        return df
    return df.coalesce(n)


def narrow_rescanned_frame(df: DataFrame) -> DataFrame:
    """Coalesce a frame a loop re-scans every round to
    ``partition_count(estimate, KCENTER_PARTITION_BYTES)`` partitions when
    the estimate is under 1024 such partitions; no-op on unknown stats.
    ``coalesce``, not ``repartition``: no shuffle and no row-order change."""
    nb = plan_stats_bytes(df)
    if nb is not None and 0 < nb < KCENTER_PARTITION_BYTES * 1024:
        return df.coalesce(partition_count(nb, KCENTER_PARTITION_BYTES))
    return df
