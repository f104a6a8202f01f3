"""Global ordinal / stable-ID assignment at scale.

``ROW_NUMBER() OVER (ORDER BY ...)`` with no PARTITION BY plans as a
single-partition window — one reducer sorts the world, which is exactly
what kills a 100 TB job.  The scalable construction (the DataFrame form of
``zipWithIndex``):

1. range-partition by the order key (sampled boundaries → balanced ranges),
2. sort within each partition (no global exchange),
3. count rows per partition (tiny agg), prefix-sum the counts on the driver,
4. ordinal = partition offset + local row index.

Step 4 is MAP-ONLY: ``monotonically_increasing_id()`` evaluated over the
persisted sorted frame already encodes ``(partition_id << 33) | local_index``
in row order, so the local index is ``mid & (2^33 − 1)`` — pure arithmetic,
no window.  (Through round 7 this step was a ``row_number()`` window over
``spark_partition_id()``, which planned a SECOND full-data
``Exchange hashpartitioning(__pid)`` + re-sort after the range exchange —
scale-safe but 2× the necessary data movement; PLANS.md §q87/§q117 showed
q117 paying it three times.  The id arithmetic keeps ONE data-scale
exchange per spine.)

Determinism: ``monotonically_increasing_id`` is only stable when the rows
under it have a fixed partition + order, which is exactly what
``repartitionByRange(...).sortWithinPartitions(...)`` over a total order
guarantees — and the frame is persisted before both consumers (the count
pass and the output), so a cache-eviction recompute replays the identical
shuffle+sort and regenerates identical ids.  The order key must be unique
(add a tiebreak column) or ties straddling a range boundary could
interleave.

Pin discipline: every frame an operator persists or localCheckpoints is
registered with the :func:`pinning` boundary around it (every registered
query body has one too).  :func:`pin` registers a frame the lazy result
still reads: on success the boundary attaches the pins made while the
result was built to the returned DataFrame as ``_pins`` and hands them to
the enclosing boundary, and :func:`release_spines` frees them once the
caller has materialized the result.  :func:`hold` registers a frame only
the operator reads: the boundary frees it when the function returns.  If
the function raises, the boundary frees every frame registered inside it,
pinned or held, and re-raises.  :func:`release` frees a frame early (a
superseded loop round, a dead input) and drops it from the open
boundaries, so no exit frees it again.
"""

from __future__ import annotations

import contextlib
import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_LOCAL_BITS = 33  # monotonically_increasing_id: id = (pid << 33) | local_index
# Registries of the open boundaries, innermost last: id(frame) -> (frame,
# pinned).  Module-level, not thread-local: a streaming foreachBatch step
# registers from the py4j callback thread while its caller waits inside a
# boundary on the main thread.
_OPEN: list[dict[int, tuple[DataFrame, bool]]] = []


def _register(frame: DataFrame, pinned: bool) -> DataFrame:
    if not _OPEN:
        name = "pin" if pinned else "hold"
        raise RuntimeError(
            f"{name}() outside a @pinning boundary: decorate the function "
            "that registers storage"
        )
    _OPEN[-1][id(frame)] = (frame, pinned)
    return frame


def pin(frame: DataFrame) -> DataFrame:
    """Register ``frame`` (persisted or localCheckpoint'ed) as storage the
    result under construction still reads; returns ``frame``.  A frame
    already held becomes pinned.  Raises outside a :func:`pinning`
    boundary, where nothing would ever release it."""
    return _register(frame, True)


def hold(frame: DataFrame) -> DataFrame:
    """Register ``frame`` (persisted or localCheckpoint'ed) as storage only
    the running operator reads; the boundary frees it when the operator
    returns or raises.  A frame already pinned becomes held.  Returns
    ``frame``; raises outside a :func:`pinning` boundary."""
    return _register(frame, False)


def _free(frame: DataFrame, blocking: bool = False) -> None:
    # a persisted frame unpersists; a checkpoint scan releases its blocks
    if frame.is_cached:
        frame.unpersist(blocking)
    else:
        release_local_checkpoint(frame, blocking)


def release(frame: DataFrame | None, blocking: bool = False) -> None:
    """Free ``frame``'s storage now and drop it from the open boundaries,
    so no boundary exit frees it again; a no-op on None.  The
    :func:`release_local_checkpoint` caveat applies: free a checkpoint
    only once nothing live recomputes through it."""
    if frame is None:
        return
    for registry in _OPEN:
        registry.pop(id(frame), None)
    _free(frame, blocking)


def _result_frames(out) -> list[DataFrame]:
    if isinstance(out, dict):
        out = tuple(out.values())
    elif not isinstance(out, tuple):
        out = (out,)
    return [f for f in out if isinstance(f, DataFrame)]


def pinning(fn):
    """Boundary decorator: run ``fn`` with a fresh registry open.  On
    return, free the held frames, attach the pinned ones as ``_pins`` to
    the DataFrame result (or to every DataFrame of a dict / tuple result
    — one shared list) and add them to the enclosing boundary's registry.
    A result therefore carries every pin made while it was built, through
    any final projection, union or join, and none of its arguments' pins.
    If ``fn`` raises, free every registered frame and re-raise."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        registry: dict[int, tuple[DataFrame, bool]] = {}
        _OPEN.append(registry)
        returned = False
        try:
            out = fn(*args, **kwargs)
            returned = True
        finally:
            _OPEN.pop()
            if not returned:
                # nothing reaches the caller; a failing free must not mask
                # the error that is propagating
                for frame, _ in registry.values():
                    with contextlib.suppress(Exception):
                        _free(frame)
        pins = []
        for frame, pinned in registry.values():
            if pinned:
                pins.append(frame)
            else:
                _free(frame)
        for f in _result_frames(out):
            f._pins = pins
        if _OPEN:
            _OPEN[-1].update((id(p), (p, True)) for p in pins)
        return out

    return wrapper


def _check_partition_widths(counts: dict[int, int], op: str) -> None:
    """The map-only ordinal reads the low 33 bits of
    ``monotonically_increasing_id`` — a range partition holding ≥ 2^33
    rows would silently wrap the local index.  The per-partition counts
    are already on the driver, so the check is free; conceivable at the
    100 TB design point with a small ``num_partitions``."""
    if counts and max(counts.values()) >= (1 << _LOCAL_BITS):
        widest = max(counts, key=counts.get)
        raise ValueError(
            f"{op}: range partition {widest} holds {counts[widest]} rows, "
            f">= 2^{_LOCAL_BITS} — the map-only local ordinal would wrap. "
            "Raise num_partitions so every partition stays below 2^33 rows."
        )


@pinning
def assign_ordinals(
    df: DataFrame,
    order_cols: list[Column | str],
    ordinal_col: str = "ordinal",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a dense 0-based global ordinal following ``order_cols`` without a
    single-partition sort.  ``order_cols`` must define a total order.

    The repartitioned+sorted intermediate is persisted (it feeds both the
    count pass and the output) and pinned: :func:`release_spines` frees it
    after materializing."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parts = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        # pid + mid evaluate in the same narrow stage over the sorted rows:
        # mid's partition component IS spark_partition_id, and its low 33
        # bits count rows in iterator (= sorted) order
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
    )
    parts = pin(parts.persist())
    counts = {r["__pid"]: r["n"] for r in parts.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()}
    _check_partition_widths(counts, "assign_ordinals")
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offset_expr = F.element_at(
        F.create_map(*[F.lit(v) for kv in offsets.items() for v in kv]), F.col("__pid")
    )
    local = F.col("__mid").bitwiseAND(F.lit((1 << _LOCAL_BITS) - 1))
    out = parts.withColumn(
        ordinal_col, (offset_expr + local).cast("bigint")
    ).drop("__pid", "__mid")
    out._ordinal_total = acc  # total row count (already collected — free)
    return out


def release_local_checkpoint(df: DataFrame | None, blocking: bool = False) -> bool:
    """Release the RDD-level storage block pinned by ``df.localCheckpoint()``.

    ``DataFrame.unpersist()`` and ``spark.catalog.clearCache()`` only walk
    the CacheManager, which does NOT hold checkpoint blocks — without this
    every checkpointed round of an iterative operator (CC, BFS, BPE,
    k-center, …) stays pinned in executor storage until nondeterministic
    driver GC.  Goes through the LogicalRDD's rdd handle; a no-op (returns
    False) on frames that are not checkpoint scans.

    ONLY safe once nothing live can recompute through the checkpoint: an
    unpersisted checkpoint RDD cannot be rebuilt (its lineage was
    truncated), so loops release round r's checkpoint only after round
    r+1's is materialized, and final checkpoints only when the returned
    result no longer derives from them (e.g. driver-row results)."""
    if df is None:
        return False
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(blocking)
            return True
    except Exception:
        pass
    return False


def release_spines(df: DataFrame, blocking: bool = False) -> int:
    """Free every pin riding ``df`` (see :func:`pinning`), ``df`` itself
    included when an operator returned its own checkpoint; call AFTER
    materializing, and do not materialize ``df`` again afterwards: a
    released checkpoint cannot be recomputed.  Returns the number of
    pins.  Safe to call twice and on frames without pins (returns 0)."""
    pins = getattr(df, "_pins", ())
    for p in pins:
        release(p, blocking)
    return len(pins)


@pinning
def assign_prefix_sums(
    df: DataFrame,
    order_cols: list[Column | str],
    value_col: str,
    out_col: str = "running_sum",
    ordinal_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global running total of ``value_col`` following ``order_cols``
    — ``SUM(v) OVER (ORDER BY ...)`` without the single-partition window.

    Same two-level construction as :func:`assign_ordinals`, summing values
    instead of counting rows: range partition + sort within partitions,
    per-partition TOTALS collected (a partition-count-sized agg) and
    prefix-summed on the driver, then ONE Arrow-batched ``mapInPandas``
    scan per partition adds ``offset + cumulative-within-partition`` —
    map-only after the single range exchange.  The scan is the one place
    this engine needs per-partition imperative state (a running carry
    across Arrow batches); no relational form expresses a scan without
    either a global window or a second full-data exchange.

    ``value_col`` must be an integral column (bigint) — fixed-point
    decimals/floats first (e.g. ``F.round(x * 100, 0).cast("long")``):
    integer prefix sums are exact and engine-portable, float scans are
    order-sensitive in the last ulp.  NULLs count as 0 — with the caveat
    that a NULL-bearing long column crosses Arrow as float64, so per-VALUE
    magnitudes must stay below 2^53 on that path (NULL-free columns cross
    as int64 with no such bound); fixed-point inputs sit far below either
    edge.  int64 overflow of the running SUM is the caller's contract, as
    for any bigint SUM (cumulative corpus token counts ~1e15 sit far from
    the 9.2e18 edge).

    ``ordinal_col`` optionally emits the global 0-based ordinal from the
    SAME pass (monotonically_increasing_id arithmetic — free), for
    rank+cumulative consumers like ``vocab_coverage``.

    Pins the persisted sorted frame (release after materializing) and
    exposes ``._prefix_total`` (the grand total, already collected —
    free).
    """
    import pandas as pd  # noqa: F401  (mapInPandas contract)
    from pyspark.sql.types import LongType, StructField, StructType

    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parts = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
    )
    parts = pin(parts.persist())
    tots = parts.groupBy("__pid").agg(
        F.sum(F.col(value_col)).alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()
    sums = {r["__pid"]: int(r["s"] or 0) for r in tots}
    cnts = {r["__pid"]: r["n"] for r in tots}
    _check_partition_widths(cnts, "assign_prefix_sums")
    offsets, ord_offsets, acc, oacc = {}, {}, 0, 0
    for pid in sorted(sums):
        offsets[pid] = acc
        ord_offsets[pid] = oacc
        acc += sums[pid]
        oacc += cnts[pid]
    in_fields = [f for f in parts.schema.fields if f.name not in ("__pid", "__mid")]
    out_fields = list(in_fields) + [StructField(out_col, LongType())]
    if ordinal_col is not None:
        out_fields.append(StructField(ordinal_col, LongType()))
    out_names = [f.name for f in out_fields]
    mask = (1 << _LOCAL_BITS) - 1

    def scan(batches):
        run = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            if run is None:
                run = offsets[pid]
            vals = pdf[value_col].fillna(0).to_numpy(dtype="int64")
            cum = vals.cumsum() + run
            run = int(cum[-1])
            pdf = pdf.copy()
            pdf[out_col] = cum
            if ordinal_col is not None:
                mids = pdf["__mid"].to_numpy(dtype="int64")
                pdf[ordinal_col] = (mids & mask) + ord_offsets[pid]
            yield pdf[out_names]

    out = parts.mapInPandas(scan, StructType(out_fields))
    out._prefix_total = acc
    out._ordinal_total = oacc
    return out


@pinning
def grouped_prefix_sums(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column | str],
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """``SUM(v) OVER (PARTITION BY g ORDER BY …)`` without per-group
    windows: ONE prefix-sum spine over (group, order) — a
    ``Window.partitionBy(group)`` hash-exchanges the corpus into |groups|
    reducers with the groups' own skew — then each group's running total
    is the GLOBAL running total minus the mass before the group's first
    row.  That base is the FIRST row's ``cum − value`` — selected by
    ``min_by`` on the spine ordinal, NOT ``min(cum − value)``, which only
    coincides with the first row's under non-negative values — a
    |groups|-row agg broadcast back.  Same integer-weights contract as
    :func:`assign_prefix_sums`; negative values are fine.
    """
    ps = assign_prefix_sums(
        df,
        [F.col(c).asc() for c in group_cols] + list(order_cols),
        value_col,
        out_col="__gps_cum",
        ordinal_col="__gps_ord",
        num_partitions=num_partitions,
    )
    bases = ps.groupBy(*group_cols).agg(
        F.min_by(
            F.col("__gps_cum") - F.coalesce(F.col(value_col), F.lit(0)),
            F.col("__gps_ord"),
        ).alias("__gps_base")
    )
    out = (
        ps.join(F.broadcast(bases), group_cols)
        .withColumn(out_col, (F.col("__gps_cum") - F.col("__gps_base")).cast("bigint"))
        .drop("__gps_cum", "__gps_base", "__gps_ord")
    )
    return out


@pinning
def exact_quantiles(
    df: DataFrame,
    order_cols: list[Column | str],
    value_col: str,
    quantiles: list[tuple[int, int]] = ((1, 4), (1, 2), (3, 4), (9, 10), (99, 100)),
    out_value_col: str = "value",
) -> DataFrame:
    """EXACT nearest-rank quantiles over a total order — the distributed
    form of ``quantile_disc`` without a single-partition sort: one ordinal
    spine (:func:`assign_ordinals`), then each quantile q=num/den selects
    the row with 0-based ordinal ``⌈q·n⌉ − 1`` (computed in pure integer
    arithmetic — float ceil at representation boundaries would pick a
    neighbor).  Returns ``(q_num, q_den, value)``, one row per requested
    quantile; an empty frame returns no rows.

    The selection is an equi-join of the (broadcast, k-row) quantile spec
    against the spine — the corpus-scale side is touched once.  Use for
    exact length/score distribution cuts where approx_percentile's error
    bound is not acceptable (e.g. packing budgets tied to hard context
    limits).
    """
    o = assign_ordinals(df, order_cols, "__q_ord")
    n = o._ordinal_total
    spark = df.sparkSession
    spec_rows = []
    for num, den in quantiles:
        if not (0 < num <= den):
            raise ValueError(f"quantile {num}/{den} outside (0, 1]")
        if n > 0:
            idx = (num * n + den - 1) // den - 1  # ⌈q·n⌉ − 1, exact
            spec_rows.append((num, den, idx))
    spec = spark.createDataFrame(
        spec_rows, "q_num int, q_den int, __q_ord bigint"
    )
    out = (
        F.broadcast(spec)
        .join(o, "__q_ord")
        .select("q_num", "q_den", F.col(value_col).alias(out_value_col))
    )
    return out


@pinning
def grouped_exact_quantiles(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column | str],
    value_col: str,
    quantiles: list[tuple[int, int]] = ((1, 2), (9, 10)),
    out_value_col: str = "value",
) -> DataFrame:
    """EXACT nearest-rank quantiles PER GROUP — ``quantile_disc(...) GROUP
    BY g`` without per-group windows: ONE ordinal spine over
    (group, order) — never ``Window.partitionBy(group)``'s hash exchange
    with whatever skew the group sizes carry — then each group's rank is
    ``global ordinal − the group's first ordinal``, and quantile q of a
    group with n rows selects rank ``⌈q·n⌉−1`` (pure integer arithmetic).
    The per-group (first, count) table is one tiny agg joined back; the
    quantile spec fans it out |groups|·|quantiles| rows, still broadcast-
    sized for any realistic stratification.

    Returns ``(group…, q_num, q_den, value)``.  ``order_cols`` must
    total-order rows WITHIN every group (include a tiebreak).
    """
    for num, den in quantiles:
        if not (0 < num <= den):
            raise ValueError(f"quantile {num}/{den} outside (0, 1]")
    gcols = [F.col(c) for c in group_cols]
    o = assign_ordinals(
        df, [c.asc() for c in gcols] + list(order_cols), "__gq_g"
    )
    stats = o.groupBy(*group_cols).agg(
        F.min("__gq_g").alias("__gq_0"), F.count(F.lit(1)).alias("__gq_n")
    )
    # per-(group, quantile) target ordinal: first + ⌈q·n⌉ − 1, integer
    # math.  The spec fans stats out by EXPLODING a literal quantile array
    # — one evaluation of the stats agg; the previous union-of-k-selects
    # planned the agg (an aggregate pass over the cached spine) once per
    # quantile (r14 fix, the weighted_quantiles pattern).
    qarr = F.array(
        *[
            F.struct(F.lit(num).alias("q_num"), F.lit(den).alias("q_den"))
            for num, den in quantiles
        ]
    )
    spec = (
        stats.select(*group_cols, "__gq_0", "__gq_n", F.explode(qarr).alias("__q"))
        .select(
            *group_cols,
            F.col("__q.q_num").alias("q_num"),
            F.col("__q.q_den").alias("q_den"),
            (
                F.col("__gq_0")
                + F.expr("CAST((__q.q_num * __gq_n + __q.q_den - 1) DIV __q.q_den AS BIGINT)")
                - F.lit(1)
            ).alias("__gq_g"),
        )
    )
    out = (
        F.broadcast(spec)
        .join(o.select(F.col("__gq_g"), F.col(value_col)), "__gq_g")
        .select(*group_cols, "q_num", "q_den", F.col(value_col).alias(out_value_col))
    )
    return out


@pinning
def weighted_quantiles(
    df: DataFrame,
    order_cols: list[Column | str],
    weight_col: str,
    value_col: str,
    quantiles: list[tuple[int, int]] = ((1, 2), (3, 4), (9, 10)),
    out_value_col: str = "value",
) -> DataFrame:
    """EXACT weighted quantiles over a total order: the first row (in
    ``order_cols`` order) whose cumulative weight reaches ``q·W`` — e.g.
    "the document length the median TOKEN lives in", the packing-budget
    question plain row quantiles (:func:`exact_quantiles`) get wrong when
    long documents carry most of the mass.

    One prefix-sum spine (:func:`assign_prefix_sums` — weights must be
    integral bigints), then per-quantile selection is a single aggregate
    row unpivoted to a k-row broadcast spec joined back on the ordinal;
    the reach test is pure integer arithmetic (``cum·den ≥ num·W``).
    Returns ``(q_num, q_den, value, cum_weight)``.
    """
    ps = assign_prefix_sums(
        df, order_cols, weight_col, out_col="__wq_cum", ordinal_col="__wq_ord"
    )
    W = ps._prefix_total
    for num, den in quantiles:
        if not (0 < num <= den):
            raise ValueError(f"quantile {num}/{den} outside (0, 1]")
    # ONE aggregate pass computes every quantile's target ordinal, then the
    # 1-row result is collected and the k-row spec built driver-side.  The
    # previous form unioned k `row.select(...)` pieces, and Catalyst plans
    # each union branch (and the join's probe side) as its OWN evaluation
    # of the agg over the mapInPandas scan — no exchange reuse fires across
    # the Python boundary, so a 3-quantile call planned 20 MapInPandas
    # nodes: k extra full-corpus Arrow passes per call (measured r14; the
    # sorted frame cache made them cheap locally and invisible to the
    # oracle, but at 100 TB each pass is a full corpus crossing of the
    # Python boundary).
    row = ps.agg(
        *[
            F.min(
                F.when(
                    F.col("__wq_cum") * F.lit(den) >= F.lit(num) * F.lit(W),
                    F.col("__wq_ord"),
                )
            ).alias(f"__o{i}")
            for i, (num, den) in enumerate(quantiles)
        ]
    ).first()
    spec = df.sparkSession.createDataFrame(
        [
            (num, den, None if row[f"__o{i}"] is None else int(row[f"__o{i}"]))
            for i, (num, den) in enumerate(quantiles)
        ],
        "q_num int, q_den int, __wq_ord bigint",
    )
    out = (
        F.broadcast(spec)
        .join(ps, "__wq_ord")
        .select(
            "q_num",
            "q_den",
            F.col(value_col).alias(out_value_col),
            F.col("__wq_cum").alias("cum_weight"),
        )
    )
    return out


@pinning
def rank_features(
    df: DataFrame,
    order_cols: list[Column | str],
    ntile_k: int | None = None,
    ntile_col: str = "ntile",
    percent_rank_col: str | None = None,
    digits: int = 6,
) -> DataFrame:
    """Exact NTILE and/or PERCENT_RANK over ONE shared ordinal spine —
    both are row-local arithmetic on the same global ordinal, so asking
    for both costs one ``assign_ordinals`` (one range exchange, one
    persist, one count collect), not two.

    NTILE semantics exactly match SQL: with n rows, the first ``n mod k``
    buckets carry ``⌈n/k⌉`` rows (n < k → one row per leading bucket).
    PERCENT_RANK = (rank−1)/(n−1), which equals ordinal/(n−1) under a
    unique total order; a single-row frame scores 0.0.  ``order_cols``
    must define a total order (unique tiebreak), as for
    ``assign_ordinals``.
    """
    if ntile_k is None and percent_rank_col is None:
        raise ValueError("rank_features: request ntile_k and/or percent_rank_col")
    o = assign_ordinals(df, order_cols, "__ord_rf")
    n = o._ordinal_total
    ord_c = F.col("__ord_rf")
    out = o
    if ntile_k is not None:
        q, r = divmod(n, ntile_k) if n else (0, 0)
        if q == 0:
            bucket = ord_c + 1  # n < k: one row per leading bucket
        else:
            big = r * (q + 1)
            bucket = (
                F.when(ord_c < big, F.floor(ord_c / (q + 1)))
                .otherwise(r + F.floor((ord_c - big) / q))
                + 1
            )
        out = out.withColumn(ntile_col, bucket.cast("int"))
    if percent_rank_col is not None:
        pr = (
            F.lit(0.0)
            if n <= 1
            else F.round(ord_c / F.lit(float(n - 1)), digits)
        )
        out = out.withColumn(percent_rank_col, pr)
    return out.drop("__ord_rf")


def exact_ntile(
    df: DataFrame,
    order_cols: list[Column | str],
    k: int,
    out_col: str = "ntile",
) -> DataFrame:
    """Exact ``NTILE(k) OVER (ORDER BY ...)`` without the single-partition
    window — see :func:`rank_features` (this is the ntile-only form)."""
    return rank_features(df, order_cols, ntile_k=k, ntile_col=out_col)


def exact_percent_rank(
    df: DataFrame,
    order_cols: list[Column | str],
    out_col: str = "percent_rank",
    digits: int = 6,
) -> DataFrame:
    """Exact ``PERCENT_RANK() OVER (ORDER BY ...)`` without the
    single-partition window — see :func:`rank_features` (the
    percent-rank-only form)."""
    return rank_features(df, order_cols, percent_rank_col=out_col, digits=digits)
