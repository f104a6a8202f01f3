"""Iterative graph propagation beyond connected components: PageRank.

Link-graph rank is a standard corpus-curation signal (OPT/CCNet-style
pipelines weight pages by link authority before sampling).  The loop is the
same join+groupBy-per-round shape as ``dedup.connected_components`` —
shuffle keyed by node id, lineage truncated per round — but propagates a
NUMERIC mass instead of a min-label, which raises the cross-engine
determinism problem CC doesn't have: floating-point mass sums depend on
partition order.

Solution: FIXED-POINT integer arithmetic end to end.  Ranks are BIGINTs at
``scale`` (1e6) resolution; per-edge contributions use integer floor
division (``rank DIV out_degree``), and the damping update is
``(15·scale) DIV 100 + (85·incoming) DIV 100``.  Integer sums are
order-independent, so Spark and DuckDB agree bit-for-bit after any number
of iterations — same technique as ``selection.dsir_log_weights``.  The
deviation from real-valued PageRank is bounded by out_degree·ulp per node
per round (≤ 1e-6·deg), irrelevant for ranking use.

Dangling nodes (no out-edges) keep the teleport mass only — the standard
simplification; redistribute-dangling variants add one broadcast 1-row agg
per round if mass conservation matters.

Because every step is integer arithmetic, a numpy replay of the rounds is
bit-exact too: below ``layout.fits_one_task`` the whole loop runs in one
task (``pagerank_fixed``), as ``dedup.connected_components`` does with
its min-label rounds.  :func:`integral_ids`, :func:`arrow_id_columns`
and :func:`arrow_id_array` are the id plumbing both solvers share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, LongType, StructField, StructType

from re_data_pipeline_spark.operators.ids import hold, pin, pinning, release
from re_data_pipeline_spark.operators.layout import fits_one_task, narrow_small_frame


def integral_ids(edges: DataFrame) -> bool:
    """True when both columns of the two-column edge frame share one
    integral type, so a one-task solver can carry them as numpy int64."""
    a, b = (f.dataType for f in edges.schema.fields)
    return a == b and isinstance(a, IntegralType)


def arrow_id_columns(batches):
    """The two id columns of an iterator of Arrow record batches as
    ``(src, src_null, dst, dst_null, id_type)``: int64 numpy values (null
    slots 0), boolean null masks and the Arrow id type; None when there
    are no batches."""
    import numpy as np
    import pyarrow as pa

    batches = list(batches)
    if not batches:
        return None
    out = []
    for i in (0, 1):
        a = pa.concat_arrays([b.column(i) for b in batches])
        out += [
            a.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64),
            a.is_null().to_numpy(zero_copy_only=False),
        ]
    return (*out, batches[0].schema.field(0).type)


def arrow_id_array(values, null_tail: bool, id_type):
    """``values`` as an Arrow array of ``id_type``, plus one trailing null
    when ``null_tail``."""
    import numpy as np
    import pyarrow as pa

    mask = np.zeros(len(values) + null_tail, dtype=bool)
    mask[len(values):] = True
    vals = np.append(values, np.zeros(int(null_tail), np.int64))
    return pa.array(vals, type=pa.int64(), mask=mask).cast(id_type)


def _pagerank_solve(batches, iterations: int, scale: int):
    """``pagerank_fixed``'s rounds over the whole ``(e_src, e_dst)`` edge
    list in one task.  Same integer steps as the distributed loop: a null
    endpoint never joins, so a null node keeps the teleport mass only and
    edges into it lose their share."""
    import numpy as np
    import pyarrow as pa

    cols = arrow_id_columns(batches)
    if cols is None:
        return
    s, s_null, d, d_null, id_type = cols
    nodes = np.unique(np.concatenate([s[~s_null], d[~d_null]]))
    # every edge with a node source counts toward that source's degree
    deg = np.bincount(np.searchsorted(nodes, s[~s_null]), minlength=len(nodes))
    live = ~(s_null | d_null)
    order = np.argsort(d[live], kind="stable")
    si = np.searchsorted(nodes, s[live][order])
    di = np.searchsorted(nodes, d[live][order])
    starts = np.flatnonzero(np.r_[True, di[1:] != di[:-1]]) if len(di) else di
    ranks = np.full(len(nodes), scale, dtype=np.int64)
    teleport = (15 * scale) // 100
    for _ in range(iterations):
        inc = np.zeros(len(nodes), dtype=np.int64)
        if len(di):
            inc[di[starts]] = np.add.reduceat(ranks[si] // deg[si], starts)
        ranks = teleport + (85 * inc) // 100
    has_null = bool(s_null.any() or d_null.any())
    rank_col = np.append(ranks, [scale if iterations == 0 else teleport] * has_null)
    yield pa.RecordBatch.from_arrays(
        [arrow_id_array(nodes, has_null, id_type), pa.array(rank_col.astype(np.int64), pa.int64())],
        names=["node", "rank_fixed"],
    )


@pinning
def pagerank_fixed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """(node, rank_fixed) after ``iterations`` damped rounds (d=0.85),
    all-integer arithmetic at ``scale`` resolution.

    Checkpoint discipline (r14 — this loop was the one iterative operator
    the r13 release pass missed): rounds checkpoint EAGERLY so round r−1's
    blocks can be released as soon as round r is materialized (the
    BFS/SSSP protocol; the pre-r14 lazy chain left nodes + edges + every
    round's checkpoint pinned with NO release handle — 7 RDDs per
    invocation surviving ``clearCache`` for the session's lifetime).  The
    checkpoint the returned ranks read is pinned, so
    ``ids.release_spines`` frees it after materialization: the final
    round's, or at ``iterations=0`` the node seed's.

    One task: when the edge checkpoint measures under
    ``layout.fits_one_task`` and both ids share an integral type, every
    round runs in one task instead (``coalesce(1)`` + ``mapInArrow``,
    numpy int64; executors need numpy and pyarrow, as for
    ``ids.assign_prefix_sums``).  The integer steps make it bit-exact,
    and the result is one eager, pinned checkpoint.  Above the gate, or
    when the size is unknown, the distributed loop below runs."""
    e = hold(edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst")).localCheckpoint())
    if fits_one_task(e) and integral_ids(e):
        schema = StructType([
            StructField("node", e.schema.fields[0].dataType, any(f.nullable for f in e.schema.fields)),
            # the loop's ``DIV`` is nullable; its seed literal is not
            StructField("rank_fixed", LongType(), iterations > 0),
        ])
        return pin(
            e.coalesce(1)
            .mapInArrow(lambda it: _pagerank_solve(it, iterations, scale), schema)
            .localCheckpoint()
        )
    # the uniform seed ranks read the node checkpoint: pinned until round
    # 1 materializes, then only the loop reads it
    nodes = pin(narrow_small_frame(
        edges.select(F.col(src).alias("n"))
        .union(edges.select(F.col(dst).alias("n")))
        .distinct()
    ).localCheckpoint())
    deg = e.groupBy("e_src").agg(F.count(F.lit(1)).alias("out_deg"))
    ranks = nodes.withColumn("rank_f", F.lit(scale).cast("long"))
    prev = None  # round r-1's checkpoint — dead once round r materializes
    teleport = (15 * scale) // 100
    for _ in range(iterations):
        contrib = (
            ranks.join(deg, ranks.n == deg.e_src)
            .select(F.col("n"), F.expr("rank_f DIV out_deg").alias("c"))
            .join(e, F.col("n") == F.col("e_src"))
            .select(F.col("e_dst").alias("n2"), "c")
        )
        incoming = contrib.groupBy("n2").agg(F.sum("c").alias("inc"))
        new_ranks = pin(
            nodes.join(incoming, nodes.n == incoming.n2, "left")
            .select(
                "n",
                (
                    F.lit(teleport).cast("long")
                    + F.expr("85 * coalesce(inc, 0L) DIV 100")
                ).alias("rank_f"),
            )
            .localCheckpoint()  # eager: materializes, so prev is dead
        )
        release(prev)
        hold(nodes)  # the ranks read new_ranks now, not the seed
        prev = ranks = new_ranks
    return ranks.select(F.col("n").alias("node"), F.col("rank_f").alias("rank_fixed"))


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count over an undirected simple graph → 1 row
    ``(n_triangles bigint)``.

    The classic clustering/cohesion metric (and the standard MapReduce-era
    scalability benchmark).  Ordered-edge formulation: canonicalize each
    edge to (lo, hi), dedupe, then count paths lo<mid<hi that close —
    every triangle {a<b<c} is counted exactly once as (a,b)+(b,c)+(a,c).

    Plan shape at 100 TB: two equi-joins on node keys — no direction
    explosion, no cross join; the ordered orientation means each join
    probes only HIGHER-numbered neighbors, which bounds the join fan-out
    by the ordered degree (the classic trick that tames power-law hubs:
    a hub's ordered out-degree is ~sqrt of its total degree on average).
    AQE skew-split covers the residual hot nodes.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    ab = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ac = e.select(F.col("u").alias("a2"), F.col("v").alias("c2"))
    return (
        ab.join(bc, "b")
        .join(ac, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")), "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


@pinning
def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    max_iterations: int = 64,
) -> DataFrame:
    """Multi-source BFS over a DIRECTED edge list → ``(node, dist)`` with
    the minimum hop count from any source (sources at 0).  Unreachable
    nodes are absent.  The third iterative-graph shape next to connected
    components (connectivity) and PageRank (numeric fixpoint): frontier
    expansion with monotone state.

    Each round: frontier ⨝ edges → candidate nodes → anti-join against
    the visited set (BFS's first visit IS the min distance, so no
    re-relaxation ever happens — unlike weighted SSSP).  Shuffles are
    keyed on node ids; per-round lineage is localCheckpoint-truncated;
    rounds = eccentricity of the source set.  At 100 TB scale the frontier
    is the only growing term — visited stays an id set, and hub fan-out
    is one AQE-splittable join per round.

    Returns the final visited checkpoint itself, pinned, so
    ``ids.release_spines`` frees it.
    """
    visited = pin(sources.select(F.col(node), F.lit(0).alias("dist")).distinct().localCheckpoint())
    frontier = visited
    for level in range(1, max_iterations + 1):
        nxt = (
            frontier.join(edges, frontier[node] == edges[src])
            .select(F.col(dst).alias(node))
            .distinct()
            .join(visited, node, "left_anti")
            .withColumn("dist", F.lit(level))
        )
        nxt = hold(nxt.localCheckpoint())
        if nxt.isEmpty():
            break
        prev_visited, prev_frontier = visited, frontier
        visited = pin(visited.unionByName(nxt).localCheckpoint())
        frontier = nxt
        # the new visited checkpoint is materialized and round r's nxt was
        # the last reader of the old frontier — release both superseded
        # checkpoints
        release(prev_visited)
        release(prev_frontier)
    else:
        raise RuntimeError(
            f"bfs_distances did not exhaust the frontier in {max_iterations} "
            "rounds — raise max_iterations (graph eccentricity too large)"
        )
    return visited


@pinning
def sssp_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node: str = "node",
    max_iterations: int = 256,
    _plan_probe=None,
) -> DataFrame:
    """Single/multi-source shortest WEIGHTED path distances (non-negative
    integer weights) → ``(node, dist)``; unreachable nodes absent.

    Frontier-limited Bellman-Ford: each round relaxes only out-edges of
    nodes whose distance improved last round (the delta-stepping intuition
    without buckets), so settled regions stop generating traffic.  Rounds
    ≤ the hop count of the longest minimum-weight path; each round is one
    node-keyed join + min-combine + improvement anti-filter, with lineage
    localCheckpoint-truncated — the CC/PageRank/BFS loop discipline.
    Weights must be ≥ 0 (negative edges need true Bellman-Ford with a
    final negative-cycle probe — out of scope for distance-to-content
    use cases).

    ``_plan_probe`` (plan audits only — the kcenter_select precedent):
    called with ``(round, improved_frame)`` on the round's PRE-checkpoint
    relaxation frame, so the join + min-combine + improvement-filter plan
    shape is assertable from outside before localCheckpoint truncates it.

    Returns the final dist checkpoint itself, pinned, so
    ``ids.release_spines`` frees it.
    """
    dist = pin(
        sources.select(F.col(node), F.lit(0).cast("long").alias("dist"))
        .distinct()
        .localCheckpoint()
    )
    frontier = dist
    for _r in range(max_iterations):
        cand = (
            frontier.join(edges, frontier[node] == edges[src])
            .select(
                edges[dst].alias("__n"),
                (frontier["dist"] + edges[weight]).alias("__cand"),
            )
            .groupBy("__n")
            .agg(F.min("__cand").alias("__cand"))
        )
        # alias both sides: on round 1 the frontier IS the dist frame,
        # so cand derives from dist and an attribute-reference join
        # (dist["dist"]) trips Spark's ambiguous-self-join check
        improved = (
            cand.alias("__c")
            .join(dist.alias("__d"), F.col("__n") == F.col(f"__d.{node}"), "left")
            .where(
                F.col("__d.dist").isNull() | (F.col("__cand") < F.col("__d.dist"))
            )
            .select(F.col("__n").alias(node), F.col("__cand").alias("dist"))
        )
        if _plan_probe is not None:
            _plan_probe(_r + 1, improved)
        improved = hold(improved.localCheckpoint())
        if improved.isEmpty():
            break
        new_dist = pin(
            dist.withColumnRenamed("dist", "__old")
            .join(improved.withColumnRenamed("dist", "__new"), node, "full")
            .select(
                node,
                F.least(
                    F.coalesce(F.col("__old"), F.col("__new")),
                    F.coalesce(F.col("__new"), F.col("__old")),
                ).alias("dist"),
            )
            .localCheckpoint()
        )
        # new_dist is materialized; the old dist and the old frontier
        # (improved_{r-1}, last read by this round's cand) are superseded
        release(dist)
        release(frontier)
        dist = new_dist
        frontier = improved
    else:
        raise RuntimeError(
            f"sssp_distances did not settle in {max_iterations} rounds — "
            "raise max_iterations (longest min-weight path has more hops)"
        )
    return dist
