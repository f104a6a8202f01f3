"""Spatial join + grid aggregation operators (SURVEY §2.4 J2/J3/J10, §2.5 A1/A2).

Scale design: every spatial operator reduces to an **equi-join on computed
grid-cell keys** followed by an exact geometric test — the distributed
replacement for the reference's R-tree probe (``get_osm_data.py:63-81``) and
its 4096-cell nested containment loop (``aggregate_rental_rates.py:122-126``).
Cell keys are ordinary shuffle keys, so Catalyst/AQE plan these like any hash
join (broadcast when one side is small, skew-split when a cell is hot).
These built-in kernels are the only spatial path; no optional geometry
library is consulted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from re_data_pipeline_spark.functions.geo import (
    cell_corners_str,
    cell_id,
    euclidean_distance,
)

# point_in_polygon_join tests containment with the Column expression up to
# this many vertices in the polygon side's largest geometry, and with the
# pandas-UDF kernel above it.
EXPR_MAX_VERTICES = 4096


def grid_aggregate(
    df: DataFrame,
    x_col: str,
    y_col: str,
    value_col: str,
    group_cols: list[str],
    origin_x: float,
    origin_y: float,
    cell_size: float,
    grid_cells: int | None = None,
    emit_corners: bool = False,
) -> DataFrame:
    """Grid-cell statistical aggregation (reference A1):

    per (cell, *group_cols): ``avg``, ``count``, sample stddev (pandas
    ddof=1 — ``stddev_samp``) with the reference's n==1 → 0.0 rule
    (``aggregate_rental_rates.py:129-131``).  Null values are dropped first
    (``to_numeric(errors='coerce').dropna()``, ``:127``).

    One hash shuffle on (cell_x, cell_y, *group_cols); partial aggregation is
    map-side combined, so 100 TB of points reduce to |cells × groups| rows.
    """
    v = F.col(value_col).try_cast("double")
    cells = df.withColumn("__v", v).where(F.col("__v").isNotNull())
    cells = cells.withColumn("cell_x", cell_id(F.col(x_col), origin_x, cell_size))
    cells = cells.withColumn("cell_y", cell_id(F.col(y_col), origin_y, cell_size))
    if grid_cells is not None:
        # stay inside the reference's finite grid (64×64 cells)
        cells = cells.where(
            (F.col("cell_x") >= 0)
            & (F.col("cell_x") < grid_cells)
            & (F.col("cell_y") >= 0)
            & (F.col("cell_y") < grid_cells)
        )
    agg = cells.groupBy("cell_x", "cell_y", *group_cols).agg(
        F.avg("__v").alias("avg_value"),
        F.count("__v").alias("num_values"),
        F.coalesce(F.stddev_samp("__v"), F.lit(0.0)).alias("standard_deviation"),
    )
    if emit_corners:
        agg = agg.withColumn(
            "grid_coordinates",
            cell_corners_str("cell_x", "cell_y", origin_x, origin_y, cell_size),
        )
    return agg


def radius_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    left_xy: tuple[str, str] = ("x", "y"),
    right_xy: tuple[str, str] = ("x", "y"),
    distance_col: str = "distance",
) -> DataFrame:
    """Distance-≤-radius join via grid-cell prefilter + exact distance test.

    Replaces the reference's per-row R-tree probe (J3,
    ``get_osm_data.py:63-81``, radius 1000 m): bucket both sides into cells of
    size = radius; explode the left side to its 3×3 cell neighborhood;
    equi-join on the cell; keep pairs with exact euclidean distance ≤ radius.

    Candidate count is bounded by local density (9 cells), never |L|×|R| —
    the plan is a hash join on cell keys that AQE can broadcast or skew-split.

    Right-side columns that collide with left-side names are suffixed
    ``_r`` in the output (so both sides may use plain ``x``/``y``).
    """
    lx, ly = left_xy
    rx, ry = right_xy
    collisions = set(left.columns) & set(right.columns)
    if collisions:
        for c in collisions:
            right = right.withColumnRenamed(c, f"{c}_r")
        rx = f"{rx}_r" if rx in collisions else rx
        ry = f"{ry}_r" if ry in collisions else ry
    neighbors = F.expr(
        "explode(flatten(transform(sequence(-1,1), dx -> "
        "transform(sequence(-1,1), dy -> struct(dx, dy)))))"
    )
    l = (
        left.withColumn("__cx", cell_id(F.col(lx), 0.0, radius))
        .withColumn("__cy", cell_id(F.col(ly), 0.0, radius))
        .select("*", neighbors.alias("__n"))
        .withColumn("__jx", F.col("__cx") + F.col("__n.dx"))
        .withColumn("__jy", F.col("__cy") + F.col("__n.dy"))
        .drop("__n", "__cx", "__cy")
    )
    r = (
        right.withColumn("__jx", cell_id(F.col(rx), 0.0, radius))
        .withColumn("__jy", cell_id(F.col(ry), 0.0, radius))
    )
    joined = l.join(r, ["__jx", "__jy"])
    dist = euclidean_distance(F.col(lx), F.col(ly), F.col(rx), F.col(ry))
    return (
        joined.withColumn(distance_col, dist)
        .where(F.col(distance_col) <= F.lit(radius))
        .drop("__jx", "__jy")
    )


def band_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_val: str,
    delta: float,
    diff_col: str = "diff",
) -> DataFrame:
    """1-D range (band) join: pairs with |left.val − right.val| ≤ delta.

    Same cell-bucket trick as the radius join in one dimension: bucket both
    sides by ``delta``, explode the left row to its 3 neighbor buckets,
    equi-join, exact filter.  The generic replacement for a theta range
    join — candidates bounded by local density, never |L|×|R|.
    """
    collisions = set(left.columns) & set(right.columns)
    for c in collisions:
        right = right.withColumnRenamed(c, f"{c}_r")
    if right_val in collisions:
        right_val = f"{right_val}_r"
    l = (
        left.withColumn("__b", F.floor(F.col(left_val) / F.lit(delta)).cast("long"))
        .select("*", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("__d"))
        .withColumn("__jb", F.col("__b") + F.col("__d"))
        .drop("__b", "__d")
    )
    r = right.withColumn("__jb", F.floor(F.col(right_val) / F.lit(delta)).cast("long"))
    out = l.join(r, "__jb").withColumn(
        diff_col, F.abs(F.col(left_val) - F.col(right_val))
    )
    return out.where(F.col(diff_col) <= F.lit(delta)).drop("__jb")


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    point_xy: tuple[str, str] = ("x", "y"),
    ring_col: str = "ring",
    how: str = "left",
) -> DataFrame:
    """Point-within-polygon join (J2, ``get_zoning_data.py:60`` sjoin within).

    ``ring_col`` may be a single ring (``array<struct<x,y>>``) or a
    multi-ring geometry (``array<array<struct<x,y>>>`` — outer ring(s) +
    interior holes, the reference's MultiPolygon zoning shape,
    ``get_zoning_data.py:33-34,53-56``); the shape is detected from the
    schema and containment is even-odd across all rings.

    Physical plan: broadcast the polygon table with precomputed bboxes, join
    on bbox containment (range predicates Catalyst can evaluate without
    Python), then run the exact even-odd test only on bbox survivors.  The
    exact-test engine is picked by the polygon table's largest geometry
    (one tiny aggregate over the already-broadcast-small polygon side):

    - up to ``EXPR_MAX_VERTICES`` vertices, a pure Column expression
      (``point_in_rings_expr``): the whole join stays inside whole-stage
      codegen, no Python worker, no Arrow hop.  The right choice for
      dimension-table polygons (zoning districts: tens of vertices).
    - above it, the numpy-vectorized pandas UDF: one edge pass per Arrow
      batch, better once individual geometries carry thousands of vertices
      (the expression form re-walks edges per candidate row).

    Polygon sides in this workload are small dimension tables, so the
    broadcast is the right plan at any scale; for huge polygon sets swap
    the bbox predicate for a shared grid-cell key.
    """
    from pyspark.sql.types import ArrayType

    from re_data_pipeline_spark.functions.geo import (
        point_in_edges_expr,
        point_in_flat_rings_udf,
        rings_to_edges,
    )

    px, py = point_xy
    shared = set(points.columns) & set(polygons.columns)
    if shared:
        raise ValueError(
            f"points and polygons share column names {sorted(shared)} — "
            "rename one side before the join (ambiguous references would "
            "break the left-join branch)"
        )
    ring_type = polygons.schema[ring_col].dataType
    multi = isinstance(ring_type, ArrayType) and isinstance(
        ring_type.elementType, ArrayType
    )
    # every vertex of every ring (flatten for multi)
    flat = F.flatten(F.col(ring_col)) if multi else F.col(ring_col)
    max_vertices = polygons.agg(F.max(F.size(flat))).first()[0]
    use_expr = (max_vertices or 0) <= EXPR_MAX_VERTICES
    # bbox over every vertex — holes lie inside the outer bbox so the
    # prefilter is unaffected by them
    polys = polygons.withColumn(
        "__xmin", F.array_min(F.transform(flat, lambda p: p["x"]))
    ).withColumn(
        "__xmax", F.array_max(F.transform(flat, lambda p: p["x"]))
    ).withColumn(
        "__ymin", F.array_min(F.transform(flat, lambda p: p["y"]))
    ).withColumn(
        "__ymax", F.array_max(F.transform(flat, lambda p: p["y"]))
    )
    bbox = (
        (F.col(px) >= F.col("__xmin"))
        & (F.col(px) <= F.col("__xmax"))
        & (F.col(py) >= F.col("__ymin"))
        & (F.col(py) <= F.col("__ymax"))
    )
    drop_cols = ["__xmin", "__xmax", "__ymin", "__ymax"]
    if use_expr:
        # edge array precomputed per polygon row BEFORE the broadcast: the
        # per-candidate test is then one flat arithmetic fold inside
        # whole-stage codegen — no Python worker in the join path
        rings_col = F.col(ring_col) if multi else F.array(F.col(ring_col))
        polys = polys.withColumn("__edges", rings_to_edges(rings_col))
        contained = point_in_edges_expr(F.col(px), F.col(py), F.col("__edges"))
        drop_cols.append("__edges")
    else:
        # the UDF kernel takes the FLATTENED ring encoding: Arrow→pandas
        # rejects ragged nested lists (outer ring + smaller hole is the
        # NORMAL multi-ring shape), so array<array<struct>> can't cross the
        # Python boundary directly — one flat struct array + ring sizes can
        rings_col = F.col(ring_col) if multi else F.array(F.col(ring_col))
        nn = F.filter(rings_col, lambda r: r.isNotNull())
        polys = polys.withColumn("__flat", F.flatten(nn)).withColumn(
            "__sizes", F.transform(nn, F.size)
        )
        pip = point_in_flat_rings_udf()
        contained = pip(F.col(px), F.col(py), F.col("__flat"), F.col("__sizes"))
        drop_cols += ["__flat", "__sizes"]
    candidates = points.join(F.broadcast(polys), bbox, "inner").where(
        contained
    ).drop(*drop_cols)
    if how == "inner":
        return candidates
    if use_expr:
        # left join in ONE pass, containment in the join condition.  The
        # old two-pass form (anti-join the matched keys, union the rest)
        # was null-UNSAFE — a matched point carrying a NULL in any
        # pass-through column never matched the anti-join's equality, so
        # it was emitted TWICE (matched + unmatched-with-NULL-polygon) —
        # and it recomputed the containment subtree twice (r13 fix).
        return points.join(F.broadcast(polys), bbox & contained, "left").drop(
            *drop_cols
        )
    # the UDF kernel cannot sit in a LEFT JOIN ON clause
    # (UNSUPPORTED_FEATURE.PYTHON_UDF_IN_ON_CLAUSE) — two-pass, but with a
    # NULL-SAFE anti-join on the point columns (same r13 fix)
    matched = candidates.select(points.columns).distinct().select(
        [F.col(c).alias(f"__m_{c}") for c in points.columns]
    )
    cond = None
    for c in points.columns:
        e = points[c].eqNullSafe(F.col(f"__m_{c}"))
        cond = e if cond is None else cond & e
    unmatched = points.join(matched, cond, "left_anti")
    for c in candidates.columns:
        if c not in points.columns:
            unmatched = unmatched.withColumn(c, F.lit(None))
    return candidates.unionByName(unmatched)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    max_radius: float,
    left_id: str,
    left_xy: tuple[str, str] = ("x", "y"),
    right_xy: tuple[str, str] = ("x", "y"),
    distance_col: str = "distance",
) -> DataFrame:
    """k nearest right-side points per left row, bounded by ``max_radius``.

    The bounded form is what distributes: unbounded kNN needs expanding
    per-point search (an R-tree walk — inherently sequential per probe),
    while radius-bounded kNN is the ``radius_join`` cell equi-join plus ONE
    rank window partitioned by the left id.  Left rows with fewer than k
    neighbors inside the radius return what exists (possibly zero rows) —
    callers that need guaranteed-k re-probe the misses at 2× radius (cheap:
    the misses are by construction in sparse regions).

    Ties on distance break by the right-side coordinates, so results are
    deterministic across partitionings.
    """
    from pyspark.sql.window import Window

    rx, ry = right_xy
    near = radius_join(left, right, max_radius, left_xy, right_xy, distance_col)
    # radius_join suffixes colliding right-side names with _r
    rx_out = f"{rx}_r" if rx in left.columns else rx
    ry_out = f"{ry}_r" if ry in left.columns else ry
    w = Window.partitionBy(left_id).orderBy(
        F.col(distance_col).asc(), F.col(rx_out).asc(), F.col(ry_out).asc()
    )
    return (
        near.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
