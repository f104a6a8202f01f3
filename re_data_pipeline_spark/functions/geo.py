"""Geospatial expression kernel (SURVEY §2.4 J2/J3/J10, §2.8 F15, §7 step 4).

The reference leans on geopandas/shapely (R-tree radius search
``get_osm_data.py:63-81``, ``sjoin within`` ``get_zoning_data.py:60``, grid
containment ``aggregate_rental_rates.py:122-126``).  Spark has no native geo
types, so this kernel represents geometry as plain columns:

- points: ``x``/``y`` double columns (planar meters after projection);
- polygons: ``array<struct<x:double, y:double>>`` rings (closed or open);
- grid cells: integer ``(cell_x, cell_y)`` ids — the *scalable* replacement
  for both the R-tree (J3) and the 4096-cell nested loop (J10): a cell id is
  a shuffle key, so spatial joins become equi-joins Catalyst can plan.

Everything is a pure Column expression except the pandas-UDF (Arrow-batched)
forms of the ray cast, which share one numpy kernel (``_raycast_batch``).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

EARTH_RADIUS_M = 6_371_000.0


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def cell_id(coord: Column | str, origin: float, cell_size: float) -> Column:
    """Grid-cell index along one axis: floor((coord - origin) / cell_size).

    Replaces the reference's per-cell ``within`` loop
    (``aggregate_rental_rates.py:122-126``) with an O(n) computed key —
    at 100 TB the groupBy on (cell_x, cell_y) is one ordinary hash shuffle.
    """
    return F.floor((_c(coord) - F.lit(origin)) / F.lit(cell_size)).cast("long")


def cell_corners_str(
    cell_x: Column | str, cell_y: Column | str, origin_x: float, origin_y: float, cell: float
) -> Column:
    """Reconstruct the reference's ``str(list(cell.geometry.exterior.coords))``
    output (``aggregate_rental_rates.py:135``): a closed 5-corner ring string
    built purely from the cell indices — no geometry object needed.
    """
    x0 = (_c(cell_x) * F.lit(cell) + F.lit(origin_x)).cast("double")
    y0 = (_c(cell_y) * F.lit(cell) + F.lit(origin_y)).cast("double")
    x1, y1 = x0 + F.lit(cell), y0 + F.lit(cell)

    def pt(x: Column, y: Column) -> Column:
        return F.format_string("(%s, %s)", x.cast("string"), y.cast("string"))

    return F.format_string(
        "[%s, %s, %s, %s, %s]",
        pt(x0, y0), pt(x1, y0), pt(x1, y1), pt(x0, y1), pt(x0, y0),
    )


def euclidean_distance(x1, y1, x2, y2) -> Column:
    dx = _c(x1) - _c(x2)
    dy = _c(y1) - _c(y2)
    return F.sqrt(dx * dx + dy * dy)


def utm_project(lat: Column | str, lon: Column | str, zone: int = 12) -> tuple[Column, Column]:
    """Spherical-approximation transverse-Mercator projection to UTM meters.

    The reference reprojects EPSG:4326 → EPSG:32612 via pyproj
    (``aggregate_rental_rates.py:86-90``, ``get_osm_data.py:58-60``).  This is
    the classic Gauss-Krüger spherical form — deterministic, pure expressions,
    accurate to ~1 km absolute but locally consistent, which is all the grid
    bucketing needs (cells are relative to a projected origin).
    """
    k0 = 0.9996
    lon0 = math.radians(zone * 6 - 183)
    lam = F.radians(_c(lon)) - F.lit(lon0)
    phi = F.radians(_c(lat))
    b = F.cos(phi) * F.sin(lam)
    x = F.lit(k0 * EARTH_RADIUS_M / 2) * F.log((F.lit(1.0) + b) / (F.lit(1.0) - b)) + F.lit(500_000.0)
    y = F.lit(k0 * EARTH_RADIUS_M) * (F.atan2(F.tan(phi), F.cos(lam)))
    return x, y


def _raycast_batch(px, py, rings_per_row) -> "pd.Series":
    """Even-odd ray cast over an Arrow batch, numpy-vectorized on the edges.

    ``rings_per_row[i]`` is a list of rings (each array<struct<x,y>>, closed
    or open) belonging to row i — one ring for a simple polygon, outer ring +
    interior holes + additional parts for a MultiPolygon.  A point is inside
    iff its crossing count over ALL rings is odd (even-odd rule: holes
    subtract, disjoint parts add — exactly shapely/GeoJSON semantics for
    valid non-overlapping rings).

    The per-edge test runs as one numpy pass over every edge of every
    candidate row in the batch (edges indexed back to rows with bincount);
    Python touches each ring once only to unpack its vertex arrays.
    """
    import numpy as np

    n = len(px)
    ex1, ey1, ex2, ey2, ridx = [], [], [], [], []
    for i, rings in enumerate(rings_per_row):
        if rings is None:
            continue
        for ring in rings:
            if ring is None or len(ring) < 3:
                continue
            xs = np.fromiter((p["x"] for p in ring), dtype=float, count=len(ring))
            ys = np.fromiter((p["y"] for p in ring), dtype=float, count=len(ring))
            if xs[0] == xs[-1] and ys[0] == ys[-1]:
                xs, ys = xs[:-1], ys[:-1]
            if len(xs) < 3:
                continue
            ex1.append(xs)
            ey1.append(ys)
            ex2.append(np.roll(xs, 1))
            ey2.append(np.roll(ys, 1))
            ridx.append(np.full(len(xs), i, dtype=np.int64))
    if not ex1:
        return pd.Series(np.zeros(n, dtype=bool))
    x1, y1 = np.concatenate(ex1), np.concatenate(ey1)
    x2, y2 = np.concatenate(ex2), np.concatenate(ey2)
    idx = np.concatenate(ridx)
    ppx, ppy = np.asarray(px, dtype=float)[idx], np.asarray(py, dtype=float)[idx]
    cond = (y1 > ppy) != (y2 > ppy)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (ppy - y1) / (y2 - y1) + x1
    hits = cond & (ppx < xint)
    counts = np.bincount(idx[hits], minlength=n)
    return pd.Series((counts % 2) == 1)


def rings_to_edges(rings: Column | str) -> Column:
    """Normalize a multi-ring geometry into ONE flat edge array
    ``array<struct<x1,y1,x2,y2>>`` for the expression ray cast.

    Edge *i* of a ring pairs vertex *i* with vertex *i−1* (wraparound) —
    the `_raycast_batch` convention.  Closed rings (first == last vertex)
    drop the duplicate closing vertex; NULL rings and rings with <3
    remaining vertices contribute no edges; a NULL geometry yields NULL
    (→ not-contained at the predicate).

    Build this ON THE POLYGON SIDE (one evaluation per polygon row, before
    the broadcast): the per-ring slicing/indexing here is O(n²)-ish in
    expression form, which is irrelevant for a dimension table but would
    dominate if re-evaluated per join candidate.
    """

    def ring_edges(ring: Column) -> Column:
        closed = (
            (F.size(ring) > 1)
            & (F.get(ring, 0)["x"] == F.get(ring, F.size(ring) - 1)["x"])
            & (F.get(ring, 0)["y"] == F.get(ring, F.size(ring) - 1)["y"])
        )
        r = F.when(closed, F.slice(ring, 1, F.size(ring) - 1)).otherwise(ring)
        n = F.size(r)
        edges = F.transform(
            r,
            lambda p, ix: F.struct(
                p["x"].alias("x1"),
                p["y"].alias("y1"),
                F.get(r, F.when(ix == 0, n - 1).otherwise(ix - 1))["x"].alias("x2"),
                F.get(r, F.when(ix == 0, n - 1).otherwise(ix - 1))["y"].alias("y2"),
            ),
        )
        return F.when(ring.isNotNull() & (n >= 3), edges).otherwise(
            F.array().cast("array<struct<x1:double,y1:double,x2:double,y2:double>>")
        )

    rc = _c(rings)
    return F.when(
        rc.isNotNull(),
        F.flatten(F.transform(rc, ring_edges)),
    )


def point_in_edges_expr(
    x: Column | str, y: Column | str, edges: Column | str
) -> Column:
    """Even-odd ray cast over a precomputed edge array (``rings_to_edges``)
    as a PURE Column expression — no Python worker, no Arrow hop.

    Same IEEE arithmetic, op for op, as ``_raycast_batch``: a crossing
    needs ``(y1 > Y) != (y2 > Y)`` and ``X < (x2−x1)·(Y−y1)/(y2−y1) + x1``;
    inside iff the crossing count over all edges is odd (holes subtract,
    disjoint parts add).  Per-candidate cost is one flat arithmetic fold —
    the slicing/normalization work lives in ``rings_to_edges`` on the
    polygon side.  Division by zero cannot occur on a counted edge (a
    straddling edge has y1≠y2); non-straddling edges route the divisor
    through a null guard so ANSI mode never throws.
    """
    X, Y = _c(x), _c(y)

    def edge_hit(e: Column) -> Column:
        dy = e["y2"] - e["y1"]
        xint = (e["x2"] - e["x1"]) * (Y - e["y1"]) / F.when(dy != 0, dy) + e["x1"]
        return F.when(
            ((e["y1"] > Y) != (e["y2"] > Y)) & (X < xint), F.lit(1)
        ).otherwise(F.lit(0))

    total = F.aggregate(_c(edges), F.lit(0), lambda acc, e: acc + edge_hit(e))
    return F.coalesce(total % 2 == 1, F.lit(False))


def point_in_rings_expr(
    x: Column | str, y: Column | str, rings: Column | str
) -> Column:
    """Even-odd ray cast straight from a multi-ring geometry column —
    ``point_in_edges_expr`` over ``rings_to_edges``.  Convenience form for
    ad-hoc predicates; the PIP join precomputes the edge array on the
    broadcast polygon side instead of re-deriving it per candidate row.
    """
    return point_in_edges_expr(x, y, rings_to_edges(rings))


def point_in_multipolygon_udf():
    """Ray-casting pandas UDF for multi-ring geometries: (x, y, rings) →
    bool, ``rings`` an array<array<struct<x,y>>> — outer ring(s) plus
    interior holes, even-odd across all rings.  This is the reference's
    zoning-geometry shape (MultiPolygons with holes,
    ``get_zoning_data.py:33-34,53-56``); same vectorized kernel as
    ``point_in_flat_rings_udf``.

    CAVEAT: pyspark's Arrow→pandas conversion rejects RAGGED nested lists
    (rings of differing vertex counts in one geometry — e.g. a 50-vertex
    outer ring with an 8-vertex hole) with "inhomogeneous shape".  The PIP
    join therefore feeds the UDF kernel through the flattened encoding
    (``point_in_flat_rings_udf``); this form survives for geometries that
    are homogeneous by construction, and the PIP tests use it as an oracle.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BooleanType())
    def _pip(x: pd.Series, y: pd.Series, rings: pd.Series) -> pd.Series:
        return _raycast_batch(x, y, rings)

    return _pip


def point_in_flat_rings_udf():
    """Ragged-safe form of the multi-ring ray-cast UDF: (x, y, flat, sizes)
    → bool, where ``flat`` is the geometry's rings concatenated into ONE
    ``array<struct<x,y>>`` and ``sizes`` the per-ring vertex counts.  A
    single-level struct array converts through Arrow regardless of ring
    raggedness; the kernel re-splits rows by ``sizes`` and runs the same
    numpy edge pass.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BooleanType())
    def _pip(
        x: pd.Series, y: pd.Series, flat: pd.Series, sizes: pd.Series
    ) -> pd.Series:
        rings_per_row = []
        for f, sz in zip(flat, sizes):
            if f is None or sz is None:
                rings_per_row.append(None)
                continue
            rings, off = [], 0
            for n in sz:
                n = int(n)
                rings.append(list(f[off : off + n]))
                off += n
            rings_per_row.append(rings)
        return _raycast_batch(x, y, rings_per_row)

    return _pip
