"""Spatial kernel: radius boundary, grid stats (ddof=1, n==1→0), corners
string format, ray-casting point-in-polygon."""

import math

from pyspark.sql import functions as F

from re_data_pipeline_spark.functions.geo import cell_corners_str
from re_data_pipeline_spark.operators.spatial import (
    grid_aggregate,
    point_in_polygon_join,
    radius_join,
)


def test_radius_join_boundary(spark):
    # FIXTURES §8: POIs at 500/999/1001/2000 m pin the ≤1000 boundary
    left = spark.createDataFrame([(1, 0.0, 0.0)], ["pid", "x", "y"])
    right = spark.createDataFrame(
        [(10, 500.0, 0.0), (11, 999.0, 0.0), (12, 1001.0, 0.0), (13, 2000.0, 0.0),
         (14, 0.0, 1000.0)],
        ["poi", "px", "py"],
    )
    got = radius_join(left, right, 1000.0, ("x", "y"), ("px", "py"))
    assert sorted(r.poi for r in got.collect()) == [10, 11, 14]


def test_radius_join_cross_cell(spark):
    # neighbors in adjacent grid cells must still match (3×3 neighborhood)
    left = spark.createDataFrame([(1, 995.0, 995.0)], ["pid", "x", "y"])
    right = spark.createDataFrame([(20, 1005.0, 1005.0)], ["poi", "px", "py"])
    got = radius_join(left, right, 1000.0, ("x", "y"), ("px", "py")).collect()
    assert len(got) == 1 and abs(got[0].distance - math.sqrt(200)) < 1e-9


def test_grid_aggregate_stats(spark):
    # cell (0,0) has n=2 → sample stddev; cell (1,0) has n=1 → 0.0 rule
    df = spark.createDataFrame(
        [(10.0, 10.0, "a", "100"), (20.0, 20.0, "a", "200"),
         (510.0, 10.0, "a", "300"), (30.0, 30.0, "a", "bad")],
        ["x", "y", "grp", "val"],
    )
    got = {
        (r.cell_x, r.cell_y): r
        for r in grid_aggregate(df, "x", "y", "val", ["grp"], 0.0, 0.0, 500.0).collect()
    }
    a = got[(0, 0)]
    assert a.avg_value == 150.0 and a.num_values == 2
    assert abs(a.standard_deviation - 70.71067811865476) < 1e-9  # ddof=1
    b = got[(1, 0)]
    assert b.num_values == 1 and b.standard_deviation == 0.0


def test_cell_corners_matches_reference_format(spark):
    # reference emits str(list(polygon.exterior.coords)) — a closed 5-tuple
    # ring (aggregate_rental_rates.py:135)
    df = spark.createDataFrame([(0, 0)], ["cx", "cy"]).select(
        cell_corners_str("cx", "cy", -16000.0, -16000.0, 500.0).alias("s")
    )
    s = df.collect()[0].s
    assert s == (
        "[(-16000.0, -16000.0), (-15500.0, -16000.0), (-15500.0, -15500.0), "
        "(-16000.0, -15500.0), (-16000.0, -16000.0)]"
    )


def test_point_in_polygon_join(spark):
    # unit square and a triangle; point (0.5,0.5) in square only,
    # (2.1,0.2) in triangle only, (5,5) in neither (left join keeps it)
    ring_sq = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    ring_tri = [(2.0, 0.0), (3.0, 0.0), (2.5, 1.0)]
    polys = spark.createDataFrame(
        [("sq", [{"x": x, "y": y} for x, y in ring_sq]),
         ("tri", [{"x": x, "y": y} for x, y in ring_tri])],
        "zone string, ring array<struct<x:double,y:double>>",
    )
    pts = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 2.1, 0.2), (3, 5.0, 5.0)], ["pid", "x", "y"]
    )
    got = {r.pid: r.zone for r in point_in_polygon_join(pts, polys).collect()}
    assert got == {1: "sq", 2: "tri", 3: None}


def test_band_join_boundary(spark):
    from re_data_pipeline_spark.operators.spatial import band_join

    left = spark.createDataFrame([(1, 100.0)], ["lid", "v"])
    right = spark.createDataFrame(
        [(10, 98.5), (11, 102.0), (12, 102.1), (13, 50.0)], ["rid", "w"]
    )
    got = band_join(left, right, "v", "w", 2.0)
    assert sorted(r.rid for r in got.collect()) == [10, 11]  # 102.1 is out


def test_band_join_colliding_names(spark):
    from re_data_pipeline_spark.operators.spatial import band_join

    left = spark.createDataFrame([(1, 5.0)], ["id", "v"])
    right = spark.createDataFrame([(2, 5.5)], ["id", "v"])
    got = band_join(left, right, "v", "v", 1.0).collect()
    assert len(got) == 1 and got[0].id_r == 2


def test_point_in_multipolygon_donut_and_parts(spark):
    """Even-odd across rings: hole excludes, second part includes, left join
    leaves orphan points with NULL zone."""
    from re_data_pipeline_spark.operators.spatial import point_in_polygon_join

    def ring(*xy):
        return [{"x": float(a), "y": float(b)} for a, b in xy]

    zones = spark.createDataFrame(
        [("z", [ring((0, 0), (10, 0), (10, 10), (0, 10)),   # outer
                ring((3, 3), (7, 3), (7, 7), (3, 7)),        # hole
                ring((20, 0), (30, 0), (30, 10), (20, 10))])],  # 2nd part
        "zone string, rings array<array<struct<x:double,y:double>>>",
    )
    pts = spark.createDataFrame(
        [(1, 1.5, 1.5),    # in outer ring
         (2, 5.0, 5.0),    # in the hole -> excluded
         (3, 25.0, 5.0),   # in the second part
         (4, 15.0, 5.0)],  # between parts -> no zone
        "pid long, x double, y double",
    )
    got = {
        r.pid: r.zone
        for r in point_in_polygon_join(pts, zones, ("x", "y"), "rings", how="left").collect()
    }
    assert got == {1: "z", 2: None, 3: "z", 4: None}


def test_pip_expr_matches_udf_and_routes(spark, monkeypatch):
    """The expression ray cast (used for small geometries) must agree
    with the pandas-UDF kernel edge-for-edge, and the join must route
    expr below the vertex threshold / udf above it (round-4 verdict #6:
    removing the last Python worker from a hot join path)."""
    import random

    from pyspark.sql import functions as F

    from re_data_pipeline_spark.functions.geo import (
        point_in_multipolygon_udf,
        point_in_rings_expr,
    )
    from re_data_pipeline_spark.operators import spatial
    from re_data_pipeline_spark.operators.spatial import point_in_polygon_join

    random.seed(11)
    rows = []
    for g in range(25):
        nv = random.randint(3, 8)
        closed = random.random() < 0.5
        rings = []
        for _ in range(random.randint(1, 3)):
            ring = [
                {"x": round(random.uniform(-5, 15), 3), "y": round(random.uniform(-5, 15), 3)}
                for _ in range(nv)
            ]
            rings.append(ring + [ring[0]] if closed else ring)
        rows.append((g, rings))
    geo = spark.createDataFrame(rows, "gid int, rings array<array<struct<x:double,y:double>>>")
    pts = spark.createDataFrame(
        [(i, round(random.uniform(-5, 15), 3), round(random.uniform(-5, 15), 3)) for i in range(150)],
        "pid int, x double, y double",
    )
    udf = point_in_multipolygon_udf()
    out = pts.crossJoin(geo).select(
        point_in_rings_expr("x", "y", "rings").alias("e"),
        udf(F.col("x"), F.col("y"), F.col("rings")).alias("u"),
    ).collect()
    assert all(bool(r.e) == bool(r.u) for r in out)

    # routing: small rings -> no Python eval node in the plan
    zones = spark.createDataFrame(
        [("z", [[{"x": 0.0, "y": 0.0}, {"x": 4.0, "y": 0.0}, {"x": 0.0, "y": 4.0}]])],
        "zone string, rings array<array<struct<x:double,y:double>>>",
    )
    p2 = spark.createDataFrame([(1, 1.0, 1.0)], "pid long, x double, y double")
    auto = point_in_polygon_join(p2, zones, ("x", "y"), "rings", how="inner")
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    # a tiny threshold flips the route to the pandas-UDF kernel
    monkeypatch.setattr(spatial, "EXPR_MAX_VERTICES", 2)
    forced = point_in_polygon_join(p2, zones, ("x", "y"), "rings", how="inner")
    plan_udf = forced._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" in plan_udf
    assert {r.pid for r in auto.collect()} == {r.pid for r in forced.collect()} == {1}


def test_pip_ragged_rings_both_paths(spark, monkeypatch):
    """An outer ring with a SMALLER hole (differing vertex counts) is the
    normal multi-ring shape, and it used to crash the pandas-UDF path:
    Arrow→pandas rejects ragged nested lists.  Both the expression path and
    the flat-encoded UDF fallback must handle it."""
    from re_data_pipeline_spark.operators import spatial
    from re_data_pipeline_spark.operators.spatial import point_in_polygon_join

    outer = [
        {"x": 0.0, "y": 0.0}, {"x": 10.0, "y": 0.0}, {"x": 10.0, "y": 10.0},
        {"x": 5.0, "y": 12.0}, {"x": 0.0, "y": 10.0},
    ]
    hole = [{"x": 3.0, "y": 3.0}, {"x": 7.0, "y": 3.0}, {"x": 7.0, "y": 7.0}, {"x": 3.0, "y": 7.0}]
    zones = spark.createDataFrame(
        [("z", [outer, hole])],
        "zone string, rings array<array<struct<x:double,y:double>>>",
    )
    pts = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 5.0, 5.0), (3, 5.0, 11.0), (4, 20.0, 1.0)],
        "pid long, x double, y double",
    )
    want = {1: "z", 2: None, 3: "z", 4: None}  # 2 is in the hole
    for max_vertices in (4096, 2):  # expr path, then udf path
        monkeypatch.setattr(spatial, "EXPR_MAX_VERTICES", max_vertices)
        got = {
            r.pid: r.zone
            for r in point_in_polygon_join(
                pts, zones, ("x", "y"), "rings", how="left"
            ).collect()
        }
        assert got == want, (max_vertices, got)


def test_pip_expr_degenerate_rings(spark):
    """NULL rings arrays, NULL ring elements and <3-vertex rings contribute
    nothing (never error under ANSI mode)."""
    from re_data_pipeline_spark.functions.geo import point_in_rings_expr

    sq = [{"x": 0.0, "y": 0.0}, {"x": 4.0, "y": 0.0}, {"x": 4.0, "y": 4.0}, {"x": 0.0, "y": 4.0}]
    rows = [
        (1, [sq]),                 # plain square -> inside
        (2, [sq, None]),           # null ring ignored -> inside
        (3, [sq, sq[:2]]),         # degenerate 2-vertex ring ignored -> inside
        (4, None),                 # null geometry -> outside
        (5, [None]),               # only a null ring -> outside
        (6, [[sq[0], sq[1], sq[0]]]),  # closed 2-distinct-vertex sliver -> outside
    ]
    df = spark.createDataFrame(rows, "gid int, rings array<array<struct<x:double,y:double>>>")
    got = {
        r.gid: r.inside
        for r in df.select(
            "gid",
            point_in_rings_expr(__import__("pyspark").sql.functions.lit(1.0),
                                __import__("pyspark").sql.functions.lit(1.0),
                                "rings").alias("inside"),
        ).collect()
    }
    assert got == {1: True, 2: True, 3: True, 4: False, 5: False, 6: False}


def test_single_ring_pip_unchanged_by_vectorization(spark):
    """The numpy kernel must preserve the original edge semantics for the
    single-ring path (closed or open rings, <3 vertices -> False)."""
    from re_data_pipeline_spark.operators.spatial import point_in_polygon_join

    tri_open = [{"x": 0.0, "y": 0.0}, {"x": 4.0, "y": 0.0}, {"x": 0.0, "y": 4.0}]
    tri_closed = tri_open + [tri_open[0]]
    zones = spark.createDataFrame(
        [("open", tri_open), ("closed", tri_closed)],
        "zone string, ring array<struct<x:double,y:double>>",
    )
    pts = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 3.9, 3.9)], "pid long, x double, y double"
    )
    rows = point_in_polygon_join(pts, zones, ("x", "y"), "ring", how="inner").collect()
    got = sorted((r.pid, r.zone) for r in rows)
    assert got == [(1, "closed"), (1, "open")]


def test_knn_join_exact_vs_bruteforce(spark):
    import math

    from pyspark.sql import functions as F

    from re_data_pipeline_spark.operators.spatial import knn_join

    left = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 100.0, 100.0)], "pid long, x double, y double"
    )
    right = spark.createDataFrame(
        [(10, 1.0, 0.0), (11, 2.0, 0.0), (12, 3.0, 0.0), (13, 50.0, 0.0),
         (14, 101.0, 100.0)],
        "qid long, px double, py double",
    )
    got = knn_join(left, right, k=2, max_radius=10.0, left_id="pid",
                   left_xy=("x", "y"), right_xy=("px", "py"))
    rows = {(r.pid, r.qid): r.distance for r in got.collect()}
    # pid 1: nearest two within 10 are qid 10 (d=1) and 11 (d=2); 13 is out
    assert set(k for k in rows if k[0] == 1) == {(1, 10), (1, 11)}
    assert math.isclose(rows[(1, 10)], 1.0) and math.isclose(rows[(1, 11)], 2.0)
    # pid 2: only qid 14 in radius -> returns 1 row, not padded to k
    assert set(k for k in rows if k[0] == 2) == {(2, 14)}


def test_knn_join_tiebreak_deterministic(spark):
    from re_data_pipeline_spark.operators.spatial import knn_join

    left = spark.createDataFrame([(1, 0.0, 0.0)], "pid long, x double, y double")
    # two right points at identical distance 5 -> tiebreak by (px, py)
    right = spark.createDataFrame(
        [(20, 5.0, 0.0), (21, 0.0, 5.0), (22, 3.0, 4.0)],
        "qid long, px double, py double",
    )
    got = sorted(r.qid for r in knn_join(
        left, right, k=2, max_radius=6.0, left_id="pid",
        left_xy=("x", "y"), right_xy=("px", "py")).collect())
    # all three are at distance 5; ties order by px asc: (0,5) then (3,4)
    assert got == [21, 22]


def test_pip_left_null_passthrough_no_duplicates(spark, monkeypatch):
    """A MATCHED point carrying a NULL pass-through column must appear
    exactly once in left mode: the old anti-join on points.columns was
    null-unsafe, so such a row was emitted twice (matched AND unmatched
    with NULL zone) — on BOTH kernels (r13 fix)."""
    from re_data_pipeline_spark.operators import spatial
    from re_data_pipeline_spark.operators.spatial import point_in_polygon_join

    def ring(*xy):
        return [{"x": float(a), "y": float(b)} for a, b in xy]

    zones = spark.createDataFrame(
        [("z", ring((0, 0), (10, 0), (10, 10), (0, 10)))],
        "zone string, ring array<struct<x:double,y:double>>",
    )
    pts = spark.createDataFrame(
        [(None, 1.0, 1.0),   # matched, NULL id
         (2, 50.0, 50.0)],   # unmatched
        "pid long, x double, y double",
    )
    for max_vertices in (4096, 2):  # expr kernel, then udf kernel
        monkeypatch.setattr(spatial, "EXPR_MAX_VERTICES", max_vertices)
        rows = point_in_polygon_join(
            pts, zones, ("x", "y"), "ring", how="left"
        ).collect()
        assert len(rows) == 2, (max_vertices, rows)
        got = {(r.pid, r.zone) for r in rows}
        assert got == {(None, "z"), (2, None)}, max_vertices
