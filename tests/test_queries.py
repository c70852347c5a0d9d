"""Query goldens — exact counts/values from Tests/QueryTests.fs:25-277."""

import pytest
from pyspark.sql import functions as F

from aardvark_geometry_quadtree_spark.operators import query as Q


def test_all(q10x7):
    assert Q.query_all(q10x7).count() == 70  # QueryTests.fs:25-32


def test_inside_cell_fully_inside(q10x7):
    assert Q.inside_cell(q10x7, 0, 0, 4).count() == 70


def test_inside_cell_fully_outside(q10x7):
    assert Q.inside_cell(q10x7, 1, 0, 4).count() == 0


def test_inside_cell_partial(q10x7):
    assert Q.inside_cell(q10x7, 0, 0, 3).count() == 56


def test_inside_cell_exact_match(q10x7):
    rows = Q.inside_cell(q10x7, 2, 1, 0).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["cx"], r["cy"], r["e"]) == (2, 1, 0)
    assert r["height"] == pytest.approx(2.01, abs=1e-6)


def test_inside_cell_supersampling_returns_nothing(q10x7):
    # a finer query cell contains no full sample (QueryTests.fs:83-88)
    assert Q.inside_cell(q10x7, 4, 2, -1).count() == 0


def test_intersects_cell(q10x7):
    assert Q.intersects_cell(q10x7, 0, 0, 4).count() == 70
    assert Q.intersects_cell(q10x7, 1, 0, 4).count() == 0
    assert Q.intersects_cell(q10x7, 0, 0, 3).count() == 56
    rows = Q.intersects_cell(q10x7, 2, 1, 0).collect()
    assert len(rows) == 1 and rows[0]["height"] == pytest.approx(2.01, abs=1e-6)


def test_intersects_cell_supersampling_returns_parent(q10x7):
    # QueryTests.fs:122-133: finer query cell returns the coarser sample
    rows = Q.intersects_cell(q10x7, 4, 2, -1).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["cx"], r["cy"], r["e"]) == (2, 1, 0)
    assert r["height"] == pytest.approx(2.01, abs=1e-6)


def test_inside_box(q10x7):
    assert Q.inside_box(q10x7, 0, 0, 10, 7).count() == 70
    assert Q.inside_box(q10x7, 10, 1, 100, 100).count() == 0
    assert Q.inside_box(q10x7, -1, -1, 5, 3).count() == 15  # QueryTests.fs:150-157


def test_inside_polygon(q10x7):
    poly_in = [(3.9, -0.1), (10.1, -0.1), (10.1, 7.1), (8.1, 7.1), (8.1, 4.1), (3.9, 4.1)]
    assert Q.inside_polygon(q10x7, poly_in).count() == 30
    poly_out = [(4, 7), (10, 8), (6, 15)]
    assert Q.inside_polygon(q10x7, poly_out).count() == 0
    poly_part = [(0, 0), (5, 0), (4, 4), (4.0, 4.5), (0, 4)]
    assert Q.inside_polygon(q10x7, poly_part).count() == 18


def test_near_line(q10x7):
    import math

    n = math.hypot(10, 7)
    assert Q.near_line(q10x7, 0, 0, 10 / n, 7 / n, 10.0).count() == 70
    assert Q.near_line(q10x7, 10, -2, 10 / n, 7 / n, 1.0).count() == 0
    assert Q.near_line(q10x7, 0, 0, 3 / 5, 4 / 5, 1.0).count() == 16


def test_positions(spark, q10x7):
    pts = [(0, 0.0, 0.0), (1, 0.4, 0.6), (2, 1.0, 2.0), (3, 3.5, 2.1), (4, 9.9, 6.9)]
    pos = spark.createDataFrame(pts, "pid int, px double, py double")
    got = {r["pid"]: (r["cx"], r["cy"], r["e"]) for r in Q.sample_positions(q10x7, pos).collect()}
    assert got == {0: (0, 0, 0), 1: (0, 0, 0), 2: (1, 2, 0), 3: (3, 2, 0), 4: (9, 6, 0)}
    # out-of-bounds probes return nothing (QueryTests.fs:233-237)
    out = spark.createDataFrame(
        [(0, -1.0, -2.0), (1, 0.5, 8.0), (2, 10.0, 0.0), (3, 10.0, 7.0), (4, 0.0, 7.0)],
        "pid int, px double, py double",
    )
    assert Q.sample_positions(q10x7, out).count() == 0


def test_knn(q10x7):
    rows = Q.knn(q10x7, 0.0, 0.0, 3).collect()
    assert len(rows) == 3
    assert (rows[0]["cx"], rows[0]["cy"]) == (0, 0)
    got = {(r["cx"], r["cy"]) for r in rows}
    assert got == {(0, 0), (1, 0), (0, 1)}


def test_lod_cut(spark):
    from aardvark_geometry_quadtree_spark.sources.grids import grid

    fine = grid(spark, 0, 0, 4, 4, e=0, pattern="const", value=1.0)
    coarse = grid(spark, 0, 0, 4, 4, e=1, pattern="const", value=2.0)  # covers [0,8)^2
    both = fine.unionByName(coarse)
    # min_exponent=0: fine shadows the coarse cells it covers -> 16 fine + 12 coarse
    cut = Q.lod_cut(both, 0)
    assert cut.count() == 28
    assert cut.filter(F.col("e") == 0).count() == 16
    # min_exponent=1: only the coarse level qualifies
    cut1 = Q.lod_cut(both, 1)
    assert cut1.count() == 16
    assert cut1.filter(F.col("e") == 1).count() == 16


def test_inside_polygon_duplicated_vertices(q10x7):
    """Polygon2d.WithoutMultiplePoints parity (Query.fs:455-458): repeated
    vertices (and an explicit closing vertex) must not distort the winding
    test — same result as the clean polygon."""
    poly_in = [(1.5, 0.5), (7.5, 0.5), (7.5, 4.5), (1.5, 4.5)]
    dup = [poly_in[0], poly_in[0], poly_in[1], poly_in[2], poly_in[2], poly_in[2],
           poly_in[3], poly_in[0]]
    clean = {(r.cx, r.cy) for r in Q.inside_polygon(q10x7, poly_in).collect()}
    dirty = {(r.cx, r.cy) for r in Q.inside_polygon(q10x7, dup).collect()}
    assert clean == dirty
    # centers (x+.5, y+.5): x in 1..7, y in 0..4, boundary counted inside
    assert len(clean) == 35


@pytest.mark.parametrize("verts", [
    [(0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0)],  # CW, horizontal edges
    [(0.0, 0.0), (5.0, 0.0), (4.0, 4.0), (4.0, 4.5), (0.0, 4.0)],  # concave CCW
    [(0.0, 0.0), (4.0, 0.0), (4.0, 0.0), (4.0, 3.0), (2.0, 5.0), (0.0, 3.0)],  # repeated vertex
    [(-0.5, -0.5), (5.5, 1.0), (1.0, 5.5)],  # slanted edges through grid points
])
def test_winding_numpy_matches_catalyst(spark, winding_expr, verts):
    """The Catalyst winding expression (the reference, tests/conftest.py) and
    the package's numpy winding test agree point for point, on a
    quarter-unit grid that hits vertices, edge interiors and horizontal
    edges. Both take the vertex list as given (no normalization)."""
    import numpy as np

    ticks = np.arange(-1.0, 6.25, 0.25)
    gx, gy = np.meshgrid(ticks, ticks)
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(gx.ravel(), gy.ravel()))],
        "i long, px double, py double",
    )
    rows = pts.select("i", winding_expr(F.col("px"), F.col("py"), verts).alias("w")).collect()
    catalyst = np.zeros(gx.size, dtype=bool)
    for r in rows:
        catalyst[r["i"]] = r["w"]
    numpy = Q._winding_np(gx.ravel(), gy.ravel(), verts)
    assert (catalyst == numpy).all(), list(zip(gx.ravel()[catalyst != numpy], gy.ravel()[catalyst != numpy]))
    # every vertex is on the boundary, hence inside, and a far point is not
    on_grid = {(float(x), float(y)): k for k, (x, y) in enumerate(zip(gx.ravel(), gy.ravel()))}
    for v in verts:
        if v in on_grid:
            assert numpy[on_grid[v]], v
    assert not numpy[on_grid[(6.0, 6.0)]]


def test_query_generic_custom_predicate(q10x7):
    """Query.Generic as a user surface (Query.fs:342-432): a disc query
    supplied as a (node_outside, node_inside, sample_inside) Column triple,
    validated against per-row brute force."""
    from pyspark.sql import functions as F

    cx0, cy0, r = 5.0, 3.5, 2.5

    def node_outside(x0, y0, x1, y1):
        nx = F.greatest(x0, F.least(x1, F.lit(cx0)))
        ny = F.greatest(y0, F.least(y1, F.lit(cy0)))
        return (nx - cx0) * (nx - cx0) + (ny - cy0) * (ny - cy0) > F.lit(r * r)

    def node_inside(x0, y0, x1, y1):
        # farthest corner within the disc
        fx = F.greatest(F.abs(x0 - cx0), F.abs(x1 - cx0))
        fy = F.greatest(F.abs(y0 - cy0), F.abs(y1 - cy0))
        return fx * fx + fy * fy <= F.lit(r * r)

    def sample_inside(px, py):
        return (px - cx0) * (px - cx0) + (py - cy0) * (py - cy0) <= F.lit(r * r)

    got = {(row.cx, row.cy) for row in
           Q.query_generic(q10x7, sample_inside, node_outside, node_inside).collect()}
    want = {(x, y) for x in range(10) for y in range(7)
            if (x + 0.5 - cx0) ** 2 + (y + 0.5 - cy0) ** 2 <= r * r}
    assert got == want and len(got) > 0


def test_query_generic_selection_kinds(q10x7):
    """J2 parity: FullySelected vs CellsSelected (Query.fs:417-431) surfaces
    as the 'selection' column."""
    from pyspark.sql import functions as F

    # box [2,6) x [1,5): cells fully inside vs boundary cells
    def node_outside(x0, y0, x1, y1):
        return (x1 <= 2.0) | (x0 >= 6.0) | (y1 <= 1.0) | (y0 >= 5.0)

    def node_inside(x0, y0, x1, y1):
        return (x0 >= 2.0) & (x1 <= 6.0) & (y0 >= 1.0) & (y1 <= 5.0)

    def sample_inside(px, py):
        return (px >= 2.0) & (px < 6.0) & (py >= 1.0) & (py < 5.0)

    r = Q.query_generic(q10x7, sample_inside, node_outside, node_inside,
                        with_selection=True)
    rows = {(x.cx, x.cy): x.selection for x in r.collect()}
    # cells [2,6) x [1,5) at e0 are exactly the fully-inside ones here
    assert all(v == "full" for v in rows.values())
    assert set(rows) == {(x, y) for x in range(2, 6) for y in range(1, 5)}


def test_inside_box_pushdown_parity_and_scan_filters(q10x7, spark, tmp_path):
    """inside_box_pushdown: same results as inside_box, and when reading a
    saved store the integer bounds appear as parquet PushedFilters."""
    boxes = [(0, 0, 10, 7), (-1, -1, 5, 3), (2.4, 1.1, 7.9, 5.2), (10, 1, 100, 100)]
    for b in boxes:
        a = {(r.cx, r.cy) for r in Q.inside_box(q10x7, *b).collect()}
        p = {(r.cx, r.cy) for r in Q.inside_box_pushdown(q10x7, *b, exponents=[0]).collect()}
        assert a == p, b

    from aardvark_geometry_quadtree_spark.sources.store import load_samples, save_samples

    path = str(tmp_path / "boxstore")
    save_samples(q10x7, path)
    stored = load_samples(spark, path)
    df = Q.inside_box_pushdown(stored, -1, -1, 5, 3, exponents=[0])
    assert df.count() == 15  # QueryTests.fs:150-157 golden through the store
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(cx" in plan or "ThanOrEqual(cx" in plan


def test_knn_join_matches_per_point_knn(spark, q10x7):
    """Batched ring-join kNN == the per-point driver-loop kNN for every
    probe, including a far probe that needs ring doubling and one beyond
    max_rings (broadcast-sweep path)."""
    probes = [(0, 0.0, 0.0), (1, 9.5, 6.5), (2, 4.2, 3.7), (3, 200.0, 200.0)]
    pos = spark.createDataFrame(probes, "pid long, px double, py double")
    batched = Q.knn_join(q10x7, pos, k=3, ring_exponent=0, max_rings=8)
    # the straggler path must stay ring-keyed: no cartesian / nested-loop
    # join anywhere in the plan even with a probe far past max_rings
    plan = batched._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    got = {}
    for r in batched.collect():
        got.setdefault(r["pid"], []).append((round(r["dist"], 9), r["cx"], r["cy"]))
    for pid, px, py in probes:
        exp = [
            (round(r["dist"], 9), r["cx"], r["cy"])
            for r in Q.knn(q10x7, px, py, 3, ring_exponent=0, max_rings=8).collect()
        ]
        assert sorted(got[pid]) == sorted(exp), pid
        assert len(got[pid]) == 3


def test_knn_join_all_empty_region_probes(spark, q10x7):
    """Every probe concentrated in empty space (all stragglers): the
    escalation path must complete with ring-keyed joins only and still
    return the exact global top-k per probe."""
    probes = [(0, 5000.0, 5000.0), (1, -3000.0, 4000.0), (2, 10000.0, -2.0)]
    pos = spark.createDataFrame(probes, "pid long, px double, py double")
    batched = Q.knn_join(q10x7, pos, k=3, ring_exponent=0, max_rings=4)
    plan = batched._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    got = {}
    for r in batched.collect():
        got.setdefault(r["pid"], []).append((round(r["dist"], 9), r["cx"], r["cy"]))
    for pid, px, py in probes:
        exp = [
            (round(r["dist"], 9), r["cx"], r["cy"])
            for r in Q.knn(q10x7, px, py, 3, ring_exponent=0).collect()
        ]
        assert sorted(got[pid]) == sorted(exp), pid


def test_knn_join_table_smaller_than_k(spark):
    """Fewer than k samples in the whole table: the covering round emits
    every sample per probe instead of looping forever."""
    s = spark.createDataFrame(
        [(0, 0, 0, 1.0), (5, 5, 0, 2.0)], "cx long, cy long, e int, height double"
    )
    pos = spark.createDataFrame([(0, 100.0, 100.0)], "pid long, px double, py double")
    rows = Q.knn_join(s, pos, k=5, ring_exponent=0, max_rings=2).collect()
    assert len(rows) == 2
    assert {(r["cx"], r["cy"]) for r in rows} == {(0, 0), (5, 5)}
