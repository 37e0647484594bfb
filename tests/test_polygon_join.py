"""Convex polygon-polygon overlay join vs an INDEPENDENT brute force.

The engine uses the separating-axis theorem; the test oracle decides
intersection a different way — any vertex of one inside the other
(half-plane conjunction) OR any pair of edges properly/improperly
crossing (integer orientation tests) — so a shared-math bug cannot
cancel out.
"""

import numpy as np
import pandas as pd
import pytest

from kdtree_spark import fixtures
from kdtree_spark.fixtures import gen_convex_polygons
from kdtree_spark.grid import Grid
from kdtree_spark.queries.polygon import (point_in_polygon, polygon_join,
                                          polygons_df)
from tests.test_spark_index import _pts


def _inside(pt, verts):
    k = len(verts)
    for j in range(k):
        x1, y1 = verts[j]
        x2, y2 = verts[(j + 1) % k]
        if (x2 - x1) * (pt[1] - y1) - (y2 - y1) * (pt[0] - x1) < 0:
            return False
    return True


def _orient(a, b, c):
    v = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    return (v > 0) - (v < 0)


def _on_seg(a, b, c):
    return (_orient(a, b, c) == 0
            and min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
            and min(a[1], b[1]) <= c[1] <= max(a[1], b[1]))


def _seg_cross(a, b, c, d):
    o1, o2 = _orient(a, b, c), _orient(a, b, d)
    o3, o4 = _orient(c, d, a), _orient(c, d, b)
    if o1 != o2 and o3 != o4:
        return True
    return (_on_seg(a, b, c) or _on_seg(a, b, d)
            or _on_seg(c, d, a) or _on_seg(c, d, b))


def _brute_intersects(va, vb):
    if any(_inside(p, vb) for p in va) or any(_inside(p, va) for p in vb):
        return True
    ka, kb = len(va), len(vb)
    for i in range(ka):
        for j in range(kb):
            if _seg_cross(va[i], va[(i + 1) % ka],
                          vb[j], vb[(j + 1) % kb]):
                return True
    return False


@pytest.mark.parametrize("g", [4, 16, 64])
def test_polygon_join_random(spark, g):
    A = gen_convex_polygons(30, seed=61)
    B = gen_convex_polygons(45, seed=62)
    got = sorted(tuple(r) for r in polygon_join(
        polygons_df(spark, A, "pa"), polygons_df(spark, B, "pb"),
        grid=Grid(g)).collect())
    exp = sorted((a, b) for a, va in A for b, vb in B
                 if _brute_intersects(va, vb))
    assert got == exp
    assert len(exp) > 0


def test_polygon_join_containment_and_diagonal_disjoint(spark):
    """Containment (no edge crossings) must match; bbox-overlapping but
    diagonally-separated pairs must not; a pair below the grid (y < 0)
    straddling two cells in x is emitted once."""
    big = [(0, [(0, 0), (100_000, 0), (100_000, 100_000), (0, 100_000)])]
    inner = [(10, [(40_000, 40_000), (60_000, 40_000), (50_000, 60_000)])]
    # triangles whose bboxes overlap but a diagonal axis separates them
    t1 = [(20, [(0, 0), (50_000, 0), (0, 50_000)])]
    t2 = [(30, [(60_000, 60_000), (100_000, 30_000), (100_000, 100_000)])]
    below = [(70_000, -1_100_000), (130_000, -1_100_000),
             (130_000, -1_000_001), (70_000, -1_000_001)]
    A = big + t1 + [(40, below)]
    B = inner + t2 + [(50, below)]
    got = sorted(tuple(r) for r in polygon_join(
        polygons_df(spark, A, "pa"), polygons_df(spark, B, "pb"),
        grid=Grid(16)).collect())
    exp = sorted((a, b) for a, va in A for b, vb in B
                 if _brute_intersects(va, vb))
    assert got == exp
    assert (0, 10) in got          # containment
    assert (20, 30) not in got     # diagonal separation
    assert got.count((40, 50)) == 1  # off-grid, once


def test_polygon_join_shared_edge_counts(spark):
    """Polygons sharing only a boundary segment intersect (inclusive)."""
    A = [(0, [(0, 0), (50_000, 0), (50_000, 50_000), (0, 50_000)])]
    B = [(1, [(50_000, 10_000), (90_000, 10_000), (90_000, 40_000),
              (50_000, 40_000)])]
    got = [tuple(r) for r in polygon_join(
        polygons_df(spark, A, "pa"), polygons_df(spark, B, "pb"),
        grid=Grid(8)).collect()]
    assert got == [(0, 1)]


def test_polygon_join_domain_sized_polygon(spark):
    """A polygon covering the whole domain straddles every grid cell;
    the clipped reference-point dedup must still emit each pair once."""
    A = [(0, [(0, 0), (999_999, 0), (999_999, 999_999), (0, 999_999)])]
    B = gen_convex_polygons(25, seed=63)
    got = sorted(tuple(r) for r in polygon_join(
        polygons_df(spark, A, "pa"), polygons_df(spark, B, "pb"),
        grid=Grid(32)).collect())
    assert got == [(0, b) for b, _ in B]


def test_polygon_broadcast_guard(spark, monkeypatch):
    """Results are identical whether the polygon-cell side is pinned
    broadcast (small enumeration) or left to AQE (cap exceeded)."""
    from kdtree_spark.queries import polygon as P
    df, _ = _pts(spark, n=2000)
    polys = fixtures.gen_polygons(4)
    base = (P.point_in_polygon(df, polys, grid=Grid(8))
            .toPandas().sort_values(["poly_id", "pid"]).reset_index(drop=True))
    monkeypatch.setattr(P, "BROADCAST_CELL_CAP", 0)  # force no-hint path
    nohint = (P.point_in_polygon(df, polys, grid=Grid(8))
              .toPandas().sort_values(["poly_id", "pid"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(base, nohint)
    assert len(base) > 0


def test_polygon_off_grid_bbox(spark):
    """A polygon whose bbox lies entirely off-grid on one axis must
    match nothing (and not trip sequence()'s descending-range
    behavior, ADVICE r3)."""
    pts = spark.createDataFrame(
        [(1, 10, 10), (2, 999_999, 999_999)], "pid long, x long, y long")
    off = [(0, [(1_200_000, 100), (1_300_000, 100), (1_250_000, 200)])]
    assert point_in_polygon(pts, off, grid=Grid(8)).count() == 0
    # and a normal polygon still matches
    tri = [(1, [(0, 0), (100, 0), (50, 100)])]
    got = point_in_polygon(pts, tri, grid=Grid(8)).collect()
    assert [r["pid"] for r in got] == [1]


def test_tile_cell_assign_off_grid(spark):
    """Tiles below, past and straddling the grid, and an inverted
    (empty) tile, vs a brute force over cell extents and vs the DuckDB
    oracle. Off-grid points live in the boundary cells, so a boundary
    cell's extent reaches to infinity on its open side."""
    import duckdb

    from kdtree_spark.fixtures import tiles_values_sql
    from kdtree_spark.queries.polygon import (tile_cell_assign,
                                              tile_cell_assign_sql)
    grid = Grid(16)
    g, cw = grid.g, grid.cw
    tiles = [(0, -100_000, 300_000, 10, 400_000),
             (1, 1_000_500, -20, 1_200_000, 70_000),
             (2, 500_000, 500_000, 400_000, 600_000),
             (3, -5, -5, 2_000_000, 1)]

    def lo(c):
        return -np.inf if c == 0 else c * cw

    def hi(c):
        return np.inf if c == g - 1 else c * cw + cw - 1
    exp = sorted((t, cx * g + cy) for t, x0, y0, x1, y1 in tiles
                 for cx in range(g) for cy in range(g)
                 if x0 <= x1 and y0 <= y1
                 and lo(cx) <= x1 and x0 <= hi(cx)
                 and lo(cy) <= y1 and y0 <= hi(cy))
    got = sorted(tuple(r) for r in
                 tile_cell_assign(spark, grid, tiles).collect())
    assert got == exp
    oracle = duckdb.sql(tile_cell_assign_sql(
        grid, tiles_values_sql(tiles))).fetchall()
    assert sorted(oracle) == exp
    assert {t for t, _ in exp} == {0, 1, 3}
