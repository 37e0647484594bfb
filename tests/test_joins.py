"""Radius distance join vs numpy brute force: planar, d=3, skew flood,
r=0, and the count variant's zero rows; the rectangle join, kernel
density and closest pair; an empty frame on either side of the joins."""

import numpy as np
import pandas as pd
import pytest

from kdtree_spark.fixtures import gen_convex_polygons
from kdtree_spark.grid import Grid
from kdtree_spark.queries.joins import (distance_join, distance_join_count,
                                        kernel_density, rect_join)
from kdtree_spark.queries.polygon import polygon_join, polygons_df
from tests.test_polygon_join import _brute_intersects


def _brute_pairs(L, R, r):
    """All (lid, rid, dist_sq) with dist^2 <= r^2, via numpy broadcast."""
    lx = L[:, 1:].astype(np.int64)
    rx = R[:, 1:].astype(np.int64)
    d2 = ((lx[:, None, :] - rx[None, :, :]) ** 2).sum(axis=2)
    li, ri = np.nonzero(d2 <= r * r)
    return sorted(zip(L[li, 0].tolist(), R[ri, 0].tolist(),
                      d2[li, ri].tolist()))


def _mk(spark, arr, idc, cc):
    cols = {idc: arr[:, 0]}
    for j, c in enumerate(cc):
        cols[c] = arr[:, 1 + j]
    return spark.createDataFrame(pd.DataFrame(cols))


def _collect(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("g", [4, 16, 64])
def test_distance_join_planar(spark, g):
    """Includes a pair just past COORD_LIMIT: both points sit off the
    grid and must meet in the boundary cell they fold onto."""
    rng = np.random.default_rng(7)
    L = np.column_stack([np.arange(120),
                         rng.integers(0, 1_000_000, (120, 2))])
    R = np.column_stack([np.arange(900),
                         rng.integers(0, 1_000_000, (900, 2))])
    L = np.vstack([L, [120, 1_000_005, 500_000]])
    R = np.vstack([R, [900, 1_000_010, 500_000]])
    r = 60_000
    got = _collect(distance_join(_mk(spark, L, "lid", ("x", "y")),
                                 _mk(spark, R, "rid", ("x", "y")),
                                 r, grid=Grid(g)))
    assert got == _brute_pairs(L, R, r)


def test_distance_join_d3(spark):
    rng = np.random.default_rng(11)
    cc = ("x", "y", "z")
    L = np.column_stack([np.arange(60),
                         rng.integers(0, 1_000_000, (60, 3))])
    R = np.column_stack([np.arange(500),
                         rng.integers(0, 1_000_000, (500, 3))])
    r = 150_000
    got = _collect(distance_join(_mk(spark, L, "lid", cc),
                                 _mk(spark, R, "rid", cc), r,
                                 grid=Grid(8, dims=3), coord_cols=cc))
    assert got == _brute_pairs(L, R, r)


def test_distance_join_grid_dims_lt_coord_dims(spark):
    """Grid keys on 2 dims while the predicate is exact over 3."""
    rng = np.random.default_rng(13)
    cc = ("x", "y", "z")
    L = np.column_stack([np.arange(50),
                         rng.integers(0, 1_000_000, (50, 3))])
    R = np.column_stack([np.arange(400),
                         rng.integers(0, 1_000_000, (400, 3))])
    r = 120_000
    got = _collect(distance_join(_mk(spark, L, "lid", cc),
                                 _mk(spark, R, "rid", cc), r,
                                 grid=Grid(8, dims=2), coord_cols=cc))
    assert got == _brute_pairs(L, R, r)


def test_distance_join_skew_flood(spark):
    """A duplicate flood on one coordinate (hot cell) stays exact."""
    rng = np.random.default_rng(17)
    lpts = rng.integers(0, 1_000_000, (40, 2))
    rpts = rng.integers(0, 1_000_000, (300, 2))
    rpts[:150] = [500_000, 500_000]          # 150 identical rights
    lpts[:10] = [500_020, 500_020]           # 10 lefts beside them
    L = np.column_stack([np.arange(40), lpts])
    R = np.column_stack([np.arange(300), rpts])
    r = 1_000
    got = _collect(distance_join(_mk(spark, L, "lid", ("x", "y")),
                                 _mk(spark, R, "rid", ("x", "y")),
                                 r, grid=Grid(32)))
    assert got == _brute_pairs(L, R, r)
    assert len(got) >= 10 * 150


def test_distance_join_r0_and_default_grid(spark):
    """r=0 matches exact coordinate duplicates only; default grid path."""
    L = np.array([[0, 10, 10], [1, 20, 30], [2, 999_999, 0]])
    R = np.array([[5, 10, 10], [6, 10, 10], [7, 20, 31], [8, 999_999, 0]])
    got = _collect(distance_join(_mk(spark, L, "lid", ("x", "y")),
                                 _mk(spark, R, "rid", ("x", "y")), 0))
    assert got == [(0, 5, 0), (0, 6, 0), (2, 8, 0)]


def test_distance_join_rejects_shared_id_name(spark):
    """left_id == right_id would emit two columns of one name."""
    L = np.array([[0, 10, 10]])
    with pytest.raises(ValueError, match="left_id and right_id"):
        distance_join(_mk(spark, L, "id", ("x", "y")),
                      _mk(spark, L, "id", ("x", "y")), 5,
                      left_id="id", right_id="id")


def test_distance_join_count_zero_rows(spark):
    """Count variant: zero-neighbor lefts report cnt=0 (LEFT join)."""
    rng = np.random.default_rng(23)
    L = np.column_stack([np.arange(30),
                         rng.integers(0, 1_000_000, (30, 2))])
    R = np.column_stack([np.arange(200),
                         rng.integers(0, 1_000_000, (200, 2))])
    r = 30_000
    got = dict(distance_join_count(
        _mk(spark, L, "lid", ("x", "y")),
        _mk(spark, R, "rid", ("x", "y")), r, grid=Grid(16)).collect())
    brute = _brute_pairs(L, R, r)
    exp = {int(lid): 0 for lid in L[:, 0]}
    for lid, _, _ in brute:
        exp[int(lid)] += 1
    assert got == exp


# ------------------------------------------------------------ rect_join

def _brute_rects(A, B):
    out = []
    for aid, ax0, ay0, ax1, ay1 in A:
        for bid, bx0, by0, bx1, by1 in B:
            if ax0 <= bx1 and bx0 <= ax1 and ay0 <= by1 and by0 <= ay1:
                out.append((aid, bid))
    return sorted(out)


def _mk_rects(spark, arr, idc):
    cols = ["x0", "y0", "x1", "y1"]
    pdf = pd.DataFrame(np.asarray(arr, np.int64),
                       columns=[idc] + cols)
    return spark.createDataFrame(pdf)


def _rand_rects(rng, n, wmax):
    x0 = rng.integers(0, 1_000_000, (n, 2))
    w = rng.integers(0, wmax, (n, 2))
    hi = np.minimum(x0 + w, 999_999)
    return np.column_stack([np.arange(n), x0[:, 0], x0[:, 1],
                            hi[:, 0], hi[:, 1]])


@pytest.mark.parametrize("g", [4, 16, 64])
def test_rect_join_random(spark, g):
    rng = np.random.default_rng(41)
    A = _rand_rects(rng, 80, 250_000)
    B = _rand_rects(rng, 300, 40_000)
    got = sorted(tuple(r) for r in rect_join(
        _mk_rects(spark, A, "lid"), _mk_rects(spark, B, "rid"),
        grid=Grid(g)).collect())
    assert got == _brute_rects(A.tolist(), B.tolist())


def test_rect_join_edge_touch_and_cell_straddle(spark):
    """Inclusive edges; rects sharing only a boundary line count, a
    pair straddling many cells is emitted exactly once, and so is a
    pair below the grid (y < 0) that straddles two cells in x."""
    cw = Grid(16).cw
    A = [(0, 0, 0, 4 * cw, 4 * cw),          # covers 5x5 cells
         (1, 10, 10, 20, 20),
         (2, 70_000, -1_100_000, 130_000, -1_000_001)]  # off-grid
    B = [(7, 4 * cw, 4 * cw, 999_999, 999_999),   # corner-touches A0
         (8, 21, 10, 30, 20),                      # edge-adjacent to A1? (21>20: no)
         (9, 20, 20, 25, 25),                      # corner-touches A1
         (10, 70_000, -1_100_000, 130_000, -1_000_001)]  # equals A2
    got = sorted(tuple(r) for r in rect_join(
        _mk_rects(spark, A, "lid"), _mk_rects(spark, B, "rid"),
        grid=Grid(16)).collect())
    assert got == _brute_rects(A, B)
    assert (0, 7) in got and (1, 9) in got and (1, 8) not in got
    assert got.count((2, 10)) == 1


def test_distance_join_f64(spark):
    """Float-coordinate mode: FLOOR-division cells, exact double dist²
    vs a numpy float64 brute force (both sides IEEE-exact)."""
    rng = np.random.default_rng(47)
    L = np.column_stack([np.arange(60),
                         rng.integers(0, 999_000, (60, 2))]).astype(np.float64)
    R = np.column_stack([np.arange(500),
                         rng.integers(0, 999_000, (500, 2))]).astype(np.float64)
    L[:, 1:] += rng.integers(0, 997, (60, 2)) / 997.0
    R[:, 1:] += rng.integers(0, 991, (500, 2)) / 991.0
    r = 50_000
    lt = spark.createDataFrame(
        pd.DataFrame({"lid": L[:, 0].astype(np.int64),
                      "x": L[:, 1], "y": L[:, 2]}))
    rt = spark.createDataFrame(
        pd.DataFrame({"rid": R[:, 0].astype(np.int64),
                      "x": R[:, 1], "y": R[:, 2]}))
    got = sorted(tuple(r_) for r_ in distance_join(
        lt, rt, r, grid=Grid(16), float_coords=True).collect())
    d2 = ((L[:, None, 1:] - R[None, :, 1:]) ** 2).sum(axis=2)
    li, ri = np.nonzero(d2 <= float(r) * float(r))
    exp = sorted(zip(L[li, 0].astype(np.int64).tolist(),
                     R[ri, 0].astype(np.int64).tolist(),
                     d2[li, ri].tolist()))
    assert got == exp


def test_kernel_density(spark):
    """Epanechnikov KDE vs numpy: exact int64 sum of (r² − d²)."""
    from kdtree_spark.queries.joins import kernel_density
    rng = np.random.default_rng(67)
    Q = np.column_stack([np.arange(40),
                         rng.integers(0, 1_000_000, (40, 2))])
    D = np.column_stack([np.arange(600),
                         rng.integers(0, 1_000_000, (600, 2))])
    r = 80_000
    got = dict(kernel_density(
        _mk(spark, Q, "qid", ("x", "y")),
        _mk(spark, D, "pid", ("x", "y")), r, grid=Grid(16)).collect())
    d2 = ((Q[:, None, 1:] - D[None, :, 1:]).astype(np.int64) ** 2
          ).sum(axis=2)
    mask = d2 <= r * r
    exp = {int(q): int(((r * r - d2[i]) * mask[i]).sum())
           for i, q in enumerate(Q[:, 0])}
    assert got == exp
    assert any(v == 0 for v in exp.values()) or all(exp.values())


def test_closest_pair(spark):
    """Closest pair (radius x4 per round) vs numpy argmin with the same
    (dist, lid, rid) tie-break, incl. a far-apart config that needs
    several radius rounds, duplicate-distance ties, and an empty side."""
    from kdtree_spark.queries.joins import closest_pair
    rng = np.random.default_rng(71)
    L = np.column_stack([np.arange(40),
                         rng.integers(0, 1_000_000, (40, 2))])
    R = np.column_stack([np.arange(300),
                         rng.integers(0, 1_000_000, (300, 2))])
    d2 = ((L[:, None, 1:] - R[None, :, 1:]).astype(np.int64) ** 2
          ).sum(axis=2)
    best = min((int(d2[i, j]), int(L[i, 0]), int(R[j, 0]))
               for i in range(len(L)) for j in range(len(R)))
    got = closest_pair(_mk(spark, L, "lid", ("x", "y")),
                       _mk(spark, R, "rid", ("x", "y"))).collect()
    assert [(r["dist_sq"], r["lid"], r["rid"]) for r in got] == [best]
    # far corners: first rounds empty, needs several radius rounds
    L2 = np.array([[0, 0, 0]])
    R2 = np.array([[9, 999_999, 999_999], [7, 900_000, 900_000]])
    got2 = closest_pair(_mk(spark, L2, "lid", ("x", "y")),
                        _mk(spark, R2, "rid", ("x", "y"))).collect()
    assert (got2[0]["lid"], got2[0]["rid"]) == (0, 7)
    # tie on distance -> min ids win
    L3 = np.array([[3, 100, 100], [1, 100, 100]])
    R3 = np.array([[8, 100, 200], [5, 200, 100]])
    got3 = closest_pair(_mk(spark, L3, "lid", ("x", "y")),
                        _mk(spark, R3, "rid", ("x", "y"))).collect()
    assert (got3[0]["lid"], got3[0]["rid"], got3[0]["dist_sq"]) == (1, 5, 10000)
    # empty right side -> empty result
    empty = spark.createDataFrame([], "rid long, x long, y long")
    got4 = closest_pair(_mk(spark, L3, "lid", ("x", "y")),
                        empty).collect()
    assert got4 == []


@pytest.mark.parametrize("empty", ["left", "right"])
@pytest.mark.parametrize("op", ["distance_join", "rect_join",
                                "kernel_density", "polygon_join"])
def test_join_empty_side(spark, op, empty):
    """An empty frame on either side gives the operator's exact columns
    and the brute force's rows: none, except one kde = 0 row per query
    when kernel_density's data side is empty."""
    rng = np.random.default_rng(89)
    pts = ", x long, y long"
    if op == "polygon_join":
        L = gen_convex_polygons(8, seed=91)
        R = gen_convex_polygons(8, seed=92)
    elif op == "rect_join":
        L, R = _rand_rects(rng, 20, 200_000), _rand_rects(rng, 30, 200_000)
    else:
        L, R = [np.column_stack([np.arange(n),
                                 rng.integers(0, 1_000_000, (n, 2))])
                for n in (20, 30)]
    L, R = (L[:0], R) if empty == "left" else (L, R[:0])
    r = 200_000
    if op == "polygon_join":
        got = polygon_join(polygons_df(spark, L, "pa"),
                           polygons_df(spark, R, "pb"), grid=Grid(8))
        cols = ["pa", "pb"]
        exp = sorted((a, b) for a, va in L for b, vb in R
                     if _brute_intersects(va, vb))
    elif op == "rect_join":
        rect = ", x0 long, y0 long, x1 long, y1 long"
        got = rect_join(spark.createDataFrame(L.tolist(), "lid long" + rect),
                        spark.createDataFrame(R.tolist(), "rid long" + rect),
                        grid=Grid(8))
        cols = ["lid", "rid"]
        exp = _brute_rects(L.tolist(), R.tolist())
    elif op == "distance_join":
        got = distance_join(
            spark.createDataFrame(L.tolist(), "lid long" + pts),
            spark.createDataFrame(R.tolist(), "rid long" + pts),
            r, grid=Grid(8))
        cols = ["lid", "rid", "dist_sq"]
        exp = _brute_pairs(L, R, r)
    else:
        got = kernel_density(
            spark.createDataFrame(L.tolist(), "qid long" + pts),
            spark.createDataFrame(R.tolist(), "pid long" + pts),
            r, grid=Grid(8))
        cols = ["qid", "kde"]
        d2 = ((L[:, None, 1:] - R[None, :, 1:]).astype(np.int64) ** 2
              ).sum(axis=2)
        exp = sorted((int(q), int(((r * r - d2[i]) * (d2[i] <= r * r)).sum()))
                     for i, q in enumerate(L[:, 0]))
    assert got.columns == cols
    rows = sorted(tuple(x) for x in got.collect())
    assert rows == exp
    if op == "kernel_density" and empty == "right":
        assert rows == [(q, 0) for q in range(20)]
    else:
        assert rows == []
