"""Round-4 coverage: d-generic distributed ranges, the large-grid
(stats-pyramid / super-cell) code paths, off-grid polygons and tiles,
and the exact-IEEE vs epsilon-comparator divergence documentation test.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kdtree_spark import points
from kdtree_spark.grid import Grid
from kdtree_spark.index import SpatialIndex
from kdtree_spark.queries.knn import knn_join
from kdtree_spark.queries.polygon import point_in_polygon
from kdtree_spark.queries.ranges import (circle_count, range_count,
                                         range_report)


def _pts_d(spark, sf_dir, d):
    cc = list(points.dim_cols(d))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_r4_lineitem")
    return spark.sql(
        f"SELECT {points.dimd_select_sql(d)} FROM _r4_lineitem"), cc


def _rand_boxes(rng, n, d, wlo, whi):
    out = []
    for i in range(n):
        lo = rng.integers(0, 10**6 - whi, d)
        w = rng.integers(wlo, whi, d)
        out.append((i, *lo.tolist(), *(lo + w).tolist()))
    return out


@pytest.mark.parametrize("d", [3, 5])
def test_range_ops_d_generic(spark, sf_dir, d):
    """Distributed range count/report/circle at d>2 vs brute force
    (reference parity: checkCorrect.sh runs range ops at d=5)."""
    pts, cc = _pts_d(spark, sf_dir, d)
    idx = SpatialIndex.build(spark, pts, grid=Grid(4), coord_cols=cc)
    P = pts.toPandas()[cc].to_numpy(np.int64)
    rng = np.random.default_rng(7 + d)
    boxes = _rand_boxes(rng, 12, d, 50_000, 600_000)
    boxes.append((12, *([0] * d), *([10**6] * d)))  # domain-sized

    got = {r["box_id"]: r["cnt"] for r in range_count(idx, boxes).collect()}
    for b in boxes:
        lo, hi = np.array(b[1:1 + d]), np.array(b[1 + d:])
        assert got[b[0]] == int(np.all((P >= lo) & (P <= hi), axis=1).sum())

    rep = range_report(idx, boxes[:4]).toPandas()
    exp_rows = sum(
        int(np.all((P >= np.array(b[1:1 + d]))
                   & (P <= np.array(b[1 + d:])), axis=1).sum())
        for b in boxes[:4])
    assert len(rep) == exp_rows
    assert list(rep.columns) == ["box_id", "pid", *cc]

    circles = [(i, *rng.integers(10**5, 9 * 10**5, d).tolist(),
                int(rng.integers(10_000, 400_000))) for i in range(8)]
    cgot = {r["circle_id"]: r["cnt"]
            for r in circle_count(idx, circles).collect()}
    for c in circles:
        ctr, r = np.array(c[1:1 + d], np.float64), c[1 + d]
        exp = int((((P - ctr) ** 2).sum(axis=1) <= float(r) * r).sum())
        assert cgot[c[0]] == exp
    idx.unpersist()


def test_large_grid_pyramid_paths(spark, sf_dir):
    """Grid(128): exercises the stats pyramid (hierarchical _prune_join
    descent), super-cell kNN fallback and contained-coarse-cell
    shortcuts — code paths inactive at the driver gates' Grid(8)
    (ADVICE r3). Includes a domain-sized box, k far above
    points-per-cell, and a k whose bound covers over ENUM_CAP cells."""
    pts = points.load_points(spark, sf_dir, "uniform").select("pid", "x", "y")
    idx = SpatialIndex.build(spark, pts, grid=Grid(128))
    assert idx.stats_pyramid(), "Grid(128) must build pyramid levels"
    pdf = pts.toPandas()
    P = pdf[["x", "y"]].to_numpy(np.int64)
    ids = pdf["pid"].to_numpy(np.int64)

    rng = np.random.default_rng(31)
    boxes = _rand_boxes(rng, 10, 2, 2_000, 500_000)
    boxes.append((10, 0, 0, 10**6, 10**6))
    got = {r["box_id"]: r["cnt"] for r in range_count(idx, boxes).collect()}
    for b in boxes:
        lo, hi = np.array(b[1:3]), np.array(b[3:])
        assert got[b[0]] == int(np.all((P >= lo) & (P <= hi), axis=1).sum())

    rep = range_report(idx, boxes[:3]).toPandas()
    exp = sum(int(np.all((P >= np.array(b[1:3]))
                         & (P <= np.array(b[3:])), axis=1).sum())
              for b in boxes[:3])
    assert len(rep) == exp

    circles = [(0, 500_000, 500_000, 450_000), (1, 10, 10, 3_000),
               (2, 250_000, 750_000, 120_000)]
    cgot = {r["circle_id"]: r["cnt"]
            for r in circle_count(idx, circles).collect()}
    for i, cx, cy, r in circles:
        d2 = ((P - np.array([cx, cy], np.float64)) ** 2).sum(axis=1)
        assert cgot[i] == int((d2 <= float(r) * r).sum())

    # kNN with k >> points-per-cell (n/16384 per cell) forces the
    # super-cell fallback + multi-cell merges
    q = spark.createDataFrame(
        [(int(i), int(x), int(y)) for i, (x, y) in enumerate(P[:8])],
        "qid long, x long, y long")
    k = 64
    out = knn_join(idx, q, k).toPandas()
    for qi in range(8):
        d2 = ((P - P[qi]) ** 2).sum(axis=1)
        order = np.lexsort((ids, d2))[:k]
        mine = out[out.qid == qi].sort_values("rank")
        assert list(mine["nid"]) == list(ids[order])

    # k = 2000: the prefix-sum bound's cube spans more than ENUM_CAP
    # cells, so the kernel expands super cells into fine children
    from kdtree_spark.queries import knn as K
    k = 2000
    ub = K._prefix_ub(P[:2], idx.level(), k)
    assert len(K._enum_rows([P[:2, 0], P[:2, 1]], ub, idx.grid,
                            False)[2]) == 2
    out = knn_join(idx, q.filter("qid < 2"), k).toPandas()
    for qi in range(2):
        d2 = ((P - P[qi]) ** 2).sum(axis=1)
        order = np.lexsort((ids, d2))[:k]
        mine = out[out.qid == qi].sort_values("rank")
        assert list(mine["nid"]) == list(ids[order])
        assert list(mine["dist_sq"]) == list(d2[order])
    idx.unpersist()


def test_dense_knn_kernel_matches_traversal():
    """d >= DENSE_SCAN_DIM dispatches to the dense matmul kernel; its
    results (ties, tombstones, extras, ub semantics) must be identical
    to the traversal path's."""
    import kdtree_spark.localtree as LT
    from kdtree_spark.localtree import LocalKDTree
    rng = np.random.default_rng(3)
    n, m, d, k = 2500, 150, 9, 10
    P = rng.integers(0, 500, (n, d)).astype(np.int64)  # ties likely
    ids = (rng.permutation(n) * 11 + 5).astype(np.int64)
    tree = LocalKDTree.build(P, ids)
    sel = rng.choice(n, 80, replace=False)
    ins = rng.integers(0, 500, (40, d)).astype(np.int64)
    tree = tree.with_updates(
        ins_pts=ins, ins_ids=(np.arange(40) + 10**9).astype(np.int64),
        del_pts=P[sel], del_ids=ids[sel])
    Q = rng.integers(0, 500, (m, d)).astype(np.int64)
    ub = tree.knn_bound(Q, k)
    saved = LT.DENSE_SCAN_DIM
    try:
        LT.DENSE_SCAN_DIM = 99
        dt, it = tree.knn(Q, k, ub=ub.copy())
        LT.DENSE_SCAN_DIM = 2
        dd, di = tree.knn(Q, k, ub=ub.copy())
    finally:
        LT.DENSE_SCAN_DIM = saved
    assert (it == di).all()
    assert np.array_equal(dt, dd)


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


@pytest.mark.parametrize("g", [4, 128])
def test_range_count_off_grid_points(spark, g):
    """Points off the grid live in its boundary cells, so boxes past
    the grid find them; inverted boxes count nothing. Grid(128) runs
    the stats-pyramid descent, Grid(4) the single-level cover."""
    rng = np.random.default_rng(43)
    P = np.vstack([rng.integers(0, 10**6, (300, 2)),
                   [[1_000_005, 500_000], [1_000_010, 500_003],
                    [-7, 20], [400_000, 1_200_000], [-3, -3]]])
    pdf = pd.DataFrame({"pid": np.arange(len(P)), "x": P[:, 0],
                        "y": P[:, 1]})
    idx = SpatialIndex.build(spark, spark.createDataFrame(pdf),
                             grid=Grid(g))
    boxes = [(0, 1_000_000, 0, 1_100_000, 10**6),
             (1, -100, -100, 100_000, 100_000),
             (2, 0, 1_100_000, 10**6, 1_300_000),
             (3, -10, -10, 2_000_000, 2_000_000),
             (4, 600_000, 0, 400_000, 10**6),
             (5, 100_000, 100_000, 700_000, 800_000)]
    got = {r["box_id"]: r["cnt"] for r in range_count(idx, boxes).collect()}
    for b in boxes:
        lo, hi = np.array(b[1:3]), np.array(b[3:])
        assert got[b[0]] == int(np.all((P >= lo) & (P <= hi), axis=1).sum())
    assert got[0] == 2 and got[4] == 0
    idx.unpersist()


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


def test_f64_epsilon_comparator_divergence():
    """Documents EXACTLY when float mode diverges from the reference:
    the reference's Num_Comparator (comparator.h:10-79) treats doubles
    within eps=DBL_EPSILON as EQUAL, so two neighbours whose distances
    differ by < eps tie and break by point id; this repo (and DuckDB)
    compares IEEE-exactly, so the strictly-nearer point wins. For any
    gap >= eps the two rules agree."""
    from kdtree_spark.localtree import LocalKDTree
    eps = np.finfo(np.float64).eps
    q = np.array([[0.0, 0.0]])
    # d²(a) and d²(b) differ by ~eps/4 — below the comparator epsilon
    da, db = 1.0, 1.0 + eps / 4
    pts = np.array([[np.sqrt(db), 0.0], [np.sqrt(da), 0.0]])
    ids = np.array([1, 2], np.int64)  # nearer point has the LARGER id
    tree = LocalKDTree.build(pts, ids)
    d2, nid = tree.knn(q, 1)
    if d2[0, 0] == np.float64(pts[0, 0]) ** 2 == np.float64(pts[1, 0]) ** 2:
        # distances rounded to equal doubles: both rules give id 1
        assert nid[0, 0] == 1
    else:
        # exact-IEEE rule: strictly smaller d² wins -> id 2; the
        # reference's epsilon rule would pick id 1 here. This is the
        # documented divergence (spatial.py, the knn_k10_f64 row's note).
        assert nid[0, 0] == 2
    # gap >= eps (relative): rules agree — nearer point wins under both
    pts2 = np.array([[1.0, 0.0], [1.0 + 1e-16 + eps, 0.0]])
    tree2 = LocalKDTree.build(pts2, ids)
    _, nid2 = tree2.knn(q, 1)
    assert nid2[0, 0] == 1


def test_knn_stop_block_reuse_edges():
    """knn_bound(collect=True) candidates replace a rescan of the stop
    subtree; these are the edge shapes of that contract (round 4):
    dummy-leaf root (all duplicates), stop-at-root (children below the
    block threshold), k above the live count (no scan, full traversal),
    and a tombstoned stop block with < k survivors."""
    from kdtree_spark.localtree import LocalKDTree

    def brute(P, ids, q, k):
        d2 = ((P.astype(np.float64) - q) ** 2).sum(axis=1)
        order = np.lexsort((ids, d2))[:k]
        return list(ids[order])

    rng = np.random.default_rng(44)
    q = np.array([[7, 9]], np.int64)

    # all-identical points -> single leaf root IS the stop block
    P = np.tile(np.array([[5, 5]], np.int64), (400, 1))
    ids = rng.permutation(400).astype(np.int64)
    t = LocalKDTree.build(P, ids)
    d2, nid = t.knn(q, 3)
    assert list(nid[0]) == brute(P, ids, q, 3)

    # 200 points: root is internal but both children < 128 -> stop at
    # root; traversal must gather nothing and still be exact
    P = rng.integers(0, 1000, (200, 2)).astype(np.int64)
    ids = rng.permutation(200).astype(np.int64)
    t = LocalKDTree.build(P, ids)
    st: dict = {}
    d2, nid = t.knn(q, 5, stats=st)
    assert list(nid[0]) == brute(P, ids, q, 5)
    assert st["leaves"][0] == 1  # the stop-block scan, nothing rescanned

    # k above the live count: bound stays inf, stopn = -1, full scan
    d2, nid = t.knn(q, 300)
    assert list(nid[0, :200]) == brute(P, ids, q, 200)
    assert (nid[0, 200:] == -1).all() and np.isinf(d2[0, 200:]).all()

    # tombstones shrink the stop block below k -> no-scan fallback path
    big = rng.integers(0, 1000, (600, 2)).astype(np.int64)
    bids = np.arange(600, dtype=np.int64)
    t2 = LocalKDTree.build(big, bids)
    t2 = t2.with_updates(del_pts=big[:595], del_ids=bids[:595])
    alive = ~np.isin(bids, bids[:595])
    d2, nid = t2.knn(q, 4)
    assert list(nid[0]) == brute(big[alive], bids[alive], q, 4)
