"""Float-coordinate mode (the reference's double test build,
comparator.h:10-79): dtype-generic local trees + the f64 index/kNN
path. Integer mode stays the default and is covered everywhere else."""

import numpy as np
import pandas as pd
import pytest

from kdtree_spark import bruteforce as bf
from kdtree_spark.grid import Grid
from kdtree_spark.index import SpatialIndex
from kdtree_spark.localtree import LocalKDTree
from kdtree_spark.queries.knn import knn_join


def test_localtree_f64_exact():
    rng = np.random.default_rng(9)
    pts = rng.uniform(0, 1e6, size=(5000, 3))
    ids = np.arange(5000, dtype=np.int64)
    t = LocalKDTree.build(pts, ids)
    assert t.pts.dtype == np.float64  # no int32 downcast in float mode
    q = rng.uniform(0, 1e6, size=(60, 3))
    gd, gi = bf.knn(pts, ids, q, 10)
    td, ti = t.knn(q, 10)
    np.testing.assert_array_equal(ti, gi)
    np.testing.assert_allclose(td, gd)
    # serialization round-trip preserves dtype and results
    t2 = LocalKDTree.from_bytes(t.to_bytes())
    td2, ti2 = t2.knn(q, 10)
    np.testing.assert_array_equal(ti2, gi)


def test_localtree_f64_updates():
    rng = np.random.default_rng(11)
    pts = rng.uniform(0, 1e6, size=(3000, 2))
    ids = np.arange(3000, dtype=np.int64)
    t = LocalKDTree.build(pts, ids)
    ins_p = rng.uniform(0, 1e6, size=(200, 2))
    ins_i = np.arange(3000, 3200, dtype=np.int64)
    t2 = t.with_updates(ins_p, ins_i, pts[:150], ids[:150])
    assert t2.extra_pts.dtype == np.float64
    live_p = np.concatenate([pts[150:], ins_p])
    live_i = np.concatenate([ids[150:], ins_i])
    q = rng.uniform(0, 1e6, size=(40, 2))
    gd, gi = bf.knn(live_p, live_i, q, 5)
    td, ti = t2.knn(q, 5)
    np.testing.assert_array_equal(ti, gi)


@pytest.mark.usefixtures("spark")
def test_spark_index_f64_knn(spark):
    rng = np.random.default_rng(13)
    n = 20000
    pts = rng.uniform(0, 1e6, size=(n, 2))
    ids = np.arange(n, dtype=np.int64)
    df = spark.createDataFrame(pd.DataFrame(
        {"pid": ids, "x": pts[:, 0], "y": pts[:, 1]}))
    idx = SpatialIndex.build(spark, df, grid=Grid(8), n_hint=n)
    assert idx.float_coords
    q = rng.uniform(0, 1e6, size=(80, 2))
    qdf = spark.createDataFrame(pd.DataFrame(
        {"qid": np.arange(80), "x": q[:, 0], "y": q[:, 1]}))
    got = (knn_join(idx, qdf, 10).toPandas()
           .sort_values(["qid", "rank"]))
    assert len(got) == 800
    assert str(got["dist_sq"].dtype) == "float64"  # DOUBLE end to end
    gd, gi = bf.knn(pts, ids, q, 10)
    np.testing.assert_array_equal(
        got["nid"].to_numpy(np.int64).reshape(80, 10), gi)
    np.testing.assert_allclose(
        got["dist_sq"].to_numpy().reshape(80, 10), gd)


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
