"""Differential tests of the per-cell kd-tree vs brute force — the
analogue of the reference's CGAL oracle (tests/checkCorrectParallel.cpp)."""

import numpy as np
import pytest

from kdtree_spark import bruteforce as bf
from kdtree_spark.localtree import LocalKDTree


def mk(n, d=2, seed=0, dup_frac=0.0, lo=0, hi=1_000_000):
    rng = np.random.default_rng(seed)
    pts = rng.integers(lo, hi, size=(n, d), dtype=np.int64)
    if dup_frac > 0 and n > 10:
        ndup = int(n * dup_frac)
        pts[:ndup] = pts[n // 2]  # heavy duplicate block (dummy-leaf stressor)
    ids = rng.permutation(n).astype(np.int64) * 7 + 3
    return pts, ids


CASES = [
    dict(n=0, d=2, seed=1),
    dict(n=1, d=2, seed=2),
    dict(n=31, d=2, seed=3),
    dict(n=33, d=2, seed=4),
    dict(n=2000, d=2, seed=5),
    dict(n=2000, d=3, seed=6),
    dict(n=2000, d=5, seed=7),
    dict(n=3000, d=2, seed=8, dup_frac=0.5),
    dict(n=500, d=2, seed=9, lo=0, hi=3),  # massive duplicates, tiny domain
]


@pytest.mark.parametrize("case", CASES)
def test_structure(case):
    pts, ids = mk(**case)
    t = LocalKDTree.build(pts, ids)
    # invariants (validation.hpp:50-70 analogue): same multiset, bbox holds
    assert sorted(map(tuple, t.pts)) == sorted(map(tuple, pts))
    assert sorted(t.ids) == sorted(ids)
    if len(pts):
        d = pts.shape[1]
        root = t.nbox[0]
        assert np.all(root[:d] == pts.min(axis=0))
        assert np.all(root[d:] == pts.max(axis=0))
    # round-trip
    t2 = LocalKDTree.from_bytes(t.to_bytes())
    assert np.array_equal(t2.pts, t.pts)
    assert np.array_equal(t2.split_val, t.split_val)


@pytest.mark.parametrize("case", CASES)
@pytest.mark.parametrize("k", [1, 10, 100])
def test_knn(case, k):
    pts, ids = mk(**case)
    t = LocalKDTree.build(pts, ids)
    rng = np.random.default_rng(99)
    q = rng.integers(0, 1_000_000, size=(50, case["d"]), dtype=np.int64)
    if len(pts):
        q[:10] = pts[:10]  # on-point queries
    gd, gi = bf.knn(pts, ids, q, k)
    td, ti = t.knn(q, k)
    np.testing.assert_allclose(td, gd)
    np.testing.assert_array_equal(ti, gi)


def test_knn_with_ub_prune():
    pts, ids = mk(5000, 2, seed=11)
    t = LocalKDTree.build(pts, ids)
    q = pts[:40]
    gd, gi = bf.knn(pts, ids, q, 10)
    # a valid upper bound must not change results
    ub = gd[:, -1] * 1.0
    td, ti = t.knn(q, 10, ub=ub)
    np.testing.assert_allclose(td, gd)
    np.testing.assert_array_equal(ti, gi)


@pytest.mark.parametrize("case", CASES)
def test_range_count_and_report(case):
    pts, ids = mk(**case)
    d = case["d"]
    t = LocalKDTree.build(pts, ids)
    rng = np.random.default_rng(123)
    lo = rng.integers(0, 900_000, size=(40, d))
    w = rng.integers(1, 400_000, size=(40, d))
    boxes = np.concatenate([lo, lo + w], axis=1).astype(np.int64)
    if len(pts):
        # degenerate box == single point (duplicate counting)
        boxes[0, :d] = pts[0]
        boxes[0, d:] = pts[0]
    np.testing.assert_array_equal(t.range_count(boxes), bf.range_count(pts, boxes))
    bi, pp, ii = t.range_report(boxes)
    got = sorted(zip(bi.tolist(), map(tuple, pp), ii.tolist()))
    assert got == bf.range_report(pts, ids, boxes)


def test_circle_count():
    pts, ids = mk(3000, 2, seed=21)
    t = LocalKDTree.build(pts, ids)
    rng = np.random.default_rng(31)
    centers = rng.integers(0, 1_000_000, size=(30, 2), dtype=np.int64)
    radii = rng.integers(1, 300_000, size=30).astype(np.float64)
    np.testing.assert_array_equal(
        t.circle_count(centers, radii), bf.circle_count(pts, centers, radii))


def test_updates_log_structured():
    pts, ids = mk(4000, 2, seed=41)
    t = LocalKDTree.build(pts[:3000], ids[:3000])
    # small insert -> log append, no rebuild
    t2 = t.with_updates(ins_pts=pts[3000:3100], ins_ids=ids[3000:3100])
    assert len(t2.extra_ids) == 100 and t2.n_base == 3000
    # small delete -> tombstones
    t3 = t2.with_updates(del_pts=pts[:50], del_ids=ids[:50])
    assert len(t3.tomb_ids) == 50
    live_p = np.concatenate([pts[50:3100]])
    live_i = np.concatenate([ids[50:3100]])
    q = pts[200:240]
    gd, gi = bf.knn(live_p, live_i, q, 10)
    td, ti = t3.knn(q, 10)
    np.testing.assert_allclose(td, gd)
    np.testing.assert_array_equal(ti, gi)
    rng = np.random.default_rng(5)
    lo = rng.integers(0, 900_000, size=(20, 2))
    boxes = np.concatenate([lo, lo + 200_000], axis=1).astype(np.int64)
    np.testing.assert_array_equal(t3.range_count(boxes), bf.range_count(live_p, boxes))
    # big churn -> rebuild triggered
    t4 = t3.with_updates(ins_pts=pts[3100:4000], ins_ids=ids[3100:4000],
                         del_pts=pts[50:600], del_ids=ids[50:600])
    assert len(t4.extra_ids) == 0 and len(t4.tomb_ids) == 0  # rebuilt
    live_p2 = pts[600:4000]
    live_i2 = ids[600:4000]
    assert t4.n_base == len(live_i2)
    gd2, gi2 = bf.knn(live_p2, live_i2, q, 10)
    td2, ti2 = t4.knn(q, 10)
    np.testing.assert_allclose(td2, gd2)
    np.testing.assert_array_equal(ti2, gi2)


def test_delete_partial_cover_ignores_missing():
    pts, ids = mk(1000, 2, seed=51)
    t = LocalKDTree.build(pts, ids)
    ghost_ids = np.array([10**15, 10**15 + 1], np.int64)
    ghost_pts = np.zeros((2, 2), np.int64)
    t2 = t.with_updates(del_pts=ghost_pts, del_ids=ghost_ids)
    assert len(t2.tomb_ids) == 0
    assert t2.n_live == 1000


@pytest.mark.parametrize("case", CASES)
@pytest.mark.parametrize("k", [1, 10, 100])
def test_knn_bound_is_valid(case, k):
    """knn_bound must upper-bound the true kth distance² (inf when
    fewer than k live points are guaranteed in the stop block)."""
    pts, ids = mk(**case)
    t = LocalKDTree.build(pts, ids)
    rng = np.random.default_rng(77)
    q = rng.integers(0, 1_000_000, size=(64, case["d"]), dtype=np.int64)
    if len(pts):
        q[:5] = pts[:5]
    b = t.knn_bound(q, k)
    gd, _ = bf.knn(pts, ids, q, k)
    true_kth = gd[:, k - 1]
    finite = np.isfinite(b)
    assert np.all(b[finite] >= true_kth[finite] - 1e-9)
    if len(pts) >= 2 * k:
        assert finite.all()  # stop block always has >= 2k >= k points


def test_knn_bound_with_tombstones_and_extras():
    pts, ids = mk(3000, 2, seed=61)
    t = LocalKDTree.build(pts[:2500], ids[:2500])
    t = t.with_updates(ins_pts=pts[2500:2560], ins_ids=ids[2500:2560],
                       del_pts=pts[:200], del_ids=ids[:200])
    assert len(t.tomb_ids) and len(t.extra_ids)
    live_p = pts[200:2560]
    live_i = ids[200:2560]
    rng = np.random.default_rng(62)
    q = rng.integers(0, 1_000_000, size=(40, 2), dtype=np.int64)
    b = t.knn_bound(q, 10)
    gd, _ = bf.knn(live_p, live_i, q, 10)
    finite = np.isfinite(b)
    assert np.all(b[finite] >= gd[finite, 9] - 1e-9)
    # seeded cold search stays exact under heavy churn
    td, ti = t.knn(q, 10)
    np.testing.assert_allclose(td, gd)


@pytest.mark.parametrize("d", [7, 16])
def test_high_dim_build_and_knn(d):
    """Reference dim dispatch covers d up to 16 (tests/test.cpp:569-617)."""
    pts, ids = mk(1500, d, seed=71)
    t = LocalKDTree.build(pts, ids)
    rng = np.random.default_rng(72)
    q = rng.integers(0, 1_000_000, size=(30, d), dtype=np.int64)
    gd, gi = bf.knn(pts, ids, q, 10)
    td, ti = t.knn(q, 10)
    np.testing.assert_allclose(td, gd)
    np.testing.assert_array_equal(ti, gi)


def test_knn_stats_counters():
    pts, ids = mk(5000, 2, seed=81)
    t = LocalKDTree.build(pts, ids)
    q = pts[:100]
    st = {}
    td, _ = t.knn(q, 10, stats=st)
    # every query scanned at least k points and visited >= 1 leaf
    assert (st["scanned"] >= 10).all() and (st["leaves"] >= 1).all()
    # pruning works: nobody scans anywhere near the whole tree
    assert st["scanned"].max() < len(pts) // 2
    # counters don't perturb results
    td2, _ = t.knn(q, 10)
    np.testing.assert_allclose(td, td2)


def test_traversal_path_large_tree():
    """Blob-scale tree (salted-cell size) vs brute force."""
    pts, ids = mk(120_000, 2, seed=93)
    t = LocalKDTree.build(pts, ids)
    rng = np.random.default_rng(94)
    q = rng.integers(0, 1_000_000, size=(64, 2), dtype=np.int64)
    td, ti = t.knn(q, 10)
    gd, gi = bf.knn(pts, ids, q, 10)
    np.testing.assert_allclose(td, gd)
    np.testing.assert_array_equal(ti, gi)


@pytest.mark.parametrize("n", [0, 500])
@pytest.mark.parametrize("d", [2, 5])
@pytest.mark.parametrize("dtype", [np.int64, np.float64])
def test_from_bytes_memoryview_slice(n, d, dtype):
    """A tree read from a memoryview slice of a larger buffer — how the
    Arrow cogroup hands blobs to the kernels — equals the one read from
    bytes: every field, with its dtype and shape."""
    import pyarrow as pa

    from kdtree_spark.index import _column
    pts, ids = mk(n, d=d, seed=11)
    t = LocalKDTree.build(pts.astype(dtype), ids)
    if n:  # extra log and tombstones non-empty too
        t = t.with_updates(pts[:3].astype(dtype) + 1, ids[:3] + 10**9,
                           pts[3:5].astype(dtype), ids[3:5])
        assert len(t.extra_ids) and len(t.tomb_ids)
    blob = t.to_bytes()
    buf = b"\x07" * 13 + blob + b"\x09" * 5
    views = [memoryview(buf)[13:13 + len(blob)],
             _column(pa.chunked_array([pa.array([b"ab", blob, b""])]))[1]]
    ref = LocalKDTree.from_bytes(blob)
    for v in views:
        got = LocalKDTree.from_bytes(v)
        for f in LocalKDTree._FIELDS:
            a, b = getattr(got, f), getattr(ref, f)
            assert a.dtype == b.dtype and a.shape == b.shape, f
            np.testing.assert_array_equal(a, b, err_msg=f)


def test_inbalance_ratio_threshold(monkeypatch):
    """needs_rebuild() fires once churn passes INBALANCE_RATIO percent
    of the tree (tree_node.hpp:118-124; the reference's summary suite
    sweeps inba 3/10/30)."""
    from kdtree_spark import localtree as lt
    pts = np.arange(200, dtype=np.int64).reshape(100, 2)
    t = lt.LocalKDTree.build(pts, np.arange(100, dtype=np.int64))
    t2 = t.with_updates(ins_pts=pts[:20] + 1_000,
                        ins_ids=np.arange(1000, 1020, dtype=np.int64))
    # churn 20% of 100: below the default 30 threshold, above 10
    monkeypatch.setattr(lt, "INBALANCE_RATIO", 30)
    assert not t2.needs_rebuild()
    monkeypatch.setattr(lt, "INBALANCE_RATIO", 10)
    assert t2.needs_rebuild()


def test_local_tombstone_idempotent():
    pts = np.arange(20, dtype=np.int64).reshape(10, 2) * 7
    ids = np.arange(10, dtype=np.int64)
    t = LocalKDTree.build(pts, ids)
    t2 = t.with_updates(del_pts=pts[:3], del_ids=ids[:3])
    t3 = t2.with_updates(del_pts=pts[:3], del_ids=ids[:3])
    assert t2.n_live == 7
    assert t3.n_live == 7


def test_rotate_split_rule():
    """ROTATE_DIM build answers identically to MAX_STRETCH + brute force."""
    rng = np.random.default_rng(3)
    pts = rng.integers(0, 1_000_000, size=(500, 3)).astype(np.int64)
    ids = np.arange(500, dtype=np.int64)
    q = rng.integers(0, 1_000_000, size=(40, 3)).astype(np.int64)
    t_rot = LocalKDTree.build(pts, ids, split_rule="rotate")
    d1, i1 = t_rot.knn(q, 5)
    exp_d, exp_i = bf.knn(pts, ids, q, 5)
    assert (i1 == exp_i).all() and (d1 == exp_d).all()
    boxes = np.array([[0, 0, 0, 500_000, 700_000, 900_000]], np.int64)
    assert t_rot.range_count(boxes).tolist() == [
        int(np.all((pts >= boxes[0, :3]) & (pts <= boxes[0, 3:]), axis=1).sum())]


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
