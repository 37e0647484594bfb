"""The driver-held routing level (SpatialIndex.level) carried through
build and update: after the build, after every update in a chain (a
compaction included), after save()/load() and after a SnapshotStore
commit/load, the level — per-cell stats and pooled probe samples —
equals what the level aggregation computes from that version's own
blob table, and reading it needs no fragment at all.

The oracle is a second SpatialIndex over the same `df`, which holds no
level and so aggregates the blobs. It is not a fresh build: a blob's
bbox keeps its tombstoned points, so after deletes it is a superset of
what a build of the live points would give.

The brute-force cases route reads through the level's corners: samples
strided down to a tiny budget, k above a cell's pooled sample, f64 and
d = 3 / 5 coordinates, a salted hot cell, and off-grid and
empty-extent shapes."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from kdtree_spark import bruteforce as bf
from kdtree_spark import index as index_mod
from kdtree_spark.catalog import SnapshotStore
from kdtree_spark.grid import COORD_LIMIT, Grid
from kdtree_spark.index import COMPACT_EVERY, Level, SpatialIndex
from kdtree_spark.queries.knn import knn_join
from kdtree_spark.queries.ranges import circle_count, range_count, range_report

CAP = 48  # hot_cell_cap: the clustered cell splits into 7 salted blobs

MODES = {  # name: (d, float coordinates, grid)
    "int": (2, False, Grid(8)),
    "f64": (2, True, Grid(8)),
    "d3": (3, False, Grid(8)),
}


def _scan(idx: SpatialIndex) -> Level:
    """The level as the aggregation computes it from idx's blobs."""
    return SpatialIndex(idx.spark, idx.grid, idx.df,
                        coord_cols=idx.coord_cols).level()


def _assert_level(got: Level, want: Level) -> None:
    for name, a, b in zip(Level._fields, got, want):
        assert len(a) == len(b), name
        if name == "probe":
            for x, y in zip(a, b):
                np.testing.assert_array_equal(x, y)
        else:
            np.testing.assert_array_equal(a, b, err_msg=name)


@pytest.mark.parametrize("mode", list(MODES))
def test_update_carries_read_stats(spark, tmp_path, mode):
    d, fmode, grid = MODES[mode]
    cc = ("x", "y", "z")[:d]
    rng = np.random.default_rng(41)
    cw = grid.cw
    gd = grid.dims

    def box(lo, hi, n):
        """n points uniform in [lo, hi) on the gridded dims, anywhere on
        the others."""
        p = rng.uniform(0, COORD_LIMIT, size=(n, d))
        p[:, :gd] = rng.uniform(lo, hi, size=(n, gd))
        return p if fmode else np.floor(p).astype(np.int64)

    def cells(p):
        c = np.zeros(len(p), np.int64)
        for j in range(gd):
            c = c * grid.g + np.clip(p[:, j] // cw, 0, grid.g - 1).astype(
                np.int64)
        return c

    # uniform points, none in the top corner cell, plus a cluster in
    # cell 0 that salting splits into a hot cell
    empty = cells(np.full((1, d), COORD_LIMIT - 1))[0]
    pts = box(0, COORD_LIMIT, 900)
    pts = np.concatenate([pts[cells(pts) != empty], box(0, cw, 300)])
    live = dict(enumerate(pts))
    next_pid = len(live)

    def table(ids, p):
        cols = {"pid": np.asarray(ids, np.int64)}
        cols.update({c: p[:, j] for j, c in enumerate(cc)})
        return pd.DataFrame(cols)

    def frame(ids, p):
        return spark.createDataFrame(table(ids, p))

    def step(idx, ins=None, dels=()):
        nonlocal next_pid
        ins = box(0, COORD_LIMIT, 0) if ins is None else ins
        ipid = np.arange(next_pid, next_pid + len(ins))
        next_pid += len(ins)
        dels = sorted(int(i) for i in dels)
        new = idx.update(
            inserts=frame(ipid, ins) if len(ins) else None,
            deletes=frame(dels, np.array([live[i] for i in dels]))
            if dels else None)
        versions.append(new)
        # the superseded version is unpersisted at once, the way a
        # streaming indexer does: the new one's stats must not need it
        idx.unpersist(successor=new)
        for i in dels:
            del live[i]
        live.update(zip(ipid.tolist(), ins))
        return new

    def some(n, where=None):
        ids = np.array(list(live))
        if where is not None:
            ids = ids[where(cells(np.array([live[int(i)] for i in ids])))]
        return rng.choice(ids, min(n, len(ids)), replace=False)

    # built from files, which are deleted at the end: a stats plan that
    # still leads back to the build's blobs then has nothing to read
    src = str(tmp_path / "points")
    table(list(live), np.array(list(live.values()))).to_parquet(src)
    idx = SpatialIndex.build(spark, spark.read.parquet(src), grid=grid,
                             hot_cell_cap=CAP, coord_cols=cc)
    versions = [idx]
    assert 0 in idx.hot_cells(), idx.hot_cells()
    assert idx._level is not None  # handed over by the build
    _assert_level(idx.level(), _scan(idx))
    if mode == "int":
        n = len(live)
        assert idx.validate(expected_n=n)["total"] == n
        with pytest.raises(RuntimeError, match="expected"):
            idx.validate(expected_n=n + 1)

    # an insert into a cell without a blob
    idx = step(idx, box(COORD_LIMIT - cw, COORD_LIMIT, 5), some(10))
    assert empty in set(idx.cell_stats().toPandas()["cell"])
    _assert_level(idx.level(), _scan(idx))
    # a delete of every point of one cell, in the upper half of the
    # last gridded dim below its top row
    g = grid.g
    gone = cells(np.array([live[i] for i in some(
        1, lambda c: (c % g >= g // 2) & (c % g < g - 1))]))[0]
    idx = step(idx, dels=some(len(live), lambda c: c == gone))
    assert gone not in set(idx.cell_stats().toPandas()["cell"])
    _assert_level(idx.level(), _scan(idx))
    # the hot cell, then updates up to a compaction. Each fragment keeps
    # a cell no later batch touches (the corner, `gone`, cell 0, and
    # cell (i, g - 1) of batch i), so none is superseded on the way
    for i in range(COMPACT_EVERY - 2):
        if i == 0:
            idx = step(idx, box(0, cw, 40), some(20, lambda c: c == 0))
        else:  # the lower half of the last gridded dim, but cell 0,
            # and one point in cell (i, g - 1)
            own = box(0, COORD_LIMIT, 1)
            own[:, 0] = i * cw + own[:, 0] % cw
            own[:, 1] = (g - 1) * cw + own[:, 1] % cw
            idx = step(idx, np.concatenate([box(cw, COORD_LIMIT // 2, 10),
                                            own]),
                       some(10, lambda c: (c % g < g // 2) & (c != 0)))
        assert idx.manifest["compacted"] == (i == COMPACT_EVERY - 3)
        _assert_level(idx.level(), _scan(idx))
    assert idx.hot_cells() == [0]

    # a saved and a snapshotted version aggregate their own level on
    # first read: the same as the carried one
    want = idx.level()
    _assert_level(SpatialIndex.load(
        spark, idx.save(str(tmp_path / "saved"))).level(), want)
    store = SnapshotStore(str(tmp_path / "snaps"))
    _assert_level(store.load(spark, store.commit(idx)).level(), want)

    # two updates back to back, no read between them; then the storage
    # of every fragment of every version is freed and the build's files
    # are deleted: the carried level and its cell_stats still read, so
    # they never lead back to a fragment
    mid = step(idx, box(0, COORD_LIMIT, 10), some(10))
    last = step(mid, box(0, COORD_LIMIT, 10), some(10))
    want = {v: _scan(v) for v in (mid, last)}
    for v in versions:
        v.unpersist()
    os.remove(src)
    with pytest.raises(Exception):
        last.df.count()
    for v in (mid, last):
        _assert_level(v.level(), want[v])
        assert v.cell_stats().count() == len(want[v].cell)


ROUTES = {  # name: (d, float coordinates, grid, k, hot_cell_cap, probes)
    # a 16-point share per cell strides every ~31-point pool in two
    "strided": (2, False, Grid(8), 5, None, 16 * 64),
    "needy": (2, False, Grid(8), 60, None, None),  # k above every pool
    "f64": (2, True, Grid(8), 7, None, None),
    "d3": (3, False, Grid(4, dims=3), 5, None, None),
    "d5": (5, False, Grid(4), 10, None, None),
    "hot": (2, False, Grid(4), 10, 40, None),  # cell 0 salts into 13 blobs
}


@pytest.mark.parametrize("case", list(ROUTES))
def test_level_routing_exact(spark, monkeypatch, case):
    """kNN, range_count, circle_count and range_report routed through
    the level equal brute force, on the built version and on the
    version an update carried the level to; the shapes include
    off-grid and empty-extent ones, the queries off-grid points."""
    d, fmode, grid, k, cap, probes = ROUTES[case]
    if probes:
        monkeypatch.setattr(index_mod, "LEVEL_PROBES", probes)
    cc = ("x", "y", "z", "w", "v")[:d]
    rng = np.random.default_rng(43)

    def draw(n, hi=COORD_LIMIT):
        p = rng.uniform(0, hi, size=(n, d))
        return p if fmode else np.floor(p).astype(np.int64)

    def frame(ids, p, key="pid"):
        return spark.createDataFrame(pd.DataFrame(
            {key: np.asarray(ids, np.int64),
             **{c: p[:, j] for j, c in enumerate(cc)}}))

    n = 2000
    pts = draw(n)
    if cap:
        pts[:400, :2] = draw(400, grid.cw)[:, :2]
    ids = np.arange(n, dtype=np.int64)
    idx = SpatialIndex.build(spark, frame(ids, pts), grid=grid, n_hint=n,
                             coord_cols=cc, hot_cell_cap=cap or 131_072)
    lvl = idx.level()
    if probes:
        share = probes // grid.g ** grid.dims
        assert max(len(p) for p in lvl.probe) <= share
        assert (lvl.ccnt > share).any()
    if case == "needy":
        assert max(len(p) for p in lvl.probe) < k
    if cap:
        assert 0 in idx.hot_cells()

    edge = [-5_000, COORD_LIMIT + 100]
    q = np.concatenate([draw(12), np.full((1, d), edge[0]),
                        np.full((1, d), edge[1])]).astype(pts.dtype)
    lo = rng.integers(-100_000, COORD_LIMIT, size=(8, d))
    hi = lo + rng.integers(1_000, 400_000, size=(8, d))
    lo[0], hi[0] = -10**5, 2 * 10**6  # the whole domain and beyond
    hi[1, 0] = lo[1, 0] - 1  # an empty extent
    boxes = np.column_stack([np.arange(8), lo, hi])
    ctr = rng.integers(-100_000, COORD_LIMIT + 100_000, size=(6, d))
    radii = rng.integers(0, 300_000, size=6)
    ctr[5], radii[5] = np.floor(pts[7]).astype(np.int64), 0
    circles = np.column_stack([np.arange(6), ctr, radii])

    for step in range(2):
        got = knn_join(idx, frame(np.arange(len(q)), q, "qid"), k) \
            .toPandas().sort_values(["qid", "rank"])
        exp_d, exp_i = bf.knn(pts, ids, q, k)
        np.testing.assert_array_equal(
            got["nid"].to_numpy(np.int64).reshape(len(q), k), exp_i)
        np.testing.assert_allclose(
            got["dist_sq"].to_numpy(np.float64).reshape(len(q), k), exp_d,
            rtol=1e-12)
        rc = range_count(idx, boxes).toPandas().set_index("box_id")["cnt"]
        assert rc.sort_index().tolist() == \
            bf.range_count(pts, boxes[:, 1:]).tolist()
        ci = circle_count(idx, circles).toPandas() \
            .set_index("circle_id")["cnt"]
        assert ci.sort_index().tolist() == \
            bf.circle_count(pts, ctr, radii).tolist()
        rep = range_report(idx, boxes[:3]).toPandas()
        assert sorted(zip(rep["box_id"].tolist(), rep["pid"].tolist())) \
            == sorted((b, int(i)) for b in range(3) for i in ids[
                np.all((pts >= lo[b]) & (pts <= hi[b]), axis=1)])
        if step == 0:  # the next reads run on a carried level
            gone = rng.choice(n, 30, replace=False)
            new = draw(30)
            nid = np.arange(10**6, 10**6 + 30)
            idx = idx.update(frame(nid, new), frame(ids[gone], pts[gone]))
            assert idx._level is not None
            keep = np.ones(len(ids), bool)
            keep[gone] = False
            pts = np.concatenate([pts[keep], new])
            ids = np.concatenate([ids[keep], nid])
