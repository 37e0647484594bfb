"""Read statistics carried through SpatialIndex.update: after every
update in a chain from a version whose stats are on the driver (S == 1,
super_table() read), cell_stats() and super_table() equal what the scan
formula computes from that version's own blob table, and reading them
needs no fragment at all.

The oracle is a second SpatialIndex over the same `df`, which has no
carried stats and so aggregates the blobs. It is not a fresh build: a
blob's bbox keeps its tombstoned points, so after deletes it is a
superset of what a build of the live points would give."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from kdtree_spark.grid import COORD_LIMIT, Grid
from kdtree_spark.index import COMPACT_EVERY, SpatialIndex

CAP = 48  # hot_cell_cap: the clustered cell splits into 7 salted blobs

MODES = {  # name: (d, float coordinates, grid)
    "int": (2, False, Grid(8)),
    "f64": (2, True, Grid(8)),
    "d3": (3, False, Grid(8)),
}


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return (df.sort_values(df.columns[0], ignore_index=True)
            [sorted(df.columns)])


def _scan(idx: SpatialIndex) -> tuple:
    """(cell_stats, super_table) as the scan formula computes them."""
    ref = SpatialIndex(idx.spark, idx.grid, idx.df, coord_cols=idx.coord_cols)
    want = _sorted(ref.cell_stats().toPandas()), _sorted(ref.super_table())
    # uncached again: the cache manager matches plans, so a version that
    # scanned for its own stats would otherwise be served this table
    ref.unpersist()
    return want


def _assert_stats(idx: SpatialIndex, want: tuple) -> None:
    got = idx.cell_stats().toPandas()
    pd.testing.assert_frame_equal(_sorted(got), want[0])
    pd.testing.assert_frame_equal(_sorted(idx.super_table()), want[1])


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
    _assert_stats(idx, _scan(idx))
    if mode == "int":
        n = len(live)
        assert idx.validate(expected_n=n)["total"] == n
        with pytest.raises(RuntimeError, match="expected"):
            idx.validate(expected_n=n + 1)

    # an insert into a cell without a blob
    idx = step(idx, box(COORD_LIMIT - cw, COORD_LIMIT, 5), some(10))
    assert empty in set(idx.cell_stats().toPandas()["cell"])
    _assert_stats(idx, _scan(idx))
    # a delete of every point of one cell, in the upper half of the
    # last gridded dim below its top row
    g = grid.g
    gone = cells(np.array([live[i] for i in some(
        1, lambda c: (c % g >= g // 2) & (c % g < g - 1))]))[0]
    idx = step(idx, dels=some(len(live), lambda c: c == gone))
    assert gone not in set(idx.cell_stats().toPandas()["cell"])
    _assert_stats(idx, _scan(idx))
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
        _assert_stats(idx, _scan(idx))
    assert idx.hot_cells() == [0]

    # two updates back to back, no read between them; then the storage
    # of every fragment of every version is freed and the build's files
    # are deleted: the carried stats still read, so they never lead
    # back to a fragment
    mid = step(idx, box(0, COORD_LIMIT, 10), some(10))
    last = step(mid, box(0, COORD_LIMIT, 10), some(10))
    want = {v: _scan(v) for v in (mid, last)}
    for v in versions:
        v.unpersist()
    os.remove(src)
    with pytest.raises(Exception):
        last.df.count()
    for v in (mid, last):
        _assert_stats(v, want[v])
