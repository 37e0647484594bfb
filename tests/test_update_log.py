"""The per-blob log of SpatialIndex.update: each (cell, salt) blob keeps
the inserts and tombstones since its tree was built beside the tree,
and reads overlay them on it. Every case here checks kNN, range_count, circle_count and range_report against
brute force over the live points: a delete of an absent pid under a
range shape that contains the cell, deletes of the pooled probe points
under kNN queries at those points, a salted hot cell, the same pid
deleted and inserted in one batch and re-inserted later, a batch that
pushes a cell past INBALANCE_RATIO (its tree is rebuilt), and a
version holding logs saved and loaded, and committed to and loaded
from a SnapshotStore."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from kdtree_spark import bruteforce as bf
from kdtree_spark.catalog import SnapshotStore
from kdtree_spark.grid import COORD_LIMIT, Grid
from kdtree_spark.index import SpatialIndex
from kdtree_spark.localtree import INBALANCE_RATIO
from kdtree_spark.queries.ranges import range_report
from tests.test_job_budget import _read

G = Grid(4)
CW = G.cw


def _frame(spark, ids, p):
    p = np.asarray(p, np.int64).reshape(-1, 2)
    return spark.createDataFrame(pd.DataFrame(
        {"pid": np.asarray(ids, np.int64), "x": p[:, 0], "y": p[:, 1]}))


def _at(rng, cx, cy, n):
    """n points inside cell (cx, cy) of G."""
    return np.column_stack([cx * CW + rng.integers(0, CW, n),
                            cy * CW + rng.integers(0, CW, n)])


class _Chain:
    """An index and its live points ({pid: (x, y)}), updated together;
    each superseded version is unpersisted at once."""

    def __init__(self, spark, pts, grid=G, **kw):
        self.spark = spark
        self.live = {i: tuple(p) for i, p in enumerate(pts.tolist())}
        self.idx = SpatialIndex.build(spark, _frame(spark, list(self.live),
                                                    pts),
                                      grid=grid, n_hint=len(pts), **kw)

    def update(self, ins=(), ins_pts=None, dels=(), del_pts=None):
        """Insert pids `ins` at `ins_pts`; delete pids `dels` (at their
        live coordinates, or at `del_pts` for pids not live)."""
        ins, dels = list(ins), list(dels)
        if del_pts is None:
            del_pts = [self.live[i] for i in dels]
        new = self.idx.update(
            inserts=_frame(self.spark, ins, ins_pts) if ins else None,
            deletes=_frame(self.spark, dels, del_pts) if dels else None)
        self.idx.unpersist(successor=new)
        self.idx = new
        for i in dels:  # deletes apply before inserts
            self.live.pop(i, None)
        if ins:
            self.live.update(zip(ins, map(tuple,
                                          np.asarray(ins_pts).tolist())))
        return new

    def check(self, q, boxes, k=5):
        """Every read against brute force over the live points."""
        idx, live = self.idx, self.live
        assert idx.validate(expected_n=len(live))["total"] == len(live)
        _read(self.spark, idx, live, np.asarray(q, np.int64), boxes, k)
        p = np.array(list(live.values()), np.int64)
        ids = np.array(list(live), np.int64)
        rep = range_report(idx, boxes).toPandas()
        got = sorted(zip(rep["box_id"], zip(rep["x"], rep["y"]), rep["pid"]))
        want = bf.range_report(p, ids, np.array(boxes)[:, 1:])
        assert [(int(b), tuple(map(int, xy)), int(i)) for b, xy, i in got] \
            == want  # box ids are their positions


def _logs(idx) -> pd.DataFrame:
    """The blob rows with a non-empty log."""
    return idx.df.filter((F.col("nextra") > 0) | (F.col("ntomb") > 0)) \
        .select("cell", "salt", "cnt", "nextra", "ntomb").toPandas()


def test_delete_of_absent_pid_keeps_contained_counts(spark):
    rng = np.random.default_rng(61)
    ch = _Chain(spark, rng.integers(0, COORD_LIMIT, size=(800, 2)))
    # a box that contains cell (1, 1) whole: it answers from the count
    boxes = [(0, CW - 10, CW - 10, 2 * CW + 10, 2 * CW + 10),
             (1, 0, 0, COORD_LIMIT - 1, COORD_LIMIT - 1)]
    q = _at(rng, 1, 1, 4)
    before = ch.idx.level().ccnt.copy()
    ch.update(dels=[10**9, 10**9 + 1], del_pts=_at(rng, 1, 1, 2))
    np.testing.assert_array_equal(ch.idx.level().ccnt, before)
    assert ch.idx.touched_cells == [G.g + 1]
    ch.check(q, boxes)
    # an absent pid beside a real delete and an insert in the same cell
    gone = next(i for i, p in ch.live.items()
                if p[0] // CW == 1 and p[1] // CW == 1)
    ch.update(ins=[10**6], ins_pts=_at(rng, 1, 1, 1),
              dels=[gone, 10**9 + 2],
              del_pts=[ch.live[gone], *_at(rng, 1, 1, 1)])
    logs = _logs(ch.idx)
    assert logs[["nextra", "ntomb"]].values.tolist() == [[1, 1]]
    ch.check(q, boxes)


def test_deleted_probe_points_leave_the_level(spark):
    rng = np.random.default_rng(67)
    ch = _Chain(spark, rng.integers(0, COORD_LIMIT, size=(1200, 2)))
    lvl = ch.idx.level()
    cell = int(lvl.cell[0])
    pool = {tuple(p) for p in lvl.probe[0].tolist()}
    dels = [i for i, p in ch.live.items() if p in pool][::2]
    assert len(dels) > 5
    pool = {ch.live[i] for i in dels}
    q = np.array([ch.live[i] for i in dels[:12]], np.int64)
    boxes = [(0, 0, 0, COORD_LIMIT - 1, COORD_LIMIT - 1)]
    ch.update(dels=dels)
    lvl = ch.idx.level()
    at = int(np.flatnonzero(lvl.cell == cell)[0])
    assert not pool & {tuple(p) for p in lvl.probe[at].tolist()}
    # k = 1 at a deleted point: a stale probe would bound it at 0
    ch.check(q, boxes, k=1)
    ch.check(q, boxes, k=5)


def test_salted_hot_cell_logs(spark):
    rng = np.random.default_rng(71)
    pts = np.concatenate([rng.integers(0, COORD_LIMIT, size=(600, 2)),
                          _at(rng, 0, 0, 400)])
    ch = _Chain(spark, pts, hot_cell_cap=40)
    assert ch.idx.hot_cells() == [0]
    q = np.concatenate([_at(rng, 0, 0, 6), rng.integers(0, COORD_LIMIT,
                                                        size=(4, 2))])
    boxes = [(0, 0, 0, CW - 1, CW - 1), (1, 1000, 2000, CW // 2, CW // 3),
             (2, 0, 0, COORD_LIMIT - 1, COORD_LIMIT - 1)]
    hot = [i for i, p in ch.live.items() if max(p) < CW]
    for g in range(3):
        dels = rng.choice([i for i in hot if i in ch.live], 10,
                          replace=False).tolist()
        ins = list(range(10**6 + 100 * g, 10**6 + 100 * g + 20))
        ch.update(ins=ins, ins_pts=_at(rng, 0, 0, 20), dels=dels)
        logs = _logs(ch.idx)
        assert (logs["cell"] == 0).sum() > 1  # a log per salt
        ch.check(q, boxes)


def test_same_pid_deleted_inserted_and_reinserted(spark):
    rng = np.random.default_rng(73)
    ch = _Chain(spark, rng.integers(0, COORD_LIMIT, size=(800, 2)))
    q = rng.integers(0, COORD_LIMIT, size=(6, 2))
    boxes = [(0, 0, 0, COORD_LIMIT - 1, COORD_LIMIT - 1),
             (1, 0, 0, 2 * CW - 1, 2 * CW - 1)]
    a = 3  # a base pid, and b one outside cell (3, 3)
    b = next(i for i, p in ch.live.items() if i != a and p[0] // CW < 3)
    # one batch deletes and inserts a: the delete applies first, so the
    # old point goes and the new one, in the same cell, stays; b moves
    # to another cell
    pa = _at(rng, ch.live[a][0] // CW, ch.live[a][1] // CW, 1)
    pb = _at(rng, 3, 3, 1)
    ch.update(ins=[a, b], ins_pts=np.concatenate([pa, pb]), dels=[a, b])
    assert ch.live[a] == tuple(pa[0]) and ch.live[b] == tuple(pb[0])
    q[:2] = np.concatenate([pa, pb])
    ch.check(q, boxes)
    # a delete of a logged insert nets it out of the log
    ch.update(dels=[a])
    ch.check(q, boxes)
    # a re-insert of a tombstoned base pid in a later batch is live
    ch.update(ins=[a], ins_pts=pa)
    ch.check(q, boxes)
    # and a second delete of it removes the insert, not the tombstone
    ch.update(dels=[a])
    assert a not in ch.live
    ch.check(q, boxes)


def test_log_past_ratio_rebuilds_the_tree(spark):
    rng = np.random.default_rng(79)
    ch = _Chain(spark, rng.integers(0, COORD_LIMIT, size=(1600, 2)))
    q = np.concatenate([_at(rng, 2, 1, 5), rng.integers(0, COORD_LIMIT,
                                                        size=(3, 2))])
    boxes = [(0, 2 * CW, CW, 3 * CW - 1, 2 * CW - 1),
             (1, 0, 0, COORD_LIMIT - 1, COORD_LIMIT - 1)]
    cell = 2 * G.g + 1
    n = sum(1 for p in ch.live.values()
            if p[0] // CW == 2 and p[1] // CW == 1)
    # a batch just short of the ratio stays in the log
    churn = n * INBALANCE_RATIO // 100
    ins = list(range(10**6, 10**6 + churn))
    ch.update(ins=ins, ins_pts=_at(rng, 2, 1, churn))
    assert _logs(ch.idx)[["cell", "cnt", "nextra", "ntomb"]] \
        .values.tolist() == [[cell, n + churn, churn, 0]]
    ch.check(q, boxes)
    # one more insert and three deletes cross it: the cell's tree is
    # rebuilt over its live points, with an empty log
    dels = [i for i, p in ch.live.items()
            if p[0] // CW == 2 and p[1] // CW == 1][:3]
    ch.update(ins=[2 * 10**6], ins_pts=_at(rng, 2, 1, 1), dels=dels)
    assert ch.idx.touched_cells == [cell]
    delta = ch.idx._frags[-1].frame.toPandas()
    assert delta[["cell", "cnt", "nextra", "ntomb"]].values.tolist() == [
        [cell, n + churn + 1 - 3, 0, 0]]
    assert _logs(ch.idx).empty
    ch.check(q, boxes)


def test_logged_version_saved_and_snapshotted(spark, tmp_path):
    rng = np.random.default_rng(83)
    ch = _Chain(spark, rng.integers(0, COORD_LIMIT, size=(900, 2)))
    q = rng.integers(0, COORD_LIMIT, size=(8, 2))
    boxes = [(0, 0, 0, COORD_LIMIT - 1, COORD_LIMIT - 1),
             (1, 200_000, 300_000, 700_000, 650_000)]
    dels = rng.choice(list(ch.live), 60, replace=False).tolist()
    ins = list(range(10**6, 10**6 + 80))
    ch.update(ins=ins, ins_pts=rng.integers(0, COORD_LIMIT, size=(80, 2)),
              dels=dels)
    assert not _logs(ch.idx).empty
    want = ch.idx.level()
    store = SnapshotStore(str(tmp_path / "snaps"))
    for loaded in (SpatialIndex.load(spark, ch.idx.save(
            str(tmp_path / "saved"))), store.load(spark, store.commit(
                ch.idx))):
        for got, exp in zip(loaded.level(), want):
            if got.dtype == object:
                for a, b in zip(got, exp):
                    np.testing.assert_array_equal(a, b)
            else:
                np.testing.assert_array_equal(got, exp)
        # the loaded version answers every read, and so does its update
        side = _Chain.__new__(_Chain)
        side.spark, side.idx, side.live = spark, loaded, dict(ch.live)
        side.check(q, boxes)
        more = rng.choice(list(side.live), 30, replace=False).tolist()
        side.update(ins=[2 * 10**6], ins_pts=q[:1], dels=more)
        side.check(q, boxes)
