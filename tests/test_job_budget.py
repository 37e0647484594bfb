"""Spark job budget of the operators: one knn_join call and one
range_count or circle_count call each run a fixed number of Spark jobs,
right after a build and after updates, and that number does not grow
with the fragments SpatialIndex.update layers over an index: the build
and every update hand the next version its driver-held routing level,
so no read runs a job to rebuild it; reads leave nothing in storage; a
partial update runs a fixed number of jobs, and a chain of whole-index
updates stays at one fragment; connected_components and dbscan stay
within a fixed budget. Answers are checked against brute force every
time, so a plan that saves jobs by dropping work fails here too."""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd

from kdtree_spark import bruteforce as bf
from kdtree_spark.grid import COORD_LIMIT, Grid
from kdtree_spark.index import COMPACT_EVERY, SpatialIndex
from kdtree_spark.pipeline.components import connected_components
from kdtree_spark.queries.dbscan import dbscan
from kdtree_spark.queries.knn import knn_join
from kdtree_spark.queries.ranges import circle_count, range_count
from tests.test_components import _mk_edges, _uf_components
from tests.test_dbscan import _brute_dbscan

KNN_JOBS = 3  # Spark jobs per knn_join call, after a build or an
# update, at any fragment count: the candidate cells' broadcast, the
# blob scan into the merge window's exchange, and the result
RANGE_JOBS = 3  # the same for one range_count or circle_count call
UPDATE_JOBS = 3  # a partial update, one SQL execution: the batch cells'
# broadcast, the cogroup's exchange and the checkpoint (one job more
# when it compacts)
PATH_CC_JOBS = 60  # connected_components on a 400-node path
DBSCAN_JOBS = 17  # dbscan on 2,000 uniform points, ~10 neighbours each
# (16 on local[2] and local[4], 16 or 17 on local[9], 17 on local[1])


def _labelled(spark, fn):
    """(fn(), the spark.job.description of each Spark job fn ran, in
    job order), through a fresh job group whose description fn leaves
    as it found it."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        assert sc.getLocalProperty("spark.job.description") == group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    return out, [store.job(i).description().get()
                 for i in sorted(sc.statusTracker().getJobIdsForGroup(group))]


def _counted(spark, fn):
    """(fn(), Spark jobs fn ran)."""
    out, labels = _labelled(spark, fn)
    return out, len(labels)


def _persisted(spark) -> set:
    """Ids of the RDDs Spark holds in storage."""
    return {int(i) for i in
            spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _owning(spark, owned: set, fn):
    """fn(), adding the RDDs it left in storage to `owned`: the storage
    count of a chain then ignores what other calls (reads, earlier
    tests) left to Spark's cleaner."""
    before = _persisted(spark)
    out = fn()
    owned.update(_persisted(spark) - before)
    return out


def _frame(spark, **cols):
    return spark.createDataFrame(pd.DataFrame(cols))


def _read(spark, index, live: dict, q: np.ndarray, boxes: list,
          k: int) -> tuple:
    """(kNN jobs, range_count jobs, circle_count jobs) of one k-NN batch
    `q`, one box batch and one circle batch (one circle per query, of
    radius 100k) on `index`, each answer checked against brute force
    over `live` ({pid: (x, y)})."""
    qdf = _frame(spark, qid=np.arange(len(q), dtype=np.int64),
                 x=q[:, 0], y=q[:, 1])
    got, kjobs = _counted(spark, lambda: knn_join(index, qdf, k)
                          .toPandas().sort_values(["qid", "rank"]))
    rc, rjobs = _counted(spark, lambda: range_count(index, boxes)
                         .toPandas().set_index("box_id")["cnt"])
    circles = [(i, *c, 100_000) for i, c in enumerate(q.tolist())]
    cc, cjobs = _counted(spark, lambda: circle_count(index, circles)
                         .toPandas().set_index("circle_id")["cnt"])
    ids = np.array(list(live), np.int64)
    p = np.array(list(live.values()), np.int64)
    exp_d, exp_i = bf.knn(p, ids, q, k)
    np.testing.assert_array_equal(
        got["nid"].to_numpy(np.int64).reshape(len(q), k), exp_i)
    np.testing.assert_array_equal(
        got["dist_sq"].to_numpy(np.int64).reshape(len(q), k),
        exp_d.astype(np.int64))
    for b in boxes:
        inside = np.all((p >= b[1:3]) & (p <= b[3:]), axis=1)
        assert rc[b[0]] == int(inside.sum()), b
    for i, x, y, r in circles:
        assert cc[i] == int((((p - (x, y)) ** 2).sum(axis=1)
                             <= r * r).sum()), i
    return kjobs, rjobs, cjobs


def _within_budget(jobs: tuple) -> None:
    kjobs, *rjobs = jobs
    assert kjobs <= KNN_JOBS and max(rjobs) <= RANGE_JOBS, jobs


def test_knn_and_range_job_budget_flat_over_fragments(spark):
    rng = np.random.default_rng(23)
    n, k = 4000, 10
    live = {int(i): p for i, p in enumerate(
        rng.integers(0, COORD_LIMIT, size=(n, 2)))}
    pts = np.array(list(live.values()), np.int64)
    idx = SpatialIndex.build(
        spark, _frame(spark, pid=np.arange(n, dtype=np.int64),
                      x=pts[:, 0], y=pts[:, 1]),
        grid=Grid(8), n_hint=n)
    q = rng.integers(0, COORD_LIMIT, size=(32, 2))
    lo = rng.integers(0, COORD_LIMIT - 200_000, size=(16, 2))
    boxes = [(i, *lo[i], *(lo[i] + rng.integers(1_000, 200_000, 2)))
             for i in range(len(lo))]

    _within_budget(_read(spark, idx, live, q, boxes, k))
    for g in range(2):
        # a batch confined to a quarter of the domain touches only some
        # cells, so every older fragment stays in the version's plan
        ins = rng.integers(0, COORD_LIMIT // 2, size=(60, 2))
        ipid = np.arange(10**6 + 100 * g, 10**6 + 100 * g + 60,
                         dtype=np.int64)
        dpid = rng.choice(np.array(list(live), np.int64), 40,
                          replace=False)
        dxy = np.array([live[int(i)] for i in dpid], np.int64)
        ups = (_frame(spark, pid=ipid, x=ins[:, 0], y=ins[:, 1]),
               _frame(spark, pid=dpid, x=dxy[:, 0], y=dxy[:, 1]))
        idx, ujobs = _counted(spark, lambda: idx.update(*ups))
        assert ujobs == UPDATE_JOBS, ujobs
        for i in dpid:
            del live[int(i)]
        live.update({int(i): p for i, p in zip(ipid, ins)})
        _within_budget(_read(spark, idx, live, q, boxes, k))
    assert idx.manifest["frags"] == 3


def test_whole_index_updates_keep_one_fragment(spark):
    """update-mix's shape: every batch touches every cell, so the delta
    rewrites every inherited blob row and the older fragments leave the
    union. The chain stays at one fragment with no compaction, the
    storage it holds stays flat while each superseded version is
    unpersisted, and the reads after each update run within the job
    budgets."""
    rng = np.random.default_rng(37)
    n, k, grid = 2000, 5, Grid(8)
    live = {int(i): p for i, p in enumerate(
        rng.integers(0, COORD_LIMIT, size=(n, 2)))}
    pts = np.array(list(live.values()), np.int64)
    owned = set()
    idx = _owning(spark, owned, lambda: SpatialIndex.build(
        spark, _frame(spark, pid=np.arange(n, dtype=np.int64),
                      x=pts[:, 0], y=pts[:, 1]),
        grid=grid, n_hint=n))
    q = rng.integers(0, COORD_LIMIT, size=(16, 2))
    boxes = [(0, 0, 0, COORD_LIMIT - 1, COORD_LIMIT - 1),
             (1, 100_000, 200_000, 400_000, 500_000)]
    # one insert at the centre of every cell
    c = np.arange(grid.g) * grid.cw + grid.cw // 2
    centres = np.array([(x, y) for x in c for y in c], np.int64)

    _within_budget(_read(spark, idx, live, q, boxes, k))
    held = []
    for g in range(4):
        ipid = np.arange(10**6 + 100 * g, 10**6 + 100 * g + len(centres),
                         dtype=np.int64)
        dpid = rng.choice(np.array(list(live), np.int64), 30,
                          replace=False)
        dxy = np.array([live[int(i)] for i in dpid], np.int64)
        new = _owning(spark, owned, lambda: idx.update(
            _frame(spark, pid=ipid, x=centres[:, 0], y=centres[:, 1]),
            _frame(spark, pid=dpid, x=dxy[:, 0], y=dxy[:, 1])))
        idx.unpersist(successor=new)
        idx = new
        for i in dpid:
            del live[int(i)]
        live.update({int(i): p for i, p in zip(ipid, centres)})
        assert len(idx.touched_cells) == grid.g ** 2
        assert idx.manifest["frags"] == 1, idx.manifest
        assert not idx.manifest["compacted"]
        held.append(len(owned & _persisted(spark)))
        _within_budget(_read(spark, idx, live, q, boxes, k))
    assert held == [1] * len(held), held


def test_updates_without_reads_stay_bounded(spark):
    """A streaming indexer's shape: updates with no read between them,
    each superseded version unpersisted at once. Every version holds the
    routing level the build handed over and each update patched, as
    driver arrays, and no cached stats frame, so storage is held by the
    live version's fragments only, one persisted RDD each (and drops at
    compaction, which frees the delta it folded in); carrying the level
    costs an update no job, and the kNN calls after the chain run within
    the budget however long the chain was. Each batch inserts into a
    cell of its own outside the quarter the other rows go to, so no
    fragment is superseded and the chain reaches a compaction."""
    rng = np.random.default_rng(31)
    n, k, grid = 2000, 5, Grid(8)
    live = {int(i): p for i, p in enumerate(
        rng.integers(0, COORD_LIMIT, size=(n, 2)))}
    pts = np.array(list(live.values()), np.int64)
    owned = set()
    idx = _owning(spark, owned, lambda: SpatialIndex.build(
        spark, _frame(spark, pid=np.arange(n, dtype=np.int64),
                      x=pts[:, 0], y=pts[:, 1]),
        grid=grid, n_hint=n))

    def step(index, g):
        own = (np.array([g % grid.g, grid.g // 2 + g // grid.g]) * grid.cw
               + rng.integers(0, grid.cw, size=2))
        ins = np.concatenate([rng.integers(0, COORD_LIMIT // 2, size=(19, 2)),
                              [own]])
        ipid = np.arange(10**6 + 100 * g, 10**6 + 100 * g + 20,
                         dtype=np.int64)
        quarter = [i for i, p in live.items() if max(p) < COORD_LIMIT // 2]
        dpid = rng.choice(np.array(quarter, np.int64), 10, replace=False)
        dxy = np.array([live[int(i)] for i in dpid], np.int64)
        ups = (_frame(spark, pid=ipid, x=ins[:, 0], y=ins[:, 1]),
               _frame(spark, pid=dpid, x=dxy[:, 0], y=dxy[:, 1]))
        new, labels = _labelled(spark, lambda: _owning(
            spark, owned, lambda: index.update(*ups)))
        ujobs.append(labels)
        index.unpersist(successor=new)
        for i in dpid:
            del live[int(i)]
        live.update({int(i): p for i, p in zip(ipid, ins)})
        return new

    held, frags, ujobs = [], [], []
    for g in range(COMPACT_EVERY + 2):
        idx = step(idx, g)
        assert idx._level is not None
        held.append(len(owned & _persisted(spark)))
        frags.append(idx.manifest["frags"])
    assert frags == [*range(2, COMPACT_EVERY + 1), 1, 2, 3], frags
    assert held == frags, (held, frags)
    # a compaction costs one job more than a partial update; each job
    # carries its phase's label, in phase order
    assert [len(j) for j in ujobs] == [UPDATE_JOBS + (f == 1)
                                       for f in frags], ujobs
    phases = ["update:rewrite", "update:compact"]
    for labels, f in zip(ujobs, frags):
        assert sorted(set(labels)) == sorted(phases[:1 + (f == 1)]), labels
        assert labels == sorted(labels, key=phases.index), labels

    q = rng.integers(0, COORD_LIMIT, size=(16, 2))
    qdf = _frame(spark, qid=np.arange(len(q), dtype=np.int64),
                 x=q[:, 0], y=q[:, 1])

    def knn_jobs(index):
        got, jobs = _counted(spark, lambda: knn_join(index, qdf, k)
                             .toPandas().sort_values(["qid", "rank"]))
        _, exp_i = bf.knn(np.array(list(live.values()), np.int64),
                          np.array(list(live), np.int64), q, k)
        np.testing.assert_array_equal(
            got["nid"].to_numpy(np.int64).reshape(len(q), k), exp_i)
        return jobs

    assert knn_jobs(idx) <= KNN_JOBS
    idx = step(idx, len(held))
    assert knn_jobs(idx) <= KNN_JOBS


def test_reads_leave_nothing_in_storage(spark):
    """20 calls alternating kNN, range_count and circle_count reads
    with updates, each superseded version unpersisted with its
    successor: after every call, what the session holds in storage is
    exactly what the index's fragments hold, so a read leaves no
    checkpoint or cache behind for Spark's cleaner."""
    rng = np.random.default_rng(41)
    n, k, grid = 2000, 5, Grid(8)
    live = {int(i): p for i, p in enumerate(
        rng.integers(0, COORD_LIMIT, size=(n, 2)))}
    pts = np.array(list(live.values()), np.int64)
    before = _persisted(spark)
    idx = SpatialIndex.build(
        spark, _frame(spark, pid=np.arange(n, dtype=np.int64),
                      x=pts[:, 0], y=pts[:, 1]),
        grid=grid, n_hint=n)
    q = rng.integers(0, COORD_LIMIT, size=(16, 2))
    qdf = _frame(spark, qid=np.arange(len(q), dtype=np.int64),
                 x=q[:, 0], y=q[:, 1])
    lo = rng.integers(0, COORD_LIMIT - 300_000, size=(8, 2))
    boxes = [(i, *lo[i], *(lo[i] + 300_000)) for i in range(len(lo))]
    circles = [(i, *c, 150_000) for i, c in enumerate(q.tolist())]

    def update(index, g):
        ins = rng.integers(0, COORD_LIMIT, size=(30, 2))
        ipid = np.arange(10**6 + 100 * g, 10**6 + 100 * g + 30,
                         dtype=np.int64)
        dpid = rng.choice(np.array(list(live), np.int64), 20,
                          replace=False)
        dxy = np.array([live[int(i)] for i in dpid], np.int64)
        new = index.update(_frame(spark, pid=ipid, x=ins[:, 0], y=ins[:, 1]),
                           _frame(spark, pid=dpid, x=dxy[:, 0], y=dxy[:, 1]))
        index.unpersist(successor=new)
        for i in dpid:
            del live[int(i)]
        live.update({int(i): p for i, p in zip(ipid, ins)})
        return new

    for call in range(20):
        p = np.array(list(live.values()), np.int64)
        ids = np.array(list(live), np.int64)
        op = call % 4
        if op == 0:
            got = knn_join(idx, qdf, k).toPandas().sort_values(["qid", "rank"])
            np.testing.assert_array_equal(
                got["nid"].to_numpy(np.int64).reshape(len(q), k),
                bf.knn(p, ids, q, k)[1])
        elif op == 1:
            got = range_count(idx, boxes).toPandas().set_index("box_id")
            assert [got["cnt"][b[0]] for b in boxes] == bf.range_count(
                p, np.array(boxes)[:, 1:]).tolist()
        elif op == 2:
            got = circle_count(idx, circles).toPandas() \
                .set_index("circle_id")
            assert [got["cnt"][c[0]] for c in circles] == bf.circle_count(
                p, q, np.full(len(q), 150_000)).tolist()
        else:
            idx = update(idx, call)
        stores = {id(f.store) for f in idx._frags if f.store is not None}
        assert len(_persisted(spark) - before) == len(stores), call


def _plan_paths(plan, above=()):
    """(node name, names of the nodes above it) for every node of an
    executed physical plan, through AQE's plan and its query stages."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _plan_paths(plan.executedPlan(), above)
        return
    if name.endswith("QueryStage"):
        above += (name,)
        plan = plan.plan()
        name = plan.nodeName()
    yield name, above
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_paths(kids.apply(i), above + (name,))


def test_reads_scan_blobs_in_place(spark):
    """knn_join's and range_count's executed plans hold exactly one
    MapInArrow, and the path from it down to the cached blob table's
    scan holds no exchange or sort: a read shuffles no blob."""
    rng = np.random.default_rng(43)
    n = 2000
    pts = rng.integers(0, COORD_LIMIT, size=(n, 2))
    idx = SpatialIndex.build(
        spark, _frame(spark, pid=np.arange(n, dtype=np.int64),
                      x=pts[:, 0], y=pts[:, 1]),
        grid=Grid(4), n_hint=n)
    q = rng.integers(0, COORD_LIMIT, size=(16, 2))
    qdf = _frame(spark, qid=np.arange(len(q), dtype=np.int64),
                 x=q[:, 0], y=q[:, 1])
    boxes = [(i, x, y, x + 300_000, y + 300_000)
             for i, (x, y) in enumerate(q.tolist())]
    for df in (knn_join(idx, qdf, 5), range_count(idx, boxes)):
        assert df.collect()
        paths = list(_plan_paths(df._jdf.queryExecution().executedPlan()))
        assert [n for n, _ in paths].count("MapInArrow") == 1, paths
        scans = [above for n, above in paths if n == "InMemoryTableScan"]
        assert scans, paths
        for above in scans:
            below = above[above.index("MapInArrow") + 1:]
            assert not [n for n in below if "Exchange" in n
                        or "Shuffle" in n or n == "Sort"], above
    idx.unpersist()


def test_components_job_budget_on_a_path(spark):
    """A 400-node path takes 10 contraction rounds: the budget holds
    each round to a few jobs."""
    edges = [(i, i + 1) for i in range(399)]
    got, jobs = _counted(spark, lambda: dict(
        connected_components(_mk_edges(spark, edges)).collect()))
    assert got == _uf_components(range(400), edges)
    assert jobs <= PATH_CC_JOBS, jobs


def test_dbscan_job_budget(spark):
    n, min_pts = 2000, 5
    rng = np.random.default_rng(29)
    pid = rng.permutation(n).astype(np.int64)
    xy = rng.integers(0, COORD_LIMIT, size=(n, 2), dtype=np.int64)
    eps = int(round((10 * COORD_LIMIT ** 2 / (np.pi * n)) ** 0.5))
    pts = _frame(spark, pid=pid, x=xy[:, 0], y=xy[:, 1])
    got, jobs = _counted(spark, lambda: {
        r["pid"]: (r["cluster"], r["kind"])
        for r in dbscan(pts, eps, min_pts).collect()})
    assert got == _brute_dbscan(pid, xy, eps, min_pts)
    assert jobs <= DBSCAN_JOBS, jobs
