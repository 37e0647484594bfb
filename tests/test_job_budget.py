"""Spark job budget of the read operators: one knn_join call and one
range_count call each run a bounded number of Spark jobs, and that
number does not grow with the fragments SpatialIndex.update layers over
an index. Answers are checked against numpy brute force at every
version, so a plan that saves jobs by dropping work fails here too."""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd

from kdtree_spark import bruteforce as bf
from kdtree_spark.grid import COORD_LIMIT, Grid
from kdtree_spark.index import SpatialIndex
from kdtree_spark.queries.knn import knn_join
from kdtree_spark.queries.ranges import range_count

KNN_JOBS = 12  # Spark jobs per knn_join call, at any fragment count


def _counted(spark, fn):
    """(fn(), Spark jobs fn ran), counted through a fresh job group."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _frame(spark, **cols):
    return spark.createDataFrame(pd.DataFrame(cols))


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
    qdf = _frame(spark, qid=np.arange(len(q), dtype=np.int64),
                 x=q[:, 0], y=q[:, 1])
    lo = rng.integers(0, COORD_LIMIT - 200_000, size=(16, 2))
    boxes = [(i, *lo[i], *(lo[i] + rng.integers(1_000, 200_000, 2)))
             for i in range(len(lo))]

    def read(index):
        got, kjobs = _counted(spark, lambda: knn_join(index, qdf, k)
                              .toPandas().sort_values(["qid", "rank"]))
        rc, rjobs = _counted(spark, lambda: range_count(index, boxes)
                             .toPandas().set_index("box_id")["cnt"])
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
        return kjobs, rjobs

    jobs = [read(idx)]
    for g in range(2):
        # a batch confined to a quarter of the domain touches only some
        # cells, so every older fragment stays in the version's plan
        ins = rng.integers(0, COORD_LIMIT // 2, size=(60, 2))
        ipid = np.arange(10**6 + 100 * g, 10**6 + 100 * g + 60,
                         dtype=np.int64)
        dpid = rng.choice(np.array(list(live), np.int64), 40,
                          replace=False)
        dxy = np.array([live[int(i)] for i in dpid], np.int64)
        idx = idx.update(
            inserts=_frame(spark, pid=ipid, x=ins[:, 0], y=ins[:, 1]),
            deletes=_frame(spark, pid=dpid, x=dxy[:, 0], y=dxy[:, 1]))
        for i in dpid:
            del live[int(i)]
        live.update({int(i): p for i, p in zip(ipid, ins)})
        jobs.append(read(idx))
    assert idx.manifest["frags"] == 3
    (k1, r1), _, (k3, r3) = jobs
    assert max(k1, k3) <= KNN_JOBS, jobs
    assert k3 <= k1 and r3 <= r1, jobs
