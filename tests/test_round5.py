"""Round-5 additions: fused seed+enum kNN phases, polygon broadcast
guard, d=5 circle fixtures."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kdtree_spark import fixtures
from kdtree_spark.grid import COORD_LIMIT, Grid
from kdtree_spark.index import SpatialIndex


def _pts(spark, n=4000, seed=5):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        "pid": np.arange(n, dtype=np.int64),
        "x": rng.integers(0, COORD_LIMIT, n, dtype=np.int64),
        "y": rng.integers(0, COORD_LIMIT, n, dtype=np.int64),
    })
    return spark.createDataFrame(pdf), pdf


def _brute_knn(pdf, qx, qy, k):
    d = (pdf.x.to_numpy() - qx) ** 2 + (pdf.y.to_numpy() - qy) ** 2
    order = np.lexsort((pdf.pid.to_numpy(), d))
    return d[order[:k]], pdf.pid.to_numpy()[order[:k]]


def test_fused_knn_clustered_queries(spark):
    """Queries live far from most data and on cell borders; exact match
    vs brute force through the fused probe+enum path."""
    from kdtree_spark.queries.knn import knn_join
    df, pdf = _pts(spark)
    idx = SpatialIndex.build(spark, df, grid=Grid(8))
    qs = [(0, 3, 7), (1, COORD_LIMIT - 1, COORD_LIMIT - 1),
          (2, COORD_LIMIT // 2, COORD_LIMIT // 2),
          (3, COORD_LIMIT // 8, 0)]  # cell-border x
    qdf = spark.createDataFrame(
        pd.DataFrame(qs, columns=["qid", "x", "y"]))
    out = knn_join(idx, qdf, 7).toPandas()
    for qid, qx, qy in qs:
        got = out[out.qid == qid].sort_values("rank")
        ed, ei = _brute_knn(pdf, qx, qy, 7)
        assert np.array_equal(got.nid.to_numpy(), ei), qid
        assert np.array_equal(got.dist_sq.to_numpy(np.int64), ed), qid


def test_fused_knn_needy_path(spark):
    """Queries the probe samples cannot bound take the super-cell
    prefix-sum bound inside the candidate kernel: k above the probe
    pool, and a query whose home cell is empty. Results must stay
    exact."""
    from kdtree_spark.queries.knn import knn_join
    df, pdf = _pts(spark, n=3000)
    idx = SpatialIndex.build(spark, df, grid=Grid(4))
    # per-cell live counts ~187 < PROBE_SAMPLE, so the pool holds the
    # home cell's full live set; k > pool size triggers the fallback
    # only when the home cell holds fewer than k points
    k = 400
    qdf = spark.createDataFrame(
        pd.DataFrame([(0, 11, 22)], columns=["qid", "x", "y"]))
    out = knn_join(idx, qdf, k).toPandas().sort_values("rank")
    ed, ei = _brute_knn(pdf, 11, 22, k)
    assert np.array_equal(out.nid.to_numpy(), ei)
    assert np.array_equal(out.dist_sq.to_numpy(np.int64), ed)

    # empty home cell: no points in grid cell (0, 0), queries inside it
    cw = Grid(4).cw
    hole = pdf[(pdf.x >= cw) | (pdf.y >= cw)]
    idx2 = SpatialIndex.build(spark, spark.createDataFrame(hole),
                              grid=Grid(4))
    qs = [(0, 5, 5), (1, cw - 1, cw // 2), (2, cw // 3, cw - 1)]
    out = knn_join(idx2, spark.createDataFrame(
        pd.DataFrame(qs, columns=["qid", "x", "y"])), 5).toPandas()
    for qid, qx, qy in qs:
        got = out[out.qid == qid].sort_values("rank")
        ed, ei = _brute_knn(hole, qx, qy, 5)
        assert np.array_equal(got.nid.to_numpy(), ei), qid
        assert np.array_equal(got.dist_sq.to_numpy(np.int64), ed), qid


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


def test_gen_circles_d_shape():
    cs = fixtures.gen_circles_d(6, 5)
    assert all(len(c) == 7 for c in cs)
    sql = fixtures.circles_values_sql_d(cs, 5)
    assert "ctr4" in sql and "circle_id" in sql
    # radii stay on-domain
    assert all(0 < c[-1] <= COORD_LIMIT // 2 for c in cs)


def test_knn_and_range_d9(spark):
    """Mid-range dimension parity (the reference sweeps d in
    {2,3,5,7,9,10,12,16}, tests/test.cpp:569-617): exact kNN + range
    count at d=9 through the dims-keyed grid (3-D cell key)."""
    from kdtree_spark.queries.knn import knn_join
    from kdtree_spark.queries.ranges import range_count
    d = 9
    rng = np.random.default_rng(9)
    n = 3000
    arr = rng.integers(0, COORD_LIMIT, (n, d), dtype=np.int64)
    cols = [f"c{j}" for j in range(d)]
    pdf = pd.DataFrame(arr, columns=cols)
    pdf.insert(0, "pid", np.arange(n, dtype=np.int64))
    df = spark.createDataFrame(pdf)
    idx = SpatialIndex.build(spark, df, grid=Grid(4, dims=3),
                             coord_cols=tuple(cols))
    # kNN k=5 for 12 queries vs brute force
    qarr = rng.integers(0, COORD_LIMIT, (12, d), dtype=np.int64)
    qpdf = pd.DataFrame(qarr, columns=cols)
    qpdf.insert(0, "qid", np.arange(12, dtype=np.int64))
    out = knn_join(idx, spark.createDataFrame(qpdf), 5).toPandas()
    for qi in range(12):
        dist = ((arr - qarr[qi]) ** 2).sum(axis=1)
        order = np.lexsort((pdf.pid.to_numpy(), dist))[:5]
        got = out[out.qid == qi].sort_values("rank")
        assert np.array_equal(got.nid.to_numpy(), order), qi
        assert np.array_equal(got.dist_sq.to_numpy(np.int64), dist[order]), qi
    # range count vs numpy over d-dim boxes
    boxes = fixtures.gen_boxes_d(8, d, seed=19)
    rc = (range_count(idx, boxes).toPandas()
          .set_index("box_id")["cnt"].to_dict())
    for b in boxes:
        bid, lo, hi = b[0], np.array(b[1:1 + d]), np.array(b[1 + d:])
        exp = int(((arr >= lo) & (arr <= hi)).all(axis=1).sum())
        assert rc[bid] == exp, bid


def test_inbalance_ratio_env_override(monkeypatch):
    """Reference parity: INBALANCE_RATIO is env-overridable
    (tree_node.hpp:118-124; the summary suite sweeps inba 3/10/30)."""
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


def test_cogroup_empty_kernel_output_schema(spark):
    """A kernel that returns {} (no rows) through index.cogroup yields
    an empty frame whose columns and types are exactly the declared
    schema: _arrow_fn builds the empty table from that schema, not from
    what the kernel returned."""
    from pyspark.sql.types import _parse_datatype_string

    from kdtree_spark.index import cogroup
    schema = ("qid long, x double, ub double, cell long, fin0 boolean, "
              "probe array<bigint>, blob binary")
    calls = spark.sparkContext.accumulator(0)

    def kernel(key, left, right):
        calls.add(1)
        return {}

    left = spark.createDataFrame([(1, 0, 0)], "cell long, qid long, x long")
    right = spark.createDataFrame([(1, 9), (2, 7)], "cell long, v long")
    out = cogroup(left, right, ["cell"], kernel, schema)
    assert out.collect() == []
    assert calls.value == 2  # the kernel ran, once per cell
    assert out.schema == _parse_datatype_string(schema)
    got = out.toPandas()
    assert got.empty and list(got.columns) == out.columns


def test_knn_config_matrix(spark):
    """Interaction sweep of the fused distributed kNN: d x k x dtype x
    grid-key dims x duplicate floods x salted fan-out crossed in one
    session, each config exact (ids, distances) vs numpy brute force.
    The single-axis variants are covered elsewhere; this catches
    interactions (e.g. duplicate-flood ties at k=17 through the fin0
    bypass, f64 enum rounding, d=7 through a 3-D cell key)."""
    from kdtree_spark import bruteforce as bf
    from kdtree_spark.queries.knn import knn_join
    configs = [
        # (d, k, hi, fmode, grid, cap)   - why
        (2, 17, 40, False, Grid(8), None),      # duplicate flood + ties
        (3, 3, COORD_LIMIT, False, Grid(4, dims=3), None),
        (5, 17, COORD_LIMIT, False, Grid(3, dims=4), None),
        (2, 5, float(COORD_LIMIT), True, Grid(8), None),  # f64 end to end
        (7, 1, COORD_LIMIT, False, Grid(4, dims=3), None),
        # salting crossed with high-d and f64: cap=8 over ~31 pts/cell
        # puts every cell past FANOUT_MIN_BLOBS, so the whole batch
        # takes the (cell, salt) fan-out branch
        (5, 10, COORD_LIMIT, False, Grid(3, dims=4), 8),
        (2, 5, float(COORD_LIMIT), True, Grid(4), 8),
    ]
    n, m = 2500, 40
    for ci, (d, k, hi, fmode, grid, cap) in enumerate(configs):
        rng = np.random.default_rng(100 + ci)
        if fmode:
            arr = rng.uniform(0, hi, size=(n, d))
            q = rng.uniform(0, hi, size=(m, d))
        else:
            arr = rng.integers(0, hi, size=(n, d), dtype=np.int64)
            q = rng.integers(0, hi, size=(m, d), dtype=np.int64)
        q[:8] = arr[:8]                  # on-point queries
        q[8] = 0                         # domain corners / cell borders
        q[9] = hi - (0.5 if fmode else 1)
        cols = [f"c{j}" for j in range(d)]
        pdf = pd.DataFrame(arr, columns=cols)
        ids = (rng.permutation(n).astype(np.int64) * 7 + 1)
        pdf.insert(0, "pid", ids)
        kw = {} if cap is None else {"hot_cell_cap": cap}
        idx = SpatialIndex.build(spark, spark.createDataFrame(pdf),
                                 grid=grid, coord_cols=tuple(cols), **kw)
        if cap is not None:
            from kdtree_spark.queries.skew import FANOUT_MIN_BLOBS
            assert (idx.cell_stats().agg(F.max("maxsalt")).collect()[0][0]
                    + 1 >= FANOUT_MIN_BLOBS), ci
        qpdf = pd.DataFrame(q, columns=cols)
        qpdf.insert(0, "qid", np.arange(m, dtype=np.int64))
        out = (knn_join(idx, spark.createDataFrame(qpdf), k)
               .toPandas().sort_values(["qid", "rank"]))
        assert len(out) == m * k, (ci, len(out))
        gd, gi = bf.knn(arr, ids, q, k)
        np.testing.assert_array_equal(
            out["nid"].to_numpy(np.int64).reshape(m, k), gi,
            err_msg=f"config {ci}")
        if fmode:
            np.testing.assert_allclose(
                out["dist_sq"].to_numpy().reshape(m, k), gd,
                err_msg=f"config {ci}")
        else:
            np.testing.assert_array_equal(
                out["dist_sq"].to_numpy(np.int64).reshape(m, k),
                gd.astype(np.int64), err_msg=f"config {ci}")


def test_range_circle_config_matrix(spark):
    """Range-side interaction sweep: box count + report + circle count
    at (d, dtype, grid dims, duplicate floods, salted fan-out) crossed
    in one session, each exact vs numpy. Complements the kNN matrix."""
    from kdtree_spark.queries.ranges import (circle_count, range_count,
                                             range_report)
    configs = [
        # (d, hi, fmode, grid, cap)
        (2, 40, False, Grid(8), None),           # duplicate flood
        (3, COORD_LIMIT, False, Grid(4, dims=3), None),
        (5, COORD_LIMIT, False, Grid(3, dims=4), None),
        (2, float(COORD_LIMIT), True, Grid(8), None),  # f64 end to end
        # salted fan-out crossed with d=5 (count + report + circle)
        (5, COORD_LIMIT, False, Grid(3, dims=4), 8),
    ]
    n = 2500
    for ci, (d, hi, fmode, grid, cap) in enumerate(configs):
        rng = np.random.default_rng(200 + ci)
        if fmode:
            arr = rng.uniform(0, hi, size=(n, d))
        else:
            arr = rng.integers(0, hi, size=(n, d), dtype=np.int64)
        cols = [f"c{j}" for j in range(d)]
        pdf = pd.DataFrame(arr, columns=cols)
        ids = rng.permutation(n).astype(np.int64) * 3 + 1
        pdf.insert(0, "pid", ids)
        kw = {} if cap is None else {"hot_cell_cap": cap}
        idx = SpatialIndex.build(spark, spark.createDataFrame(pdf),
                                 grid=grid, coord_cols=tuple(cols), **kw)
        if cap is not None:
            from kdtree_spark.queries.skew import FANOUT_MIN_BLOBS
            assert (idx.cell_stats().agg(F.max("maxsalt")).collect()[0][0]
                    + 1 >= FANOUT_MIN_BLOBS), ci
        if hi == 40:  # flood domain: hand-sized boxes over the tiny cube
            boxes = [(i, *([i] * d), *([i + 7] * d)) for i in range(8)]
            circles = [(i, *([i * 4] * d), 9) for i in range(6)]
        else:
            boxes = fixtures.gen_boxes_d(8, d, seed=50 + ci)
            circles = fixtures.gen_circles_d(6, d, seed=60 + ci)
        lo = np.array([b[1:1 + d] for b in boxes], dtype=arr.dtype)
        hb = np.array([b[1 + d:] for b in boxes], dtype=arr.dtype)
        inbox = ((arr[None, :, :] >= lo[:, None, :])
                 & (arr[None, :, :] <= hb[:, None, :])).all(axis=2)
        # count
        rc = (range_count(idx, boxes).toPandas()
              .set_index("box_id")["cnt"].sort_index())
        np.testing.assert_array_equal(rc.to_numpy(), inbox.sum(axis=1),
                                      err_msg=f"config {ci} count")
        # report: multiset of (box_id, pid)
        rep = range_report(idx, boxes).toPandas()
        exp_pairs = sorted((int(b), int(p))
                           for bi, b in enumerate(r[0] for r in boxes)
                           for p in ids[inbox[bi]])
        got_pairs = sorted(zip(rep.box_id.astype(int), rep.pid.astype(int)))
        assert got_pairs == exp_pairs, f"config {ci} report"
        # circle
        ctr = np.array([c[1:1 + d] for c in circles], dtype=np.float64)
        r2 = np.array([c[-1] for c in circles], dtype=np.float64) ** 2
        d2 = ((arr[None, :, :].astype(np.float64)
               - ctr[:, None, :]) ** 2).sum(axis=2)
        cc = (circle_count(idx, circles).toPandas()
              .set_index("circle_id")["cnt"].sort_index())
        np.testing.assert_array_equal(cc.to_numpy(),
                                      (d2 <= r2[:, None]).sum(axis=1),
                                      err_msg=f"config {ci} circle")
