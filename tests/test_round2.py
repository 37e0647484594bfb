"""Round-2 additions: Spark-side pruning stats, multi-index Hamming
joins, the jaccard df cap, and local tombstone idempotence."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kdtree_spark import bruteforce as bf
from kdtree_spark import points
from kdtree_spark.grid import Grid
from kdtree_spark.index import SpatialIndex
from kdtree_spark.localtree import LocalKDTree
from kdtree_spark.queries.knn import knn_candidates, knn_join


def test_local_tombstone_idempotent():
    pts = np.arange(20, dtype=np.int64).reshape(10, 2) * 7
    ids = np.arange(10, dtype=np.int64)
    t = LocalKDTree.build(pts, ids)
    t2 = t.with_updates(del_pts=pts[:3], del_ids=ids[:3])
    t3 = t2.with_updates(del_pts=pts[:3], del_ids=ids[:3])
    assert t2.n_live == 7
    assert t3.n_live == 7


def test_knn_candidates_metric(spark, sf_dir):
    """Phase-2 candidates: every query yields >= 1 candidate cell, and
    the audited count is small for d=2 uniform data."""
    pts = points.load_points(spark, sf_dir, "uniform").select("pid", "x", "y")
    idx = SpatialIndex.build(spark, pts, grid=Grid(4))
    q = points.load_query_points(spark, sf_dir, "uniform")
    nq = q.count()
    cand = knn_candidates(idx, q, 10)
    per_q = (cand.groupBy("qid").count().agg(
        F.min("count"), F.max("count")).collect()[0])
    assert per_q[0] >= 1
    assert cand.count() / nq < 8  # uniform d=2: pruning keeps it tight


def test_hamming_pairs_lossless(spark):
    """Multi-index join finds EXACTLY the brute-force Hamming<=7 pairs."""
    from kdtree_spark.pipeline.dedup import hamming_pairs
    rng = np.random.default_rng(11)
    base = rng.integers(0, 1 << 56, size=40, dtype=np.int64)
    # planted near pairs: flip 0..7 random bits of some fingerprints
    fps = list(base)
    for j in range(12):
        v = int(base[j])
        for b in rng.choice(56, size=int(rng.integers(0, 8)), replace=False):
            v ^= 1 << int(b)
        fps.append(v)
    df = spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(fps)], "doc_id long, fp long")
    got = (hamming_pairs(df, "doc_id", "fp", 56, 7, "da", "db")
           .toPandas().sort_values(["da", "db"]).reset_index(drop=True))
    arr = np.array(fps, dtype=np.int64)
    x = arr[:, None] ^ arr[None, :]
    ham = np.array([[bin(int(v)).count("1") for v in row] for row in x])
    ii, jj = np.nonzero((ham <= 7) & (np.arange(len(arr))[:, None]
                                      < np.arange(len(arr))[None, :]))
    exp = sorted(zip(ii.tolist(), jj.tolist()))
    assert list(zip(got["da"], got["db"])) == exp
    assert got["hamming"].tolist() == [int(ham[a, b]) for a, b in exp]


def test_jaccard_df_cap(spark):
    """df-capped join drops pairs that only share ultra-common shingles."""
    from kdtree_spark.pipeline.dedup import jaccard_pairs
    common = "the quick brown fox jumps over the lazy dog again"
    docs = [(i, common) for i in range(20)]          # df of every shingle = 20
    docs += [(100, "alpha beta gamma delta epsilon"),
             (101, "alpha beta gamma delta zeta")]    # rare near-dup pair
    df = spark.createDataFrame(docs, "doc_id long, text string")
    capped = jaccard_pairs(df, 3, 1, 2, df_cap=12).toPandas()
    # the 20 identical docs' shingles are over the cap -> no pairs from them
    assert set(zip(capped["da"], capped["db"])) == {(100, 101)}
    uncapped = jaccard_pairs(df, 3, 1, 2).toPandas()
    assert len(uncapped) > 1


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


def test_knn_hot_cell_salted_exact(spark, tmp_path):
    """A salted (hot) cell's kNN fans out per blob (cogroup on
    (cell, salt)) — results must equal brute force, including queries
    inside the cluster, in the sparse background, and in empty corners
    that force the phase-2 fallback."""
    import pandas as pd
    rng = np.random.default_rng(7)
    n = 8000
    pts = np.concatenate([
        rng.integers(0, 1000, size=(n - 1000, 2)),    # one-cell cluster
        rng.integers(0, 1_000_000, size=(1000, 2)),   # sparse background
    ]).astype(np.int64)
    ids = np.arange(n, dtype=np.int64)
    df = spark.createDataFrame(pd.DataFrame(
        {"pid": ids, "x": pts[:, 0], "y": pts[:, 1]}))
    idx = SpatialIndex.build(spark, df, grid=Grid(16), n_hint=n,
                             hot_cell_cap=1024)
    # the cluster cell must actually be salted for this test to bite
    assert idx.df.groupBy("cell").count().filter("count > 1").count() >= 1
    # the hot-cell set is collected at build time and is exactly the
    # cells with >= FANOUT_MIN_BLOBS non-empty blobs
    from kdtree_spark.index import FANOUT_MIN_BLOBS
    hot = sorted(r["cell"] for r in idx.cell_stats()
                 .filter(F.col("maxsalt") + 1 >= FANOUT_MIN_BLOBS)
                 .collect())
    assert hot and idx.hot_cells() == hot
    q = np.concatenate([
        rng.integers(0, 1000, size=(20, 2)),
        rng.integers(0, 1_000_000, size=(20, 2)),
        np.array([[999_999, 999_999], [500_000, 1]], dtype=np.int64),
    ]).astype(np.int64)
    qdf = spark.createDataFrame(pd.DataFrame(
        {"qid": np.arange(len(q)), "x": q[:, 0], "y": q[:, 1]}))
    for k in (1, 10):
        got = (knn_join(idx, qdf, k).toPandas()
               .sort_values(["qid", "rank"]))
        exp_d, exp_i = bf.knn(pts, ids, q, k)
        assert np.array_equal(
            got["nid"].to_numpy(np.int64).reshape(len(q), k), exp_i)
        assert np.array_equal(
            got["dist_sq"].to_numpy(np.int64).reshape(len(q), k),
            exp_d.astype(np.int64))
    # update() never adds salts, so the set carries over unchanged,
    # and save/load keeps it in the manifest
    up = idx.update(inserts=spark.createDataFrame(pd.DataFrame(
        {"pid": [n], "x": [5], "y": [5]})))
    assert up.manifest["hot_cells"] == hot
    path = str(tmp_path / "hot")
    back = SpatialIndex.load(spark, up.save(path))
    assert back.manifest["hot_cells"] == hot
    got = knn_join(back, qdf, 10).toPandas().sort_values(["qid", "rank"])
    pts2 = np.concatenate([pts, [[5, 5]]])
    ids2 = np.append(ids, n)
    exp_d, exp_i = bf.knn(pts2, ids2, q, 10)
    assert np.array_equal(
        got["nid"].to_numpy(np.int64).reshape(len(q), 10), exp_i)


def test_knn_fallback_window_bound(spark):
    """Queries whose home probe finds < k points get a FINITE bound from
    the stats prefix-sum window: exact results, and the candidate set
    stays far below the nonempty-cell count (no full-index scan)."""
    import pandas as pd
    rng = np.random.default_rng(13)
    n = 4000
    pts = rng.integers(0, 1_000_000, size=(n, 2)).astype(np.int64)
    ids = np.arange(n, dtype=np.int64)
    df = spark.createDataFrame(pd.DataFrame(
        {"pid": ids, "x": pts[:, 0], "y": pts[:, 1]}))
    idx = SpatialIndex.build(spark, df, grid=Grid(32), n_hint=n)
    nonempty = idx.cell_stats().count()
    # k far above any single cell's count (4000 pts / 1024 cells)
    k = 64
    q = rng.integers(0, 1_000_000, size=(25, 2)).astype(np.int64)
    qdf = spark.createDataFrame(pd.DataFrame(
        {"qid": np.arange(len(q)), "x": q[:, 0], "y": q[:, 1]}))
    got = knn_join(idx, qdf, k).toPandas().sort_values(["qid", "rank"])
    exp_d, exp_i = bf.knn(pts, ids, q, k)
    assert np.array_equal(
        got["nid"].to_numpy(np.int64).reshape(len(q), k), exp_i)
    cand = knn_candidates(idx, qdf, k)
    per_q = cand.groupBy("qid").count().agg(F.max("count")).collect()[0][0]
    assert per_q < nonempty / 2, (per_q, nonempty)


def test_range_hot_cell_salted_exact(spark):
    """Range count/report/circle over an index with a salted hot cell:
    boundary scans fan out per (cell, salt); results equal brute force,
    and contained cells aggregate metadata-only."""
    import pandas as pd
    from kdtree_spark.queries.ranges import (range_count, range_report,
                                             circle_count)
    rng = np.random.default_rng(23)
    n = 8000
    pts = np.concatenate([
        rng.integers(0, 1000, size=(n - 1000, 2)),
        rng.integers(0, 1_000_000, size=(1000, 2)),
    ]).astype(np.int64)
    ids = np.arange(n, dtype=np.int64)
    df = spark.createDataFrame(pd.DataFrame(
        {"pid": ids, "x": pts[:, 0], "y": pts[:, 1]}))
    idx = SpatialIndex.build(spark, df, grid=Grid(16), n_hint=n,
                             hot_cell_cap=1024)
    assert idx.df.groupBy("cell").count().filter("count > 1").count() >= 1
    boxes = [
        (0, 0, 0, 500, 500),                # cuts through the hot cell
        (1, 0, 0, 2000, 2000),              # contains the hot cell's bbox
        (2, 100_000, 100_000, 900_000, 900_000),  # background, many cells
        (3, 999_000, 999_000, 999_999, 999_999),  # likely empty
    ]
    got = (range_count(idx, boxes).toPandas()
           .sort_values("box_id")["cnt"].to_numpy())
    exp = bf.range_count(pts, np.asarray(
        [(b[1], b[2], b[3], b[4]) for b in boxes], dtype=np.int64))
    assert np.array_equal(got, exp), (got, exp)

    rep = range_report(idx, boxes[:1]).toPandas()
    in0 = ((pts[:, 0] <= 500) & (pts[:, 1] <= 500))
    assert sorted(rep["pid"]) == sorted(ids[in0])

    circles = [(0, 500, 500, 600), (1, 500_000, 500_000, 200_000)]
    gotc = (circle_count(idx, circles).toPandas()
            .sort_values("circle_id")["cnt"].to_numpy())
    for cid, cx, cy, r in circles:
        d2 = ((pts[:, 0] - cx) ** 2 + (pts[:, 1] - cy) ** 2)
        assert gotc[cid] == int((d2 <= r * r).sum())
