"""Sandbox replica of the reference's correctness sweep configuration
(`script/checkCorrect.sh`): dim=5, K=100, tag=2 (build + batch insert
+ batch delete), query types 0/1/2 (kNN, range count, range report),
run over BOTH distributions — uniform_bigint and ss_varden. The uniform
side is covered by the config matrices in test_spark_index; this file adds
the ss_varden side: clustered points with per-cluster spreads spanning
three orders of magnitude (`script/gen_ss_varden.sh` shape), which at
d=5 stresses the dims-keyed grid + salted hot cells + the update
machinery together. Every answer is checked exactly against the numpy
brute-force oracle over the post-update live set."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from kdtree_spark import bruteforce as bf
from kdtree_spark.grid import Grid
from kdtree_spark.index import SpatialIndex
from kdtree_spark.queries.knn import knn_join
from kdtree_spark.queries.ranges import range_count, range_report

D = 5
K = 100
HI = 1_000_000


def _varden(rng: np.random.Generator, n: int) -> np.ndarray:
    """ss_varden analogue in d=5: cluster centers with sigma in
    {1e2, 1e4, 2e5} (three orders of magnitude), clipped to the
    domain — same shape as points.VARDEN_*_SQL, freely seeded."""
    ncl = 12
    centers = rng.integers(0, HI, size=(ncl, D))
    sig = np.array([100, 10_000, 200_000])[np.arange(ncl) % 3]
    cl = rng.integers(0, ncl, size=n)
    pts = centers[cl] + rng.integers(-sig[cl, None], sig[cl, None] + 1,
                                     size=(n, D))
    return np.clip(pts, 0, HI - 1).astype(np.int64)


@pytest.fixture(scope="module")
def tag2_env(spark):
    """Build -> batchInsert -> batchDelete over d=5 varden, plus the
    brute-force live set after both updates."""
    rng = np.random.default_rng(41)
    n = 4000
    arr = _varden(rng, n)
    ids = rng.permutation(n).astype(np.int64) * 11 + 3
    cols = [f"c{j}" for j in range(D)]
    pdf = pd.DataFrame(arr, columns=cols)
    pdf.insert(0, "pid", ids)
    idx = SpatialIndex.build(spark, spark.createDataFrame(pdf),
                             grid=Grid(3, dims=4), coord_cols=tuple(cols))

    # tag=2: insert a 15% varden batch (fresh ids), then delete 12% of
    # the ORIGINAL points (exercises PartialCover routing on cells that
    # just went log-structured)
    ins_arr = _varden(rng, 600)
    ins_ids = np.arange(600, dtype=np.int64) + 10**15
    ipdf = pd.DataFrame(ins_arr, columns=cols)
    ipdf.insert(0, "pid", ins_ids)
    idx = idx.update(inserts=spark.createDataFrame(ipdf))

    del_sel = rng.permutation(n)[:480]
    dpdf = pd.DataFrame(arr[del_sel], columns=cols)
    dpdf.insert(0, "pid", ids[del_sel])
    idx = idx.update(deletes=spark.createDataFrame(dpdf))

    keep = np.ones(n, bool)
    keep[del_sel] = False
    live = np.concatenate([arr[keep], ins_arr])
    live_ids = np.concatenate([ids[keep], ins_ids])
    assert idx.validate()["total"] == len(live)
    return spark, idx, cols, live, live_ids, rng


def test_tag2_knn_k100(tag2_env):
    spark, idx, cols, live, live_ids, rng = tag2_env
    m = 24
    # queries drawn from the data itself (reference convention) plus a
    # few uniform OOD probes
    q = np.concatenate([live[:: len(live) // 16][:16],
                        rng.integers(0, HI, size=(8, D))])[:m]
    qpdf = pd.DataFrame(q, columns=cols)
    qpdf.insert(0, "qid", np.arange(m, dtype=np.int64))
    out = (knn_join(idx, spark.createDataFrame(qpdf), K)
           .toPandas().sort_values(["qid", "rank"]))
    assert len(out) == m * K
    gd, gi = bf.knn(live, live_ids, q, K)
    np.testing.assert_array_equal(
        out["nid"].to_numpy(np.int64).reshape(m, K), gi)
    np.testing.assert_array_equal(
        out["dist_sq"].to_numpy(np.int64).reshape(m, K),
        gd.astype(np.int64))


def test_tag2_range_count_and_report(tag2_env):
    spark, idx, cols, live, live_ids, rng = tag2_env
    # boxes centered on cluster points (non-trivial counts under skew)
    # plus a full-domain box and an empty sliver
    ctr = live[rng.permutation(len(live))[:6]]
    half = np.array([500, 5_000, 50_000, 200_000, 1_500, 25_000])
    boxes = [(i, *np.clip(ctr[i] - half[i], 0, HI - 1).tolist(),
              *np.clip(ctr[i] + half[i], 0, HI - 1).tolist())
             for i in range(6)]
    boxes.append((6, *([0] * D), *([HI - 1] * D)))
    boxes.append((7, *([HI - 2] * D), *([HI - 1] * D)))
    lo = np.array([b[1:1 + D] for b in boxes])
    hb = np.array([b[1 + D:] for b in boxes])
    inbox = ((live[None, :, :] >= lo[:, None, :])
             & (live[None, :, :] <= hb[:, None, :])).all(axis=2)

    rc = (range_count(idx, boxes).toPandas()
          .set_index("box_id")["cnt"].sort_index())
    np.testing.assert_array_equal(rc.to_numpy(), inbox.sum(axis=1))
    assert rc.loc[6] == len(live)  # full-domain box sees every live pt

    rep = range_report(idx, boxes).toPandas()
    exp = sorted((b, int(p)) for b in range(len(boxes))
                 for p in live_ids[inbox[b]])
    got = sorted(zip(rep.box_id.astype(int), rep.pid.astype(int)))
    assert got == exp
