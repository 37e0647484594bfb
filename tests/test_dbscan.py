"""Distributed DBSCAN vs a plain-numpy reimplementation of the same
deterministic semantics (min-label border rule)."""

import numpy as np
import pandas as pd
import pytest

from kdtree_spark.grid import COORD_LIMIT, Grid
from kdtree_spark.queries.dbscan import dbscan


def _brute_dbscan(ids, xy, eps, min_pts):
    n = len(ids)
    d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(axis=2)
    nbr = d2 <= eps * eps                      # includes self
    is_core = nbr.sum(axis=1) >= min_pts
    # union-find over core-core eps edges, min-root merging
    parent = {int(ids[i]): int(ids[i]) for i in range(n) if is_core[i]}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ci = np.flatnonzero(is_core)
    for a in ci:
        for b in ci:
            if a < b and nbr[a, b]:
                ra, rb = find(int(ids[a])), find(int(ids[b]))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    out = {}
    for i in range(n):
        pid = int(ids[i])
        if is_core[i]:
            out[pid] = (find(pid), "core")
        else:
            cnb = [find(int(ids[j])) for j in np.flatnonzero(nbr[i])
                   if is_core[j]]
            out[pid] = (min(cnb), "border") if cnb else (None, "noise")
    return out


def _clustered_points(rng, n_clusters, per_cluster, n_noise):
    pts = []
    for c in range(n_clusters):
        cx, cy = rng.integers(100_000, 900_000, 2)
        pts.append(rng.normal([cx, cy], 8_000, (per_cluster, 2)))
    pts.append(rng.uniform(0, 1_000_000, (n_noise, 2)))
    xy = np.clip(np.concatenate(pts), 0, 999_999).astype(np.int64)
    return np.arange(len(xy)), xy


@pytest.mark.parametrize("eps,min_pts", [(20_000, 5), (40_000, 10)])
def test_dbscan_clusters(spark, eps, min_pts):
    rng = np.random.default_rng(53)
    ids, xy = _clustered_points(rng, 4, 60, 80)
    df = spark.createDataFrame(pd.DataFrame(
        {"pid": ids, "x": xy[:, 0], "y": xy[:, 1]}))
    got = {r["pid"]: (r["cluster"], r["kind"])
           for r in dbscan(df, eps, min_pts, grid=Grid(32)).collect()}
    exp = _brute_dbscan(ids, xy, eps, min_pts)
    assert got == exp
    kinds = {k for _, k in got.values()}
    assert kinds == {"core", "border", "noise"}


def test_dbscan_all_noise_and_single_cluster(spark):
    rng = np.random.default_rng(59)
    # sparse points far apart -> all noise
    ids = np.arange(20)
    xy = (np.stack([np.arange(20) * 50_000,
                    np.arange(20) * 50_000], axis=1) % 1_000_000)
    df = spark.createDataFrame(pd.DataFrame(
        {"pid": ids, "x": xy[:, 0], "y": xy[:, 1]}))
    got = {r["pid"]: r["kind"] for r in dbscan(df, 100, 3).collect()}
    assert all(k == "noise" for k in got.values())
    # one dense blob -> one cluster labeled by its min pid
    xy2 = rng.integers(500_000, 501_000, (30, 2))
    df2 = spark.createDataFrame(pd.DataFrame(
        {"pid": np.arange(100, 130), "x": xy2[:, 0], "y": xy2[:, 1]}))
    rows = dbscan(df2, 5_000, 3).collect()
    assert {r["cluster"] for r in rows} == {100}
    assert all(r["kind"] == "core" for r in rows)


@pytest.mark.parametrize("g", [8, 200])
def test_dbscan_off_grid(spark, g):
    """Clusters across the domain's edges: negative coordinates and
    coordinates at or above COORD_LIMIT fold onto the boundary cells of
    the join grid and of its coarse locality grid. eps 20,000 gives a
    default grid of 50 a side; Grid(8) is coarser, Grid(200) finer."""
    rng = np.random.default_rng(61)
    centers = [(-6_000, 500_000), (COORD_LIMIT + 4_000, 30_000),
               (-9_000, -9_000), (COORD_LIMIT, COORD_LIMIT + 2_000),
               (480_000, -3_000), (500_000, 500_000)]
    xy = np.concatenate(
        [rng.normal(c, 9_000, (40, 2)) for c in centers]
        + [rng.uniform(-60_000, COORD_LIMIT + 60_000, (60, 2))]
    ).astype(np.int64)
    xy[0] = (COORD_LIMIT, 500_000)  # exactly at the limit
    ids = rng.permutation(len(xy))
    df = spark.createDataFrame(pd.DataFrame(
        {"pid": ids, "x": xy[:, 0], "y": xy[:, 1]}))
    got = {r["pid"]: (r["cluster"], r["kind"])
           for r in dbscan(df, 20_000, 4, grid=Grid(g)).collect()}
    assert got == _brute_dbscan(ids, xy, 20_000, 4)
    assert (xy < 0).any() and (xy >= COORD_LIMIT).any()


def test_dbscan_chain_across_coarse_cells(spark):
    """One cluster that is a chain along the domain's diagonal: it
    crosses every coarse locality cell boundary (at any parallelism,
    each coarse cell is a fraction of the domain a side), so its cores
    are labelled in several cells and only the union-find over the
    nodes those cells share makes it one cluster. Noise points around
    it are checked too."""
    rng = np.random.default_rng(67)
    eps = 20_000
    t = np.arange(40_000, 960_000, 9_000)
    chain = np.stack([t, t], axis=1) + rng.integers(-1_500, 1_500,
                                                    (len(t), 2))
    noise = rng.uniform(0, COORD_LIMIT, (60, 2))
    xy = np.concatenate([chain, noise]).astype(np.int64)
    ids = rng.permutation(len(xy))
    df = spark.createDataFrame(pd.DataFrame(
        {"pid": ids, "x": xy[:, 0], "y": xy[:, 1]}))
    got = {r["pid"]: (r["cluster"], r["kind"])
           for r in dbscan(df, eps, 3).collect()}
    exp = _brute_dbscan(ids, xy, eps, 3)
    assert got == exp
    assert len({exp[int(i)][0] for i in ids[:len(t)]}) == 1
