"""End-to-end tests of the distributed index: build -> query, verified
against the brute-force numpy oracle and DuckDB SQL (the same checks the
driver's correctness gate performs)."""

import json
import os

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kdtree_spark import bruteforce as bf
from kdtree_spark import fixtures, points
from kdtree_spark import index as index_mod
from kdtree_spark.catalog import SnapshotStore
from kdtree_spark.grid import COORD_LIMIT, MAX_CELLS, Grid
from kdtree_spark.index import SpatialIndex
from kdtree_spark.queries.knn import knn_candidates, knn_join
from kdtree_spark.queries.ranges import circle_count, range_count, range_report
from tests.test_job_budget import _read


@pytest.fixture(scope="module", params=["uniform", "varden"])
def built(request, spark, sf_dir):
    dist = request.param
    pts_df = points.load_points(spark, sf_dir, dist).select("pid", "x", "y")
    idx = SpatialIndex.build(spark, pts_df, grid=Grid(4))
    pts_pd = pts_df.toPandas()
    return dist, idx, pts_pd


def duck(sf_dir, sql):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM "
            f"'{sf_dir}/lineitem.parquet'")
    return con.sql(sql).df()


def test_build_invariants(built, sf_dir):
    dist, idx, pts_pd = built
    info = idx.validate(expected_n=len(pts_pd))
    assert info["cells"] >= 1
    # per-cell counts match a plain group-by oracle
    g = idx.grid
    oracle = duck(sf_dir, f"""
        SELECT {g.duckdb_cell_sql()} AS cell, count(*) AS cnt
        FROM (SELECT {points.points_select_sql('{0}'.format(dist))} FROM lineitem)
        GROUP BY 1 ORDER BY 1""")
    got = (idx.df.groupBy("cell").sum("cnt").toPandas()
           .sort_values("cell").reset_index(drop=True))
    assert got["cell"].tolist() == oracle["cell"].tolist()
    assert got["sum(cnt)"].tolist() == oracle["cnt"].tolist()


def test_range_count_vs_oracle(built):
    dist, idx, pts_pd = built
    boxes = fixtures.gen_boxes(30)
    got = (range_count(idx, boxes).toPandas()
           .sort_values("box_id").reset_index(drop=True))
    P = pts_pd[["x", "y"]].to_numpy(np.int64)
    exp = bf.range_count(P, np.array([b[1:] for b in boxes], np.int64))
    assert got["cnt"].to_numpy().tolist() == exp.tolist()


def test_range_report_vs_oracle(built):
    dist, idx, pts_pd = built
    boxes = fixtures.gen_boxes(12)
    got = range_report(idx, boxes).toPandas()
    got_set = sorted(zip(got["box_id"], got["pid"], got["x"], got["y"]))
    P = pts_pd[["x", "y"]].to_numpy(np.int64)
    ids = pts_pd["pid"].to_numpy(np.int64)
    exp = bf.range_report(P, ids, np.array([b[1:] for b in boxes], np.int64))
    exp_set = sorted((b, i, p[0], p[1]) for b, p, i in exp)
    assert got_set == exp_set


def test_circle_count_vs_oracle(built):
    dist, idx, pts_pd = built
    circles = fixtures.gen_circles(15)
    got = (circle_count(idx, circles).toPandas()
           .sort_values("circle_id").reset_index(drop=True))
    P = pts_pd[["x", "y"]].to_numpy(np.int64)
    centers = np.array([(c[1], c[2]) for c in circles], np.int64)
    radii = np.array([c[3] for c in circles], np.float64)
    exp = bf.circle_count(P, centers, radii)
    assert got["cnt"].to_numpy().tolist() == exp.tolist()


@pytest.mark.parametrize("k", [1, 10, 100])
def test_knn_vs_oracle(built, spark, sf_dir, k):
    dist, idx, pts_pd = built
    qdf = points.load_query_points(spark, sf_dir, dist)
    qpd = qdf.toPandas().sort_values("qid").reset_index(drop=True)
    got = (knn_join(idx, qdf, k).toPandas()
           .sort_values(["qid", "rank"]).reset_index(drop=True))
    P = pts_pd[["x", "y"]].to_numpy(np.int64)
    ids = pts_pd["pid"].to_numpy(np.int64)
    Q = qpd[["x", "y"]].to_numpy(np.int64)
    gd, gi = bf.knn(P, ids, Q, k)
    rows = []
    for qi, qid in enumerate(qpd["qid"]):
        for r in range(k):
            if np.isfinite(gd[qi, r]):
                rows.append((qid, r + 1, gi[qi, r], int(gd[qi, r])))
    exp = sorted(rows)
    gotrows = sorted(zip(got["qid"], got["rank"], got["nid"], got["dist_sq"]))
    assert gotrows == exp


def test_knn_ood(built, spark, sf_dir):
    """Build on one distribution, query with the other (H11)."""
    dist, idx, pts_pd = built
    other = "varden" if dist == "uniform" else "uniform"
    qdf = points.load_query_points(spark, sf_dir, dist, qdist=other).limit(200)
    qpd = qdf.toPandas()
    got = knn_join(idx, qdf, 10).toPandas()
    P = pts_pd[["x", "y"]].to_numpy(np.int64)
    ids = pts_pd["pid"].to_numpy(np.int64)
    gd, gi = bf.knn(P, ids, qpd[["x", "y"]].to_numpy(np.int64), 10)
    exp = []
    for qi, qid in enumerate(qpd["qid"]):
        for r in range(10):
            if np.isfinite(gd[qi, r]):
                exp.append((qid, r + 1, gi[qi, r], int(gd[qi, r])))
    assert sorted(zip(got["qid"], got["rank"], got["nid"], got["dist_sq"])) \
        == sorted(exp)


def test_update_then_query(built, spark, sf_dir):
    dist, idx, pts_pd = built
    ins = spark.sql(points.insert_batch_sql("_pts_lineitem"))
    dele = spark.sql(points.delete_batch_sql("_pts_lineitem", dist))
    idx2 = idx.update(inserts=ins, deletes=dele)

    ins_pd = ins.toPandas()
    del_pd = dele.toPandas()
    live = pts_pd[~pts_pd["pid"].isin(set(del_pd["pid"]))]
    P = np.concatenate([live[["x", "y"]].to_numpy(np.int64),
                        ins_pd[["x", "y"]].to_numpy(np.int64)])
    ids = np.concatenate([live["pid"].to_numpy(np.int64),
                          ins_pd["pid"].to_numpy(np.int64)])
    assert idx2.validate()["total"] == len(ids)

    boxes = fixtures.gen_boxes(15)
    got = (range_count(idx2, boxes).toPandas()
           .sort_values("box_id").reset_index(drop=True))
    exp = bf.range_count(P, np.array([b[1:] for b in boxes], np.int64))
    assert got["cnt"].to_numpy().tolist() == exp.tolist()

    qdf = points.load_query_points(spark, sf_dir, dist).limit(100)
    qpd = qdf.toPandas()
    got_k = knn_join(idx2, qdf, 10).toPandas()
    gd, gi = bf.knn(P, ids, qpd[["x", "y"]].to_numpy(np.int64), 10)
    exp_k = []
    for qi, qid in enumerate(qpd["qid"]):
        for r in range(10):
            if np.isfinite(gd[qi, r]):
                exp_k.append((qid, r + 1, gi[qi, r], int(gd[qi, r])))
    assert sorted(zip(got_k["qid"], got_k["rank"], got_k["nid"],
                      got_k["dist_sq"])) == sorted(exp_k)


def test_save_load_roundtrip(built, spark, tmp_path):
    dist, idx, pts_pd = built
    path = str(tmp_path / f"idx_{dist}")
    idx.save(path)
    idx2 = SpatialIndex.load(spark, path)
    assert idx2.validate()["total"] == len(pts_pd)
    boxes = fixtures.gen_boxes(6)
    a = range_count(idx, boxes).toPandas().sort_values("box_id")
    b = range_count(idx2, boxes).toPandas().sort_values("box_id")
    assert a["cnt"].tolist() == b["cnt"].tolist()


def test_knn_d3_vs_bruteforce(spark, sf_dir):
    """d=3: per-cell trees split on all dims; xy cell pruning stays exact."""
    import numpy as np
    from kdtree_spark import points as P
    from kdtree_spark.grid import Grid
    from kdtree_spark.index import SpatialIndex
    from kdtree_spark.queries.knn import knn_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_t3_li")
    pts3 = spark.sql(f"SELECT {P.dimd_select_sql(3)} FROM _t3_li")
    idx = SpatialIndex.build(spark, pts3, grid=Grid(4),
                             coord_cols=("x", "y", "z"))
    q = spark.sql(
        f"SELECT {P.dimd_select_sql(3, 'qid')} FROM _t3_li "
        f"WHERE {P.QUERY_FILTER_SQL}").limit(20)
    got = (knn_join(idx, q, 5).toPandas()
           .sort_values(["qid", "rank"]).reset_index(drop=True))
    allp = pts3.toPandas()
    m = allp[["x", "y", "z"]].to_numpy(np.int64)
    ids = allp["pid"].to_numpy(np.int64)
    for qid, grp in got.groupby("qid"):
        qrow = allp[allp.pid == qid].iloc[0]
        d2 = ((m - np.array([qrow.x, qrow.y, qrow.z])) ** 2).sum(axis=1)
        order = sorted(range(len(ids)), key=lambda i: (d2[i], ids[i]))[:5]
        assert list(grp.nid) == [ids[i] for i in order], qid
        assert list(grp.dist_sq) == [int(d2[i]) for i in order], qid


def test_knn_d16_vs_bruteforce(spark, sf_dir):
    """d=16 (reference max dim, tests/test.cpp:569-617): grid keys on
    2 dims, trees split all 16; full-d bbox pruning stays exact."""
    import numpy as np
    from kdtree_spark import points as P
    from kdtree_spark.grid import Grid
    from kdtree_spark.index import SpatialIndex
    from kdtree_spark.queries.knn import knn_join

    cols = list(P.dim_cols(16))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_t16_li")
    pts16 = spark.sql(f"SELECT {P.dimd_select_sql(16)} FROM _t16_li")
    idx = SpatialIndex.build(spark, pts16, grid=Grid(4),
                             coord_cols=tuple(cols))
    q = spark.sql(
        f"SELECT {P.dimd_select_sql(16, 'qid')} FROM _t16_li "
        f"WHERE {P.QUERY_FILTER_SQL}").limit(15)
    got = (knn_join(idx, q, 5).toPandas()
           .sort_values(["qid", "rank"]).reset_index(drop=True))
    allp = pts16.toPandas()
    m = allp[cols].to_numpy(np.int64)
    ids = allp["pid"].to_numpy(np.int64)
    qp = q.toPandas()
    for qid, grp in got.groupby("qid"):
        qrow = qp[qp.qid == qid].iloc[0]
        d2 = ((m - qrow[cols].to_numpy(np.int64)) ** 2).sum(axis=1)
        order = sorted(range(len(ids)), key=lambda i: (d2[i], ids[i]))[:5]
        assert list(grp.nid) == [ids[i] for i in order], qid
        assert list(grp.dist_sq) == [int(d2[i]) for i in order], qid


# ------------------------------------------------------------ batch updates

def _frame(spark, pid, p):
    return spark.createDataFrame(pd.DataFrame(
        {"pid": np.asarray(pid, np.int64), "x": p[:, 0], "y": p[:, 1]}))


def test_update_chain_drops_superseded_fragments(spark, monkeypatch):
    """A chain of partial and whole-index updates over a salted hot
    cell: a brand-new cell, a delete-only batch that misses (an empty
    delta), a whole-index batch that supersedes every older fragment, a
    compaction, and a batch that supersedes exactly one delta. Each
    superseded version is unpersisted at once. After every step no
    (cell, salt) key is served twice, the live count validates, and kNN
    and range_count match brute force."""
    monkeypatch.setattr(index_mod, "COMPACT_EVERY", 3)
    g = Grid(8)
    cw = g.cw
    rng = np.random.default_rng(53)

    def at(cx, cy, n):
        """n points inside cell (cx, cy)."""
        return np.column_stack([cx * cw + rng.integers(0, cw, n),
                                cy * cw + rng.integers(0, cw, n)])

    def cells(p):
        return (np.clip(p // cw, 0, g.g - 1) * [g.g, 1]).sum(axis=1)

    # uniform points outside cells (7, 7) and (7, 6), plus a cluster
    # in cell 0 that salting splits into a hot cell
    pts = rng.integers(0, COORD_LIMIT, size=(900, 2))
    pts = pts[~np.isin(cells(pts), [63, 62])]
    pts = np.concatenate([pts, at(0, 0, 300)])
    live = dict(enumerate(map(tuple, pts)))
    idx = SpatialIndex.build(spark, _frame(spark, list(live), pts),
                             grid=g, hot_cell_cap=48)
    assert idx.hot_cells() == [0]
    q = np.concatenate([rng.integers(0, COORD_LIMIT, size=(12, 2)),
                        at(0, 0, 4), at(7, 7, 2)])
    boxes = [(0, 0, 0, COORD_LIMIT - 1, COORD_LIMIT - 1),
             (1, 0, 0, cw - 1, cw - 1), (2, 100_000, 300_000, 600_000,
                                          450_000),
             (3, 7 * cw, 6 * cw, COORD_LIMIT - 1, COORD_LIMIT - 1)]
    centres = np.array([(x, y) for x in range(g.g) for y in range(g.g)]
                       ) * cw + cw // 2
    next_pid = 10**6

    def step(ins=None, dels=(), miss=None):
        """One update: `ins` points, the live pids `dels`, and `miss`
        points of pids the index does not hold."""
        nonlocal idx, next_pid
        ins = np.zeros((0, 2), np.int64) if ins is None else ins
        ipid = np.arange(next_pid, next_pid + len(ins))
        next_pid += len(ins) + 100
        dels = [int(i) for i in dels]
        dp = np.array([live[i] for i in dels], np.int64).reshape(-1, 2)
        if miss is not None:
            dels += list(range(next_pid, next_pid + len(miss)))
            dp = np.concatenate([dp, miss])
        new = idx.update(
            inserts=_frame(spark, ipid, ins) if len(ins) else None,
            deletes=_frame(spark, dels, dp) if dels else None)
        idx.unpersist(successor=new)
        idx = new
        for i in dels:
            live.pop(i, None)
        live.update(zip(ipid.tolist(), map(tuple, ins)))
        dup = (idx.df.groupBy("cell", "salt").count()
               .filter("count > 1").count())
        assert dup == 0, dup
        assert idx.validate(expected_n=len(live))["total"] == len(live)
        _read(spark, idx, live, q, boxes, 5)
        return idx.manifest["frags"], idx.manifest["compacted"]

    def some(n, where):
        ids = np.array([i for i, p in live.items()
                        if where(cells(np.array([p]))[0])])
        return rng.choice(ids, min(n, len(ids)), replace=False)

    _read(spark, idx, live, q, boxes, 5)
    # the hot cell
    assert step(at(0, 0, 40), some(20, lambda c: c == 0)) == (2, False)
    # a brand-new cell
    assert step(at(7, 7, 5)) == (3, False)
    # a delete-only batch that hits no point: its delta is empty
    assert step(miss=at(7, 6, 3)) == (3, False)
    assert idx.touched_cells == [62]
    # every cell: every older fragment is superseded
    assert step(centres, some(30, lambda c: True)) == (1, False)
    # one column at a time: the fourth fragment compacts
    assert step(at(1, 2, 5), some(5, lambda c: c // g.g == 1)) == (2, False)
    assert step(at(2, 2, 5), some(5, lambda c: c // g.g == 2)) == (3, False)
    assert step(at(3, 2, 5), some(5, lambda c: c // g.g == 3)) == (1, True)
    # a batch inside column 4, then one over all of it: the first
    # delta is superseded, the compacted fragment is not
    assert step(at(4, 2, 5), some(5, lambda c: c == 4 * g.g + 2)) == (
        2, False)
    assert step(centres[4 * g.g:5 * g.g]) == (2, False)


@pytest.mark.parametrize("source", ["load", "snapshot", "no_cells"])
def test_update_drops_loaded_fragment(spark, tmp_path, source):
    """A loaded index's one fragment counts the manifest's blob rows
    (`cells`), so a whole-index update drops it; a manifest without
    `cells` keeps it, as a frame of unknown count."""
    g = Grid(8)
    rng = np.random.default_rng(59)
    pts = rng.integers(0, COORD_LIMIT, size=(1500, 2))
    live = dict(enumerate(map(tuple, pts)))
    built = SpatialIndex.build(spark, _frame(spark, list(live), pts),
                               grid=g)
    path = str(tmp_path / "idx")
    if source == "snapshot":
        store = SnapshotStore(path)
        store.commit(built)
        idx = store.load(spark).cache()
    else:
        built.save(path)
        if source == "no_cells":
            man = os.path.join(path, "manifest.json")
            with open(man) as f:
                m = json.load(f)
            del m["cells"]
            with open(man, "w") as f:
                json.dump(m, f)
        idx = SpatialIndex.load(spark, path).cache()
    built.unpersist()
    centres = np.array([(x, y) for x in range(g.g) for y in range(g.g)]
                       ) * g.cw + g.cw // 2
    dels = rng.choice(len(pts), 40, replace=False)
    ipid = np.arange(10**6, 10**6 + len(centres))
    new = idx.update(inserts=_frame(spark, ipid, centres),
                     deletes=_frame(spark, dels, pts[dels]))
    idx.unpersist(successor=new)
    assert new.manifest["frags"] == (2 if source == "no_cells" else 1)
    for i in dels:
        del live[int(i)]
    live.update(zip(ipid.tolist(), map(tuple, centres)))
    q = rng.integers(0, COORD_LIMIT, size=(12, 2))
    boxes = [(0, 0, 0, COORD_LIMIT - 1, COORD_LIMIT - 1),
             (1, 200_000, 100_000, 700_000, 400_000)]
    _read(spark, new, live, q, boxes, 5)


def _d3_points(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_t2_li")
    return spark.sql(f"SELECT {points.dimd_select_sql(3)} FROM _t2_li")


def test_update_d3_vs_bruteforce(spark, sf_dir):
    """Insert + delete on a 3-D index, then kNN — vs numpy brute force."""
    pts = _d3_points(spark, sf_dir)
    idx = SpatialIndex.build(spark, pts, grid=Grid(4),
                             coord_cols=("x", "y", "z"))
    ins = spark.sql(points.insert_batch_sql("_t2_li", d=3))
    dele = spark.sql(points.delete_batch_sql("_t2_li", d=3))
    idx2 = idx.update(inserts=ins, deletes=dele)

    pd_all = pts.toPandas()
    pd_ins = ins.toPandas()
    pd_del = dele.toPandas()
    live = pd_all[~pd_all["pid"].isin(set(pd_del["pid"]))]
    import pandas as pd
    live = pd.concat([live, pd_ins], ignore_index=True)
    P = live[["x", "y", "z"]].to_numpy(np.int64)
    ids = live["pid"].to_numpy(np.int64)

    q = pts.filter("pid % 101 = 7").selectExpr("pid AS qid", "x", "y", "z")
    got = (knn_join(idx2, q, 5).toPandas()
           .sort_values(["qid", "rank"]).reset_index(drop=True))
    qpd = q.toPandas().sort_values("qid")
    Q = qpd[["x", "y", "z"]].to_numpy(np.int64)
    exp_d, exp_i = bf.knn(P, ids, Q, 5)
    got_i = got["nid"].to_numpy(np.int64).reshape(len(qpd), 5)
    got_d = got["dist_sq"].to_numpy(np.int64).reshape(len(qpd), 5)
    assert (got_i == exp_i).all()
    assert (got_d == exp_d.astype(np.int64)).all()


def test_update_counts_after_overlapping_deletes(spark, sf_dir):
    """Deleting an already-deleted id must not double-subtract."""
    pts = points.load_points(spark, sf_dir, "uniform").select("pid", "x", "y")
    idx = SpatialIndex.build(spark, pts, grid=Grid(4))
    n = pts.count()
    batch = pts.filter("pid % 10 = 1")
    nb = batch.count()
    idx2 = idx.update(deletes=batch)
    idx3 = idx2.update(deletes=batch)  # fully overlapping second delete
    assert idx2.validate()["total"] == n - nb
    assert idx3.validate()["total"] == n - nb


def test_point_insert_delete_batch_of_one(spark, sf_dir):
    """I2/D3: pointInsert/pointDelete = batch of exactly one row (and
    an empty batch)."""
    pts = points.load_points(spark, sf_dir, "uniform").select("pid", "x", "y")
    idx = SpatialIndex.build(spark, pts, grid=Grid(4))
    n = pts.count()
    one_new = spark.createDataFrame([(999_000_000_001, 123, 456)],
                                    "pid long, x long, y long")
    idx2 = idx.update(inserts=one_new)
    assert idx2.validate()["total"] == n + 1
    got = knn_join(idx2, spark.createDataFrame(
        [(1, 123, 456)], "qid long, x long, y long"), 1).collect()
    assert got[0]["nid"] == 999_000_000_001 and got[0]["dist_sq"] == 0
    idx3 = idx2.update(deletes=one_new)
    assert idx3.validate()["total"] == n
    # and a batch of none: a new version with the same live points
    idx4 = idx3.update(inserts=one_new.limit(0))
    assert idx4.validate()["total"] == n
    assert idx4.touched_cells == []


def test_delta_update_materializes_only_touched(spark):
    """Delta-versioning contract: an update's checkpointed delta holds
    ONLY the touched cells' blobs (O(batch), not O(index)); fragment
    count grows by one per generation and resets at compaction; chained
    results stay exact."""
    import pandas as pd
    from kdtree_spark.index import COMPACT_EVERY

    rng = np.random.default_rng(31)
    n = 30000
    pts = pd.DataFrame({
        "pid": np.arange(n, dtype=np.int64),
        "x": rng.integers(0, 1_000_000, n).astype(np.int64),
        "y": rng.integers(0, 1_000_000, n).astype(np.int64)})
    idx = SpatialIndex.build(spark, spark.createDataFrame(pts),
                             grid=Grid(16), n_hint=n)
    ncells_total = idx.df.count()
    # tiny batch confined to one corner -> few touched cells
    ins = pd.DataFrame({
        "pid": np.arange(10**7, 10**7 + 64, dtype=np.int64),
        "x": rng.integers(0, 50_000, 64).astype(np.int64),
        "y": rng.integers(0, 50_000, 64).astype(np.int64)})
    up = idx.update(inserts=spark.createDataFrame(ins))
    assert up.manifest["frags"] == 2 and not up.manifest["compacted"]
    # the delta fragment (last frag) holds only the touched cells
    delta_cells = up._frags[-1].frame.count()
    touched = len(up.touched_cells)
    assert delta_cells <= touched + 1 < ncells_total / 4
    # untouched fragment + delta reconstruct the full index exactly
    assert up.df.count() == ncells_total  # same cells (no new cells here
    # beyond touched ones that already existed)
    total = up.df.agg(F.sum("cnt")).collect()[0][0]
    assert total == n + 64
    # drive past compaction
    cur = up
    compactions = 0
    for g in range(COMPACT_EVERY + 1):
        b = pd.DataFrame({
            "pid": np.arange(2 * 10**7 + g * 100,
                             2 * 10**7 + g * 100 + 50, dtype=np.int64),
            "x": rng.integers(0, 1_000_000, 50).astype(np.int64),
            "y": rng.integers(0, 1_000_000, 50).astype(np.int64)})
        cur = cur.update(inserts=spark.createDataFrame(b))
        compactions += int(cur.manifest["compacted"])
    assert compactions >= 1
    assert cur.manifest["frags"] <= COMPACT_EVERY
    total = cur.df.agg(F.sum("cnt")).collect()[0][0]
    assert total == n + 64 + 50 * (COMPACT_EVERY + 1)


def test_update_salted_hot_cell_exact(spark):
    """Batch insert into and delete from a SALTED hot cell (the one
    index shape no update test covered): inserts land in some blob of
    the cell, deletes are membership-routed across all its blobs, and
    kNN + range count after the update must equal brute force over the
    live set — inside the cluster and in the sparse background."""
    from kdtree_spark import bruteforce as bf
    from kdtree_spark.queries.knn import knn_join
    from kdtree_spark.queries.ranges import range_count
    rng = np.random.default_rng(17)
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
    assert idx.df.groupBy("cell").count().filter("count > 1").count() >= 1
    # inserts: 300 new points INTO the hot cluster + 50 background
    ins_p = np.concatenate([
        rng.integers(0, 1000, size=(300, 2)),
        rng.integers(0, 1_000_000, size=(50, 2))]).astype(np.int64)
    ins_i = np.arange(n, n + 350, dtype=np.int64)
    # deletes: 400 cluster points + 100 background points
    kill = np.concatenate([rng.permutation(n - 1000)[:400],
                           n - 1000 + rng.permutation(1000)[:100]])
    ins_df = spark.createDataFrame(pd.DataFrame(
        {"pid": ins_i, "x": ins_p[:, 0], "y": ins_p[:, 1]}))
    del_df = spark.createDataFrame(pd.DataFrame(
        {"pid": ids[kill], "x": pts[kill, 0], "y": pts[kill, 1]}))
    idx2 = idx.update(inserts=ins_df, deletes=del_df)
    keep = np.setdiff1d(np.arange(n), kill)
    live_p = np.concatenate([pts[keep], ins_p])
    live_i = np.concatenate([ids[keep], ins_i])
    assert idx2.validate()["total"] == len(live_i)
    q = np.concatenate([
        rng.integers(0, 1000, size=(15, 2)),
        rng.integers(0, 1_000_000, size=(15, 2))]).astype(np.int64)
    qdf = spark.createDataFrame(pd.DataFrame(
        {"qid": np.arange(len(q)), "x": q[:, 0], "y": q[:, 1]}))
    got = knn_join(idx2, qdf, 10).toPandas().sort_values(["qid", "rank"])
    ed, ei = bf.knn(live_p, live_i, q, 10)
    np.testing.assert_array_equal(
        got["nid"].to_numpy(np.int64).reshape(len(q), 10), ei)
    np.testing.assert_array_equal(
        got["dist_sq"].to_numpy(np.int64).reshape(len(q), 10),
        ed.astype(np.int64))
    boxes = [(0, 0, 0, 999, 999), (1, 0, 0, 500, 500),
             (2, 400_000, 400_000, 600_000, 600_000)]
    rc = (range_count(idx2, boxes).toPandas()
          .set_index("box_id")["cnt"].sort_index())
    lo = np.array([b[1:3] for b in boxes])
    hb = np.array([b[3:] for b in boxes])
    exp = ((live_p[None, :, :] >= lo[:, None, :])
           & (live_p[None, :, :] <= hb[:, None, :])).all(axis=2).sum(axis=1)
    np.testing.assert_array_equal(rc.to_numpy(), exp)


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
    """Queries the probe samples cannot bound take the level's
    prefix-sum bound inside the route: k above the probe
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
            from kdtree_spark.index import FANOUT_MIN_BLOBS
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
            from kdtree_spark.index import FANOUT_MIN_BLOBS
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


def _pts_d(spark, sf_dir, d):
    cc = list(points.dim_cols(d))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_r4_lineitem")
    return spark.sql(
        f"SELECT {points.dimd_select_sql(d)} FROM _r4_lineitem"), cc


def _rand_boxes(rng, n, d, wlo, whi):
    out = []
    for i in range(n):
        lo = rng.integers(0, 10**6 - whi, d)
        w = rng.integers(wlo, whi, d)
        out.append((i, *lo.tolist(), *(lo + w).tolist()))
    return out


@pytest.mark.parametrize("d", [3, 5])
def test_range_ops_d_generic(spark, sf_dir, d):
    """Distributed range count/report/circle at d>2 vs brute force
    (reference parity: checkCorrect.sh runs range ops at d=5)."""
    pts, cc = _pts_d(spark, sf_dir, d)
    idx = SpatialIndex.build(spark, pts, grid=Grid(4), coord_cols=cc)
    P = pts.toPandas()[cc].to_numpy(np.int64)
    rng = np.random.default_rng(7 + d)
    boxes = _rand_boxes(rng, 12, d, 50_000, 600_000)
    boxes.append((12, *([0] * d), *([10**6] * d)))  # domain-sized

    got = {r["box_id"]: r["cnt"] for r in range_count(idx, boxes).collect()}
    for b in boxes:
        lo, hi = np.array(b[1:1 + d]), np.array(b[1 + d:])
        assert got[b[0]] == int(np.all((P >= lo) & (P <= hi), axis=1).sum())

    rep = range_report(idx, boxes[:4]).toPandas()
    exp_rows = sum(
        int(np.all((P >= np.array(b[1:1 + d]))
                   & (P <= np.array(b[1 + d:])), axis=1).sum())
        for b in boxes[:4])
    assert len(rep) == exp_rows
    assert list(rep.columns) == ["box_id", "pid", *cc]

    circles = [(i, *rng.integers(10**5, 9 * 10**5, d).tolist(),
                int(rng.integers(10_000, 400_000))) for i in range(8)]
    cgot = {r["circle_id"]: r["cnt"]
            for r in circle_count(idx, circles).collect()}
    for c in circles:
        ctr, r = np.array(c[1:1 + d], np.float64), c[1 + d]
        exp = int((((P - ctr) ** 2).sum(axis=1) <= float(r) * r).sum())
        assert cgot[c[0]] == exp
    idx.unpersist()


def test_large_grid_pyramid_paths(spark, sf_dir):
    """Grid(128): a routing level of more than 4,096 cells (the driver
    gates run Grid(8)), the prefix-sum kNN bound over it, the level
    scan for a cube past ENUM_CAP and contained-cell counts. Includes a
    domain-sized box, k far above points-per-cell, and a k whose bound
    covers over ENUM_CAP cells."""
    pts = points.load_points(spark, sf_dir, "uniform").select("pid", "x", "y")
    idx = SpatialIndex.build(spark, pts, grid=Grid(128))
    lvl = idx.level()  # the fine grid, every non-empty cell its own row
    assert len(lvl.cell) > 4096 and (lvl.cell < 128 ** 2).all()
    pdf = pts.toPandas()
    P = pdf[["x", "y"]].to_numpy(np.int64)
    ids = pdf["pid"].to_numpy(np.int64)

    rng = np.random.default_rng(31)
    boxes = _rand_boxes(rng, 10, 2, 2_000, 500_000)
    boxes.append((10, 0, 0, 10**6, 10**6))
    got = {r["box_id"]: r["cnt"] for r in range_count(idx, boxes).collect()}
    for b in boxes:
        lo, hi = np.array(b[1:3]), np.array(b[3:])
        assert got[b[0]] == int(np.all((P >= lo) & (P <= hi), axis=1).sum())

    rep = range_report(idx, boxes[:3]).toPandas()
    exp = sum(int(np.all((P >= np.array(b[1:3]))
                         & (P <= np.array(b[3:])), axis=1).sum())
              for b in boxes[:3])
    assert len(rep) == exp

    circles = [(0, 500_000, 500_000, 450_000), (1, 10, 10, 3_000),
               (2, 250_000, 750_000, 120_000)]
    cgot = {r["circle_id"]: r["cnt"]
            for r in circle_count(idx, circles).collect()}
    for i, cx, cy, r in circles:
        d2 = ((P - np.array([cx, cy], np.float64)) ** 2).sum(axis=1)
        assert cgot[i] == int((d2 <= float(r) * r).sum())

    # kNN with k >> points-per-cell (n/16384 per cell) forces the
    # prefix-sum bound + multi-cell merges; the fine level keeps its
    # candidates tighter than a coarser routing level's 83 rows a query
    q = spark.createDataFrame(
        [(int(i), int(x), int(y)) for i, (x, y) in enumerate(P[:8])],
        "qid long, x long, y long")
    k = 64
    assert knn_candidates(idx, q, k).count() / 8 < 83
    out = knn_join(idx, q, k).toPandas()
    for qi in range(8):
        d2 = ((P - P[qi]) ** 2).sum(axis=1)
        order = np.lexsort((ids, d2))[:k]
        mine = out[out.qid == qi].sort_values("rank")
        assert list(mine["nid"]) == list(ids[order])

    # k = 2000: the prefix-sum bound's cube spans more than ENUM_CAP
    # cells, so the route scans the level's cells instead
    from kdtree_spark.queries import knn as K
    k = 2000
    ub = K._prefix_ub(P[:2], idx.level(), k)
    assert len(K._enum_rows([P[:2, 0], P[:2, 1]], ub, idx.grid,
                            False)[2]) == 2
    out = knn_join(idx, q.filter("qid < 2"), k).toPandas()
    for qi in range(2):
        d2 = ((P - P[qi]) ** 2).sum(axis=1)
        order = np.lexsort((ids, d2))[:k]
        mine = out[out.qid == qi].sort_values("rank")
        assert list(mine["nid"]) == list(ids[order])
        assert list(mine["dist_sq"]) == list(d2[order])
    idx.unpersist()


def test_for_count_stays_within_cell_cap():
    """Past MAX_CELLS cells g stops growing (salting splits the large
    cells); below about 5e8 rows the grid is the 8k-per-cell one."""
    assert Grid.for_count(10 ** 12).g ** 2 <= MAX_CELLS
    assert Grid.for_count(10 ** 12, dims=3).g ** 3 <= MAX_CELLS
    assert Grid.for_count(10 ** 12).g == 256
    assert Grid.for_count(10 ** 8).g == 111


def test_build_rejects_grid_past_cell_cap():
    """An explicit grid past MAX_CELLS is rejected before any Spark
    job: the session and the points are never touched."""
    with pytest.raises(ValueError, match="cap"):
        SpatialIndex.build(None, None, grid=Grid(257))
    with pytest.raises(ValueError, match="cap"):
        SpatialIndex.build(None, None, grid=Grid(41, dims=3))


@pytest.mark.parametrize("g", [4, 128])
def test_range_count_off_grid_points(spark, g):
    """Points off the grid live in its boundary cells, so boxes past
    the grid find them; inverted boxes count nothing, on a coarse
    Grid(4) and on a Grid(128) of mostly empty cells."""
    rng = np.random.default_rng(43)
    P = np.vstack([rng.integers(0, 10**6, (300, 2)),
                   [[1_000_005, 500_000], [1_000_010, 500_003],
                    [-7, 20], [400_000, 1_200_000], [-3, -3]]])
    pdf = pd.DataFrame({"pid": np.arange(len(P)), "x": P[:, 0],
                        "y": P[:, 1]})
    idx = SpatialIndex.build(spark, spark.createDataFrame(pdf),
                             grid=Grid(g))
    boxes = [(0, 1_000_000, 0, 1_100_000, 10**6),
             (1, -100, -100, 100_000, 100_000),
             (2, 0, 1_100_000, 10**6, 1_300_000),
             (3, -10, -10, 2_000_000, 2_000_000),
             (4, 600_000, 0, 400_000, 10**6),
             (5, 100_000, 100_000, 700_000, 800_000)]
    got = {r["box_id"]: r["cnt"] for r in range_count(idx, boxes).collect()}
    for b in boxes:
        lo, hi = np.array(b[1:3]), np.array(b[3:])
        assert got[b[0]] == int(np.all((P >= lo) & (P <= hi), axis=1).sum())
    assert got[0] == 2 and got[4] == 0
    idx.unpersist()
