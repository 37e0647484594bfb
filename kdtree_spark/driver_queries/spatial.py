"""Driver-gate spatial queries: each returns a DataFrame and has a
matching DuckDB oracle SQL over the same parquet views.

Every callable takes (spark, sf_dir). Outputs use BIGINT columns with
names identical to the oracle's aliases (the driver hash-compares after
sorting columns by name).

The index is memoized per (sf_dir, dist) so the driver's sequential
query runs don't rebuild it each time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures, points
from ..grid import Grid
from ..index import SpatialIndex
from ..queries.joins import distance_join, rect_join
from ..queries.knn import knn_join
from ..queries.polygon import (point_in_polygon, polygon_join,
                               polygon_join_oracle_sql, polygon_join_sql,
                               polygons_df, tile_cell_assign,
                               tile_cell_assign_sql)
from ..queries.ranges import circle_count, range_count, range_report

GRID_G = 8  # fixed grid for driver queries: 64 cells, sf-independent
GRID_G_3D = 4  # d>=3 indexes key cells on 3 dims: 4^3 = 64 cells, the
# same cell budget as the 2-D Grid(8)

BOXES = fixtures.gen_boxes(30)
BOXES_SMALL = fixtures.gen_boxes(12)
BOXES_10K = fixtures.gen_boxes(10000)  # H4 rangeCountFix scale
# H5 rangeQueryFix scale: 10,000 small-bracket rects, so the REPORT
# output stays ~n^(1/4) rows per box (reference type-0 rectangles)
BOXES_10K_REPORT = fixtures.gen_boxes(10000, seed=77, classes=(0,))
CIRCLES = fixtures.gen_circles(15)
POLYGONS = fixtures.gen_polygons(8)
TILES = fixtures.gen_tiles(12)

_INDEX_CACHE: dict = {}


def get_index(spark: SparkSession, sf_dir: str, dist: str = "uniform"
              ) -> SpatialIndex:
    key = (id(spark), sf_dir, dist)
    if key not in _INDEX_CACHE:
        pts = points.load_points(spark, sf_dir, dist).select("pid", "x", "y")
        _INDEX_CACHE[key] = SpatialIndex.build(spark, pts, grid=Grid(GRID_G))
    return _INDEX_CACHE[key]


def _pts_sql(dist: str = "uniform") -> str:
    return f"SELECT {points.points_select_sql(dist)} FROM lineitem"


def _q_sql(dist: str = "uniform", qdist: str | None = None) -> str:
    return points.query_points_sql("lineitem", dist, qdist)


# --------------------------------------------------------------------- cells

def q_cell_assign(spark, sf_dir) -> DataFrame:
    """B4: vectorized cell-id assignment, aggregated per cell."""
    g = Grid(GRID_G)
    pts = points.load_points(spark, sf_dir, "uniform")
    return (pts.selectExpr(f"{g.cell_sql(['x', 'y'], False)} AS cell")
            .groupBy("cell").agg(F.count("*").alias("cnt")))


def sql_cell_assign() -> str:
    g = Grid(GRID_G)
    return (f"SELECT {g.duckdb_cell_sql()} AS cell, count(*) AS cnt "
            f"FROM ({_pts_sql()}) GROUP BY 1")


def q_index_stats(spark, sf_dir) -> DataFrame:
    """B1-B7 structural check: per-cell live counts out of the built index."""
    idx = get_index(spark, sf_dir)
    return idx.df.groupBy("cell").agg(F.sum("cnt").alias("cnt"))


# ------------------------------------------------------------------- ranges

def q_range_count(spark, sf_dir) -> DataFrame:
    return range_count(get_index(spark, sf_dir), BOXES)


def sql_range_count() -> str:
    vals = fixtures.boxes_values_sql(BOXES)
    return f"""
SELECT b.box_id, count(p.pid) AS cnt
FROM {vals}
LEFT JOIN ({_pts_sql()}) p
  ON p.x BETWEEN b.bxlo AND b.bxhi AND p.y BETWEEN b.bylo AND b.byhi
GROUP BY b.box_id"""


def q_range_count_10k(spark, sf_dir) -> DataFrame:
    """H4 rangeCountFix at reference scale: 10,000 generated rectangles
    (testFramework.h:617-648) — measures the range path above its
    per-job latency floor."""
    return range_count(get_index(spark, sf_dir), BOXES_10K)


def sql_range_count_10k() -> str:
    vals = fixtures.boxes_values_sql(BOXES_10K)
    return f"""
SELECT b.box_id, count(p.pid) AS cnt
FROM {vals}
LEFT JOIN ({_pts_sql()}) p
  ON p.x BETWEEN b.bxlo AND b.bxhi AND p.y BETWEEN b.bylo AND b.byhi
GROUP BY b.box_id"""


def q_range_report(spark, sf_dir) -> DataFrame:
    return range_report(get_index(spark, sf_dir), BOXES_SMALL)


def sql_range_report() -> str:
    vals = fixtures.boxes_values_sql(BOXES_SMALL)
    return f"""
SELECT b.box_id, p.pid, p.x, p.y
FROM {vals}
JOIN ({_pts_sql()}) p
  ON p.x BETWEEN b.bxlo AND b.bxhi AND p.y BETWEEN b.bylo AND b.byhi"""


def q_range_report_10k(spark, sf_dir) -> DataFrame:
    """H5 rangeQueryFix at reference recNum=10000 (testFramework.h:
    680-713): materializing range REPORT over 10,000 small rects —
    exercises the report path's output volume above its per-job
    latency floor (the count-only 10k gate cannot)."""
    return range_report(get_index(spark, sf_dir), BOXES_10K_REPORT)


def sql_range_report_10k() -> str:
    vals = fixtures.boxes_values_sql(BOXES_10K_REPORT)
    return f"""
SELECT b.box_id, p.pid, p.x, p.y
FROM {vals}
JOIN ({_pts_sql()}) p
  ON p.x BETWEEN b.bxlo AND b.bxhi AND p.y BETWEEN b.bylo AND b.byhi"""


def q_circle_count(spark, sf_dir) -> DataFrame:
    return circle_count(get_index(spark, sf_dir), CIRCLES)


def sql_circle_count() -> str:
    vals = fixtures.circles_values_sql(CIRCLES)
    return f"""
SELECT c.circle_id, count(p.pid) AS cnt
FROM {vals}
LEFT JOIN ({_pts_sql()}) p
  ON (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy)
     <= CAST(c.r AS BIGINT) * CAST(c.r AS BIGINT)
GROUP BY c.circle_id"""


# ---------------------------------------------------------------------- kNN

def _q_knn(spark, sf_dir, k, dist="uniform", qdist=None) -> DataFrame:
    idx = get_index(spark, sf_dir, dist)
    q = points.load_query_points(spark, sf_dir, dist, qdist=qdist)
    return (knn_join(idx, q, k)
            .select("qid", F.col("rank").cast("long").alias("rank"),
                    "nid", "dist_sq"))


def _sql_knn(k, dist="uniform", qdist=None) -> str:
    return f"""
WITH pts AS ({_pts_sql(dist)}),
q AS (SELECT qid, x AS qx, y AS qy FROM ({_q_sql(dist, qdist)})),
d AS (SELECT q.qid, pts.pid AS nid,
             (pts.x - q.qx) * (pts.x - q.qx)
           + (pts.y - q.qy) * (pts.y - q.qy) AS dist_sq
      FROM q CROSS JOIN pts),
r AS (SELECT qid, nid, dist_sq,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist_sq, nid) AS rank
      FROM d)
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, dist_sq
FROM r WHERE rank <= {k}"""


def q_knn_k1(spark, sf_dir):
    return _q_knn(spark, sf_dir, 1)


def q_knn_k10(spark, sf_dir):
    return _q_knn(spark, sf_dir, 10)


def q_knn_k100(spark, sf_dir):
    return _q_knn(spark, sf_dir, 100)


def q_knn_varden(spark, sf_dir):
    """Skew path: variable-density clusters (hot cells + salting)."""
    return _q_knn(spark, sf_dir, 10, dist="varden")


def q_knn_ood(spark, sf_dir):
    """H11: build on uniform, query with varden-derived points."""
    return _q_knn(spark, sf_dir, 10, dist="uniform", qdist="varden")


def q_hot_cell_knn(spark, sf_dir) -> DataFrame:
    """North-rule skew path, oracle-gated: build over the varden
    clusters with hot_cell_cap=512 so the dense cells salt into >=4
    blobs and kNN takes the (cell, salt) fan-out branch
    (queries/skew.py FANOUT_MIN_BLOBS) instead of the cold cell-keyed
    cogroup — at the default 131,072-row cap no gate-scale cell ever
    salts, so without this gate the salted query path had pytest
    coverage only. Queries come from the uniform sample (also keeps
    the result distinct from knn_varden's). Reference analogue:
    kdTreeParallel.h's par_do subtree parallelism — one dense subtree
    never serializes on one worker there either."""
    key = (id(spark), sf_dir, "varden_hot512")
    if key not in _INDEX_CACHE:
        pts = points.load_points(spark, sf_dir, "varden").select(
            "pid", "x", "y")
        _INDEX_CACHE[key] = SpatialIndex.build(
            spark, pts, grid=Grid(GRID_G), hot_cell_cap=512)
    q = points.load_query_points(spark, sf_dir, "varden", qdist="uniform")
    return (knn_join(_INDEX_CACHE[key], q, 10)
            .select("qid", F.col("rank").cast("long").alias("rank"),
                    "nid", "dist_sq"))


# -------------------------------------------------------------- batch updates

def q_insert_then_count(spark, sf_dir) -> DataFrame:
    """I1 batch insert -> range counts over the fixture boxes."""
    idx = get_index(spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_upd_lineitem")
    ins = spark.sql(points.insert_batch_sql("_upd_lineitem"))
    return range_count(idx.update(inserts=ins), BOXES)


def sql_insert_then_count() -> str:
    vals = fixtures.boxes_values_sql(BOXES)
    return f"""
WITH allpts AS (
  SELECT pid, x, y FROM ({_pts_sql()})
  UNION ALL
  SELECT pid, x, y FROM ({points.insert_batch_sql('lineitem')})
)
SELECT b.box_id, count(p.pid) AS cnt
FROM {vals}
LEFT JOIN allpts p
  ON p.x BETWEEN b.bxlo AND b.bxhi AND p.y BETWEEN b.bylo AND b.byhi
GROUP BY b.box_id"""


def q_delete_then_count(spark, sf_dir) -> DataFrame:
    """D1/D2 batch delete -> range counts."""
    idx = get_index(spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_upd_lineitem")
    dele = spark.sql(points.delete_batch_sql("_upd_lineitem", "uniform"))
    return range_count(idx.update(deletes=dele), BOXES)


def sql_delete_then_count() -> str:
    vals = fixtures.boxes_values_sql(BOXES)
    return f"""
WITH live AS (
  SELECT pid, x, y FROM ({_pts_sql()})
  WHERE pid NOT IN (SELECT pid FROM ({points.delete_batch_sql('lineitem')}))
)
SELECT b.box_id, count(p.pid) AS cnt
FROM {vals}
LEFT JOIN live p
  ON p.x BETWEEN b.bxlo AND b.bxhi AND p.y BETWEEN b.bylo AND b.byhi
GROUP BY b.box_id"""


def q_update_then_knn(spark, sf_dir) -> DataFrame:
    """I1+D1 combined, then kNN k=10 — the tag=2 workload of
    script/checkCorrect.sh (insert+delete before querying)."""
    idx = get_index(spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_upd_lineitem")
    ins = spark.sql(points.insert_batch_sql("_upd_lineitem"))
    dele = spark.sql(points.delete_batch_sql("_upd_lineitem", "uniform"))
    idx2 = idx.update(inserts=ins, deletes=dele)
    q = points.load_query_points(spark, sf_dir, "uniform")
    return (knn_join(idx2, q, 10)
            .select("qid", F.col("rank").cast("long").alias("rank"),
                    "nid", "dist_sq"))


def sql_update_then_knn() -> str:
    return f"""
WITH live AS (
  SELECT pid, x, y FROM ({_pts_sql()})
  WHERE pid NOT IN (SELECT pid FROM ({points.delete_batch_sql('lineitem')}))
  UNION ALL
  SELECT pid, x, y FROM ({points.insert_batch_sql('lineitem')})
),
q AS (SELECT qid, x AS qx, y AS qy FROM ({_q_sql()})),
d AS (SELECT q.qid, live.pid AS nid,
             (live.x - q.qx) * (live.x - q.qx)
           + (live.y - q.qy) * (live.y - q.qy) AS dist_sq
      FROM q CROSS JOIN live),
r AS (SELECT qid, nid, dist_sq,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist_sq, nid) AS rank
      FROM d)
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, dist_sq
FROM r WHERE rank <= 10"""


# --------------------------------------------------- sliding window (H8)

def q_sliding_window_count(spark, sf_dir) -> DataFrame:
    """insertOsmByTime analogue: 10 time slices, window length 5 —
    insert slice t, evict slice t-5; final state = slices 5..9."""
    pts = points.load_points(spark, sf_dir, "varden")
    idx = SpatialIndex.build(
        spark, pts.filter("slice = 0").select("pid", "x", "y"), grid=Grid(GRID_G))
    for t in range(1, 10):
        ins = pts.filter(f"slice = {t}").select("pid", "x", "y")
        dele = (pts.filter(f"slice = {t - 5}").select("pid", "x", "y")
                if t >= 5 else None)
        idx = idx.update(inserts=ins, deletes=dele)
    return range_count(idx, BOXES)


def q_sliding_window_knn(spark, sf_dir) -> DataFrame:
    """insertOsmByTime with the reference's per-slice kNN probe
    (testFramework.h:859-861): after every slice's insert+evict, run
    k=10 kNN on a fixed probe set — proves bound-correctness of the
    kNN seed/prune chain over a 9-generation delta-versioned index
    (each step queries blobs layered by broadcast anti-joins +
    checkpointed deltas, not a fresh build)."""
    pts = points.load_points(spark, sf_dir, "varden")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_swk_lineitem")
    probe = spark.sql(
        f"SELECT pid AS qid, x, y FROM "
        f"(SELECT {points.points_select_sql('varden')} FROM _swk_lineitem "
        f"WHERE {points.PROBE_FILTER_SQL})")
    idx = SpatialIndex.build(
        spark, pts.filter("slice = 0").select("pid", "x", "y"),
        grid=Grid(GRID_G))
    outs = []
    for t in range(1, 10):
        ins = pts.filter(f"slice = {t}").select("pid", "x", "y")
        dele = (pts.filter(f"slice = {t - 5}").select("pid", "x", "y")
                if t >= 5 else None)
        idx = idx.update(inserts=ins, deletes=dele)
        outs.append(
            knn_join(idx, probe, 10)
            .select(F.lit(t).cast("long").alias("step"), "qid",
                    F.col("rank").cast("long").alias("rank"),
                    "nid", "dist_sq"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def sql_sliding_window_knn() -> str:
    legs = []
    for t in range(1, 10):
        lo = max(0, t - 4)
        legs.append(f"""
SELECT CAST({t} AS BIGINT) AS step, qid, CAST(rank AS BIGINT) AS rank,
       nid, dist_sq
FROM (SELECT qid, nid, dist_sq,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist_sq, nid) AS rank
      FROM (SELECT q.qid, p.pid AS nid,
                   (p.x - q.x) * (p.x - q.x)
                 + (p.y - q.y) * (p.y - q.y) AS dist_sq
            FROM (SELECT pid AS qid, x, y FROM ({_pts_sql('varden')})
                  WHERE (pid % 1009 = 7)) q
            CROSS JOIN (SELECT pid, x, y FROM ({_pts_sql('varden')})
                        WHERE slice BETWEEN {lo} AND {t}) p))
WHERE rank <= 10""")
    return "\nUNION ALL\n".join(legs)


def sql_sliding_window_count() -> str:
    vals = fixtures.boxes_values_sql(BOXES)
    return f"""
WITH live AS (SELECT * FROM ({_pts_sql('varden')}) WHERE slice >= 5)
SELECT b.box_id, count(p.pid) AS cnt
FROM {vals}
LEFT JOIN live p
  ON p.x BETWEEN b.bxlo AND b.bxhi AND p.y BETWEEN b.bylo AND b.byhi
GROUP BY b.box_id"""


# ------------------------------------------------------------- d=3 (B1/Q1)

def get_index_d3(spark, sf_dir) -> SpatialIndex:
    key = (id(spark), sf_dir, "d3")
    if key not in _INDEX_CACHE:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        li.createOrReplaceTempView("_d3_lineitem")
        pts3 = spark.sql(
            f"SELECT {points.PID_SQL} AS pid, {points.UNIFORM_X_SQL} AS x, "
            f"{points.UNIFORM_Y_SQL} AS y, {points.UNIFORM_Z_SQL} AS z "
            f"FROM _d3_lineitem")
        # 3-D cell key (same ~64-cell budget as the 2-D Grid(8)): the
        # candidate region prunes in three dims, not a z-degenerate two
        _INDEX_CACHE[key] = SpatialIndex.build(
            spark, pts3, grid=Grid(GRID_G_3D, dims=3),
            coord_cols=("x", "y", "z"))
    return _INDEX_CACHE[key]


def _d3_query_points(spark, sf_dir) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_d3q_lineitem")
    return spark.sql(
        f"SELECT {points.PID_SQL} AS qid, {points.UNIFORM_X_SQL} AS x, "
        f"{points.UNIFORM_Y_SQL} AS y, {points.UNIFORM_Z_SQL} AS z "
        f"FROM _d3q_lineitem WHERE {points.QUERY_FILTER_SQL}")


def q_knn_k10_d3(spark, sf_dir) -> DataFrame:
    """3-D kNN: per-cell trees split on (x,y,z) max-stretch; cell grid
    keys on (x,y) with xy-only pruning (a valid lower bound) — the
    reference's d=3 configuration (tests/test.cpp:569-617)."""
    idx = get_index_d3(spark, sf_dir)
    q = _d3_query_points(spark, sf_dir)
    return (knn_join(idx, q, 10)
            .select("qid", F.col("rank").cast("long").alias("rank"),
                    "nid", "dist_sq"))


def q_update_then_knn_d3(spark, sf_dir) -> DataFrame:
    """Dimension-generic batch update (I1+D1 at d=3; the reference's
    batch ops are dim-templated, batch_insert.hpp:60-191) -> kNN k=10."""
    idx = get_index_d3(spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_u3_lineitem")
    ins = spark.sql(points.insert_batch_d3_sql("_u3_lineitem"))
    dele = spark.sql(points.delete_batch_d3_sql("_u3_lineitem"))
    idx2 = idx.update(inserts=ins, deletes=dele)
    q = _d3_query_points(spark, sf_dir)
    return (knn_join(idx2, q, 10)
            .select("qid", F.col("rank").cast("long").alias("rank"),
                    "nid", "dist_sq"))


def sql_update_then_knn_d3() -> str:
    sel = (f"{points.PID_SQL} AS pid, {points.UNIFORM_X_SQL} AS x, "
           f"{points.UNIFORM_Y_SQL} AS y, {points.UNIFORM_Z_SQL} AS z")
    return f"""
WITH live AS (
  SELECT pid, x, y, z FROM (SELECT {sel} FROM lineitem)
  WHERE pid NOT IN (SELECT pid FROM ({points.delete_batch_d3_sql('lineitem')}))
  UNION ALL
  SELECT pid, x, y, z FROM ({points.insert_batch_d3_sql('lineitem')})
),
q AS (SELECT pid AS qid, x AS qx, y AS qy, z AS qz
      FROM (SELECT {sel} FROM lineitem)
      WHERE (pid % 101 = 7)),
d AS (SELECT q.qid, live.pid AS nid,
             (live.x - q.qx) * (live.x - q.qx)
           + (live.y - q.qy) * (live.y - q.qy)
           + (live.z - q.qz) * (live.z - q.qz) AS dist_sq
      FROM q CROSS JOIN live),
r AS (SELECT qid, nid, dist_sq,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist_sq, nid) AS rank
      FROM d)
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, dist_sq
FROM r WHERE rank <= 10"""


def sql_knn_k10_d3() -> str:
    sel = (f"{points.PID_SQL} AS pid, {points.UNIFORM_X_SQL} AS x, "
           f"{points.UNIFORM_Y_SQL} AS y, {points.UNIFORM_Z_SQL} AS z")
    return f"""
WITH pts AS (SELECT {sel} FROM lineitem),
q AS (SELECT pid AS qid, x AS qx, y AS qy, z AS qz FROM pts
      WHERE (qid % 101 = 7)),
d AS (SELECT q.qid, pts.pid AS nid,
             (pts.x - q.qx) * (pts.x - q.qx)
           + (pts.y - q.qy) * (pts.y - q.qy)
           + (pts.z - q.qz) * (pts.z - q.qz) AS dist_sq
      FROM q CROSS JOIN pts),
r AS (SELECT qid, nid, dist_sq,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist_sq, nid) AS rank
      FROM d)
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, dist_sq
FROM r WHERE rank <= 10"""


# ----------------------------------------- kNN graph + incremental (H7/H10)

KNN_GRAPH_FILTER = f"({points.PID_SQL} % 211 = 3)"  # ~0.5% of nodes


def q_knn_graph(spark, sf_dir) -> DataFrame:
    """H10 generate_knn: k=5 adjacency for a deterministic node sample
    (full self-kNN graph at sf0.01 would need a 3.6e9-pair oracle; the
    sampled graph exercises the identical engine path)."""
    idx = get_index(spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_kg_lineitem")
    q = spark.sql(
        f"SELECT pid AS qid, x, y FROM "
        f"(SELECT {points.points_select_sql('uniform')} FROM _kg_lineitem "
        f"WHERE {KNN_GRAPH_FILTER})")
    return (knn_join(idx, q, 5)
            .select("qid", F.col("rank").cast("long").alias("rank"),
                    "nid", "dist_sq"))


def sql_knn_graph() -> str:
    return f"""
WITH pts AS ({_pts_sql()}),
q AS (SELECT pid AS qid, x AS qx, y AS qy FROM pts
      WHERE (qid % 211 = 3)),
d AS (SELECT q.qid, pts.pid AS nid,
             (pts.x - q.qx) * (pts.x - q.qx)
           + (pts.y - q.qy) * (pts.y - q.qy) AS dist_sq
      FROM q CROSS JOIN pts),
r AS (SELECT qid, nid, dist_sq,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist_sq, nid) AS rank
      FROM d)
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, dist_sq
FROM r WHERE rank <= 5"""


def q_incremental_build(spark, sf_dir) -> DataFrame:
    """H7 incrementalBuild: build from slice 0, insert slices 1..9 in
    chunks, then range count — same truth as a bulk build."""
    pts = points.load_points(spark, sf_dir, "uniform")
    idx = SpatialIndex.build(
        spark, pts.filter("slice = 0").select("pid", "x", "y"),
        grid=Grid(GRID_G))
    for t in range(1, 10):
        idx = idx.update(
            inserts=pts.filter(f"slice = {t}").select("pid", "x", "y"))
    return range_count(idx, BOXES_SMALL)


def sql_incremental_build() -> str:
    vals = fixtures.boxes_values_sql(BOXES_SMALL)
    return f"""
SELECT b.box_id, count(p.pid) AS cnt
FROM {vals}
LEFT JOIN ({_pts_sql()}) p
  ON p.x BETWEEN b.bxlo AND b.bxhi AND p.y BETWEEN b.bylo AND b.byhi
GROUP BY b.box_id"""


def q_incremental_delete(spark, sf_dir) -> DataFrame:
    """H7 incrementalDelete: bulk build, then delete slices 0..4 in
    chunks; final live set = slices 5..9."""
    pts = points.load_points(spark, sf_dir, "uniform")
    idx = get_index(spark, sf_dir)
    for t in range(5):
        idx = idx.update(
            deletes=pts.filter(f"slice = {t}").select("pid", "x", "y"))
    return range_count(idx, BOXES_SMALL)


def sql_incremental_delete() -> str:
    vals = fixtures.boxes_values_sql(BOXES_SMALL)
    return f"""
WITH live AS (SELECT * FROM ({_pts_sql()}) WHERE slice >= 5)
SELECT b.box_id, count(p.pid) AS cnt
FROM {vals}
LEFT JOIN live p
  ON p.x BETWEEN b.bxlo AND b.bxhi AND p.y BETWEEN b.bylo AND b.byhi
GROUP BY b.box_id"""


# ----------------------------------------- H2 ratio sweep / H9 interleaved

def q_insert_ratio_sweep(spark, sf_dir) -> DataFrame:
    """H2: cumulative insert legs at ratios ~{1e-4,1e-3,1e-2,0.1}
    (tests/test.cpp:55-72); after each leg, range counts over the
    fixture boxes tagged with the leg number."""
    idx = get_index(spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_sw_lineitem")
    outs = []
    for step in range(1, len(points.SWEEP_LEGS) + 1):
        ins = spark.sql(points.sweep_insert_sql("_sw_lineitem", step))
        idx = idx.update(inserts=ins)
        outs.append(range_count(idx, BOXES_SMALL)
                    .withColumn("step", F.lit(step).cast("long")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def sql_insert_ratio_sweep() -> str:
    vals = fixtures.boxes_values_sql(BOXES_SMALL)
    legs = []
    for step in range(1, len(points.SWEEP_LEGS) + 1):
        ins_union = "\n  UNION ALL\n  ".join(
            f"SELECT pid, x, y FROM ({points.sweep_insert_sql('lineitem', s)})"
            for s in range(1, step + 1))
        legs.append(f"""
SELECT CAST({step} AS BIGINT) AS step, b.box_id, count(p.pid) AS cnt
FROM {vals}
LEFT JOIN (
  SELECT pid, x, y FROM ({_pts_sql()})
  UNION ALL
  {ins_union}
) p ON p.x BETWEEN b.bxlo AND b.bxhi AND p.y BETWEEN b.bylo AND b.byhi
GROUP BY b.box_id""")

    return "\nUNION ALL\n".join(legs)


def q_delete_ratio_sweep(spark, sf_dir) -> DataFrame:
    """H2: cumulative delete legs at the same ratios (overlapping moduli;
    repeated deletes of an id are ignored — partial-cover semantics,
    batch_delete.hpp:95-107)."""
    idx = get_index(spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_sw_lineitem")
    outs = []
    for step in range(1, len(points.SWEEP_LEGS) + 1):
        dele = spark.sql(points.sweep_delete_sql("_sw_lineitem", step))
        idx = idx.update(deletes=dele)
        outs.append(range_count(idx, BOXES_SMALL)
                    .withColumn("step", F.lit(step).cast("long")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def sql_delete_ratio_sweep() -> str:
    vals = fixtures.boxes_values_sql(BOXES_SMALL)
    legs = []
    for step in range(1, len(points.SWEEP_LEGS) + 1):
        # pid IS the shared PID_SQL value, so moduli apply to it directly
        conds = " OR ".join(f"(pid % {m} = {r})"
                            for m, r in points.SWEEP_LEGS[:step])
        legs.append(f"""
SELECT CAST({step} AS BIGINT) AS step, b.box_id, count(q.pid) AS cnt
FROM {vals}
LEFT JOIN (SELECT pid, x, y FROM ({_pts_sql()}) WHERE NOT ({conds})) q
  ON q.x BETWEEN b.bxlo AND b.bxhi AND q.y BETWEEN b.bylo AND b.byhi
GROUP BY b.box_id""")
    return "\nUNION ALL\n".join(legs)


def q_incr_build_and_query(spark, sf_dir) -> DataFrame:
    """H9 incrementalBuildAndQuery (testFramework.h:873-929): build from
    slice 0, insert slices 1..9 in three chunks of three slices each
    (within the reference's own step sizes 0.1-0.5·n, test.cpp:53-74),
    probing k=1 kNN on a fixed query set after each chunk (states after
    slices 3, 6, 9 — the same truth as single-slice stepping, at half
    the per-job latency floors)."""
    pts = points.load_points(spark, sf_dir, "uniform")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_h9_lineitem")
    probe = spark.sql(
        f"SELECT pid AS qid, x, y FROM "
        f"(SELECT {points.points_select_sql('uniform')} FROM _h9_lineitem "
        f"WHERE {points.PROBE_FILTER_SQL})")
    idx = SpatialIndex.build(
        spark, pts.filter("slice = 0").select("pid", "x", "y"),
        grid=Grid(GRID_G))
    outs = []
    for t in (3, 6, 9):
        idx = idx.update(
            inserts=pts.filter(f"slice BETWEEN {t - 2} AND {t}")
            .select("pid", "x", "y"))
        outs.append(
            knn_join(idx, probe, 1)
            .select(F.lit(t).cast("long").alias("step"), "qid",
                    F.col("rank").cast("long").alias("rank"),
                    "nid", "dist_sq"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def sql_incr_build_and_query() -> str:
    legs = []
    for t in (3, 6, 9):
        legs.append(f"""
SELECT CAST({t} AS BIGINT) AS step, qid, CAST(rank AS BIGINT) AS rank,
       nid, dist_sq
FROM (SELECT qid, nid, dist_sq,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist_sq, nid) AS rank
      FROM (SELECT q.qid, p.pid AS nid,
                   (p.x - q.x) * (p.x - q.x)
                 + (p.y - q.y) * (p.y - q.y) AS dist_sq
            FROM (SELECT pid AS qid, x, y FROM ({_pts_sql()})
                  WHERE (pid % 1009 = 7)) q
            CROSS JOIN (SELECT pid, x, y FROM ({_pts_sql()})
                        WHERE slice <= {t}) p))
WHERE rank <= 1""")
    return "\nUNION ALL\n".join(legs)


# ------------------------------------------------------------- d=5 (B1/Q1)

def get_index_d5(spark, sf_dir) -> SpatialIndex:
    key = (id(spark), sf_dir, "d5")
    if key not in _INDEX_CACHE:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        li.createOrReplaceTempView("_d5_lineitem")
        pts5 = spark.sql(
            f"SELECT {points.d5_select_sql()} FROM _d5_lineitem")
        # 4-D cell key, 3^4 = 81 cells (~the 64-cell budget): measured
        # sweep at sf0.1 — (4,3)=4.34, (3,4)=3.74, (2,5)=2.85 candidate
        # cells/query; (3,4) meets the <4 target with 81-cell
        # parallelism and the fastest kNN wall of the >=64-cell options
        _INDEX_CACHE[key] = SpatialIndex.build(
            spark, pts5, grid=Grid(3, dims=4),
            coord_cols=points.D5_COLS)
    return _INDEX_CACHE[key]


def _q_knn_d5(spark, sf_dir, k) -> DataFrame:
    idx = get_index_d5(spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_d5q_lineitem")
    q = spark.sql(
        f"SELECT {points.d5_select_sql('qid')} FROM _d5q_lineitem "
        f"WHERE {points.QUERY_FILTER_SQL}")
    return (knn_join(idx, q, k)
            .select("qid", F.col("rank").cast("long").alias("rank"),
                    "nid", "dist_sq"))


def q_knn_k10_d5(spark, sf_dir) -> DataFrame:
    """d=5 configuration (tests/test.cpp:584): per-cell trees split all
    5 dims; xy-only cell pruning degrades with d (measured in bench via
    knn_candidates cells-per-query) but stays exact."""
    return _q_knn_d5(spark, sf_dir, 10)


def q_knn_k100_d5(spark, sf_dir) -> DataFrame:
    """k=100 at d=5 — the reference sweep varies k and d independently
    (script/checkCorrect.sh, tests/test.cpp:84-96); exercises the
    large-k super-stats fallback against the high-d candidate path."""
    return _q_knn_d5(spark, sf_dir, 100)


def _sql_knn_d5(k: int) -> str:
    return f"""
WITH pts AS (SELECT {points.d5_select_sql()} FROM lineitem),
q AS (SELECT pid AS qid, x AS qx, y AS qy, z AS qz, w AS qw, v AS qv
      FROM pts WHERE (qid % 101 = 7)),
d AS (SELECT q.qid, pts.pid AS nid,
             (pts.x - q.qx) * (pts.x - q.qx)
           + (pts.y - q.qy) * (pts.y - q.qy)
           + (pts.z - q.qz) * (pts.z - q.qz)
           + (pts.w - q.qw) * (pts.w - q.qw)
           + (pts.v - q.qv) * (pts.v - q.qv) AS dist_sq
      FROM q CROSS JOIN pts),
r AS (SELECT qid, nid, dist_sq,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist_sq, nid) AS rank
      FROM d)
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, dist_sq
FROM r WHERE rank <= {k}"""


def sql_knn_k10_d5() -> str:
    return _sql_knn_d5(10)


def q_update_then_knn_d5(spark, sf_dir) -> DataFrame:
    """Batch insert+delete then kNN at d=5 — the reference's
    checkCorrect.sh tag=2 configuration (insert AND delete before
    querying, at d=5 exactly as script/checkCorrect.sh:3-47 runs it;
    batch ops dim-templated, batch_insert.hpp:60-191)."""
    idx = get_index_d5(spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_u5_lineitem")
    ins = spark.sql(points.insert_batch_d5_sql("_u5_lineitem"))
    dele = spark.sql(points.delete_batch_d5_sql("_u5_lineitem"))
    idx2 = idx.update(inserts=ins, deletes=dele)
    q = spark.sql(
        f"SELECT {points.d5_select_sql('qid')} FROM _u5_lineitem "
        f"WHERE {points.QUERY_FILTER_SQL}")
    return (knn_join(idx2, q, 10)
            .select("qid", F.col("rank").cast("long").alias("rank"),
                    "nid", "dist_sq"))


def sql_update_then_knn_d5() -> str:
    cc = list(points.D5_COLS)
    cols = ", ".join(cc)
    dist = " + ".join(
        f"(live.{c} - q.q{c}) * (live.{c} - q.q{c})" for c in cc)
    return f"""
WITH live AS (
  SELECT pid, {cols} FROM (SELECT {points.d5_select_sql()} FROM lineitem)
  WHERE pid NOT IN (SELECT pid FROM ({points.delete_batch_d5_sql('lineitem')}))
  UNION ALL
  SELECT pid, {cols} FROM ({points.insert_batch_d5_sql('lineitem')})
),
q AS (SELECT pid AS qid, {', '.join(f'{c} AS q{c}' for c in cc)}
      FROM (SELECT {points.d5_select_sql()} FROM lineitem)
      WHERE (pid % 101 = 7)),
d AS (SELECT q.qid, live.pid AS nid, {dist} AS dist_sq
      FROM q CROSS JOIN live),
r AS (SELECT qid, nid, dist_sq,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist_sq, nid) AS rank
      FROM d)
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, dist_sq
FROM r WHERE rank <= 10"""


BOXES_D5 = fixtures.gen_boxes_d(24, 5)


def q_range_count_d5(spark, sf_dir) -> DataFrame:
    """Range count at d=5 — reference parity: script/checkCorrect.sh
    runs queryType 1 (range count) at d=5 over the dim-templated
    range_count.hpp; cell enumeration keys on (x, y), classification
    and the kernel scan use all 5 dims."""
    return range_count(get_index_d5(spark, sf_dir), BOXES_D5)


def _d5_box_pred(p: str = "p", b: str = "b") -> str:
    lo = ["bxlo", "bylo", "blo2", "blo3", "blo4"]
    hi = ["bxhi", "byhi", "bhi2", "bhi3", "bhi4"]
    return " AND ".join(
        f"{p}.{c} BETWEEN {b}.{l} AND {b}.{h}"
        for c, l, h in zip(points.D5_COLS, lo, hi))


def sql_range_count_d5() -> str:
    vals = fixtures.boxes_values_sql_d(BOXES_D5, 5)
    return f"""
SELECT b.box_id, count(p.pid) AS cnt
FROM {vals}
LEFT JOIN (SELECT {points.d5_select_sql()} FROM lineitem) p
  ON {_d5_box_pred()}
GROUP BY b.box_id"""


def q_range_report_d5(spark, sf_dir) -> DataFrame:
    """Range report at d=5 (queryType 2 of checkCorrect.sh): emits all
    five coordinate columns per matched point."""
    return range_report(get_index_d5(spark, sf_dir), BOXES_D5)


def sql_range_report_d5() -> str:
    vals = fixtures.boxes_values_sql_d(BOXES_D5, 5)
    cols = ", ".join(f"p.{c}" for c in points.D5_COLS)
    return f"""
SELECT b.box_id, p.pid, {cols}
FROM {vals}
JOIN (SELECT {points.d5_select_sql()} FROM lineitem) p
  ON {_d5_box_pred()}"""


CIRCLES_D5 = fixtures.gen_circles_d(15, 5)


def q_circle_count_d5(spark, sf_dir) -> DataFrame:
    """Ball count at d=5 (range_count.hpp:99-131 is dim-templated; the
    checkCorrect.sh sweep varies queryType and d independently): cell
    enumeration keys on the grid's 4 dims via the ball's bounding box,
    classification + the kernel scan use the exact 5-d min/max dist²."""
    return circle_count(get_index_d5(spark, sf_dir), CIRCLES_D5)


def sql_circle_count_d5() -> str:
    vals = fixtures.circles_values_sql_d(CIRCLES_D5, 5)
    ctr = ["cx", "cy", "ctr2", "ctr3", "ctr4"]
    dist = " + ".join(
        f"(p.{pc} - c.{cc}) * (p.{pc} - c.{cc})"
        for pc, cc in zip(points.D5_COLS, ctr))
    return f"""
SELECT c.circle_id, count(p.pid) AS cnt
FROM {vals}
LEFT JOIN (SELECT {points.d5_select_sql()} FROM lineitem) p
  ON {dist} <= CAST(c.r AS BIGINT) * CAST(c.r AS BIGINT)
GROUP BY c.circle_id"""


# -------------------------------------------------------- float coords (f64)

def get_index_f64(spark, sf_dir) -> SpatialIndex:
    key = (id(spark), sf_dir, "f64")
    if key not in _INDEX_CACHE:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        li.createOrReplaceTempView("_f64_lineitem")
        pts = spark.sql(
            f"SELECT {points.f64_select_sql()} FROM _f64_lineitem")
        _INDEX_CACHE[key] = SpatialIndex.build(spark, pts, grid=Grid(GRID_G))
    return _INDEX_CACHE[key]


def q_knn_k10_f64(spark, sf_dir) -> DataFrame:
    """Float-coordinate mode: double coords end to end (the reference's
    double test build, comparator.h:10-79; tests/testFramework.h:19-20)
    — blobs, stats, probes and distances all run in IEEE float64, and
    dist_sq stays DOUBLE. Tie-break rule divergence vs the reference:
    the reference's Num_Comparator treats |a-b| < eps as equal and
    breaks remaining ties by point order; here (and in the DuckDB
    oracle) floats compare exactly and ties break on (dist_sq, nid) —
    points whose distances differ by < eps can therefore rank in the
    opposite order from the reference, though identically to any
    engine doing exact IEEE comparison."""
    idx = get_index_f64(spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_f64q_lineitem")
    q = spark.sql(
        f"SELECT {points.f64_select_sql('qid')} FROM _f64q_lineitem "
        f"WHERE {points.QUERY_FILTER_SQL}")
    return (knn_join(idx, q, 10)
            .select("qid", F.col("rank").cast("long").alias("rank"),
                    "nid", "dist_sq"))


def sql_knn_k10_f64() -> str:
    return f"""
WITH pts AS (SELECT {points.f64_select_sql()} FROM lineitem),
q AS (SELECT pid AS qid, x AS qx, y AS qy FROM pts
      WHERE (qid % 101 = 7)),
d AS (SELECT q.qid, pts.pid AS nid,
             (pts.x - q.qx) * (pts.x - q.qx)
           + (pts.y - q.qy) * (pts.y - q.qy) AS dist_sq
      FROM q CROSS JOIN pts),
r AS (SELECT qid, nid, dist_sq,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist_sq, nid) AS rank
      FROM d)
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, dist_sq
FROM r WHERE rank <= 10"""


def q_range_count_f64(spark, sf_dir) -> DataFrame:
    """Range count over the float-mode index: integer box bounds,
    double coordinates (inclusive compares on int-valued bounds are the
    identical predicate in numpy, Spark and DuckDB)."""
    return range_count(get_index_f64(spark, sf_dir), BOXES)


def sql_range_count_f64() -> str:
    vals = fixtures.boxes_values_sql(BOXES)
    return f"""
SELECT b.box_id, count(p.pid) AS cnt
FROM {vals}
LEFT JOIN (SELECT {points.f64_select_sql()} FROM lineitem) p
  ON p.x BETWEEN b.bxlo AND b.bxhi AND p.y BETWEEN b.bylo AND b.byhi
GROUP BY b.box_id"""


def q_range_report_f64(spark, sf_dir) -> DataFrame:
    """Range report over the float-mode index: coordinates come back
    DOUBLE, hash-compared bit-for-bit against DuckDB's doubles."""
    return range_report(get_index_f64(spark, sf_dir), BOXES_SMALL)


def sql_range_report_f64() -> str:
    vals = fixtures.boxes_values_sql(BOXES_SMALL)
    return f"""
SELECT b.box_id, p.pid, p.x, p.y
FROM {vals}
JOIN (SELECT {points.f64_select_sql()} FROM lineitem) p
  ON p.x BETWEEN b.bxlo AND b.bxhi AND p.y BETWEEN b.bylo AND b.byhi"""


def q_circle_count_f64(spark, sf_dir) -> DataFrame:
    """Circle count over the float-mode index: integer centers/radii,
    double coordinates. dist² is a sum of two (sub, mul) chains on
    bit-identical doubles — IEEE-identical across numpy/Spark/DuckDB
    because each operand arrives exactly and every op is correctly
    rounded in the same order."""
    return circle_count(get_index_f64(spark, sf_dir), CIRCLES)


def sql_circle_count_f64() -> str:
    vals = fixtures.circles_values_sql(CIRCLES)
    return f"""
SELECT c.circle_id, count(p.pid) AS cnt
FROM {vals}
LEFT JOIN (SELECT {points.f64_select_sql()} FROM lineitem) p
  ON (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy)
     <= CAST(c.r AS DOUBLE) * CAST(c.r AS DOUBLE)
GROUP BY c.circle_id"""


def q_update_then_knn_f64(spark, sf_dir) -> DataFrame:
    """I1+D1 then kNN k=10, float mode — the tag=2 checkCorrect.sh
    workload over double coordinates (the reference's double test
    build runs the same insert/delete/query chain)."""
    idx = get_index_f64(spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_updf_lineitem")
    ins = spark.sql(points.insert_batch_f64_sql("_updf_lineitem"))
    dele = spark.sql(points.delete_batch_f64_sql("_updf_lineitem"))
    idx2 = idx.update(inserts=ins, deletes=dele)
    q = spark.sql(
        f"SELECT {points.f64_select_sql('qid')} FROM _updf_lineitem "
        f"WHERE {points.QUERY_FILTER_SQL}")
    return (knn_join(idx2, q, 10)
            .select("qid", F.col("rank").cast("long").alias("rank"),
                    "nid", "dist_sq"))


def sql_update_then_knn_f64() -> str:
    return f"""
WITH live AS (
  SELECT * FROM (SELECT {points.f64_select_sql()} FROM lineitem)
  WHERE pid NOT IN
    (SELECT pid FROM ({points.delete_batch_f64_sql('lineitem')}))
  UNION ALL
  SELECT pid, x, y FROM ({points.insert_batch_f64_sql('lineitem')})
),
q AS (SELECT pid AS qid, x AS qx, y AS qy
      FROM (SELECT {points.f64_select_sql()} FROM lineitem)
      WHERE (pid % 101 = 7)),
d AS (SELECT q.qid, live.pid AS nid,
             (live.x - q.qx) * (live.x - q.qx)
           + (live.y - q.qy) * (live.y - q.qy) AS dist_sq
      FROM q CROSS JOIN live),
r AS (SELECT qid, nid, dist_sq,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist_sq, nid) AS rank
      FROM d)
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, dist_sq
FROM r WHERE rank <= 10"""


# ------------------------------------------------------- polygon / raster

def q_point_in_polygon(spark, sf_dir) -> DataFrame:
    pts = points.load_points(spark, sf_dir, "uniform").select("pid", "x", "y")
    return point_in_polygon(pts, POLYGONS, grid=Grid(GRID_G))


def sql_point_in_polygon() -> str:
    return polygon_join_sql(f"SELECT pid, x, y FROM ({_pts_sql()})", POLYGONS)


def q_tile_cells(spark, sf_dir) -> DataFrame:
    return tile_cell_assign(spark, Grid(GRID_G), TILES)


def sql_tile_cells() -> str:
    return tile_cell_assign_sql(Grid(GRID_G), fixtures.tiles_values_sql(TILES))


POLY_A = fixtures.gen_convex_polygons(40, seed=61)
POLY_B = fixtures.gen_convex_polygons(60, seed=62)


def q_polygon_overlay(spark, sf_dir) -> DataFrame:
    """Convex polygon-polygon overlay join (queries/polygon.py
    polygon_join): SAT over nested exists/forall higher-order
    functions, cell-expand equi-join with reference-point dedup —
    zero Python. Oracle: independent SQL SAT via edge x vertex
    GROUP BY + bool_and/bool_or."""
    return polygon_join(polygons_df(spark, POLY_A, "pa"),
                        polygons_df(spark, POLY_B, "pb"),
                        grid=Grid(GRID_G))


def sql_polygon_overlay() -> str:
    return polygon_join_oracle_sql(
        fixtures.polygon_verts_values_sql(POLY_A, "vva"),
        fixtures.polygon_verts_values_sql(POLY_B, "vvb"))


DBSCAN_FILTER = "pid % 23 = 5"   # ~4% subset: keeps the oracle's
# cross-join quadratic term at DuckDB-friendly size
DBSCAN_EPS = 9_000
DBSCAN_MIN_PTS = 6


def q_dbscan(spark, sf_dir) -> DataFrame:
    """Distributed DBSCAN (queries/dbscan.py) over a deterministic
    varden subset — the density distribution with real clusters.
    Deterministic min-label semantics make the full (pid, cluster,
    kind) labeling oracle-able via a DuckDB recursive CTE."""
    from ..queries.dbscan import dbscan
    pts = points.load_points(spark, sf_dir, "varden") \
        .filter(DBSCAN_FILTER).select("pid", "x", "y")
    return dbscan(pts, DBSCAN_EPS, DBSCAN_MIN_PTS)


def sql_dbscan() -> str:
    e2 = DBSCAN_EPS * DBSCAN_EPS
    return f"""
WITH RECURSIVE
p AS (SELECT pid, x, y FROM ({_pts_sql('varden')}) WHERE {DBSCAN_FILTER}),
e AS (SELECT a.pid AS pa, b.pid AS pb FROM p a JOIN p b
      ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {e2}),
cnt AS (SELECT pa, count(*) AS n FROM e GROUP BY pa),
core AS (SELECT pa AS pid FROM cnt WHERE n >= {DBSCAN_MIN_PTS}),
ce AS (SELECT e.pa AS u, e.pb AS v FROM e
       JOIN core ca ON ca.pid = e.pa
       JOIN core cb ON cb.pid = e.pb
       WHERE e.pa <> e.pb),
r(id, lbl) AS (SELECT pid, pid FROM core
               UNION
               SELECT ce.v, r.lbl FROM r JOIN ce ON r.id = ce.u),
cl AS (SELECT id AS pid, MIN(lbl) AS cluster FROM r GROUP BY id),
border AS (SELECT e.pb AS pid, MIN(cl.cluster) AS cluster
           FROM e
           JOIN core c ON c.pid = e.pa
           JOIN cl ON cl.pid = e.pa
           WHERE e.pb NOT IN (SELECT pid FROM core)
           GROUP BY e.pb)
SELECT p.pid,
       COALESCE(cl.cluster, border.cluster) AS cluster,
       CASE WHEN cl.pid IS NOT NULL THEN 'core'
            WHEN border.pid IS NOT NULL THEN 'border'
            ELSE 'noise' END AS kind
FROM p
LEFT JOIN cl ON cl.pid = p.pid
LEFT JOIN border ON border.pid = p.pid"""


# ----------------------------------------------------- radius distance join

DIST_JOIN_R = 7_000  # ~9 partners/query at sf0.01 density


def q_distance_join(spark, sf_dir) -> DataFrame:
    """Bichromatic radius join (queries/joins.py): the ~1% query sample
    against the full uniform point set, all pairs within DIST_JOIN_R.
    Fully JVM-side (cell-expand + equi-join + codegen filter) — the
    one spatial primitive whose 100 TB plan needs no index blobs and
    no Python at all."""
    q = points.load_query_points(spark, sf_dir, "uniform") \
        .select(F.col("qid"), "x", "y")
    pts = points.load_points(spark, sf_dir, "uniform").select("pid", "x", "y")
    # grid=None -> r-sized cells (the candidate-blocking unit); the
    # result set is grid-independent, only the false-candidate volume
    # through the filter changes
    return distance_join(q, pts, DIST_JOIN_R,
                         left_id="qid", right_id="pid")


def q_rect_join(spark, sf_dir) -> DataFrame:
    """Rectangle-overlap join (queries/joins.py rect_join): window
    rects derived from the ~1% query sample against per-point extent
    rects over the full set — tile<->region matching, PBSM-style
    reference-point dedup, fully JVM-side. Extents are pure SQL
    arithmetic shared verbatim with the DuckDB oracle."""
    q = points.load_query_points(spark, sf_dir, "uniform")
    lt = q.selectExpr("qid", "x AS x0", "y AS y0",
                      "x + 10000 + (qid % 7) * 5000 AS x1",
                      "y + 10000 + (qid % 5) * 6000 AS y1")
    pts = points.load_points(spark, sf_dir, "uniform")
    rt = pts.selectExpr("pid", "x AS x0", "y AS y0",
                        "x + pid % 2000 AS x1", "y + pid % 1900 AS y1")
    # Grid(64): cw ~ 15.6k vs ~25k left extents -> a few cells per left
    # rect, 64x fewer same-cell false candidates than the 64-cell
    # driver grid; result set is grid-independent
    return rect_join(lt, rt, grid=Grid(64),
                     left_id="qid", right_id="pid")


def sql_rect_join() -> str:
    return f"""
WITH lt AS (SELECT qid, qx AS lx0, qy AS ly0,
                   qx + 10000 + (qid % 7) * 5000 AS lx1,
                   qy + 10000 + (qid % 5) * 6000 AS ly1
            FROM (SELECT qid, x AS qx, y AS qy FROM ({_q_sql()}))),
rt AS (SELECT pid, x AS rx0, y AS ry0, x + pid % 2000 AS rx1,
              y + pid % 1900 AS ry1 FROM ({_pts_sql()}))
SELECT lt.qid, rt.pid
FROM lt JOIN rt
  ON lx0 <= rx1 AND rx0 <= lx1 AND ly0 <= ry1 AND ry0 <= ly1"""


KDE_R = 25_000


def q_kernel_density(spark, sf_dir) -> DataFrame:
    """Epanechnikov KDE (queries/joins.py kernel_density): pure-int64
    finite-support density estimate, query sample vs full point set."""
    from ..queries.joins import kernel_density
    q = points.load_query_points(spark, sf_dir, "uniform") \
        .select("qid", "x", "y")
    pts = points.load_points(spark, sf_dir, "uniform").select("pid", "x", "y")
    return kernel_density(q, pts, KDE_R)


def sql_kernel_density() -> str:
    r2 = KDE_R * KDE_R
    return f"""
WITH q AS (SELECT qid, x AS qx, y AS qy FROM ({_q_sql()})),
p AS ({_pts_sql()})
SELECT q.qid,
       CAST(COALESCE(SUM({r2}::BIGINT
            - ((p.x - q.qx) * (p.x - q.qx)
               + (p.y - q.qy) * (p.y - q.qy))), 0) AS BIGINT) AS kde
FROM q LEFT JOIN p
  ON (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy)
     <= {r2}::BIGINT
GROUP BY q.qid"""


def q_closest_pair(spark, sf_dir) -> DataFrame:
    """Bichromatic closest pair (queries/joins.py closest_pair):
    query sample vs full point set, radius x4 per round over the cell
    join, deterministic (dist, qid, pid) tie-break."""
    from ..queries.joins import closest_pair
    q = points.load_query_points(spark, sf_dir, "uniform") \
        .select("qid", "x", "y")
    pts = points.load_points(spark, sf_dir, "uniform").select("pid", "x", "y")
    return closest_pair(q, pts, left_id="qid", right_id="pid")


def sql_closest_pair() -> str:
    return f"""
WITH q AS (SELECT qid, x AS qx, y AS qy FROM ({_q_sql()})),
p AS ({_pts_sql()}),
d AS (SELECT q.qid, p.pid,
             (p.x - q.qx) * (p.x - q.qx)
           + (p.y - q.qy) * (p.y - q.qy) AS dist_sq
      FROM q CROSS JOIN p)
SELECT qid, pid, dist_sq FROM d
ORDER BY dist_sq, qid, pid LIMIT 1"""


def sql_distance_join() -> str:
    r = DIST_JOIN_R
    return f"""
WITH pts AS ({_pts_sql()}),
q AS (SELECT qid, x AS qx, y AS qy FROM ({_q_sql()}))
SELECT q.qid, p.pid,
       (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy) AS dist_sq
FROM q JOIN pts p
  ON (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy)
     <= {r} * {r}"""


# ----------------------------------------------------- snapshot round-trip

def q_snapshot_roundtrip(spark, sf_dir) -> DataFrame:
    """Iceberg-semantics persistence gate (catalog.SnapshotStore): full
    commit -> batch insert -> INCREMENTAL commit (only touched buckets
    rewritten) -> load(CURRENT) -> range counts. The counts come from
    the re-read snapshot files, so the gate proves the checkpoint
    round-trip end to end, not just in-memory state."""
    import tempfile
    from ..catalog import SnapshotStore
    # fresh index (not the shared cache): updates must not leak into
    # other gates' cached index
    pts = points.load_points(spark, sf_dir, "uniform").select("pid", "x", "y")
    idx = SpatialIndex.build(spark, pts, grid=Grid(GRID_G))
    store = SnapshotStore(tempfile.mkdtemp(prefix="snapstore-"))
    base = store.commit(idx)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_snap_lineitem")
    ins = spark.sql(points.insert_batch_sql("_snap_lineitem"))
    idx2 = idx.update(inserts=ins)
    store.commit(idx2, parent=base)
    loaded = store.load(spark)  # CURRENT
    return range_count(loaded, BOXES_SMALL)


def sql_snapshot_roundtrip() -> str:
    vals = fixtures.boxes_values_sql(BOXES_SMALL)
    return f"""
WITH allpts AS (
  SELECT pid, x, y FROM ({_pts_sql()})
  UNION ALL
  SELECT pid, x, y FROM ({points.insert_batch_sql('lineitem')})
)
SELECT b.box_id, count(p.pid) AS cnt
FROM {vals}
LEFT JOIN allpts p
  ON p.x BETWEEN b.bxlo AND b.bxhi AND p.y BETWEEN b.bylo AND b.byhi
GROUP BY b.box_id"""


# ------------------------------------------------------------ d=16 (B1/Q1)

def get_index_d16(spark, sf_dir) -> SpatialIndex:
    key = (id(spark), sf_dir, "d16")
    if key not in _INDEX_CACHE:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        li.createOrReplaceTempView("_d16_lineitem")
        pts16 = spark.sql(
            f"SELECT {points.dimd_select_sql(16)} FROM _d16_lineitem")
        _INDEX_CACHE[key] = SpatialIndex.build(
            spark, pts16, grid=Grid(GRID_G_3D, dims=3),
            coord_cols=points.dim_cols(16))
    return _INDEX_CACHE[key]


def q_knn_k10_d16(spark, sf_dir) -> DataFrame:
    """d=16, the reference's max dim config (tests/test.cpp:569-617):
    grid cells key on the first two dims only, per-cell trees split all
    16; the full-d blob bbox keeps phase-2 pruning exact (weak at d=16
    by geometry — the audit metric to watch, not a correctness risk)."""
    idx = get_index_d16(spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_d16q_lineitem")
    q = spark.sql(
        f"SELECT {points.dimd_select_sql(16, 'qid')} FROM _d16q_lineitem "
        f"WHERE {points.QUERY_FILTER_SQL}")
    return (knn_join(idx, q, 10)
            .select("qid", F.col("rank").cast("long").alias("rank"),
                    "nid", "dist_sq"))


def sql_knn_k10_d16() -> str:
    cols = points.dim_cols(16)
    qsel = ", ".join([f"pid AS qid"] + [f"{c} AS q_{c}" for c in cols])
    dist = "\n           + ".join(
        f"(pts.{c} - q.q_{c}) * (pts.{c} - q.q_{c})" for c in cols)
    return f"""
WITH pts AS (SELECT {points.dimd_select_sql(16)} FROM lineitem),
q AS (SELECT {qsel} FROM pts WHERE (pid % 101 = 7)),
d AS (SELECT q.qid, pts.pid AS nid,
             {dist} AS dist_sq
      FROM q CROSS JOIN pts),
r AS (SELECT qid, nid, dist_sq,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist_sq, nid) AS rank
      FROM d)
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, dist_sq
FROM r WHERE rank <= 10"""


# ------------------------------------------------------------------ registry

QUERIES = {
    "cell_assign": q_cell_assign,
    "index_stats": q_index_stats,
    "range_count": q_range_count,
    "range_count_10k": q_range_count_10k,
    "range_report": q_range_report,
    "range_report_10k": q_range_report_10k,
    "circle_count": q_circle_count,
    "knn_k1": q_knn_k1,
    "knn_k10": q_knn_k10,
    "knn_k100": q_knn_k100,
    "knn_varden": q_knn_varden,
    "knn_ood": q_knn_ood,
    "hot_cell_knn": q_hot_cell_knn,
    "knn_k10_d3": q_knn_k10_d3,
    "insert_then_count": q_insert_then_count,
    "delete_then_count": q_delete_then_count,
    "update_then_knn": q_update_then_knn,
    "update_then_knn_d3": q_update_then_knn_d3,
    "update_then_knn_d5": q_update_then_knn_d5,
    "insert_ratio_sweep": q_insert_ratio_sweep,
    "delete_ratio_sweep": q_delete_ratio_sweep,
    "incr_build_and_query": q_incr_build_and_query,
    "knn_k10_d5": q_knn_k10_d5,
    "knn_k100_d5": q_knn_k100_d5,
    "knn_k10_d16": q_knn_k10_d16,
    "range_count_d5": q_range_count_d5,
    "range_report_d5": q_range_report_d5,
    "circle_count_d5": q_circle_count_d5,
    "knn_k10_f64": q_knn_k10_f64,
    "range_count_f64": q_range_count_f64,
    "range_report_f64": q_range_report_f64,
    "circle_count_f64": q_circle_count_f64,
    "update_then_knn_f64": q_update_then_knn_f64,
    "snapshot_roundtrip": q_snapshot_roundtrip,
    "sliding_window_count": q_sliding_window_count,
    "sliding_window_knn": q_sliding_window_knn,
    "knn_graph": q_knn_graph,
    "incremental_build": q_incremental_build,
    "incremental_delete": q_incremental_delete,
    "point_in_polygon": q_point_in_polygon,
    "tile_cells": q_tile_cells,
    "distance_join": q_distance_join,
    "rect_join": q_rect_join,
    "polygon_overlay": q_polygon_overlay,
    "dbscan": q_dbscan,
    "kernel_density": q_kernel_density,
    "closest_pair": q_closest_pair,
}

ORACLES = {
    "cell_assign": sql_cell_assign(),
    "index_stats": sql_cell_assign(),  # same ground truth, via the index
    "range_count": sql_range_count(),
    "range_count_10k": sql_range_count_10k(),
    "range_report": sql_range_report(),
    "range_report_10k": sql_range_report_10k(),
    "circle_count": sql_circle_count(),
    "knn_k1": _sql_knn(1),
    "knn_k10": _sql_knn(10),
    "knn_k100": _sql_knn(100),
    "knn_varden": _sql_knn(10, dist="varden"),
    "knn_ood": _sql_knn(10, dist="uniform", qdist="varden"),
    "hot_cell_knn": _sql_knn(10, dist="varden", qdist="uniform"),
    "knn_k10_d3": sql_knn_k10_d3(),
    "insert_then_count": sql_insert_then_count(),
    "delete_then_count": sql_delete_then_count(),
    "update_then_knn": sql_update_then_knn(),
    "update_then_knn_d3": sql_update_then_knn_d3(),
    "update_then_knn_d5": sql_update_then_knn_d5(),
    "insert_ratio_sweep": sql_insert_ratio_sweep(),
    "delete_ratio_sweep": sql_delete_ratio_sweep(),
    "incr_build_and_query": sql_incr_build_and_query(),
    "knn_k10_d5": sql_knn_k10_d5(),
    "knn_k100_d5": _sql_knn_d5(100),
    "knn_k10_d16": sql_knn_k10_d16(),
    "range_count_d5": sql_range_count_d5(),
    "range_report_d5": sql_range_report_d5(),
    "circle_count_d5": sql_circle_count_d5(),
    "knn_k10_f64": sql_knn_k10_f64(),
    "range_count_f64": sql_range_count_f64(),
    "range_report_f64": sql_range_report_f64(),
    "circle_count_f64": sql_circle_count_f64(),
    "update_then_knn_f64": sql_update_then_knn_f64(),
    "snapshot_roundtrip": sql_snapshot_roundtrip(),
    "sliding_window_count": sql_sliding_window_count(),
    "sliding_window_knn": sql_sliding_window_knn(),
    "knn_graph": sql_knn_graph(),
    "incremental_build": sql_incremental_build(),
    "incremental_delete": sql_incremental_delete(),
    "point_in_polygon": sql_point_in_polygon(),
    "tile_cells": sql_tile_cells(),
    "distance_join": sql_distance_join(),
    "rect_join": sql_rect_join(),
    "polygon_overlay": sql_polygon_overlay(),
    "dbscan": sql_dbscan(),
    "kernel_density": sql_kernel_density(),
    "closest_pair": sql_closest_pair(),
}
