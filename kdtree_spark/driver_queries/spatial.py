"""Driver-gate spatial queries: each returns a DataFrame and has a
matching DuckDB oracle SQL over the same parquet views.

Every callable takes (spark, sf_dir). Outputs use BIGINT columns with
names identical to the oracle's aliases (the driver hash-compares after
sorting columns by name).

Most gates are rows of one spec table, `_GATES`, which writes the
reference's correctness matrix (distribution x d x query type x update
tag, checkCorrect.sh) down once: `_spark_gate` runs a row on the engine
and `_oracle` writes its DuckDB truth. One-of-a-kind gates stay
hand-written, as (callable, oracle) pairs in the same table. Full-set
indexes are memoized per (session, sf_dir, source, build).
"""

from __future__ import annotations

from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures, points
from ..grid import Grid
from ..index import HOT_CELL_CAP, SpatialIndex
from ..queries.joins import (closest_pair, distance_join, kernel_density,
                             rect_join)
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
BOXES_D5 = fixtures.gen_boxes_d(24, 5)
CIRCLES = fixtures.gen_circles(15)
CIRCLES_D5 = fixtures.gen_circles_d(15, 5)
POLYGONS = fixtures.gen_polygons(8)
TILES = fixtures.gen_tiles(12)
POLY_A = fixtures.gen_convex_polygons(40, seed=61)
POLY_B = fixtures.gen_convex_polygons(60, seed=62)

KNN_GRAPH_FILTER = f"({points.PID_SQL} % 211 = 3)"  # ~0.5% of nodes

_VIEW = "_gate_lineitem"  # Spark's name for the table DuckDB calls lineitem
_INDEX_CACHE: dict = {}


# ------------------------------------------------------------- spec records

class _Src(NamedTuple):
    """Point source over lineitem: distribution x d x dtype."""
    dist: str = "uniform"
    d: int = 2
    f64: bool = False

    @property
    def cols(self) -> tuple:
        return points.dim_cols(self.d)

    def select(self) -> str:
        # pid and the coordinates; at d=2 int also the time slice
        if self.f64:
            return points.f64_select_sql()
        if self.d == 2:
            return points.points_select_sql(self.dist)
        return points.dimd_select_sql(self.d)

    def grid(self) -> Grid:
        if self.d == 2:
            return Grid(GRID_G)
        if self.d == 5:
            # 4-D cell key, 3^4 = 81 cells (~the 64-cell budget): measured
            # sweep at sf0.1 — (4,3)=4.34, (3,4)=3.74, (2,5)=2.85 candidate
            # cells/query; (3,4) meets the <4 target with 81-cell
            # parallelism and the fastest kNN wall of the >=64-cell options
            return Grid(3, dims=4)
        # 3-D cell key (same ~64-cell budget as the 2-D Grid(8)): the
        # candidate region prunes in three dims, not a z-degenerate two
        return Grid(GRID_G_3D, dims=3)

    # batches: (source, table) -> SQL of the points inserted / deleted
    def insert_sql(self, table: str) -> str:
        if self.f64:
            return points.insert_batch_f64_sql(table)
        return points.insert_batch_sql(table, self.d)

    def delete_sql(self, table: str) -> str:
        if self.f64:
            return points.delete_batch_f64_sql(table)
        return points.delete_batch_sql(table, self.dist, self.d)


class _Build(NamedTuple):
    """Memoized full-set build (where=None) or fresh slice build."""
    where: str | None = None
    hot_cell_cap: int = HOT_CELL_CAP


class _Q(NamedTuple):
    """kNN query set: a lineitem filter over `dist` (default: src's)."""
    dist: str | None = None
    where: str = points.QUERY_FILTER_SQL


class _Gate(NamedTuple):
    src: _Src
    op: tuple  # ("knn", k) | ("count" | "report", boxes) | ("ball", circles)
    qs: _Q = _Q()
    build: _Build = _Build()
    steps: tuple = ()  # (label, insert batch | None, delete batch | None)
    probe: tuple = ()  # labels of the steps probed, each leg tagged with
    # a `step` column; () probes the final state only, untagged


def _base_sql(src: _Src, build: _Build, table: str) -> str:
    sql = (f"SELECT pid, {', '.join(src.cols)} "
           f"FROM (SELECT {src.select()} FROM {table})")
    return f"{sql} WHERE {build.where}" if build.where else sql


def _query_sql(g: _Gate, table: str) -> str:
    sel = g.src._replace(dist=g.qs.dist or g.src.dist).select()
    return (f"SELECT pid AS qid, {', '.join(g.src.cols)} FROM "
            f"(SELECT {sel} FROM {table} WHERE {g.qs.where})")


def _slices(lo: int, hi: int):
    return lambda src, table: _base_sql(
        src, _Build(where=f"slice BETWEEN {lo} AND {hi}"), table)


def _sweep(fn, step: int):
    return lambda src, table: fn(table, step)


# ---------------------------------------------------------- Spark interpreter

def _sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .createOrReplaceTempView(_VIEW)
    return spark.sql(sql)


def _key(spark: SparkSession, sf_dir: str, src: _Src,
         build: _Build = _Build()) -> tuple:
    return (id(spark), sf_dir, src, build)


def _index(spark: SparkSession, sf_dir: str, src: _Src,
           build: _Build = _Build()) -> SpatialIndex:
    """One memoized index per (source, build) for a full-set build; a
    fresh one for a slice-filtered build."""
    key = _key(spark, sf_dir, src, build)
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    idx = SpatialIndex.build(
        spark, _sql(spark, sf_dir, _base_sql(src, build, _VIEW)),
        grid=src.grid(), hot_cell_cap=build.hot_cell_cap,
        coord_cols=src.cols)
    if build.where is None:
        _INDEX_CACHE[key] = idx
    return idx


def _probe(g: _Gate, idx: SpatialIndex, q: DataFrame | None) -> DataFrame:
    kind, arg = g.op
    if kind == "knn":
        return (knn_join(idx, q, arg)
                .select("qid", F.col("rank").cast("long").alias("rank"),
                        "nid", "dist_sq"))
    return {"count": range_count, "report": range_report,
            "ball": circle_count}[kind](idx, arg)


def _spark_gate(g: _Gate):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        idx = _index(spark, sf_dir, g.src, g.build)
        q = (_sql(spark, sf_dir, _query_sql(g, _VIEW))
             if g.op[0] == "knn" else None)

        def batch(b):
            return b and _sql(spark, sf_dir, b(g.src, _VIEW))

        legs = []
        for label, ins, dele in g.steps:
            idx = idx.update(inserts=batch(ins), deletes=batch(dele))
            if label in g.probe:
                legs.append(_probe(g, idx, q).select(
                    F.lit(label).cast("long").alias("step"), "*"))
        return reduce(DataFrame.unionByName, legs) if legs else \
            _probe(g, idx, q)
    return run


# --------------------------------------------------------- oracle interpreter

def _oracle_op(g: _Gate, live: str, step: str) -> str:
    """The gate's op over the point set `live`; `step` is the leading
    select item that tags a probed step ("" when untagged)."""
    kind, arg = g.op
    cols, d = g.src.cols, g.src.d
    if kind == "knn":
        dist = " + ".join(f"(p.{c} - q.{c}) * (p.{c} - q.{c})" for c in cols)
        return f"""
SELECT {step}qid, CAST(rank AS BIGINT) AS rank, nid, dist_sq
FROM (SELECT qid, nid, dist_sq,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY dist_sq, nid) AS rank
      FROM (SELECT q.qid, p.pid AS nid, {dist} AS dist_sq
            FROM ({_query_sql(g, 'lineitem')}) q CROSS JOIN ({live}) p))
WHERE rank <= {arg}"""
    if kind == "ball":
        ctr = ["cx", "cy"] + [f"ctr{j}" for j in range(2, d)]
        dist = " + ".join(f"(p.{c} - c.{k}) * (p.{c} - c.{k})"
                          for c, k in zip(cols, ctr))
        r = f"CAST(c.r AS {'DOUBLE' if g.src.f64 else 'BIGINT'})"
        return f"""
SELECT {step}c.circle_id, count(p.pid) AS cnt
FROM {fixtures.circles_values_sql_d(arg, d)}
LEFT JOIN ({live}) p ON {dist} <= {r} * {r}
GROUP BY c.circle_id"""
    lo = ["bxlo", "bylo"] + [f"blo{j}" for j in range(2, d)]
    hi = ["bxhi", "byhi"] + [f"bhi{j}" for j in range(2, d)]
    pred = " AND ".join(f"p.{c} BETWEEN b.{l} AND b.{h}"
                        for c, l, h in zip(cols, lo, hi))
    vals = fixtures.boxes_values_sql_d(arg, d)
    if kind == "report":
        return f"""
SELECT {step}b.box_id, p.pid, {', '.join(f'p.{c}' for c in cols)}
FROM {vals}
JOIN ({live}) p ON {pred}"""
    return f"""
SELECT {step}b.box_id, count(p.pid) AS cnt
FROM {vals}
LEFT JOIN ({live}) p ON {pred}
GROUP BY b.box_id"""


def _oracle(g: _Gate) -> str:
    """The live set after a step is the base build plus every insert so
    far, anti-joined by pid against every delete so far."""
    cols = ", ".join(("pid",) + g.src.cols)
    parts = [_base_sql(g.src, g.build, "lineitem")]
    dels: list = []
    states = [(None, parts[0])]
    for label, ins, dele in g.steps:
        if ins:
            parts.append(f"SELECT {cols} FROM ({ins(g.src, 'lineitem')})")
        if dele:
            dels.append(f"SELECT pid FROM ({dele(g.src, 'lineitem')})")
        live = "\n  UNION ALL\n  ".join(parts)
        if dels:
            live = (f"SELECT * FROM ({live})\n  WHERE pid NOT IN ("
                    + "\n  UNION ALL\n  ".join(dels) + ")")
        states.append((label, live))
    if not g.probe:
        return _oracle_op(g, states[-1][1], "")
    return "\nUNION ALL\n".join(
        _oracle_op(g, live, f"CAST({label} AS BIGINT) AS step, ")
        for label, live in states[1:] if label in g.probe)


# -------------------------------------------------------- hand-written gates

def q_cell_assign(spark, sf_dir) -> DataFrame:
    """B4: vectorized cell-id assignment, aggregated per cell."""
    g = Grid(GRID_G)
    pts = points.load_points(spark, sf_dir, "uniform")
    return (pts.selectExpr(f"{g.cell_sql(['x', 'y'], False)} AS cell")
            .groupBy("cell").agg(F.count("*").alias("cnt")))


def sql_cell_assign() -> str:
    g = Grid(GRID_G)
    return (f"SELECT {g.duckdb_cell_sql()} AS cell, count(*) AS cnt "
            f"FROM ({points.points_sql()}) GROUP BY 1")


def q_index_stats(spark, sf_dir) -> DataFrame:
    """B1-B7 structural check: per-cell live counts out of the built index."""
    idx = _index(spark, sf_dir, _U2)
    return idx.df.groupBy("cell").agg(F.sum("cnt").alias("cnt"))


def q_point_in_polygon(spark, sf_dir) -> DataFrame:
    pts = points.load_points(spark, sf_dir, "uniform").select("pid", "x", "y")
    return point_in_polygon(pts, POLYGONS, grid=Grid(GRID_G))


def q_tile_cells(spark, sf_dir) -> DataFrame:
    return tile_cell_assign(spark, Grid(GRID_G), TILES)


def q_polygon_overlay(spark, sf_dir) -> DataFrame:
    """Convex polygon-polygon overlay join (queries/polygon.py
    polygon_join): SAT over nested exists/forall higher-order
    functions, cell-expand equi-join with reference-point dedup —
    zero Python. Oracle: independent SQL SAT via edge x vertex
    GROUP BY + bool_and/bool_or."""
    return polygon_join(polygons_df(spark, POLY_A, "pa"),
                        polygons_df(spark, POLY_B, "pb"),
                        grid=Grid(GRID_G))


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
p AS (SELECT pid, x, y FROM ({points.points_sql('lineitem', 'varden')})
      WHERE {DBSCAN_FILTER}),
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


# The point-pair joins run the ~1% uniform query sample q (qid, qx, qy)
# against the full uniform point set p (pid, x, y); _D2 is their dist².
_QP_SQL = f"""WITH q AS (SELECT qid, x AS qx, y AS qy
           FROM ({points.query_points_sql()})),
p AS ({points.points_sql()})"""
_D2 = "(p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy)"
DIST_JOIN_R = 7_000  # ~9 partners/query at sf0.01 density
KDE_R = 25_000


def _q_and_pts(spark, sf_dir) -> tuple[DataFrame, DataFrame]:
    return (points.load_query_points(spark, sf_dir, "uniform"),
            points.load_points(spark, sf_dir, "uniform")
            .select("pid", "x", "y"))


def q_distance_join(spark, sf_dir) -> DataFrame:
    """Bichromatic radius join (queries/joins.py): the ~1% query sample
    against the full uniform point set, all pairs within DIST_JOIN_R.
    Fully JVM-side (cell-expand + equi-join + codegen filter) — the
    one spatial primitive whose 100 TB plan needs no index blobs and
    no Python at all."""
    q, pts = _q_and_pts(spark, sf_dir)
    # grid=None -> r-sized cells (the candidate-blocking unit); the
    # result set is grid-independent, only the false-candidate volume
    # through the filter changes
    return distance_join(q, pts, DIST_JOIN_R,
                         left_id="qid", right_id="pid")


SQL_DISTANCE_JOIN = f"""
{_QP_SQL}
SELECT q.qid, p.pid, {_D2} AS dist_sq
FROM q JOIN p ON {_D2} <= {DIST_JOIN_R} * {DIST_JOIN_R}"""


def q_rect_join(spark, sf_dir) -> DataFrame:
    """Rectangle-overlap join (queries/joins.py rect_join): window
    rects derived from the ~1% query sample against per-point extent
    rects over the full set — tile<->region matching, PBSM-style
    reference-point dedup, fully JVM-side. Extents are pure SQL
    arithmetic shared verbatim with the DuckDB oracle."""
    q, pts = _q_and_pts(spark, sf_dir)
    lt = q.selectExpr("qid", "x AS x0", "y AS y0",
                      "x + 10000 + (qid % 7) * 5000 AS x1",
                      "y + 10000 + (qid % 5) * 6000 AS y1")
    rt = pts.selectExpr("pid", "x AS x0", "y AS y0",
                        "x + pid % 2000 AS x1", "y + pid % 1900 AS y1")
    # Grid(64): cw ~ 15.6k vs ~25k left extents -> a few cells per left
    # rect, 64x fewer same-cell false candidates than the 64-cell
    # driver grid; result set is grid-independent
    return rect_join(lt, rt, grid=Grid(64),
                     left_id="qid", right_id="pid")


SQL_RECT_JOIN = f"""
{_QP_SQL},
lt AS (SELECT qid, qx AS lx0, qy AS ly0,
              qx + 10000 + (qid % 7) * 5000 AS lx1,
              qy + 10000 + (qid % 5) * 6000 AS ly1 FROM q),
rt AS (SELECT pid, x AS rx0, y AS ry0, x + pid % 2000 AS rx1,
              y + pid % 1900 AS ry1 FROM p)
SELECT lt.qid, rt.pid
FROM lt JOIN rt
  ON lx0 <= rx1 AND rx0 <= lx1 AND ly0 <= ry1 AND ry0 <= ly1"""


def q_kernel_density(spark, sf_dir) -> DataFrame:
    """Epanechnikov KDE (queries/joins.py kernel_density): pure-int64
    finite-support density estimate, query sample vs full point set."""
    q, pts = _q_and_pts(spark, sf_dir)
    return kernel_density(q, pts, KDE_R)


SQL_KERNEL_DENSITY = f"""
{_QP_SQL}
SELECT q.qid,
       CAST(COALESCE(SUM({KDE_R ** 2}::BIGINT - ({_D2})), 0) AS BIGINT) AS kde
FROM q LEFT JOIN p ON {_D2} <= {KDE_R ** 2}::BIGINT
GROUP BY q.qid"""


def q_closest_pair(spark, sf_dir) -> DataFrame:
    """Bichromatic closest pair (queries/joins.py closest_pair):
    query sample vs full point set, radius x4 per round over the cell
    join, deterministic (dist, qid, pid) tie-break."""
    q, pts = _q_and_pts(spark, sf_dir)
    return closest_pair(q, pts, left_id="qid", right_id="pid")


SQL_CLOSEST_PAIR = f"""
{_QP_SQL}
SELECT q.qid, p.pid, {_D2} AS dist_sq FROM q CROSS JOIN p
ORDER BY dist_sq, qid, pid LIMIT 1"""


def q_snapshot_roundtrip(spark, sf_dir) -> DataFrame:
    """Iceberg-semantics persistence gate (catalog.SnapshotStore): full
    commit -> batch insert -> INCREMENTAL commit (only touched buckets
    rewritten) -> load(CURRENT) -> range counts. The counts come from
    the re-read snapshot files, so the gate proves the checkpoint
    round-trip end to end, not just in-memory state. They are taken
    before the store's directory is removed: the gate returns them as
    a local frame, and leaves no file behind."""
    import shutil
    import tempfile
    from ..catalog import SnapshotStore
    # fresh index (not the shared cache): updates must not leak into
    # other gates' cached index
    pts = points.load_points(spark, sf_dir, "uniform").select("pid", "x", "y")
    idx = SpatialIndex.build(spark, pts, grid=Grid(GRID_G))
    root = tempfile.mkdtemp(prefix="snapstore-")
    try:
        store = SnapshotStore(root)
        base = store.commit(idx)
        idx2 = idx.update(inserts=_sql(spark, sf_dir,
                                       _U2.insert_sql(_VIEW)))
        store.commit(idx2, parent=base)
        idx.unpersist(successor=idx2)
        idx2.unpersist()
        got = range_count(store.load(spark), BOXES_SMALL)  # CURRENT
        return spark.createDataFrame(got.collect(), got.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------------------------------------------ registry

_U2, _V2, _F64 = _Src(), _Src("varden"), _Src(f64=True)
_U3, _U5, _U16 = _Src(d=3), _Src(d=5), _Src(d=16)
_SLICE0 = _Build(where="slice = 0")
_INSERT = ((1, _Src.insert_sql, None),)
# one insert + delete batch before querying: the tag=2 workload of
# script/checkCorrect.sh (batch ops dim-templated, batch_insert.hpp:60-191)
_UPDATE = ((1, _Src.insert_sql, _Src.delete_sql),)
# insertOsmByTime analogue (testFramework.h:818-870): 10 time slices,
# window length 5 — insert slice t, evict slice t-5
_WINDOW = tuple((t, _slices(t, t), _slices(t - 5, t - 5) if t >= 5 else None)
                for t in range(1, 10))
_LEGS = tuple(range(1, len(points.SWEEP_LEGS) + 1))
_PROBES = _Q(where=points.PROBE_FILTER_SQL)  # fixed ~0.1% probe set

# Spec rows and hand-written (callable, oracle) pairs, in driver order.
_GATES: dict = {
    "cell_assign": (q_cell_assign, sql_cell_assign()),
    "index_stats": (q_index_stats, sql_cell_assign()),  # via the index
    "range_count": _Gate(_U2, ("count", BOXES)),
    # H4 rangeCountFix at reference scale: 10,000 generated rectangles
    # (testFramework.h:617-648) — measures the range path above its
    # per-job latency floor
    "range_count_10k": _Gate(_U2, ("count", BOXES_10K)),
    "range_report": _Gate(_U2, ("report", BOXES_SMALL)),
    # H5 rangeQueryFix at reference recNum=10000 (testFramework.h:
    # 680-713): materializing range REPORT over 10,000 small rects —
    # exercises the report path's output volume above its per-job
    # latency floor (the count-only 10k gate cannot)
    "range_report_10k": _Gate(_U2, ("report", BOXES_10K_REPORT)),
    "circle_count": _Gate(_U2, ("ball", CIRCLES)),
    "knn_k1": _Gate(_U2, ("knn", 1)),
    "knn_k10": _Gate(_U2, ("knn", 10)),
    "knn_k100": _Gate(_U2, ("knn", 100)),
    # skew path: variable-density clusters (hot cells + salting)
    "knn_varden": _Gate(_V2, ("knn", 10)),
    # H11: build on uniform, query with varden-derived points
    "knn_ood": _Gate(_U2, ("knn", 10), _Q("varden")),
    # North-rule skew path, oracle-gated: build over the varden clusters
    # with hot_cell_cap=512 so the dense cells salt into >=4 blobs
    # (index.FANOUT_MIN_BLOBS), whose kNN searches run blob by blob
    # without the cold cells' forced bound tighten — at the default
    # 131,072-row cap no gate-scale cell ever salts, so without this
    # gate the salted query path had pytest coverage only. Queries
    # come from the uniform sample (also keeps the result distinct from
    # knn_varden's). Reference analogue: kdTreeParallel.h's par_do
    # subtree parallelism — one dense subtree never serializes on one
    # worker there either.
    "hot_cell_knn": _Gate(_V2, ("knn", 10), _Q("uniform"),
                          _Build(hot_cell_cap=512)),
    # 3-D kNN: per-cell trees split on (x,y,z) max-stretch — the
    # reference's d=3 configuration (tests/test.cpp:569-617)
    "knn_k10_d3": _Gate(_U3, ("knn", 10)),
    # I1 batch insert / D1-D2 batch delete -> range counts
    "insert_then_count": _Gate(_U2, ("count", BOXES), steps=_INSERT),
    "delete_then_count": _Gate(_U2, ("count", BOXES),
                               steps=((1, None, _Src.delete_sql),)),
    "update_then_knn": _Gate(_U2, ("knn", 10), steps=_UPDATE),
    "update_then_knn_d3": _Gate(_U3, ("knn", 10), steps=_UPDATE),
    # d=5 exactly as script/checkCorrect.sh:3-47 runs tag=2
    "update_then_knn_d5": _Gate(_U5, ("knn", 10), steps=_UPDATE),
    # H2: cumulative insert legs at ratios ~{1e-4,1e-3,1e-2,0.1}
    # (tests/test.cpp:55-72), range counts after each leg
    "insert_ratio_sweep": _Gate(
        _U2, ("count", BOXES_SMALL), probe=_LEGS,
        steps=tuple((s, _sweep(points.sweep_insert_sql, s), None)
                    for s in _LEGS)),
    # H2 delete legs at the same ratios (overlapping moduli; repeated
    # deletes of an id are ignored — partial-cover semantics,
    # batch_delete.hpp:95-107)
    "delete_ratio_sweep": _Gate(
        _U2, ("count", BOXES_SMALL), probe=_LEGS,
        steps=tuple((s, None, _sweep(points.sweep_delete_sql, s))
                    for s in _LEGS)),
    # H9 incrementalBuildAndQuery (testFramework.h:873-929): build from
    # slice 0, insert slices 1..9 in three chunks of three slices each
    # (within the reference's own step sizes 0.1-0.5·n, test.cpp:53-74),
    # probing k=1 kNN after each chunk (states after slices 3, 6, 9 —
    # the same truth as single-slice stepping, at half the per-job
    # latency floors)
    "incr_build_and_query": _Gate(
        _U2, ("knn", 1), _PROBES, _SLICE0, probe=(3, 6, 9),
        steps=tuple((t, _slices(t - 2, t), None) for t in (3, 6, 9))),
    # d=5 configuration (tests/test.cpp:584): per-cell trees split all
    # 5 dims; cell pruning degrades with d (measured in bench via
    # knn_candidates cells-per-query) but stays exact
    "knn_k10_d5": _Gate(_U5, ("knn", 10)),
    # k=100 at d=5 — the reference sweep varies k and d independently
    # (script/checkCorrect.sh, tests/test.cpp:84-96); exercises the
    # large-k super-stats fallback against the high-d candidate path
    "knn_k100_d5": _Gate(_U5, ("knn", 100)),
    # d=16, the reference's max dim config (tests/test.cpp:569-617):
    # per-cell trees split all 16 dims; the full-d blob bbox keeps
    # phase-2 pruning exact (weak at d=16 by geometry — the audit
    # metric to watch, not a correctness risk)
    "knn_k10_d16": _Gate(_U16, ("knn", 10)),
    # checkCorrect.sh runs queryType 1 (count) and 2 (report) at d=5,
    # and the ball count is dim-templated too (range_count.hpp:99-131):
    # cells key on the grid's dims, classification and the kernel scan
    # use all 5
    "range_count_d5": _Gate(_U5, ("count", BOXES_D5)),
    "range_report_d5": _Gate(_U5, ("report", BOXES_D5)),
    "circle_count_d5": _Gate(_U5, ("ball", CIRCLES_D5)),
    # Float-coordinate mode: double coords end to end (the reference's
    # double test build, comparator.h:10-79; tests/testFramework.h:19-20)
    # — blobs, stats, probes and distances all run in IEEE float64, and
    # dist_sq stays DOUBLE. Tie-break rule divergence vs the reference:
    # the reference's Num_Comparator treats |a-b| < eps as equal and
    # breaks remaining ties by point order; here (and in the DuckDB
    # oracle) floats compare exactly and ties break on (dist_sq, nid) —
    # points whose distances differ by < eps can therefore rank in the
    # opposite order from the reference, though identically to any
    # engine doing exact IEEE comparison.
    "knn_k10_f64": _Gate(_F64, ("knn", 10)),
    # integer box bounds and centers/radii over double coordinates:
    # inclusive compares on int-valued bounds are the identical
    # predicate in numpy, Spark and DuckDB; report coordinates come back
    # DOUBLE bit-for-bit; dist² is a sum of (sub, mul) chains on
    # bit-identical doubles, correctly rounded in the same order
    "range_count_f64": _Gate(_F64, ("count", BOXES)),
    "range_report_f64": _Gate(_F64, ("report", BOXES_SMALL)),
    "circle_count_f64": _Gate(_F64, ("ball", CIRCLES)),
    "update_then_knn_f64": _Gate(_F64, ("knn", 10), steps=_UPDATE),
    # truth: the uniform-2D insert-then-count over BOXES_SMALL
    "snapshot_roundtrip": (q_snapshot_roundtrip, _oracle(
        _Gate(_U2, ("count", BOXES_SMALL), steps=_INSERT))),
    "sliding_window_count": _Gate(_V2, ("count", BOXES), build=_SLICE0,
                                  steps=_WINDOW),
    # the reference's per-slice kNN probe (testFramework.h:859-861):
    # proves bound-correctness of the kNN seed/prune chain over a
    # 9-generation delta-versioned index, not a fresh build
    "sliding_window_knn": _Gate(_V2, ("knn", 10), _PROBES, _SLICE0,
                                _WINDOW, probe=tuple(range(1, 10))),
    # H10 generate_knn: k=5 adjacency for a deterministic node sample
    # (a full self-kNN graph at sf0.01 would need a 3.6e9-pair oracle;
    # the sampled graph exercises the identical engine path)
    "knn_graph": _Gate(_U2, ("knn", 5), _Q(where=KNN_GRAPH_FILTER)),
    # H7 incrementalBuild: build from slice 0, insert slices 1..9 one
    # at a time — same truth as a bulk build
    "incremental_build": _Gate(
        _U2, ("count", BOXES_SMALL), build=_SLICE0,
        steps=tuple((t, _slices(t, t), None) for t in range(1, 10))),
    # H7 incrementalDelete: bulk build, then delete slices 0..4 one at
    # a time; final live set = slices 5..9
    "incremental_delete": _Gate(
        _U2, ("count", BOXES_SMALL),
        steps=tuple((t, None, _slices(t, t)) for t in range(5))),
    "point_in_polygon": (q_point_in_polygon, polygon_join_sql(
        f"SELECT pid, x, y FROM ({points.points_sql()})", POLYGONS)),
    "tile_cells": (q_tile_cells, tile_cell_assign_sql(
        Grid(GRID_G), fixtures.tiles_values_sql(TILES))),
    "distance_join": (q_distance_join, SQL_DISTANCE_JOIN),
    "rect_join": (q_rect_join, SQL_RECT_JOIN),
    "polygon_overlay": (q_polygon_overlay, polygon_join_oracle_sql(
        fixtures.polygon_verts_values_sql(POLY_A, "vva"),
        fixtures.polygon_verts_values_sql(POLY_B, "vvb"))),
    "dbscan": (q_dbscan, sql_dbscan()),
    "kernel_density": (q_kernel_density, SQL_KERNEL_DENSITY),
    "closest_pair": (q_closest_pair, SQL_CLOSEST_PAIR),
}

QUERIES = {n: _spark_gate(g) if isinstance(g, _Gate) else g[0]
           for n, g in _GATES.items()}
ORACLES = {n: _oracle(g) if isinstance(g, _Gate) else g[1]
           for n, g in _GATES.items()}
