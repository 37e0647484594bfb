"""Point-in-polygon join + raster-tile<->cell assignment.

No reference counterpart (BASELINE.json adds these on top of the kd-tree
suite); they reuse the same cell-join/box-pruning skeleton.

Point-in-polygon: convex CCW polygons become a conjunction of integer
half-plane predicates — pure Spark SQL expressions, whole-stage
codegen'd, no UDF. The polygon's bbox is a leading conjunct so Catalyst
pushes it into the parquet scan (min/max pruning); at index level the
bbox also prunes cells. Small polygon sets broadcast naturally (they are
literals in the plan).

Raster assignment: a tile's covered cell ids are two integer ranges —
`Grid.cover` JVM-side, no UDF, the same clamp as the DuckDB oracle's
generate_series/unnest.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import polygon_bbox, polygon_pred_sql
from ..grid import Grid

BROADCAST_CELL_CAP = 1_000_000  # max enumerated (polygon, cell) rows to
# pin as the broadcast join side (~50 MB); beyond it AQE decides


def point_in_polygon(points: DataFrame, polygons,
                     grid: Grid | None = None) -> DataFrame:
    """points: (pid, x, y); polygons: [(poly_id, [(x,y),...])] (convex CCW).

    -> (poly_id, pid, x, y): every point inside each polygon (inclusive
    of edges). ONE scan, cell-indexed: each polygon's bbox expands to
    its covered grid cells SPARK-SIDE (`Grid.cover`, exactly
    like tile_cell_assign — the driver ships only one tiny row per
    polygon, never O(covered cells), so a domain-sized polygon over a
    1e8-cell grid costs the driver nothing); the join is an equi-join
    on the cell id, and the half-plane conjunction is a JVM-side
    `forall` over edge structs. The polygon-cell side carries an
    explicit broadcast hint ONLY while its exact enumerated row count
    (known driver-side from the bboxes) stays under
    BROADCAST_CELL_CAP — at test scale Catalyst's size-based choice
    happily broadcasts the tiny points parquet instead, which is
    exactly backwards at 10^12 points; above the cap (domain-sized
    polygons over a fine grid would enumerate O(g²) rows each) the
    hint is withheld and AQE picks shuffle vs broadcast from observed
    sizes — never a nested loop either way. At 10^12 points the cell
    equi-join prunes to the polygons' cells (partition pruning when
    points are stored cell-partitioned)."""
    spark = points.sparkSession
    grid = grid or Grid(8)
    assert grid.dims == 2, "point_in_polygon is planar (2-D grids only)"
    rows = []
    for poly_id, verts in polygons:
        x0, y0, x1, y1 = polygon_bbox(verts)
        k = len(verts)
        edges = [(int(verts[j][0]), int(verts[j][1]),
                  int(verts[(j + 1) % k][0] - verts[j][0]),
                  int(verts[(j + 1) % k][1] - verts[j][1]))
                 for j in range(k)]
        rows.append((int(poly_id), int(x0), int(y0), int(x1), int(y1),
                     edges))
    pdf = spark.createDataFrame(
        rows, "poly_id long, px0 long, py0 long, px1 long, "
              "py1 long, edges array<struct<ax:long, ay:long, dx:long, "
              "dy:long>>")
    cells = grid.cover(pdf, [("px0", "px1"), ("py0", "py1")], False,
                       grid.level)
    pts = points.selectExpr("pid", "x", "y",
                            f"{grid.cell_sql(['x', 'y'], False)} AS _cell")
    # exact enumerated (polygon, cell) row count, from the driver-side
    # twin of the cover — O(#polygons) driver work
    n_cells = sum(math.prod(len(c) for c in
                            grid.cover_ranges(row[1:3], row[3:5]))
                  for row in rows)
    # pin the polygon-cell side as broadcast so the point table never
    # shuffles — but only while that side provably fits an executor
    # (~50 MB at ~48 B/row); beyond the cap, withhold the hint and let
    # AQE plan from observed sizes (see docstring)
    cells_side = (F.broadcast(cells) if n_cells <= BROADCAST_CELL_CAP
                  else cells)
    j = (pts.join(cells_side, "_cell")
         .filter((F.col("x") >= F.col("px0")) & (F.col("x") <= F.col("px1"))
                 & (F.col("y") >= F.col("py0"))
                 & (F.col("y") <= F.col("py1"))))
    inside = F.expr(
        "forall(edges, e -> e.dx * (y - e.ay) - e.dy * (x - e.ax) >= 0)")
    return j.filter(inside).select("poly_id", "pid", "x", "y")


def polygon_join_sql(table_points_sql: str, polygons) -> str:
    """DuckDB oracle: same predicates over the same derived points."""
    selects = []
    for poly_id, verts in polygons:
        x0, y0, x1, y1 = polygon_bbox(verts)
        pred = polygon_pred_sql(verts, "x", "y")
        selects.append(
            f"SELECT {poly_id} AS poly_id, pid, x, y FROM "
            f"({table_points_sql}) WHERE x >= {x0} AND x <= {x1} "
            f"AND y >= {y0} AND y <= {y1} AND {pred}")
    return " UNION ALL ".join(selects)


def tile_cell_assign(spark: SparkSession, grid: Grid, tiles) -> DataFrame:
    """tiles: [(tile_id, x0, y0, x1, y1)] -> (tile_id, cell).

    Every grid cell whose geometric extent intersects the tile (tile
    parts off the grid fold onto the boundary cells; an empty tile,
    x0 > x1 or y0 > y1, has no cells).
    """
    tdf = spark.createDataFrame(
        [(int(t), int(a), int(b), int(c), int(d)) for t, a, b, c, d in tiles],
        "tile_id long, tx0 long, ty0 long, tx1 long, ty1 long")
    return (grid.cover(tdf, [("tx0", "tx1"), ("ty0", "ty1")], False,
                       grid.level)
            .select("tile_id", F.col("_cell").alias("cell")))


def tile_cell_assign_sql(grid: Grid, tiles_values_sql: str) -> str:
    """DuckDB oracle for tile_cell_assign (generate_series + unnest),
    with the cover's clamp and empty-tile rule (grid.py)."""
    g = grid.g
    cx0, cx1, cy0, cy1 = [grid.duckdb_axis_sql(c)
                          for c in ("tx0", "tx1", "ty0", "ty1")]
    return f"""
SELECT tile_id, cx * {g} + cy AS cell
FROM (
  SELECT tile_id, unnest(generate_series({cx0}, {cx1})) AS cx, ty0, ty1
  FROM {tiles_values_sql}
  WHERE tx0 <= tx1 AND ty0 <= ty1
) tt, LATERAL (
  SELECT unnest(generate_series({cy0}, {cy1})) AS cy
) yy
"""


# ------------------------------------------------- polygon-polygon overlay

def polygons_df(spark: SparkSession, polygons, id_col: str = "poly_id"
                ) -> DataFrame:
    """[(poly_id, [(x,y), ...])] -> DataFrame (id_col, verts) with verts
    an array<struct<x,y>> in CCW ring order."""
    rows = [(int(pid), [(int(x), int(y)) for x, y in verts])
            for pid, verts in polygons]
    return spark.createDataFrame(
        rows, f"{id_col} long, verts array<struct<x: long, y: long>>")


def _sep_sql(averts: str, bverts: str) -> str:
    """Separating-axis test, one direction: TRUE iff some edge of
    `averts` (CCW ring) has EVERY vertex of `bverts` strictly on its
    right — pure Spark SQL higher-order functions, no UDF."""
    nxt = (f"element_at({averts}, CAST((i + 1) % size({averts}) AS INT)"
           f" + 1)")
    return (f"exists(transform({averts}, (v, i) -> "
            f"struct(v.x AS ax, v.y AS ay, "
            f"{nxt}.x - v.x AS dx, {nxt}.y - v.y AS dy)), "
            f"e -> forall({bverts}, w -> "
            f"e.dx * (w.y - e.ay) - e.dy * (w.x - e.ax) < 0))")


def polygon_join(left: DataFrame, right: DataFrame,
                 grid: Grid | None = None,
                 left_id: str = "pa", right_id: str = "pb") -> DataFrame:
    """Convex-polygon overlay join: left (left_id, verts) x right
    (right_id, verts) -> (left_id, right_id) for every intersecting
    pair (shared boundary points count). Completes the overlay family
    next to point-in-polygon and rect_join.

    Semantics: exact separating-axis theorem for STRICTLY convex CCW
    integer rings — a pair is disjoint iff some edge normal of either
    polygon separates them; all arithmetic is int64 cross products, so
    Spark and the SQL oracle agree bit-for-bit.

    Physical plan (the 100 TB shape, same family as rect_join): each
    side expands its vertex-ring bbox to covered grid cells
    (`Grid.cover`), one hash equi-join on the cell id,
    reference-point duplicate avoidance on the bbox-intersection min
    corner, then the SAT predicate as nested `exists/forall`
    higher-order functions — zero Python, no broadcast requirement,
    AQE-splittable on the cell key.
    """
    grid = grid or Grid(16)
    assert grid.dims == 2
    bbox_sql = [f"array_{m}(transform(verts, v -> v.{a}))"
                for m, a in (("min", "x"), ("min", "y"),
                             ("max", "x"), ("max", "y"))]
    lc = [f"_{left_id}_{c}" for c in ("x0", "y0", "x1", "y1")]
    rc = [f"_{right_id}_{c}" for c in ("x0", "y0", "x1", "y1")]
    lt, rt = [grid.cover(
                  df.select(idc, F.col("verts").alias(f"_{idc}_verts"),
                            *[F.expr(e).alias(c)
                              for e, c in zip(bbox_sql, cs)]),
                  [(cs[0], cs[2]), (cs[1], cs[3])], False, grid.level)
              for df, idc, cs in ((left, left_id, lc), (right, right_id, rc))]
    bbox = F.expr(f"{lc[0]} <= {rc[2]} AND {rc[0]} <= {lc[2]} AND "
                  f"{lc[1]} <= {rc[3]} AND {rc[1]} <= {lc[3]}")
    ref = F.expr(grid.ref_cell(lc[:2], rc[:2]))
    la, rb = f"_{left_id}_verts", f"_{right_id}_verts"
    intersects = F.expr(
        f"NOT ({_sep_sql(la, rb)} OR {_sep_sql(rb, la)})")
    return (lt.join(rt, "_cell")
            .filter(bbox)
            .filter(F.col("_cell") == ref)
            .filter(intersects)
            .select(left_id, right_id))


def polygon_join_oracle_sql(averts_values: str, bverts_values: str) -> str:
    """DuckDB oracle: pure SAT via edge x vertex GROUP BY + bool_and /
    bool_or — standard SQL, no lambdas, no spatial extension.
    averts/bverts are fixtures.polygon_verts_values_sql renderings."""
    return f"""
WITH va AS (SELECT poly_id, vid, CAST(x AS BIGINT) AS x,
                   CAST(y AS BIGINT) AS y FROM {averts_values}),
vb AS (SELECT poly_id, vid, CAST(x AS BIGINT) AS x,
              CAST(y AS BIGINT) AS y FROM {bverts_values}),
na AS (SELECT poly_id, COUNT(*) AS n FROM va GROUP BY poly_id),
nb AS (SELECT poly_id, COUNT(*) AS n FROM vb GROUP BY poly_id),
ea AS (SELECT v1.poly_id, v1.vid, v1.x AS ax, v1.y AS ay,
              v2.x - v1.x AS dx, v2.y - v1.y AS dy
       FROM va v1
       JOIN na ON na.poly_id = v1.poly_id
       JOIN va v2 ON v2.poly_id = v1.poly_id
              AND v2.vid = (v1.vid + 1) % na.n),
eb AS (SELECT v1.poly_id, v1.vid, v1.x AS ax, v1.y AS ay,
              v2.x - v1.x AS dx, v2.y - v1.y AS dy
       FROM vb v1
       JOIN nb ON nb.poly_id = v1.poly_id
       JOIN vb v2 ON v2.poly_id = v1.poly_id
              AND v2.vid = (v1.vid + 1) % nb.n),
asep AS (
  SELECT pa, pb, bool_or(allright) AS s
  FROM (SELECT e.poly_id AS pa, w.poly_id AS pb, e.vid,
               bool_and(e.dx * (w.y - e.ay)
                        - e.dy * (w.x - e.ax) < 0) AS allright
        FROM ea e CROSS JOIN vb w
        GROUP BY e.poly_id, w.poly_id, e.vid)
  GROUP BY pa, pb),
bsep AS (
  SELECT pa, pb, bool_or(allright) AS s
  FROM (SELECT w.poly_id AS pa, e.poly_id AS pb, e.vid,
               bool_and(e.dx * (w.y - e.ay)
                        - e.dy * (w.x - e.ax) < 0) AS allright
        FROM eb e CROSS JOIN va w
        GROUP BY w.poly_id, e.poly_id, e.vid)
  GROUP BY pa, pb)
SELECT asep.pa, asep.pb
FROM asep JOIN bsep ON asep.pa = bsep.pa AND asep.pb = bsep.pb
WHERE NOT asep.s AND NOT bsep.s"""
