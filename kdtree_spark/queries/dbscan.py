"""Distributed DBSCAN, composed entirely from this engine's verified
primitives — the classic density clustering that is notoriously awkward
to scale, expressed as four bounded Spark stages:

  1. eps-neighborhood self-join  -> queries/joins.py distance_join
     (cell-blocked equi-join, r-sized grid, zero Python)
  2. core detection              -> one groupBy count
  3. cluster formation           -> pipeline/components.py star_edges
     over CORE-CORE edges: union-find per coarse cell, then one over
     the nodes the cells share
  4. labelling                   -> one plan: each point's core label
     and the min core label among its neighbors (one join + groupBy)

Semantics (deterministic variant of Ester et al. KDD'96 — public
literature): |N_eps(p)| counts p itself; a core point has >= min_pts
neighbors; clusters are connected components of core points under the
eps relation; a border point (non-core with >= 1 core neighbor) joins
the SMALLEST cluster label among its core neighbors (the standard
algorithm leaves border ties order-dependent — the min rule makes the
output a pure function of the data, which is what lets an SQL oracle
and a brute force agree bit-for-bit). Labels are the smallest core pid
of the cluster. Everything else is noise.

Job shape (2k uniform points, ~10 neighbours each, local[2] and
local[4]): 16 Spark jobs per call and no round loop: 2 the join's
exchanges, 4 stage 3's (the coarse-cell exchange, the per-node
exchange, the one-task exchange and the label broadcast) and 10 the
rest of stages 2 and 4.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..grid import Grid
from ..pipeline.components import star_edges
from .joins import distance_join, radius_grid


def dbscan(points: DataFrame, eps: int, min_pts: int,
           grid: Grid | None = None, id_col: str = "pid",
           coord_cols=("x", "y")) -> DataFrame:
    """-> (pid, cluster, kind): cluster = min core pid of the cluster
    (NULL for noise); kind in {'core', 'border', 'noise'}. Integer
    pids (the union-find kernel keys them as long)."""
    grid = grid or radius_grid(eps)
    cc = list(coord_cols)
    # locality key: one of ~defaultParallelism coarse cells of the grid
    par = points.sparkSession.sparkContext.defaultParallelism
    fac = -(-grid.g // (math.isqrt(par - 1) + 1))  # ceil(sqrt(par)) a dim
    loc = grid.parent_cell_sql(f"({grid.cell_sql(cc, False)})", grid.g,
                               fac, -(-grid.g // fac))
    pts = points.select(F.col(id_col).alias("pid"), *coord_cols)
    a = pts.select(F.col("pid").alias("pa"), *coord_cols,
                   F.expr(loc).alias("loc"))
    b = pts.select(F.col("pid").alias("pb"), *coord_cols)
    pairs = distance_join(a, b, eps, grid=grid, coord_cols=coord_cols,
                          left_id="pa", right_id="pb", keep_left=("loc",)) \
        .select("pa", "pb", "loc").localCheckpoint(eager=False)  # reused 3x
    ncnt = pairs.groupBy("pa").agg(F.count("*").alias("n"))
    core = ncnt.filter(F.col("n") >= min_pts).select(
        F.col("pa").alias("pid")).localCheckpoint(eager=False)
    # the pair's loc is its lower pid's coarse cell
    stars = star_edges(pairs.filter("pa < pb")
                       .join(core.selectExpr("pid AS pa"), "pa")
                       .join(core.selectExpr("pid AS pb"), "pb"),
                       "pa", "pb", local_col="loc")
    # a star leaf takes its center; every other core pid labels itself
    core_lbl = core.join(stars.selectExpr("u AS pid", "v"), "pid", "left") \
        .selectExpr("pid", "COALESCE(v, pid) AS ccl")
    # min label among a point's core neighbors; a core point is its own
    # neighbor, so for it this is its cluster
    near = (pairs.join(core_lbl.selectExpr("pid AS pa", "ccl"), "pa")
            .groupBy(F.col("pb").alias("pid"))
            .agg(F.min("ccl").alias("ncl")))
    return (pts.select("pid").join(core_lbl, "pid", "left")
            .join(near, "pid", "left")
            .selectExpr("pid", "ncl AS cluster",
                        "CASE WHEN ccl IS NOT NULL THEN 'core' "
                        "WHEN ncl IS NOT NULL THEN 'border' "
                        "ELSE 'noise' END AS kind"))
