"""Distributed DBSCAN, composed entirely from this engine's verified
primitives — the classic density clustering that is notoriously awkward
to scale, expressed as four bounded Spark stages:

  1. eps-neighborhood self-join  -> queries/joins.py distance_join
     (cell-blocked equi-join, r-sized grid, zero Python)
  2. core detection              -> one groupBy count
  3. cluster formation           -> pipeline/components.py
     connected_components over CORE-CORE edges (large-star/small-star
     edge contraction, O(log n) rounds)
  4. border assignment           -> min cluster label over a border
     point's core neighbors (one join + groupBy)

Semantics (deterministic variant of Ester et al. KDD'96 — public
literature): |N_eps(p)| counts p itself; a core point has >= min_pts
neighbors; clusters are connected components of core points under the
eps relation; a border point (non-core with >= 1 core neighbor) joins
the SMALLEST cluster label among its core neighbors (the standard
algorithm leaves border ties order-dependent — the min rule makes the
output a pure function of the data, which is what lets an SQL oracle
and a brute force agree bit-for-bit). Labels are the smallest core pid
of the cluster. Everything else is noise.

Job shape (2k uniform points, ~10 neighbours each): ~41 Spark jobs per
call, ~24 of them stage 3 (3 per contraction round, 6 rounds); stages 2
and 4 are one shuffle each on uniform keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..grid import Grid
from ..pipeline.components import connected_components
from .joins import distance_join


def dbscan(points: DataFrame, eps: int, min_pts: int,
           grid: Grid | None = None, id_col: str = "pid",
           coord_cols=("x", "y")) -> DataFrame:
    """-> (pid, cluster, kind): cluster = min core pid of the cluster
    (NULL for noise); kind in {'core', 'border', 'noise'}."""
    pts = points.select(F.col(id_col).alias("pid"), *coord_cols)
    a = pts.select(F.col("pid").alias("pa"), *coord_cols)
    b = pts.select(F.col("pid").alias("pb"), *coord_cols)
    pairs = distance_join(a, b, eps, grid=grid, coord_cols=coord_cols,
                          left_id="pa", right_id="pb") \
        .select("pa", "pb").localCheckpoint(eager=False)  # reused 3x
    ncnt = pairs.groupBy("pa").agg(F.count("*").alias("n"))
    core = ncnt.filter(F.col("n") >= min_pts).select(
        F.col("pa").alias("pid")).localCheckpoint(eager=False)
    cc_edges = (pairs.filter("pa < pb")
                .join(core.selectExpr("pid AS pa"), "pa")
                .join(core.selectExpr("pid AS pb"), "pb")
                .select(F.col("pa").alias("da"), F.col("pb").alias("db")))
    clusters = connected_components(cc_edges, core, id_col="pid") \
        .selectExpr("id AS pid", "comp AS cluster")
    core_lbl = clusters.withColumn("kind", F.lit("core"))
    border = (pairs.join(core.selectExpr("pid AS pa"), "pa")
              .select(F.col("pb").alias("pid"), F.col("pa").alias("cpid"))
              .join(core, "pid", "left_anti")
              .join(clusters.selectExpr("pid AS cpid",
                                        "cluster AS ccl"), "cpid")
              .groupBy("pid").agg(F.min("ccl").alias("cluster"))
              .withColumn("kind", F.lit("border")))
    labeled = core_lbl.unionByName(border)
    noise = (pts.select("pid")
             .join(labeled.select("pid"), "pid", "left_anti")
             .withColumn("cluster", F.lit(None).cast("long"))
             .withColumn("kind", F.lit("noise")))
    return labeled.unionByName(noise)
