"""Orthogonal range count / range report / circle count (Q4-Q7, H4-H5).

Two-level plan mirroring the reference's 3-way recursion
(`query_op/range_count.hpp:9-96`): cells disjoint from a box are never
touched (bbox-stats filter — the partition-pruning analogue); cells whose
data-bbox is *contained* contribute their stored count straight from the
stats table, aggregated metadata-only without ever reaching a blob (the
"contained -> node.size" shortcut, range_count.hpp:78-80); boundary
cells go to an Arrow cogroup (index.cogroup) that runs the per-cell tree's
vectorized count/report — with hot (salted) cells re-keyed per
(cell, salt) so one popular cell's boundary scans fan out across tasks
(queries/skew.py).

The stats side is a plain DataFrame agg + broadcast join — Catalyst
keeps it whole-stage-codegen'd; only boundary cells pay the Arrow hop.

Boxes are inclusive [lo, hi] on int64 coords, matching `within_box`
(`utility/box_op.hpp:9-20`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index import SpatialIndex, bbox_cols
from ..localtree import LocalKDTree
from .skew import scan_blobs


def _box_cols(d: int) -> tuple[list, list]:
    """Box lo/hi column names: 2-D keeps the historical bxlo/bylo/bxhi/
    byhi names; dims >= 2 add blo{j}/bhi{j}, mirroring the stats tables'
    mn{j}/mx{j} (index.cell_stats)."""
    lo = ["bxlo", "bylo"] + [f"blo{j}" for j in range(2, d)]
    hi = ["bxhi", "byhi"] + [f"bhi{j}" for j in range(2, d)]
    return lo, hi


def _box_conds(d: int):
    """(overlap, contained) full-d Spark conditions between a box row
    and a stats row — the reference's 3-way box classification
    (range_count.hpp:9-96) as whole-stage-codegen'd SQL."""
    blo, bhi = _box_cols(d)
    slo, shi = bbox_cols(d)
    overlap = contained = F.lit(True)
    for bl, bh, sl, sh in zip(blo, bhi, slo, shi):
        overlap = overlap & (F.col(sl) <= F.col(bh)) \
            & (F.col(sh) >= F.col(bl))
        contained = contained & (F.col(sl) >= F.col(bl)) \
            & (F.col(sh) <= F.col(bh))
    return overlap, contained


def _boxes_df(index: SpatialIndex, boxes) -> DataFrame:
    """boxes: sequence of (box_id, lo0..lo{d-1}, hi0..hi{d-1}) — for
    d=2 the historical (box_id, xlo, ylo, xhi, yhi) — -> DataFrame
    (Arrow path via pandas — createDataFrame over python tuples is
    row-at-a-time and stalls the driver for 1e5+ query batches)."""
    d = len(index.coord_cols)
    arr = np.asarray(boxes, dtype=np.int64).reshape(-1, 1 + 2 * d)
    lo, hi = _box_cols(d)
    cols = {"box_id": arr[:, 0]}
    for j, c in enumerate(lo + hi):
        cols[c] = arr[:, 1 + j]
    return index.spark.createDataFrame(pd.DataFrame(cols))


def _prune_join(index: SpatialIndex, qdf: DataFrame, n_queries: int,
                cond, contained=None) -> DataFrame:
    """query-shapes ⋈ cell-stats, pruned hierarchically.

    Small grids (g <= 64): each shape covers the fine cells its extent
    spans (`Grid.cover` over the box columns of the grid dims — pure
    integer SQL on the regular grid), then an EQUI-join on `cell`
    against the stats table applies the exact data-bbox condition
    `cond`. No nested-loop join anywhere: this is O(overlap pairs) and
    broadcasts whichever equi-join side is smaller (Catalyst/AQE).

    Large grids: the stats PYRAMID (index.stats_pyramid) makes the
    enumeration O(perimeter), not O(area): shapes cover the COARSEST
    level (<= 64 per dim, so <= 4096 cells even for a domain-sized
    shape), and each level classifies its cells with the same
    data-bbox exprs — disjoint cells drop (`cond`), cells passing
    `contained` are emitted AS pairs immediately (their aggregated
    ccnt answers count queries metadata-only; maxsalt=0 and the
    caller's own contained test re-evaluates true on the coarse bbox,
    so they never reach a blob cogroup), and only BOUNDARY cells cover
    their own geometric extent on the next level down: their
    PYRAMID_FACTOR² children, since a level's cell width is exactly
    PYRAMID_FACTOR times the width below it. `contained=None` (range
    report needs actual points) descends every overlapping cell
    instead. This is the reference's answer-from-high-nodes recursion
    (range_count.hpp:9-96) over the distributed grid.

    A shape with an empty extent (lo > hi) pairs with no cell; shape
    parts off the grid fold onto the boundary cells, where off-grid
    points live too."""
    grid = index.grid
    blo, bhi = _box_cols(grid.dims)
    par = index.spark.sparkContext.defaultParallelism
    if n_queries > 4 * par:
        qdf = qdf.repartition(par)
    pyramid = list(reversed(index.stats_pyramid()))  # coarsest .. fine+1
    walk = [(lg, lcw) for lg, lcw, _ in pyramid] + [grid.level]
    frontier = grid.cover(qdf, list(zip(blo, bhi)), False, walk[0])
    emitted = []
    for (lg, lcw, stats_l), child in zip(pyramid, walk[1:]):
        j = frontier.withColumnRenamed("_cell", "cell") \
            .join(stats_l, "cell").filter(cond)
        if contained is not None:
            emitted.append(j.filter(contained))
            j = j.filter(~contained)
        ext = [(f"{grid.coord_sql('cell', k, lg)} * {lcw}",
                f"{grid.coord_sql('cell', k, lg)} * {lcw} + {lcw - 1}")
               for k in range(grid.dims)]
        frontier = grid.cover(j.select(*qdf.columns, "cell"), ext, False,
                              child).drop("cell")
    out = (frontier.withColumnRenamed("_cell", "cell")
           .join(index.cell_stats(), "cell").filter(cond))
    for e in emitted:
        out = out.unionByName(e.select(*out.columns))
    return out


def range_count(index: SpatialIndex, boxes) -> DataFrame:
    """-> (box_id, cnt). Exact, inclusive bounds; d-generic (the
    reference's correctness sweep runs range count at d=5,
    script/checkCorrect.sh) — cell enumeration keys on the two grid
    dims, classification and the kernel scan use all d."""
    d = len(index.coord_cols)
    blo_c, bhi_c = _box_cols(d)
    bdf = _boxes_df(index, boxes)
    # fully-contained cells take their stored count from the stats row
    # (the "contained -> node.size" shortcut, range_count.hpp:78-80)
    # and aggregate METADATA-ONLY — at EVERY pyramid level (a large
    # box's interior resolves at coarse levels; _prune_join) — they
    # never shuffle into the blob cogroup; only boundary pairs pay the
    # Arrow hop + tree scan
    overlap, contained = _box_conds(d)
    joined = _prune_join(index, bdf, len(boxes), overlap,
                         contained=contained)
    # the (box, cell) prune join feeds three consumers (contained agg,
    # cold scan, hot scan); checkpoint it so it is computed once
    pairs = joined.withColumn("full", contained).select(
        "box_id", *blo_c, *bhi_c, "cell", "ccnt", "full",
        "maxsalt").localCheckpoint(eager=False)
    full_counts = (pairs.filter(F.col("full"))
                   .groupBy("box_id").agg(F.sum("ccnt").alias("cnt")))
    bnd = pairs.filter(~F.col("full")).select(
        "box_id", *blo_c, *bhi_c, "cell", "maxsalt")

    def scan(key, b: dict, i: dict) -> dict:
        if len(b["box_id"]) == 0 or len(i["blob"]) == 0:
            return {}
        qboxes = np.column_stack([b[c] for c in blo_c + bhi_c])
        part = np.zeros(len(qboxes), np.int64)
        for blob in i["blob"]:
            part += LocalKDTree.from_bytes(blob).range_count(qboxes)
        return {"box_id": b["box_id"], "cnt": part}

    all_counts = scan_blobs(index, bnd, scan, scan, "box_id long, cnt long") \
        .unionByName(full_counts)

    # boxes with zero matches must still appear with cnt=0; broadcast
    # the aggregated side (<= one row per box) — build-left on a left
    # outer join is unsupported, so hinting bdf would be a no-op
    return (bdf.select("box_id")
            .join(F.broadcast(
                all_counts.groupBy("box_id").agg(F.sum("cnt").alias("c"))),
                  "box_id", "left")
            .select("box_id", F.coalesce("c", F.lit(0)).alias("cnt")))


def range_report(index: SpatialIndex, boxes) -> DataFrame:
    """-> (box_id, pid, <coord cols>): every live point inside each
    box (all d coordinate columns, named as the index's coord_cols).
    Coordinates come back LONG on integer indexes, DOUBLE on float-mode
    indexes (boxes stay integer bounds either way — an inclusive
    compare of a double against an exact integer bound is the same
    predicate in numpy, Spark and DuckDB)."""
    d = len(index.coord_cols)
    cc = list(index.coord_cols)
    blo_c, bhi_c = _box_cols(d)
    ct = "double" if index.float_coords else "long"
    bdf = _boxes_df(index, boxes)
    overlap, _ = _box_conds(d)
    pairs = _prune_join(index, bdf, len(boxes), overlap) \
        .select("box_id", *blo_c, *bhi_c, "cell", "maxsalt") \
        .localCheckpoint(eager=False)  # consumed by both scan branches
        # (lazy: plan truncation is immediate, materialization
        # folds into the first consumer job — same as knn_join)

    def scan(key, b: dict, i: dict) -> dict:
        if len(b["box_id"]) == 0 or len(i["blob"]) == 0:
            return {}
        qboxes = np.column_stack([b[c] for c in blo_c + bhi_c])
        outs = []
        for blob in i["blob"]:
            bi, pp, ii = LocalKDTree.from_bytes(blob).range_report(qboxes)
            if len(ii):
                outs.append((b["box_id"][bi], ii, pp))
        if not outs:
            return {}
        out = {"box_id": np.concatenate([o[0] for o in outs]),
               "pid": np.concatenate([o[1] for o in outs])}
        pp = np.concatenate([o[2] for o in outs])
        for j, c in enumerate(cc):
            out[c] = pp[:, j]
        return out

    coord_schema = ", ".join(f"{c} {ct}" for c in cc)
    return scan_blobs(index, pairs, scan, scan,
                      f"box_id long, pid long, {coord_schema}")


def circle_count(index: SpatialIndex, circles) -> DataFrame:
    """circles: (circle_id, c0..c{d-1}, r) — at d=2 the historical
    (circle_id, cx, cy, r) — -> (circle_id, cnt).

    Counts points with squared distance <= r² (range_count.hpp:99-131);
    d-generic: ball-vs-bbox min/max distance² over all dims.
    """
    spark = index.spark
    d = len(index.coord_cols)
    ctr_c = ["cx", "cy"] + [f"ctr{j}" for j in range(2, d)]
    arr = np.asarray(circles, dtype=np.int64).reshape(-1, d + 2)
    cols = {"circle_id": arr[:, 0]}
    for j, c in enumerate(ctr_c):
        cols[c] = arr[:, 1 + j]
    cols["r"] = arr[:, d + 1]
    cdf = spark.createDataFrame(pd.DataFrame(cols))
    # circle's bounding box (grid dims) drives the cell enumeration;
    # the exact full-d min-dist² <= r² test below refines it
    gd = index.grid.dims
    blo, bhi = _box_cols(gd)
    cdf = cdf.selectExpr(
        "*", *[f"{ctr_c[j]} - r AS {blo[j]}" for j in range(gd)],
        *[f"{ctr_c[j]} + r AS {bhi[j]}" for j in range(gd)])
    slo, shi = bbox_cols(d)
    mind2 = maxd2 = None
    for c, sl, sh in zip(ctr_c, slo, shi):
        nearc = F.greatest(F.col(sl) - F.col(c), F.col(c) - F.col(sh),
                           F.lit(0))
        farc = F.greatest(F.abs(F.col(c) - F.col(sl)),
                          F.abs(F.col(c) - F.col(sh)))
        mind2 = nearc * nearc if mind2 is None else mind2 + nearc * nearc
        maxd2 = farc * farc if maxd2 is None else maxd2 + farc * farc
    r2 = F.col("r") * F.col("r")
    joined = _prune_join(index, cdf, len(circles), mind2 <= r2,
                         contained=maxd2 <= r2)
    pairs = joined.withColumn("full", maxd2 <= r2).select(
        "circle_id", *ctr_c, "r", "cell", "ccnt", "full", "maxsalt") \
        .localCheckpoint(eager=False)  # three consumers, compute once
    full_counts = (pairs.filter(F.col("full"))
                   .groupBy("circle_id").agg(F.sum("ccnt").alias("cnt")))
    bnd = pairs.filter(~F.col("full")).select(
        "circle_id", *ctr_c, "r", "cell", "maxsalt")

    def scan(key, c: dict, i: dict) -> dict:
        if len(c["circle_id"]) == 0 or len(i["blob"]) == 0:
            return {}
        centers = np.column_stack([c[n] for n in ctr_c])
        radii = c["r"].astype(np.float64)
        part = np.zeros(len(centers), np.int64)
        for blob in i["blob"]:
            part += LocalKDTree.from_bytes(blob).circle_count(centers, radii)
        return {"circle_id": c["circle_id"], "cnt": part}

    all_counts = scan_blobs(index, bnd, scan, scan,
                            "circle_id long, cnt long") \
        .unionByName(full_counts)
    return (cdf.select("circle_id")
            .join(F.broadcast(
                all_counts.groupBy("circle_id").agg(F.sum("cnt").alias("c"))),
                  "circle_id", "left")
            .select("circle_id", F.coalesce("c", F.lit(0)).alias("cnt")))
