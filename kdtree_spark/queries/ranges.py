"""Orthogonal range count / range report / circle count (Q4-Q7, H4-H5).

Two-level plan mirroring the reference's 3-way recursion
(`query_op/range_count.hpp:9-96`). The query shapes arrive as driver
arrays, so they are routed on the driver, in numpy, against the index's
routing level (index.level(), one row per non-empty grid cell): each
shape covers the cells its extent spans (Grid.cover_cells: grid
arithmetic, work proportional to the cover, never a shapes x cells
matrix); empty and disjoint cells drop;
cells whose data bbox the shape *contains* answer from their stored
count (the "contained -> node.size" shortcut, range_count.hpp:78-80);
boundary cells, grouped per cell with their shapes as a list, are the
build side of one broadcast-hash join against the cached blob table
(index.scan_blobs) that runs each blob's vectorized count/report in
place: no blob is shuffled, and a salted cell's blobs are scanned by
whichever tasks hold them. Every shape emits its contained count, 0
included, and one groupBy sums those rows with the scan partials: no
prune join and no final join.

Boxes are inclusive [lo, hi] on int64 coords, matching `within_box`
(`utility/box_op.hpp:9-20`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index import SpatialIndex, cell_lists, scan_blobs
from ..localtree import LocalKDTree


def _box_cols(d: int) -> tuple[list, list]:
    """Box lo/hi column names: 2-D keeps the historical bxlo/bylo/bxhi/
    byhi names; dims >= 2 add blo{j}/bhi{j}, mirroring cell_stats'
    mn{j}/mx{j} (index.bbox_cols)."""
    lo = ["bxlo", "bylo"] + [f"blo{j}" for j in range(2, d)]
    hi = ["bxhi", "byhi"] + [f"bhi{j}" for j in range(2, d)]
    return lo, hi


def _counts(index: SpatialIndex, counts: DataFrame, cells: DataFrame,
            count) -> DataFrame:
    """(id, cnt) per shape: the contained counts plus the blob-scan
    partials of the boundary cells (count(tree, shapes) -> one blob's
    per-shape counts), summed by one groupBy."""
    key = counts.columns[0]

    def scan(_, b: dict, blob) -> dict:
        return {key: b[key], "cnt": count(LocalKDTree.from_bytes(blob), b)}

    return (scan_blobs(index, cells, scan, f"{key} long, cnt long")
            .unionByName(counts).groupBy(key).agg(F.sum("cnt").alias("cnt")))


def _box_tests(d: int):
    """tests(side, slo, shi) of _route for boxes: (overlap,
    contained) of each box against a data bbox over all d dims — the
    reference's 3-way box classification (range_count.hpp:9-96)."""
    blo, bhi = _box_cols(d)

    def tests(side, slo, shi):
        overlap = contained = True
        for bl, bh, sl, sh in zip(map(side, blo), map(side, bhi), slo, shi):
            overlap = overlap & (sl <= bh) & (sh >= bl)
            contained = contained & (sl >= bl) & (sh <= bh)
        return overlap, contained
    return tests


def _route(index: SpatialIndex, arr: np.ndarray, names: list,
           lo: np.ndarray, hi: np.ndarray, tests) -> tuple:
    """Route query shapes against the driver level -> (counts, cells).

    `arr` has one int64 row per shape, its columns `names` (the id
    first); (lo, hi) are its integer extents on the grid dims.
    tests(side, slo, shi) -> (overlap, inside) of shapes against data
    bboxes (per-dim slo, shi: level cells' bbox bounds), side(c) the
    values of shape column c per (shape, cell) pair, inside None for a
    report.
    counts: (id, cnt) rows holding every shape's count from the cells
    it contains, 0 included (None for a report); cells: the boundary
    cells the blob scan visits, each with its shapes as a list
    (index.cell_lists)."""
    spark, key = index.spark, names[0]
    shapes = pd.DataFrame(arr, columns=names)
    lvl = index.level()
    rows, cells = index.grid.cover_cells(lo, hi)
    at = lvl.find(cells)
    rows, at = rows[at >= 0], at[at >= 0]
    over, inside = tests(lambda c: shapes[c].to_numpy()[rows], lvl.lo[at].T,
                         lvl.hi[at].T)
    counts = None
    if inside is not None:
        full = np.zeros(len(shapes), np.int64)
        np.add.at(full, rows[over & inside], lvl.ccnt[at[over & inside]])
        counts = spark.createDataFrame(
            pd.DataFrame({key: shapes[key], "cnt": full}),
            f"{key} long, cnt long")
        over &= ~inside
    return counts, cell_lists(spark, lvl.cell[at[over]],
                              {c: arr[rows[over], j]
                               for j, c in enumerate(names)})


def range_count(index: SpatialIndex, boxes) -> DataFrame:
    """boxes: sequence of (box_id, lo0..lo{d-1}, hi0..hi{d-1}) — for
    d=2 the historical (box_id, xlo, ylo, xhi, yhi) — -> (box_id, cnt).
    Exact, inclusive bounds; d-generic (the reference's correctness
    sweep runs range count at d=5, script/checkCorrect.sh) — cell
    enumeration keys on the grid dims, classification and the kernel
    scan use all d."""
    d = len(index.coord_cols)
    gd = index.grid.dims
    blo_c, bhi_c = _box_cols(d)
    arr = np.asarray(boxes, dtype=np.int64).reshape(-1, 1 + 2 * d)
    lo, hi = arr[:, 1:1 + d], arr[:, 1 + d:]
    return _counts(index, *_route(index, arr, ["box_id", *blo_c, *bhi_c],
                                  lo[:, :gd], hi[:, :gd], _box_tests(d)),
                   lambda tree, b: tree.range_count(
                       np.column_stack([b[c] for c in blo_c + bhi_c])))


def range_report(index: SpatialIndex, boxes) -> DataFrame:
    """-> (box_id, pid, <coord cols>): every live point inside each
    box (all d coordinate columns, named as the index's coord_cols).
    Coordinates come back LONG on integer indexes, DOUBLE on float-mode
    indexes (boxes stay integer bounds either way — an inclusive
    compare of a double against an exact integer bound is the same
    predicate in numpy, Spark and DuckDB)."""
    d = len(index.coord_cols)
    gd = index.grid.dims
    cc = list(index.coord_cols)
    blo_c, bhi_c = _box_cols(d)
    ct = "double" if index.float_coords else "long"
    arr = np.asarray(boxes, dtype=np.int64).reshape(-1, 1 + 2 * d)
    lo, hi = arr[:, 1:1 + d], arr[:, 1 + d:]
    tests = _box_tests(d)
    _, cells = _route(index, arr, ["box_id", *blo_c, *bhi_c], lo[:, :gd],
                      hi[:, :gd], lambda *a: (tests(*a)[0], None))

    def scan(_, b: dict, blob) -> dict:
        bi, pp, ii = LocalKDTree.from_bytes(blob).range_report(
            np.column_stack([b[c] for c in blo_c + bhi_c]))
        if not len(ii):
            return {}
        return {"box_id": b["box_id"][bi], "pid": ii,
                **{c: pp[:, j] for j, c in enumerate(cc)}}

    coord_schema = ", ".join(f"{c} {ct}" for c in cc)
    return scan_blobs(index, cells, scan,
                      f"box_id long, pid long, {coord_schema}")


def circle_count(index: SpatialIndex, circles) -> DataFrame:
    """circles: (circle_id, c0..c{d-1}, r) — at d=2 the historical
    (circle_id, cx, cy, r) — -> (circle_id, cnt).

    Counts points with squared distance <= r² (range_count.hpp:99-131);
    d-generic: ball-vs-bbox min/max distance² over all dims.
    """
    d = len(index.coord_cols)
    gd = index.grid.dims
    ctr_c = ["cx", "cy"] + [f"ctr{j}" for j in range(2, d)]
    arr = np.asarray(circles, dtype=np.int64).reshape(-1, d + 2)
    ctr, r = arr[:, 1:1 + d], arr[:, d + 1]

    def tests(side, slo, shi):
        """ball-vs-bbox min / max distance² against r²"""
        mx = np.maximum
        mind2 = maxd2 = 0
        for c, sl, sh in zip(map(side, ctr_c), slo, shi):
            near = mx(mx(sl - c, c - sh), 0)
            far = mx(mx(c - sl, sl - c), mx(c - sh, sh - c))
            mind2, maxd2 = mind2 + near * near, maxd2 + far * far
        r2 = side("r") * side("r")
        return mind2 <= r2, maxd2 <= r2

    return _counts(index, *_route(index, arr, ["circle_id", *ctr_c, "r"],
                                  ctr[:, :gd] - r[:, None],
                                  ctr[:, :gd] + r[:, None], tests),
                   lambda tree, c: tree.circle_count(
                       np.column_stack([c[n] for n in ctr_c]),
                       c["r"].astype(np.float64)))
