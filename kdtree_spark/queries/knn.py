"""Distributed exact kNN join (Q1/Q2/Q3 + H3 of SURVEY §2).

The reference answers each kNN query by descending one in-memory tree,
visiting the sibling subtree only when its bounding-box min-distance
beats the current kth-best (`query_op/nn_search.hpp:83-126`). Across a
cluster that sibling-pruning becomes *cell* pruning against the index's
driver-held routing level (index.level(): per non-empty grid cell its
live count, data bbox, highest non-empty salt and pooled probe sample):

  phase 1+2  the queries are collected and routed on the driver, in
           numpy, against the level (as ranges routes its shapes), so
           the route runs once per call and the level never leaves
           the driver; each query turns into candidate cells:
           - bound: the kth smallest distance² to the home cell's
             pooled probe sample (localtree.probe_sample per blob) is a
             VALID upper bound ub on the kth distance, tight within a
             (cell/sample)^(1/d) radius factor in any d.
           - needy queries (empty home cell, or k above the pool) bound
             by a prefix sum over the level: cells ordered by
             farthest-corner distance², the first prefix whose live
             count reaches k gives ub (inf only below k live points).
           - near queries enumerate the grid cells in their ub-radius
             cube; far ones (cube over ENUM_CAP cells, or ub = inf)
             take the level's cells within ub.
           - the route keeps cells that hold live points with a
             data-bbox min-dist² <= ub (p2b_min_distance,
             nn_search.hpp:22-35), takes maxsalt from the level and
             groups its rows per cell on the driver.
  phase 3  the per-cell query lists are the build side of one
           broadcast-hash join against the cached blob table
           (index.scan_blobs): no blob is shuffled, only the candidate
           cells' blobs cross the Arrow hop, and each blob's batched
           tree search with ub as the prune bound gives its local
           top-k per query. A salted cell's blobs are searched by
           whichever tasks hold them.
  phase 4  global top-k: one window over qid ranks every per-blob row
           by (dist², nid) — the DuckDB oracle's ORDER BY tie-break.

The phases are one plan: one SQL execution of 3 jobs (the cells'
broadcast, the blob scan into the window's exchange, the result), no
checkpoint, nothing left in storage.

Exactness: any true neighbour at distance d <= true-kth <= ub lies in a
cell whose bbox min-dist <= ub, so phase 2 never drops it; phase 3's
per-blob top-k keeps everything that can reach the global top-k.

Distances are squared L2 on int64 coords — exact in float64 (< 2^53),
emitted as BIGINT so oracle hashes match bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..grid import block_cells
from ..index import Level, SpatialIndex, cell_lists, scan_blobs
from ..localtree import LocalKDTree


ENUM_CAP = 4096  # max geometrically-enumerated cells per query; beyond
                 # this (or ub = inf) the query scans the level's cells

BLOCK_ELEMS = 1 << 21  # (queries x level cells) entries per distance
# block: 16 MiB per float64 array at any level size (512 queries at
# 4096 cells, 32 at grid.MAX_CELLS)


def _blocks(nq: int, lvl: Level):
    """Query slices whose (queries x level cells) distance blocks hold
    at most BLOCK_ELEMS entries each."""
    step = max(1, BLOCK_ELEMS // max(1, len(lvl.cell)))
    return (slice(s, s + step) for s in range(0, nq, step))


def _cdt(index: SpatialIndex):
    return np.float64 if index.float_coords else np.int64


def _enum_rows(q: list, ub: np.ndarray, grid, fmode: bool):
    """Vectorized candidate-cell enumeration on the regular grid: for
    each query row i with finite ub[i], every grid cell in the cube of
    half-width floor(sqrt(ub))+1 around the query point. Returns
    (rows_i, cells, far): int indices into the input rows, the cell id
    per output row, and the rows left for the level scan (cube over
    ENUM_CAP cells, or ub = inf)."""
    g, cw = grid.g, grid.cw
    n = len(ub)
    finite = np.isfinite(ub)
    if fmode:
        # float cells: floor(x / cw), mirroring the cell assignment
        # formula (grid.cell_sql)
        r = np.zeros(n)
        r[finite] = np.sqrt(ub[finite]) + 1.0
        c0 = [np.clip(np.floor((qj - r) / cw), 0, g - 1)
              .astype(np.int64) for qj in q]
        c1 = [np.clip(np.floor((qj + r) / cw), 0, g - 1)
              .astype(np.int64) for qj in q]
    else:
        # +1 guards the (theoretical) downward rounding of sqrt at the
        # boundary; over-coverage is corrected by the bbox prune
        r = np.zeros(n, np.int64)
        r[finite] = np.floor(np.sqrt(ub[finite])).astype(np.int64) + 1
        c0 = [np.clip((qj - r) // cw, 0, g - 1) for qj in q]
        c1 = [np.clip((qj + r) // cw, 0, g - 1) for qj in q]
    nper = [h - l + 1 for l, h in zip(c0, c1)]
    ncand = nper[0].copy()
    for nj in nper[1:]:
        ncand *= nj
    small = finite & (ncand <= ENUM_CAP)
    idx = np.flatnonzero(small)
    rep, cells, _ = block_cells([c[idx] for c in c0],
                                [nj[idx] for nj in nper], g)
    return idx[rep], cells, np.flatnonzero(~small)


def _box_d2(q: np.ndarray, lo: np.ndarray, hi: np.ndarray,
            farthest: bool = False) -> np.ndarray:
    """Squared L2 from points q to the nearest (or farthest) corner of
    data bboxes (lo, hi), broadcast over the leading axes and summed
    over all d dims in float64: exact for int64 coords < 2^20 per dim
    (diffs < 2^21, squares < 2^42, d <= 16 sums < 2^46)."""
    out = 0.0
    for j in range(q.shape[-1]):
        a = lo[..., j] - q[..., j]
        b = q[..., j] - hi[..., j]
        diff = (np.maximum(-a, -b) if farthest
                else np.maximum(np.maximum(a, b), 0))
        out = out + diff.astype(np.float64) ** 2
    return out


def _prefix_ub(q: np.ndarray, lvl: Level, k: int) -> np.ndarray:
    """Bound for queries the probe samples cannot bound: level cells
    ordered by farthest-corner distance²; the first prefix whose live
    counts reach k holds k points all within that distance² -> valid
    bound. Enumeration is TOTAL (every level cell), so ub = inf only
    when the index has < k live points."""
    ub = np.full(len(q), np.inf)
    if not len(lvl.ccnt):
        return ub
    for b in _blocks(len(q), lvl):
        maxd2 = _box_d2(q[b, None], lvl.lo, lvl.hi, True)
        order = np.argsort(maxd2, axis=1, kind="stable")
        cum = np.cumsum(lvl.ccnt[order], axis=1)
        first = np.argmax(cum >= k, axis=1)
        rows = np.arange(len(maxd2))
        hit = cum[:, -1] >= k
        ub[b] = np.where(hit, maxd2[rows, order[rows, first]], np.inf)
    return ub


def _far_cells(q: np.ndarray, ub: np.ndarray, lvl: Level):
    """Level scan for the queries whose cube is too large to enumerate:
    the level's cells whose data bbox is within ub -> (rows_i, cells).
    Only non-empty cells are tested, so work scales with the level,
    never with the grid's empty cells."""
    rows, cells = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    for b in _blocks(len(q), lvl):
        qi, ci = np.nonzero(_box_d2(q[b, None], lvl.lo, lvl.hi)
                            <= ub[b, None])
        rows.append(qi + b.start)
        cells.append(lvl.cell[ci])
    return np.concatenate(rows), np.concatenate(cells)


def _route(index: SpatialIndex, queries: DataFrame, k: int) -> dict:
    """Phases 1+2 on the driver: the queries' candidate cells as numpy
    columns qid, <coords>, ub, cell, maxsalt, one entry per (query,
    candidate cell)."""
    cc = list(index.coord_cols)
    cdt = _cdt(index)
    grid = index.grid
    lvl = index.level()
    cols = list(zip(*queries.select("qid", *cc).collect()))
    qid = np.asarray(cols[0] if cols else (), np.int64)
    qd = np.column_stack([np.asarray(cols[j + 1] if cols else (), cdt)
                          for j in range(len(cc))])
    at = lvl.find(grid.home_cells(qd))
    ub = np.full(len(qd), np.inf)
    for p in np.unique(at[at >= 0]):
        pool = lvl.probe[p]
        if len(pool) < k:
            continue
        # one tiny tree over the pool, then the block-scan bound
        # kernel: per query a descent plus one >=max(2k,128)-point
        # block scan
        m = at == p
        ub[m] = LocalKDTree.build(
            pool, np.arange(len(pool), dtype=np.int64)).knn_bound(qd[m], k)
    needy = ~np.isfinite(ub)
    ub[needy] = _prefix_ub(qd[needy], lvl, k)
    rows_i, cells, far = _enum_rows(
        [qd[:, j] for j in range(grid.dims)], ub, grid, index.float_coords)
    far_i, far_cells = _far_cells(qd[far], ub[far], lvl)
    rows_i = np.concatenate([rows_i, far[far_i]])
    cells = np.concatenate([cells, far_cells])
    # the prune: the cell holds live points within ub
    at = lvl.find(cells)
    keep = at >= 0
    keep[keep] = _box_d2(qd[rows_i[keep]], lvl.lo[at[keep]],
                         lvl.hi[at[keep]]) <= ub[rows_i[keep]]
    rows_i, cells = rows_i[keep], cells[keep]
    out = {"qid": qid[rows_i]}
    for j, c in enumerate(cc):
        out[c] = qd[rows_i, j]
    out.update(ub=ub[rows_i], cell=cells, maxsalt=lvl.maxsalt[at[keep]])
    return out


def knn_candidates(index: SpatialIndex, queries: DataFrame, k: int
                   ) -> DataFrame:
    """Phases 1+2: (qid, coords, ub, cell, maxsalt), one row per
    (query, candidate cell): cells whose data-bbox min-dist² <= ub (the
    same <= test the reference's p2b_min_distance makes, so
    equal-distance candidates survive for the (dist, id) tie-break);
    empty cells drop. Exposed separately so bench can audit pruning
    quality (candidate cells per query — the reference's visited-node
    counters analogue, testFramework.h:505-517)."""
    return index.spark.createDataFrame(pa.table(_route(index, queries, k)))


def _cells(index: SpatialIndex, queries: DataFrame, k: int) -> DataFrame:
    """The candidates as the blob scan's build side: one row per cell,
    its (qid, <coords>, ub) rows as a list."""
    r = _route(index, queries, k)
    return cell_lists(index.spark, r["cell"],
                      {c: r[c] for c in ["qid", *index.coord_cols, "ub"]})


def _blob_knn(index: SpatialIndex, k: int, count: bool = False):
    """Phase-3 kernel: one blob's local top-k rows per query, or with
    `count` its per-query work counters. A cold cell's blob forces the
    block-scan bound tighten; a hot cell's many blobs leave it to the
    tree (index.FANOUT_MIN_BLOBS)."""
    cc = list(index.coord_cols)
    cdt = _cdt(index)
    hot = frozenset(index.hot_cells())

    def scan(cell: int, q: dict, blob) -> dict:
        st: dict | None = {} if count else None
        d, i = LocalKDTree.from_bytes(blob).knn(
            np.column_stack([q[c] for c in cc]).astype(cdt, copy=False), k,
            ub=q["ub"], stats=st, tighten=None if cell in hot else True)
        if count:
            return {"qid": q["qid"], "scanned": st["scanned"],
                    "leaves": st["leaves"]}
        qid = np.repeat(q["qid"], k)
        d, i = d.ravel(), i.ravel()
        ok = np.isfinite(d)
        return {"qid": qid[ok], "nid": i[ok], "dist_sq": d[ok]}
    return scan


def knn_join(index: SpatialIndex, queries: DataFrame, k: int) -> DataFrame:
    """queries: (qid long, <coord cols> long) -> (qid, rank, nid, dist_sq).

    d >= 2 supported: distances use all coord dims; the cell-level bbox
    pruning (phase 2) uses the full-d data bbox, a lower bound on every
    point's distance, so exactness is preserved for any d.

    Every candidate cell's blobs scan in ONE broadcast-hash join, and
    one window over qid merges every per-blob top-k."""
    local = scan_blobs(index, _cells(index, queries, k), _blob_knn(index, k),
                       "qid long, nid long, dist_sq double")
    w = Window.partitionBy("qid").orderBy(F.col("dist_sq").asc(),
                                          F.col("nid").asc())
    dist = (F.col("dist_sq") if index.float_coords
            else F.col("dist_sq").cast("long"))
    return (local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "nid", dist.alias("dist_sq")))


def knn_shipped_blobs(index: SpatialIndex, queries: DataFrame, k: int
                      ) -> dict:
    """Bench/scale audit: how many blob rows (and bytes) a kNN call
    passes through its Arrow blob scan vs the whole index — evidence
    that phase 3's join on the candidate cells prunes blob shipping to
    the candidate set."""
    shipped = index.df.join(
        F.broadcast(_cells(index, queries, k).select("cell")), "cell", "semi")
    srow = shipped.agg(
        F.count("*").alias("rows"),
        F.sum(F.length("blob")).alias("bytes")).collect()[0]
    trow = index.df.agg(
        F.count("*").alias("rows"),
        F.sum(F.length("blob")).alias("bytes")).collect()[0]
    return {"shipped_rows": int(srow["rows"] or 0),
            "shipped_bytes": int(srow["bytes"] or 0),
            "index_rows": int(trow["rows"] or 0),
            "index_bytes": int(trow["bytes"] or 0)}


def knn_scan_stats(index: SpatialIndex, queries: DataFrame, k: int
                   ) -> DataFrame:
    """Per-query work counters for the exact kNN join: (qid, scanned,
    leaves) — points distance-compared and leaf blocks visited across
    all candidate cells (phase-3 work only; the phase-1 seed bound is
    metadata arithmetic and scans nothing). This is the bench-side
    analogue of the reference's visited-node kNN audit
    (tests/testFramework.h:505-517, knn.csv last column); it reruns the
    search with counting on (and knn_join's tighten flags, so the
    block-scan bound's points count too), so it is for audits, not the
    hot path."""
    per_blob = scan_blobs(index, _cells(index, queries, k),
                          _blob_knn(index, k, count=True),
                          "qid long, scanned long, leaves long")
    return (per_blob.groupBy("qid")
            .agg(F.sum("scanned").alias("scanned"),
                 F.sum("leaves").alias("leaves")))
