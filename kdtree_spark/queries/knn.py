"""Distributed exact kNN join (Q1/Q2/Q3 + H3 of SURVEY §2).

The reference answers each kNN query by descending one in-memory tree,
visiting the sibling subtree only when its bounding-box min-distance
beats the current kth-best (`query_op/nn_search.hpp:83-126`). Across a
cluster that sibling-pruning becomes *cell* pruning:

  phase 1+2  ONE candidate kernel (an Arrow cogroup of the queries,
           grouped by home cell, with only those cells' probe samples —
           broadcast semi-join) turns every query into candidate cells:
           - bound: each index blob carries a ~1024-pt deterministic
             live sample (localtree.probe_sample); the kth smallest
             distance² to the home cell's pooled sample is a VALID
             upper bound ub on the kth distance, tight within a
             (cell/sample)^(1/d) radius factor in any d. Sample bytes
             are ~1-10% of blob bytes and scale with the batch's
             home-cell set, never with index size.
           - needy queries (empty home cell, or k above the pooled
             sample) bound by a prefix sum over the <= 4096-row
             super-cell table (index.super_table, a driver-side numpy
             copy of the super-grid stats shipped with the kernel): super
             cells ordered by farthest-corner distance², the first
             prefix whose live count reaches k gives ub. Only an index
             with < k live points total leaves ub = inf.
           - near queries enumerate the grid cells inside their
             ub-radius cube (pure numpy on the regular grid, work
             proportional to output).
           - far queries (cube over ENUM_CAP cells, or ub = inf) keep
             the super cells within ub and expand only those into their
             fine children — never an O(#queries x #cells) plan.
           One equi-join on `cell` against the cluster-resident
           cell-stats table then keeps cells whose data-bbox min-dist²
           <= ub (p2b_min_distance analogue, nn_search.hpp:22-35) and
           drops empty cells.
  phase 3  candidates shuffle to their cells; the blob side is PRUNED
           FIRST by a broadcast semi-join on the candidate cells, so
           the bytes crossing the Arrow hop scale with candidate cells,
           not index size; then per-blob batched tree search with ub as
           the prune bound -> local top-k per cell. Hot (salted) cells
           fan out per blob (queries/skew.py).
  phase 4  global top-k: min-k over per-cell top-k's via a window on
           (dist², nid) — deterministic tie-break identical to the
           DuckDB oracle's ORDER BY. Queries whose enumeration had
           exactly one cell skip it (their kernel ranks are final).

Exactness: any true neighbour at distance d <= true-kth <= ub lies in a
cell whose bbox min-dist <= ub, so phase 2 never drops it; phase 3's
per-cell top-k keeps everything that can reach the global top-k.

Distances are squared L2 on int64 coords — exact in float64 (< 2^53),
emitted as BIGINT so oracle hashes match bit-for-bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..index import SpatialIndex, bbox_cols, cogroup
from ..localtree import LocalKDTree
from .skew import hot_blobs, pruned_blobs, scan_blobs, split_by_salt


def _group_knn(qpts: np.ndarray, blobs, k: int, ub: np.ndarray | None,
               stats: dict | None = None, tighten: bool | None = None):
    """Best-k over every blob of one cell group; returns (dist2, ids)."""
    m = qpts.shape[0]
    best_d = best_i = None
    bound = None if ub is None else np.asarray(ub, np.float64).copy()
    for blob in blobs:
        tree = LocalKDTree.from_bytes(blob)
        d, i = tree.knn(qpts, k, ub=bound, stats=stats, tighten=tighten)
        if best_d is None:
            # knn() rows are (dist², id)-sorted with (inf, -1) padding
            # at the end — for the first (and most often only) blob the
            # result IS the running best; no merge sort needed
            best_d, best_i = d, i
        else:
            cat_d = np.concatenate([best_d, d], axis=1)
            cat_i = np.concatenate([best_i, i], axis=1)
            ordr = np.lexsort((cat_i, cat_d), axis=1)[:, :k]
            rows = np.arange(m)[:, None]
            best_d = cat_d[rows, ordr]
            best_i = cat_i[rows, ordr]
        if bound is not None:
            bound = np.minimum(bound, best_d[:, k - 1])
    if best_d is None:
        best_d = np.full((m, k), np.inf)
        best_i = np.full((m, k), -1, np.int64)
    return best_d, best_i


ENUM_CAP = 4096  # max geometrically-enumerated cells per query; beyond
                 # this (or ub = inf) the query takes the super-cell path

PROBE_POOL_CAP = 65536       # max pooled probe points per cell group
# (a backstop for extreme salted cells: per-query bound cost is one
# descent + one block scan regardless of pool size; only the one-off
# pool-tree build grows with it)

SUPER_CHUNK = 512  # queries per (queries x super cells) distance block


def _mind2_expr(cc: list, lo_cols: list, hi_cols: list):
    """Spark expression: squared L2 from the point in columns `cc` to
    the nearest corner of the bbox in (lo_cols, hi_cols). Exact in
    float64 for int64 coords < 2^20 per dim (diffs < 2^21, squares <
    2^42, d <= 16 sums < 2^46) — identical to the numpy kernels
    bit-for-bit, whole-stage-codegen JVM-side."""
    mind2 = None
    for c, lo, hi in zip(cc, lo_cols, hi_cols):
        mn = F.pow(F.greatest(F.col(lo) - F.col(c),
                              F.col(c) - F.col(hi), F.lit(0)), 2)
        mind2 = mn if mind2 is None else mind2 + mn
    return mind2


def _cdt(index: SpatialIndex):
    return np.float64 if index.float_coords else np.int64


def _coord_schema(index: SpatialIndex, cc: list) -> str:
    t = "double" if index.float_coords else "long"
    return ", ".join(f"{c} {t}" for c in cc)


def _block_cells(c0: list, nper: list, g: int):
    """Row-major ids of every grid cell in per-row blocks (per dim j:
    [c0[j], c0[j] + nper[j])) -> (rep, cells, counts): the source row
    of each output cell, the cell ids, and the cells per row."""
    gd = len(c0)
    counts = nper[0].copy()
    for nj in nper[1:]:
        counts *= nj
    rep = np.repeat(np.arange(len(counts)), counts)
    starts = np.cumsum(counts) - counts
    rem = np.arange(len(rep), dtype=np.int64) - starts[rep]
    # mixed-radix decode, last dim fastest (row-major id)
    cells = np.zeros(len(rep), np.int64)
    for j in range(gd - 1, -1, -1):
        nj = nper[j][rep]
        cells += (rem % nj + c0[j][rep]) * (g ** (gd - 1 - j))
        rem = rem // nj
    return rep, cells, counts


def _enum_rows(q: list, ub: np.ndarray, grid, fmode: bool):
    """Vectorized candidate-cell enumeration on the regular grid: for
    each query row i with finite ub[i], every grid cell in the cube of
    half-width floor(sqrt(ub))+1 around the query point. Returns
    (rows_i, cells, fin0, far): int indices into the input rows, the
    cell id per output row, a single-candidate flag — True iff the
    query enumerated EXACTLY one cell, in which case that cell's kernel
    ranks are globally final (the cell is the query's non-empty home
    cell, distance 0 <= ub, so it always survives the stats join) and
    the merge window can be bypassed — and the rows left for the
    super-cell path (cube over ENUM_CAP cells, or ub = inf)."""
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
        # boundary; over-coverage is corrected by the bbox join
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
    rep, cells, counts = _block_cells([c[idx] for c in c0],
                                      [nj[idx] for nj in nper], g)
    return idx[rep], cells, (counts == 1)[rep], np.flatnonzero(~small)


def _super_d2(q: np.ndarray, lo: np.ndarray, hi: np.ndarray,
              farthest: bool) -> np.ndarray:
    """(queries x super cells) squared L2 from each query point to the
    nearest (or farthest) corner of each super cell's data bbox, over
    all d dims — the same arithmetic, in the same order, as
    _mind2_expr."""
    out = np.zeros((len(q), len(lo)))
    for j in range(q.shape[1]):
        a = lo[None, :, j] - q[:, j, None]
        b = q[:, j, None] - hi[None, :, j]
        diff = (np.maximum(-a, -b) if farthest
                else np.maximum(np.maximum(a, b), 0))
        out += diff.astype(np.float64) ** 2
    return out


def _prefix_ub(q: np.ndarray, sup: dict, k: int) -> np.ndarray:
    """Bound for queries the probe samples cannot bound: super cells
    ordered by farthest-corner distance²; the first prefix whose live
    counts reach k holds k points all within that distance² -> valid
    bound. Enumeration is TOTAL (every super cell), so ub = inf only
    when the index has < k live points."""
    ub = np.full(len(q), np.inf)
    if not len(sup["ccnt"]):
        return ub
    for s in range(0, len(q), SUPER_CHUNK):
        maxd2 = _super_d2(q[s:s + SUPER_CHUNK], sup["lo"], sup["hi"], True)
        order = np.argsort(maxd2, axis=1, kind="stable")
        cum = np.cumsum(sup["ccnt"][order], axis=1)
        first = np.argmax(cum >= k, axis=1)
        rows = np.arange(len(maxd2))
        hit = cum[:, -1] >= k
        ub[s:s + SUPER_CHUNK] = np.where(
            hit, maxd2[rows, order[rows, first]], np.inf)
    return ub


def _far_cells(q: np.ndarray, ub: np.ndarray, sup: dict, grid, S: int,
               sg: int):
    """Super-cell path: super cells whose data bbox is within ub expand
    into their S^dims fine children -> (rows_i, cells). Work scales
    with the query's true candidate region, never with total cell
    count; the fine stats join prunes the children."""
    g, gd = grid.g, grid.dims
    rows, scells = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    for s in range(0, len(q), SUPER_CHUNK):
        mind2 = _super_d2(q[s:s + SUPER_CHUNK], sup["lo"], sup["hi"], False)
        qi, si = np.nonzero(mind2 <= ub[s:s + SUPER_CHUNK, None])
        rows.append(qi + s)
        scells.append(sup["scell"][si])
    qi = np.concatenate(rows)
    scell = np.concatenate(scells)
    c0, nper = [], []
    for j in range(gd):
        p = (scell // sg ** (gd - 1 - j)) % sg
        c0.append(p * S)
        nper.append(np.minimum(p * S + S - 1, g - 1) - p * S + 1)
    rep, cells, _ = _block_cells(c0, nper, g)
    return qi[rep], cells


def _super_arrays(index: SpatialIndex) -> dict:
    """index.super_table() as the numpy arrays the kernel reads: scell,
    ccnt, and the (rows x d) data-bbox corners lo / hi."""
    d = len(index.coord_cols)
    cdt = _cdt(index)
    spd = index.super_table()
    lo, hi = bbox_cols(d)
    return {"scell": spd["scell"].to_numpy(np.int64),
            "ccnt": spd["ccnt"].to_numpy(np.int64),
            "lo": spd[lo].to_numpy(cdt).reshape(-1, d),
            "hi": spd[hi].to_numpy(cdt).reshape(-1, d)}


def _seed_enum(index: SpatialIndex, queries: DataFrame, cc: list, k: int
               ) -> DataFrame:
    """Phases 1+2 (kernel side): (qid, coords, ub, cell, fin0)
    candidate rows out of ONE probe cogroup, before the stats join.

    Only the probe arrays of the batch's home cells cross Arrow
    (broadcast semi-join). The super-cell table rides in the
    kernel's closure (<= SUPER_MAX_CELLS rows, collected once per
    index version), so the rare needy and far queries are bounded and
    expanded in the same pass as the common near ones — no extra
    Spark job for legs that usually carry no rows."""
    d = len(cc)
    cdt = _cdt(index)
    grid = index.grid
    gd = grid.dims
    fmode = index.float_coords
    S, sg = index.super_grid()
    sup = _super_arrays(index)
    home = queries.selectExpr(
        "qid", *cc, f"{grid.cell_sql(cc, fmode)} AS cell")
    probes = pruned_blobs(index.probes(), home)
    out_schema = (f"qid long, {_coord_schema(index, cc)}, ub double, "
                  f"cell long, fin0 boolean")

    def probe_enum(key, q: dict, p: dict) -> dict:
        if len(q["qid"]) == 0:
            return {}
        qd = np.column_stack([q[c] for c in cc]).astype(cdt, copy=False)
        ub = np.full(len(qd), np.nan)
        pool = p["probe"].astype(cdt, copy=False).reshape(-1, d)
        if len(pool) > PROBE_POOL_CAP:  # salted cells pool many
            pool = pool[::-(-len(pool) // PROBE_POOL_CAP)]
        P = len(pool)
        if P >= k:
            # one tiny tree over the pool, then the block-scan bound
            # kernel: per query a descent plus one >=max(2k,128)-point
            # block scan — ~8x fewer flops than a full-pool distance
            # matrix at P=1024, with the same bound quality (the
            # enclosing sample block holds the query's nearest sample
            # points)
            ptree = LocalKDTree.build(pool, np.arange(P, dtype=np.int64))
            b = ptree.knn_bound(qd, k)
            ub = np.where(np.isfinite(b), b, np.nan)
        needy = np.isnan(ub)
        ub[needy] = _prefix_ub(qd[needy], sup, k)
        rows_i, cells, fin0, far = _enum_rows(
            [qd[:, j] for j in range(gd)], ub, grid, fmode)
        # a needy query's bound does not come from its home cell's
        # samples (the home cell may be empty), so its one enumerated
        # cell is not guaranteed to survive the stats join: it always
        # merges through the window
        fin0 &= ~needy[rows_i]
        far_i, far_cells = _far_cells(qd[far], ub[far], sup, grid, S, sg)
        rows_i = np.concatenate([rows_i, far[far_i]])
        out = {"qid": q["qid"][rows_i]}
        for j, c in enumerate(cc):
            out[c] = qd[rows_i, j]
        out["ub"] = ub[rows_i]
        out["cell"] = np.concatenate([cells, far_cells])
        out["fin0"] = np.concatenate([fin0, np.zeros(len(far_i), bool)])
        return out

    return cogroup(home, probes, ["cell"], probe_enum, out_schema)


def knn_candidates(index: SpatialIndex, queries: DataFrame, k: int
                   ) -> DataFrame:
    """Phases 1+2: (qid, coords, ub, cell, maxsalt, fin0) candidate
    pairs — the kernel's rows equi-joined on `cell` with the cell-stats
    table, keeping only cells whose data-bbox min-dist² <= ub (the same
    <= test the reference's p2b_min_distance makes, so equal-distance
    candidates survive for the (dist, id) tie-break); empty cells drop.
    Exposed separately so bench can audit pruning quality (candidate
    cells per query — the reference's visited-node counters analogue,
    testFramework.h:505-517)."""
    cc = list(index.coord_cols)
    mind2 = _mind2_expr(cc, *bbox_cols(len(cc)))
    return (_seed_enum(index, queries, cc, k).join(index.cell_stats(), "cell")
            .filter(mind2 <= F.col("ub"))
            .select("qid", *cc, "ub", "cell", "maxsalt", "fin0"))


def _cell_knn_maker(cc: list, cdt, k: int):
    """Phase-3 kernel factory: cold (one group per cell) kernels rank
    exactly within the group, so their rows are bypass-eligible when
    the query's fin0 says so, and they force the per-blob block-scan
    bound tighten; hot (per-blob) groups never emit fin rows."""
    def make_cell_knn(cold: bool):
        def cell_knn(key, q: dict, i: dict) -> dict:
            if len(q["qid"]) == 0 or len(i["blob"]) == 0:
                return {}
            qpts = np.column_stack([q[c] for c in cc]).astype(cdt, copy=False)
            d, ii = _group_knn(qpts, i["blob"], k, q["ub"],
                               tighten=True if cold else None)
            m = len(qpts)
            qid = np.repeat(q["qid"], k)
            rank = np.tile(np.arange(1, k + 1, dtype=np.int32), m)
            row_fin = q["fin0"] if cold else np.zeros(m, bool)
            fin = np.repeat(row_fin, k)
            dd = d.ravel()
            ii = ii.ravel()
            ok = np.isfinite(dd)
            return {"qid": qid[ok], "nid": ii[ok], "dist_sq": dd[ok],
                    "rank": rank[ok], "fin": fin[ok]}
        return cell_knn
    return make_cell_knn


def knn_join(index: SpatialIndex, queries: DataFrame, k: int) -> DataFrame:
    """queries: (qid long, <coord cols> long) -> (qid, rank, nid, dist_sq).

    d >= 2 supported: distances use all coord dims; the cell-level bbox
    pruning (phase 2) uses only the grid dims — a lower bound on the
    full-d distance, so exactness is preserved for any d.

    All candidate cells scan concurrently in ONE cogroup round; queries
    whose enumeration had exactly one candidate cell (fin0, ~85% on
    uniform data) take their kernel-emitted ranks and skip the merge
    window — no per-query candidate count is computed. Queries whose
    extra enumerated cells drop in the stats join conservatively take
    the merge window — same results."""
    cc = list(index.coord_cols)
    # the candidate pairs feed the cold/hot split and the blob pruning,
    # and the scan output feeds the bypass and the merge window: LAZY
    # checkpoints are computed inside their first consumer's job and
    # read back by the next (the logical plan becomes a LogicalRDD, so
    # the blob semi-joins never see index.df lineage)
    cand = knn_candidates(index, queries, k).localCheckpoint(eager=False)
    maker = _cell_knn_maker(cc, _cdt(index), k)
    out_schema = "qid long, nid long, dist_sq double, rank int, fin boolean"
    local = scan_blobs(index, cand, maker(True), maker(False), out_schema) \
        .localCheckpoint(eager=False)
    w = Window.partitionBy("qid").orderBy(F.col("dist_sq").asc(),
                                          F.col("nid").asc())
    dist = (F.col("dist_sq") if index.float_coords
            else F.col("dist_sq").cast("long"))
    done = local.filter(F.col("fin"))
    merged = (local.filter(~F.col("fin"))
              .withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= k))
    return (done.unionByName(merged)
            .select("qid", "rank", "nid", dist.alias("dist_sq")))


def knn_shipped_blobs(index: SpatialIndex, queries: DataFrame, k: int
                      ) -> dict:
    """Bench/scale audit: how many blob rows (and bytes) a kNN job
    ships through the Arrow cogroup vs the whole index — evidence that
    phase 3's semi-join prunes blob shipping to the candidate set."""
    cand = knn_candidates(index, queries, k).localCheckpoint(eager=True)
    cold, hot = split_by_salt(index, cand)
    shipped = pruned_blobs(index.df, cold)
    if hot is not None:
        shipped = shipped.unionByName(pruned_blobs(hot_blobs(index), hot))
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
    search with counting on, so it is for audits, not the hot path."""
    cc = list(index.coord_cols)
    cand = knn_candidates(index, queries, k).localCheckpoint(eager=True)
    cdt = _cdt(index)

    def make_cell_count(cold: bool):
        # mirror knn_join's tighten flags (cold forces the block-scan
        # tighten; its scanned points are counted via knn_bound's stats
        # hook, so the audit reflects ALL distance comparisons)
        def cell_count(key, q: dict, i: dict) -> dict:
            if len(q["qid"]) == 0 or len(i["blob"]) == 0:
                return {}
            st: dict = {}
            _group_knn(np.column_stack([q[c] for c in cc]).astype(cdt),
                       i["blob"], k, q["ub"], stats=st,
                       tighten=True if cold else None)
            return {"qid": q["qid"], "scanned": st["scanned"],
                    "leaves": st["leaves"]}
        return cell_count

    per_cell = scan_blobs(index, cand, make_cell_count(True),
                          make_cell_count(False),
                          "qid long, scanned long, leaves long")
    return (per_cell.groupBy("qid")
            .agg(F.sum("scanned").alias("scanned"),
                 F.sum("leaves").alias("leaves")))
