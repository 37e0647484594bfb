"""Per-cell serialized kd-tree — the *local* level of the two-level index.

This is the Spark-side analogue of the reference's in-memory kd-tree
(ucrparlay/KDtree `include/cpdd/batch_op/build_tree.hpp:151-218`,
`query_op/nn_search.hpp:83-126`, `query_op/range_count.hpp:9-96`), built
inside `applyInArrow` over one grid cell's points and serialized to a
binary blob stored in the index table.

Design parity with the reference (semantics, not code):
- object-median splits (`std::nth_element` -> `np.argpartition`),
  build_tree.hpp:157-166
- split dimension = widest dimension of the node's bounding box
  (MAX_STRETCH_DIM default, `include/cpdd/kdTreeParallel.h:78`,
  `utility/dimensinality.hpp:22-33`)
- leaf wrap 32 (`LEAVE_WRAP`, kdTreeParallel.h:41)
- all-identical points collapse into one leaf regardless of size
  (dummy-leaf analogue, build_tree.hpp:183-186) — here leaves store
  (start, end) slices so duplicates cost nothing extra
- kNN prunes the far subtree when the splitting-plane distance exceeds
  the current kth-best (nn_search.hpp:121-125); range count returns
  `size` for fully-contained subtrees without descending
  (range_count.hpp:78-80)

Differences (deliberate, Spark-first): points are stored in-order so any
subtree is a contiguous slice (report = slice copy, no two-pass
count-then-fill needed — range_query.hpp:8-68 is unnecessary without a
shared output array); traversal is *batch-vectorized* — a whole query
batch descends together, partitioned into per-subtree active sets, with
numpy leaf scans (the reference goes one query per thread).

Coordinates are int64 (the reference's default `long`, README.md:125) so
all comparisons are exact — no epsilon comparator needed
(`include/cpdd/comparator.h`).

Log-structured updates: a cell blob also carries `extra` (inserted, not
yet merged into the tree) and `tomb` (deleted ids + coords). Queries
consult all three; a rebuild folds them in when the imbalance threshold
(INBALANCE_RATIO=30, `utility/tree_node.hpp:118-131`) is crossed.
"""

from __future__ import annotations

import numpy as np

LEAF_WRAP = 128
# Deliberate deviation from the reference's LEAVE_WRAP=32
# (kdTreeParallel.h:41): its traversal is one-query-per-thread, where
# small leaves minimize scanned points; ours is batch-vectorized, where
# traversal is the python-loop cost and leaf scans are numpy — measured
# at 128 the kNN/range kernels run 2-3x faster than at 32 with identical
# (exact) results.
INBALANCE_RATIO = 30
# percent; the reference's default (tree_node.hpp:118-124)
TIGHTEN_MIN = 32768
# blobs at least this large tighten a caller-supplied kNN bound with
# their own block-scan bound before searching (see knn())
# NOTE: a whole-blob brute-scan "crossover" for small query batches was
# tried and measured 18x SLOWER than the bound-seeded traversal at
# m=94/n=9400 at d=2 (scan()'s full-row lexsort merge dominates); the
# knn_bound seeding already fixes small-batch traversal cost, so there
# is no brute regime worth keeping IN LOW d. In HIGH d the picture
# inverts: bbox pruning stops working (curse of dimensionality — the
# kth-NN radius spans most of the domain), the traversal visits nearly
# every leaf anyway, and its per-leaf gather overhead loses badly to
# one BLAS matmul. Measured crossover at n=9400, m=574 (tree/dense ms):
# d=5 93/214, d=6 359/113, d=8 3438/106, d=16 2715/113 — the tree wins
# through d=5, dense wins 3-30x from d=6 up. knn() switches to the
# dense kernel at d >= DENSE_SCAN_DIM for integer coords (where the
# dot-trick distances are provably exact, see _knn_dense).
# ALSO tried and rejected: size-class-bucketed vectorization of
# knn_bound's per-block loop (one inf-padded einsum+partition per
# padded block-size class instead of one per distinct block) — measured
# 31 ms vs 29 ms per 3k-query batch at n=150k: the per-block loop is
# ~30 us/block all-in, NOT overhead-bound, and padding pays more in
# gather/partition width than the loop costs.
DENSE_SCAN_DIM = 6


def _alive_mask(tomb_sorted: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Boolean mask of ids NOT in the sorted tombstone array (the
    pos==len clamp makes the subsequent compare safe for ids above the
    largest tombstone)."""
    pos = np.searchsorted(tomb_sorted, ids)
    pos[pos == len(tomb_sorted)] = 0
    return tomb_sorted[pos] != ids


class LocalKDTree:
    """Array-backed kd-tree over int64 points with stable ids.

    Node arrays (index = node id, root = 0):
      split_dim  int16   (-1 for leaf)
      split_val  int64
      left/right int32   (-1 for leaf)
      start/end  int32   slice into the reordered point array
      nbox       int64 (nnodes, 2d)  per-node bbox (min..., max...)
    Point arrays:
      pts  int64 (n, d)  reordered so each subtree is contiguous
      ids  int64 (n,)
    """

    def __init__(self, pts, ids, split_dim, split_val, left, right, start, end,
                 nbox, extra_pts=None, extra_ids=None, tomb_pts=None,
                 tomb_ids=None):
        self.pts = pts
        self.ids = ids
        self.split_dim = split_dim
        self.split_val = split_val
        self.left = left
        self.right = right
        self.start = start
        self.end = end
        self.nbox = nbox
        d = pts.shape[1]
        cdt = self.cdtype
        self.extra_pts = extra_pts if extra_pts is not None else np.empty((0, d), cdt)
        self.extra_ids = extra_ids if extra_ids is not None else np.empty(0, np.int64)
        self.tomb_pts = tomb_pts if tomb_pts is not None else np.empty((0, d), cdt)
        self.tomb_ids = tomb_ids if tomb_ids is not None else np.empty(0, np.int64)

    @property
    def cdtype(self):
        """Full-width coordinate dtype (pts may be stored int32)."""
        return (np.float64 if np.issubdtype(self.pts.dtype, np.floating)
                else np.int64)

    # ------------------------------------------------------------------ build

    @classmethod
    def build(cls, pts: np.ndarray, ids: np.ndarray,
              leaf_wrap: int = LEAF_WRAP,
              split_rule: str = "max_stretch") -> "LocalKDTree":
        """split_rule: 'max_stretch' (reference default MAX_STRETCH_DIM,
        kdTreeParallel.h:78) or 'rotate' (ROTATE_DIM: dim = depth % d)."""
        # dtype-generic: int64 (default, exact) or float64 (the
        # reference's double-coordinate test build, comparator.h:10-79;
        # all comparisons below are exact IEEE on either)
        pts = np.ascontiguousarray(pts)
        pts = pts.astype(np.float64 if np.issubdtype(pts.dtype, np.floating)
                         else np.int64, copy=False)
        ids = np.ascontiguousarray(ids, dtype=np.int64)
        rotate = split_rule == "rotate"
        if not rotate and split_rule != "max_stretch":
            raise ValueError(split_rule)
        n, d = pts.shape
        split_dim, split_val = [], []
        left, right, start, end, nbox = [], [], [], [], []

        def new_node():
            i = len(split_dim)
            split_dim.append(-1)
            split_val.append(0)
            left.append(-1)
            right.append(-1)
            start.append(0)
            end.append(0)
            nbox.append(None)
            return i

        # level-synchronous construction over a physically-reordered
        # working copy: per level, ONE interleaved ufunc.reduceat pass
        # computes every active segment's bbox (a per-node min/max +
        # subarray gather was the profile's dominant cost), then each
        # splitting node pays exactly one argpartition and one in-place
        # reorder of its contiguous segment. Split choices replicate the
        # recursive form; node ids renumber breadth-first (blobs are not
        # byte-compatible with pre-rewrite builds, semantics identical).
        work = pts.copy()
        wids = ids.copy()
        cdtype = work.dtype
        if n == 0:
            root = new_node()
            nbox[root] = np.zeros(2 * d, cdtype)
        else:
            root = new_node()
            fr_nodes = [root]
            fr_lo = [0]
            fr_hi = [n]
            dep = 0
            while fr_nodes:
                lo_a = np.asarray(fr_lo, np.int64)
                hi_a = np.asarray(fr_hi, np.int64)
                idxs = np.empty(2 * len(lo_a), np.int64)
                idxs[0::2] = lo_a
                idxs[1::2] = hi_a
                if idxs[-1] == n:  # reduceat indices must be < n; the
                    idxs = idxs[:-1]  # final reduce then runs to the end
                mns = np.minimum.reduceat(work, idxs, axis=0)[0::2]
                mxs = np.maximum.reduceat(work, idxs, axis=0)[0::2]
                widths_all = mxs - mns
                nx_nodes, nx_lo, nx_hi = [], [], []
                for j, node in enumerate(fr_nodes):
                    lo = int(lo_a[j])
                    hi = int(hi_a[j])
                    nbox[node] = np.concatenate([mns[j], mxs[j]])
                    widths = widths_all[j]
                    if hi - lo <= leaf_wrap or widths.max() == 0:
                        # leaf; widths==0 -> all points identical (dummy-
                        # leaf analogue, build_tree.hpp:183-186)
                        start[node], end[node] = lo, hi
                        continue
                    if rotate:
                        # ROTATE_DIM: cycle dims by depth, skipping zero-
                        # width dims (a zero-width split sends all one way)
                        dim = dep % d
                        while widths[dim] == 0:
                            dim = (dim + 1) % d
                    else:
                        dim = int(np.argmax(widths))  # max-stretch dim
                    m = (hi - lo) // 2                # object median
                    seg = work[lo:hi]
                    order = np.argpartition(seg[:, dim], m)
                    work[lo:hi] = seg[order]
                    wids[lo:hi] = wids[lo:hi][order]
                    split_dim[node] = dim
                    split_val[node] = work[lo + m, dim].item()
                    start[node], end[node] = lo, hi
                    l_ = new_node()
                    r_ = new_node()
                    left[node], right[node] = l_, r_
                    nx_nodes += [l_, r_]
                    nx_lo += [lo, lo + m]
                    nx_hi += [lo + m, hi]
                fr_nodes, fr_lo, fr_hi = nx_nodes, nx_lo, nx_hi
                dep += 1

        pts_store = work
        # store coords int32 when they fit (reference domain is [0,1e6]^d,
        # data_generate.cpp:19): halves the dominant blob component, so
        # serialization, shuffle, cache and Arrow volume all drop ~33%;
        # kernels upcast to float64/int64 on the fly, results unchanged
        if cdtype == np.int64 and (pts_store.size == 0 or (
                pts_store.min() >= -(2 ** 31)
                and pts_store.max() < 2 ** 31)):
            pts_store = pts_store.astype(np.int32)
        return cls(
            pts=pts_store,
            ids=wids,
            split_dim=np.asarray(split_dim, np.int16),
            split_val=np.asarray(split_val, cdtype),
            left=np.asarray(left, np.int32),
            right=np.asarray(right, np.int32),
            start=np.asarray(start, np.int32),
            end=np.asarray(end, np.int32),
            nbox=np.stack(nbox).astype(cdtype),
        )

    # -------------------------------------------------------------- serialize

    _FIELDS = ("pts", "ids", "split_dim", "split_val", "left", "right",
               "start", "end", "nbox", "extra_pts", "extra_ids",
               "tomb_pts", "tomb_ids")

    # raw header+buffer serialization: ~3x faster than np.savez (which
    # zips with a per-array CRC32) — blob encode/decode is on the hot
    # path of every build and every query cogroup
    def to_bytes(self) -> bytes:
        import json
        meta = []
        bufs = []
        for f in self._FIELDS:
            a = np.ascontiguousarray(getattr(self, f))
            meta.append([f, a.dtype.str, list(a.shape)])
            bufs.append(a.tobytes())
        h = json.dumps(meta).encode()
        return len(h).to_bytes(4, "little") + h + b"".join(bufs)

    @classmethod
    def from_bytes(cls, blob) -> "LocalKDTree":
        """The tree to_bytes wrote, from any buffer (bytes, or a
        memoryview slice of an Arrow data buffer); the arrays are
        zero-copy views of it."""
        import json
        hl = int.from_bytes(blob[:4], "little")
        meta = json.loads(bytes(blob[4:4 + hl]))
        mv = memoryview(blob)
        off = 4 + hl
        kw = {}
        for f, dt, shape in meta:
            n = 1
            for s in shape:
                n *= s
            nbytes = np.dtype(dt).itemsize * n
            kw[f] = np.frombuffer(
                mv[off:off + nbytes], dtype=dt).reshape(shape)
            off += nbytes
        return cls(**kw)

    # ---------------------------------------------------------------- helpers

    @property
    def n_base(self) -> int:
        return len(self.ids)

    @property
    def n_live(self) -> int:
        return len(self.ids) + len(self.extra_ids) - len(self.tomb_ids)

    @property
    def depth(self) -> int:
        # max leaf depth, one level of nodes at a time from the root
        # (node 0): the deepest level holds leaves only
        if len(self.split_dim) == 0:
            return 0
        level, nodes = 0, np.zeros(1, np.int64)
        while True:
            inner = nodes[self.left[nodes] >= 0]
            if not len(inner):
                return level
            nodes = np.concatenate([self.left[inner], self.right[inner]])
            level += 1

    def live_points(self):
        """Materialize (pts, ids) net of tombstones + extras (for rebuild).
        Tombstones name base points only: an extra whose pid is
        tombstoned (a re-insert of a deleted pid) is live."""
        pts, ids = self.pts, self.ids
        if len(self.tomb_ids):
            alive = ~np.isin(ids, self.tomb_ids)
            pts, ids = pts[alive], ids[alive]
        return (np.concatenate([pts, self.extra_pts]),
                np.concatenate([ids, self.extra_ids]))

    def probe_sample(self, cap: int = 1024) -> np.ndarray:
        """Deterministic stride sample of up to `cap` LIVE points,
        flattened row-major coords — the per-cell probe set the
        distributed kNN seeds its prune bound from (queries/knn.py
        phase 1): the kth smallest distance² to any k live points is a
        valid upper bound on the true kth-NN distance², tight within a
        (n_live/cap)^(1/d) radius factor in any dimension. The stride
        runs over tree order, so every leaf region contributes
        proportionally (clusters stay represented). ~cap*d*8 bytes per
        blob — the ONLY point data a kNN job ships for bound-seeding,
        the distributed analogue of the reference's one-descent seed
        (query_op/nn_search.hpp:83-126)."""
        pts, _ = self.live_points()
        step = max(1, -(-len(pts) // cap))  # ceil(n / cap)
        # the coordinate type picks the schema: int64 for the integer
        # engine (array<bigint>), float64 for float mode (array<double>)
        return pts[::step].astype(self.cdtype).ravel()

    def needs_rebuild(self) -> bool:
        n = max(self.n_base, 1)
        churn = len(self.extra_ids) + len(self.tomb_ids)
        return churn * 100 > INBALANCE_RATIO * n

    def with_updates(self, ins_pts=None, ins_ids=None, del_pts=None,
                     del_ids=None) -> "LocalKDTree":
        """Log-structured apply; rebuilds when imbalance threshold crossed.
        Deletes apply before inserts, so a batch that deletes and inserts
        one pid replaces its point. A delete of a logged insert nets it
        out of the extras; a delete of a base pid not yet tombstoned
        becomes a tombstone; any other delete (an absent or an
        already-tombstoned pid) changes nothing (partial-cover
        semantics, batch_delete.hpp:95-107). Inserts append to the
        extras."""
        t = LocalKDTree(self.pts, self.ids, self.split_dim, self.split_val,
                        self.left, self.right, self.start, self.end, self.nbox,
                        self.extra_pts, self.extra_ids, self.tomb_pts,
                        self.tomb_ids)
        cdt = t.cdtype
        if del_ids is not None and len(del_ids):
            del_ids = np.asarray(del_ids, np.int64)
            del_pts = np.asarray(del_pts, cdt)
            in_extra = np.isin(del_ids, t.extra_ids)
            if in_extra.any():
                kill = np.isin(t.extra_ids, del_ids[in_extra])
                t.extra_pts, t.extra_ids = t.extra_pts[~kill], t.extra_ids[~kill]
            rest = del_ids[~in_extra]
            rest_pts = del_pts[~in_extra]
            # ignore ids already tombstoned (overlapping delete batches,
            # e.g. the H2 ratio sweep's nested modulus filters)
            present = np.isin(rest, t.ids) & ~np.isin(rest, t.tomb_ids)
            t.tomb_pts = np.concatenate([t.tomb_pts, rest_pts[present]])
            t.tomb_ids = np.concatenate([t.tomb_ids, rest[present]])
        if ins_ids is not None and len(ins_ids):
            t.extra_pts = np.concatenate([t.extra_pts, np.asarray(ins_pts, cdt)])
            t.extra_ids = np.concatenate([t.extra_ids, np.asarray(ins_ids, np.int64)])
        if t.needs_rebuild():
            pts, ids = t.live_points()
            return LocalKDTree.build(pts, ids)
        return t

    # -------------------------------------------------------------------- kNN

    def knn_bound(self, q: np.ndarray, k: int,
                  stats: dict | None = None, collect: bool = False):
        """Cheap VALID upper bound on each query's kth-NN distance².

        Vectorized descent to the deepest enclosing subtree block with
        >= max(2k, 128) base points (so >= k survive tombstones in all
        but pathological blocks), then one block scan for the kth
        smallest distance² among its live points. Any k live points
        upper-bound the true kth distance, so this is exact-safe as a
        prune bound; queries whose block has < k live points get inf.

        This replaces a full cold traversal for bound-seeding: at small
        per-cell batch sizes the batch traversal is dominated by
        per-node numpy overhead, while this is one descent (O(depth)
        passes over the batch) plus one einsum per distinct stop block.

        collect=True additionally returns the scan's work so knn() can
        SKIP the stop subtree instead of rescanning it:
        (bound, stop_node (m,) int64 — the scanned node per query, -1
        where no scan happened — and flat candidate arrays cand_q,
        cand_d2, cand_id covering EVERY live point of each scanned
        block, unfiltered). Exactness contract: a query's candidates
        are complete for its stop subtree iff stop_node[q] != -1.
        """
        q = np.asarray(q)
        m, d = q.shape
        bound = np.full(m, np.inf)
        stopn = np.full(m, -1, np.int64)
        cq: list = []
        cd2: list = []
        cid: list = []

        def _ret():
            if not collect:
                return bound
            e = (np.empty(0, np.int64), np.empty(0, np.float64),
                 np.empty(0, np.int64))
            cat = ((np.concatenate(cq), np.concatenate(cd2),
                    np.concatenate(cid)) if cq else e)
            return bound, stopn, *cat

        if m == 0:
            return _ret()
        qf = q.astype(np.float64)
        if self.n_base:
            stop = max(2 * k, 128)
            cur = np.zeros(m, np.int64)
            rows = np.arange(m)
            while True:
                sd = self.split_dim[cur]
                internal = sd >= 0
                if not internal.any():
                    break
                qd = qf[rows, np.where(internal, sd, 0)]
                child = np.where(qd < self.split_val[cur],
                                 self.left[cur], self.right[cur])
                ok = internal & (
                    (self.end[child] - self.start[child]) >= stop)
                if not ok.any():
                    break
                cur = np.where(ok, child, cur)
            tomb = np.sort(self.tomb_ids) if len(self.tomb_ids) else None
            order = np.argsort(cur, kind="stable")
            scur = cur[order]
            blockstarts = np.flatnonzero(
                np.r_[True, scur[1:] != scur[:-1]])
            blockends = np.r_[blockstarts[1:], m]
            for bs, be in zip(blockstarts, blockends):
                node = scur[bs]
                qsub = order[bs:be]
                lo, hi = self.start[node], self.end[node]
                bpts, bids = self.pts[lo:hi], self.ids[lo:hi]
                if tomb is not None:
                    alive = _alive_mask(tomb, bids)
                    bpts, bids = bpts[alive], bids[alive]
                if len(bpts) < k:
                    continue
                if stats is not None:
                    stats["scanned"][qsub] += len(bpts)
                    stats["leaves"][qsub] += 1
                diff = qf[qsub, None, :] - bpts[None, :, :].astype(np.float64)
                d2 = np.einsum("ijk,ijk->ij", diff, diff)
                bound[qsub] = np.partition(d2, k - 1, axis=1)[:, k - 1]
                if collect:
                    stopn[qsub] = node
                    cq.append(np.repeat(qsub, len(bpts)))
                    cd2.append(d2.ravel())
                    cid.append(np.tile(bids, len(qsub)))
        # extras can only tighten; a kth among extras alone is also valid
        ne = len(self.extra_ids)
        if k <= ne <= 65536:
            diff = qf[:, None, :] - self.extra_pts[None, :, :].astype(np.float64)
            d2 = np.einsum("ijk,ijk->ij", diff, diff)
            bound = np.minimum(bound, np.partition(d2, k - 1, axis=1)[:, k - 1])
        return _ret()

    def _knn_dense(self, q: np.ndarray, k: int,
                   ub: np.ndarray | None = None,
                   stats: dict | None = None):
        """Dense exact kNN: one blocked BLAS matmul over the live
        points — the high-d kernel (see DENSE_SCAN_DIM note). Integer
        coords only: with |coord| < 2^20 and d <= 16 every term of
        q·q - 2 q·p + p·p (and every partial sum inside the matmul) is
        an integer below 2^53, so the float64 distances are EXACT and
        the (dist², id) tie-break is identical to the traversal path
        and the SQL oracle. Tie-safe top-k: argpartition by distance,
        then every column tied with the kth value re-enters the
        (dist², id) lexsort. Same contract as knn(): ub drops
        candidates beyond the bound, missing slots are (inf, -1)."""
        q = np.asarray(q)
        m, d = q.shape
        if stats is not None:
            stats.setdefault("scanned", np.zeros(m, np.int64))
            stats.setdefault("leaves", np.zeros(m, np.int64))
        best_d = np.full((m, k), np.inf, dtype=np.float64)
        best_i = np.full((m, k), -1, dtype=np.int64)
        if m == 0:
            return best_d, best_i
        pts, ids = self.live_points()
        n = len(pts)
        if n == 0:
            return best_d, best_i
        if stats is not None:
            stats["scanned"] += n
            stats["leaves"] += (self.end > self.start).sum()
        pf = pts.astype(np.float64)
        pp = (pf * pf).sum(axis=1)
        kk = min(k, n)
        # blocked over queries: <= ~128 MB of distances per block
        qblk = max(1, (1 << 24) // max(n, 1))
        for s in range(0, m, qblk):
            qf = q[s:s + qblk].astype(np.float64)
            d2 = (qf * qf).sum(axis=1)[:, None] - 2.0 * (qf @ pf.T) + pp
            part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
            rows = np.arange(len(qf))[:, None]
            pd2 = d2[rows, part]
            kth = pd2.max(axis=1)
            # distance-ties at the kth value may hide a smaller id
            # outside the partition: pull EVERY tied column back in.
            # ub filters BEFORE ranking (the traversal path compacts
            # dropped candidates the same way).
            cand = d2 <= kth[:, None]
            if ub is not None:
                cand &= d2 <= ub[s:s + len(qf), None]
            ti, tj = np.nonzero(cand)
            if len(ti) == 0:
                continue
            cd = d2[ti, tj]
            order = np.lexsort((ids[tj], cd, ti))
            ti, tj, cd = ti[order], tj[order], cd[order]
            grp_start = np.flatnonzero(np.r_[True, ti[1:] != ti[:-1]])
            grp_size = np.diff(np.r_[grp_start, len(ti)])
            rank = np.arange(len(ti)) - np.repeat(grp_start, grp_size)
            keep = rank < k
            best_d[s + ti[keep], rank[keep]] = cd[keep]
            best_i[s + ti[keep], rank[keep]] = ids[tj[keep]]
        return best_d, best_i

    def knn(self, q: np.ndarray, k: int, ub: np.ndarray | None = None,
            stats: dict | None = None, tighten: bool | None = None):
        """Exact k nearest neighbours for a batch of queries.

        q: (m, d) int64. ub: optional (m,) float64 VALID upper bound on
        the kth distance² (never below the true kth the caller cares
        about) — used for pruning, and candidates beyond it are dropped:
        with ub given, the result is the top-k *within the bound*
        (slots whose distance would exceed ub come back (inf, -1)); a
        distributed caller merging per-cell results loses nothing,
        because every global top-k member lies within any valid bound.
        Without ub the blob-local top-k is complete.
        Returns (dist2 (m,k) float64 sorted, ids (m,k) int64); missing
        slots are (inf, -1). Tie-break: (dist², id) ascending.

        stats: optional dict; when given, per-query work counters are
        ACCUMULATED into stats["scanned"] (points distance-compared) and
        stats["leaves"] (leaf blocks visited), both (m,) int64 — the
        analogue of the reference's visited-node kNN audit column
        (tests/testFramework.h:505-517). Zero overhead when None.
        """
        q = np.asarray(q)
        m, d = q.shape
        if (m > 0 and d >= DENSE_SCAN_DIM
                and np.issubdtype(np.asarray(self.pts).dtype, np.integer)):
            # high d: bbox pruning is geometrically dead and the dense
            # matmul kernel wins by 1-2 orders (DENSE_SCAN_DIM note);
            # integer coords keep the dot-trick distances exact
            return self._knn_dense(q, k, ub=ub, stats=stats)
        if stats is not None:
            stats.setdefault("scanned", np.zeros(m, np.int64))
            stats.setdefault("leaves", np.zeros(m, np.int64))
        best_d = np.full((m, k), np.inf, dtype=np.float64)
        best_i = np.full((m, k), -1, dtype=np.int64)
        if m == 0:
            return best_d, best_i
        # cold searches seed the prune bound with the block-scan kth
        # upper bound (exact-safe: pruning drops only subtrees/points
        # strictly beyond a valid kth upper bound, so distance-ties at
        # the bound still reach the (dist², id) tie-break). Bounded
        # searches keep the caller's ub on small blobs, but LARGE blobs
        # tighten it with their own block-scan bound (min of two valid
        # kth upper bounds is valid; a distributed caller merging
        # per-blob results loses nothing): the caller's seed is a
        # fractional-sample bound whose looseness costs scanned points
        # in proportion to blob size — measured at a 150k-pt blob, the
        # extra one-block scan cuts 955 -> ~300 scanned points/query.
        # Small blobs skip it: salted hot cells replicate queries per
        # blob and the per-blob bound scan dominated the varden leg 3x.
        # tighten: None = auto (large blobs only); True forces the
        # per-blob block-scan tighten (the cold/unsalted cogroup passes
        # True — one blob per cell, so the scan runs once per query and
        # replaces the probe-sample seed's looseness with a bound from
        # the blob's OWN points, the reference's nearer-child-first
        # effect, nn_search.hpp:107-120); False/auto on salted fan-out
        # paths where per-blob replication made it a 3x regression.
        # collect=True returns the block scan's candidates + per-query
        # stop node: the descent below SKIPS each query's stop subtree
        # (its points are already in the candidate rows) instead of
        # rescanning it — the audit's scanned-pts/query drops ~35% and
        # the gather shrinks accordingly, at identical results.
        stopn = None
        if ub is None:
            bound, stopn, cbq, cbd, cbi = self.knn_bound(
                q, k, stats=stats, collect=True)
        else:
            bound = np.asarray(ub, np.float64).copy()
            if (tighten is True
                    or (tighten is None and self.n_base >= TIGHTEN_MIN)):
                b2, stopn, cbq, cbd, cbi = self.knn_bound(
                    q, k, stats=stats, collect=True)
                bound = np.minimum(bound, b2)

        qf = q.astype(np.float64)
        # tombstones are filtered AT THE LEAF (sorted-array membership per
        # scanned block) instead of over-fetching k+|tomb| per query —
        # post-delete query cost stays O(k), not O(k + batch size)
        tomb = np.sort(self.tomb_ids) if len(self.tomb_ids) else None

        # The whole search is three flat vectorized passes — no per-node
        # Python (a stack-of-query-subsets traversal fragments to ~1-2
        # queries per leaf merge and its call overhead dominates):
        #   A  frontier descent: (query, node) pairs advance one level
        #      per iteration; the near child is always taken, the far
        #      child only when the split-plane distance² is within the
        #      query's seed bound (the reference's sibling test,
        #      nn_search.hpp:83-126, against the phase-1 bound)
        #   B  one flat gather of all surviving (query, leaf) blocks ->
        #      distance² in one einsum, filtered to d² <= bound (valid:
        #      bound never goes below the true kth distance)
        #   C  one global lexsort on (id, d², query) + rank-in-group
        #      -> top-k per query, identical (dist², id) tie-break
        rows_q: list = []
        rows_d: list = []
        rows_i: list = []
        if stopn is not None and len(cbq):
            # block-scan candidates, filtered by the FINAL bound (the
            # same `d2 <= bound` test gather applies)
            keep = cbd <= bound[cbq]
            rows_q.append(cbq[keep])
            rows_d.append(cbd[keep])
            rows_i.append(cbi[keep])

        def gather(lq: np.ndarray, ln: np.ndarray) -> None:
            # flatten the leaf blocks of (query, leaf) pairs and keep
            # candidates within each query's bound
            starts = self.start[ln]
            sizes = (self.end[ln] - starts).astype(np.int64)
            nz = sizes > 0
            lq, starts, sizes = lq[nz], starts[nz], sizes[nz]
            if not len(lq):
                return
            if stats is not None:
                np.add.at(stats["scanned"], lq, sizes)
                np.add.at(stats["leaves"], lq, 1)
            total = int(sizes.sum())
            off = np.zeros(len(sizes), np.int64)
            np.cumsum(sizes[:-1], out=off[1:])
            ptidx = np.repeat(starts - off, sizes) \
                + np.arange(total, dtype=np.int64)
            rowq = np.repeat(lq, sizes)
            pid = self.ids[ptidx]
            ppts = self.pts[ptidx]
            if tomb is not None:
                alive = _alive_mask(tomb, pid)
                rowq, pid, ppts = rowq[alive], pid[alive], ppts[alive]
            diff = qf[rowq] - ppts.astype(np.float64)
            d2 = np.einsum("ij,ij->i", diff, diff)
            keep = d2 <= bound[rowq]
            rows_q.append(rowq[keep])
            rows_d.append(d2[keep])
            rows_i.append(pid[keep])

        # cap the flat gather's peak memory: past GATHER_CAP rows the
        # pair list is split (pairs are independent — the final global
        # reduce sees every chunk's survivors)
        GATHER_CAP = 4 << 20

        if self.n_base:
            pair_q = np.arange(m, dtype=np.int64)
            pair_n = np.zeros(m, np.int64)
            leaf_q: list = []
            leaf_n: list = []
            while len(pair_q):
                if stopn is not None:
                    # already-scanned stop subtrees: their candidates
                    # were merged above, do not descend into them
                    live_p = pair_n != stopn[pair_q]
                    if not live_p.all():
                        pair_q, pair_n = pair_q[live_p], pair_n[live_p]
                        if not len(pair_q):
                            break
                sd = self.split_dim[pair_n]
                isleaf = sd < 0
                if isleaf.any():
                    leaf_q.append(pair_q[isleaf])
                    leaf_n.append(pair_n[isleaf])
                    internal = ~isleaf
                    pair_q, pair_n = pair_q[internal], pair_n[internal]
                    sd = sd[internal]
                    if not len(pair_q):
                        break
                qd = qf[pair_q, sd]
                sv = self.split_val[pair_n]
                goleft = qd < sv
                near = np.where(goleft, self.left[pair_n],
                                self.right[pair_n])
                far = np.where(goleft, self.right[pair_n],
                               self.left[pair_n])
                keep_far = (qd - sv) ** 2 <= bound[pair_q]
                pair_n = np.concatenate([near, far[keep_far]])
                pair_q = np.concatenate([pair_q, pair_q[keep_far]])
            if leaf_q:
                lq = np.concatenate(leaf_q)
                ln = np.concatenate(leaf_n)
                sizes = (self.end[ln] - self.start[ln]).astype(np.int64)
                csum = np.cumsum(sizes)
                if csum[-1] <= GATHER_CAP:
                    gather(lq, ln)
                else:
                    cuts = np.searchsorted(
                        csum, np.arange(GATHER_CAP, csum[-1], GATHER_CAP))
                    for chunk_q, chunk_n in zip(np.array_split(lq, cuts),
                                                np.array_split(ln, cuts)):
                        gather(chunk_q, chunk_n)

        # extras: brute scan for every query (extras are never
        # tombstoned — deletes net them out of the log at update time)
        ne = len(self.extra_ids)
        if ne:
            if stats is not None:
                stats["scanned"] += ne
                stats["leaves"] += 1
            epts = self.extra_pts.astype(np.float64)
            for lo in range(0, m, max(1, GATHER_CAP // ne)):
                hi = min(m, lo + max(1, GATHER_CAP // ne))
                rowq = np.repeat(np.arange(lo, hi, dtype=np.int64), ne)
                diff = qf[rowq] - np.tile(epts, (hi - lo, 1))
                d2 = np.einsum("ij,ij->i", diff, diff)
                keep = d2 <= bound[rowq]
                rows_q.append(rowq[keep])
                rows_d.append(d2[keep])
                rows_i.append(np.tile(self.extra_ids, hi - lo)[keep])

        if rows_q:
            rq = np.concatenate(rows_q)
            rd = np.concatenate(rows_d)
            ri = np.concatenate(rows_i)
            srt = np.lexsort((ri, rd, rq))
            rq, rd, ri = rq[srt], rd[srt], ri[srt]
            gstart = np.flatnonzero(np.r_[True, rq[1:] != rq[:-1]])
            counts = np.diff(np.r_[gstart, len(rq)])
            rank = np.arange(len(rq), dtype=np.int64) \
                - np.repeat(gstart, counts)
            sel = rank < k
            flat = rq[sel] * k + rank[sel]
            best_d.ravel()[flat] = rd[sel]
            best_i.ravel()[flat] = ri[sel]
        return best_d, best_i

    # ------------------------------------------------------------------ range

    def range_count(self, boxes: np.ndarray) -> np.ndarray:
        """boxes: (m, 2d) int64 [min..., max...] inclusive. Returns (m,) counts."""
        boxes = np.asarray(boxes, dtype=np.int64)
        m = boxes.shape[0]
        d = self.pts.shape[1]
        blo, bhi = boxes[:, :d], boxes[:, d:]
        out = np.zeros(m, dtype=np.int64)
        if self.n_base:
            stack = [(0, np.arange(m, dtype=np.int64))]
            while stack:
                node, act = stack.pop()
                nb = self.nbox[node]
                nlo, nhi = nb[:d], nb[d:]
                inter = np.all((blo[act] <= nhi) & (bhi[act] >= nlo), axis=1)
                act = act[inter]
                if len(act) == 0:
                    continue
                contained = np.all((blo[act] <= nlo) & (bhi[act] >= nhi), axis=1)
                # contained -> add subtree size without descending
                # (range_count.hpp:78-80)
                out[act[contained]] += self.end[node] - self.start[node]
                act = act[~contained]
                if len(act) == 0:
                    continue
                if self.split_dim[node] < 0:
                    lo, hi = self.start[node], self.end[node]
                    sub = self.pts[lo:hi]
                    inb = np.all(
                        (sub[None, :, :] >= blo[act][:, None, :])
                        & (sub[None, :, :] <= bhi[act][:, None, :]), axis=2)
                    out[act] += inb.sum(axis=1)
                else:
                    stack.append((self.left[node], act))
                    stack.append((self.right[node], act))
        # extras add, tombstones subtract
        for arr, sign in ((self.extra_pts, 1), (self.tomb_pts, -1)):
            if len(arr):
                inb = np.all((arr[None, :, :] >= blo[:, None, :])
                             & (arr[None, :, :] <= bhi[:, None, :]), axis=2)
                out += sign * inb.sum(axis=1)
        return out

    def range_report(self, boxes: np.ndarray):
        """Returns (box_idx (t,), pts (t,d), ids (t,)) for all points in boxes."""
        boxes = np.asarray(boxes, dtype=np.int64)
        m = boxes.shape[0]
        d = self.pts.shape[1]
        blo, bhi = boxes[:, :d], boxes[:, d:]
        out_b, out_p, out_i = [], [], []

        def emit(bidx, pts, ids):
            if len(ids):
                out_b.append(np.full(len(ids), bidx, np.int64))
                out_p.append(pts)
                out_i.append(ids)

        if self.n_base:
            stack = [(0, np.arange(m, dtype=np.int64))]
            while stack:
                node, act = stack.pop()
                nb = self.nbox[node]
                nlo, nhi = nb[:d], nb[d:]
                inter = np.all((blo[act] <= nhi) & (bhi[act] >= nlo), axis=1)
                act = act[inter]
                if len(act) == 0:
                    continue
                contained = np.all((blo[act] <= nlo) & (bhi[act] >= nhi), axis=1)
                lo, hi = self.start[node], self.end[node]
                for b in act[contained]:
                    emit(int(b), self.pts[lo:hi], self.ids[lo:hi])
                act = act[~contained]
                if len(act) == 0:
                    continue
                if self.split_dim[node] < 0:
                    sub = self.pts[lo:hi]
                    sid = self.ids[lo:hi]
                    for b in act:
                        ok = np.all((sub >= blo[b]) & (sub <= bhi[b]), axis=1)
                        emit(int(b), sub[ok], sid[ok])
                else:
                    stack.append((self.left[node], act))
                    stack.append((self.right[node], act))
        if out_b and len(self.tomb_ids):  # tombstones hide base points
            out_b, out_p, out_i = [np.concatenate(o) for o in
                                   (out_b, out_p, out_i)]
            keep = ~np.isin(out_i, self.tomb_ids)
            out_b, out_p, out_i = [out_b[keep]], [out_p[keep]], [out_i[keep]]
        for b in range(m):
            if len(self.extra_ids):
                ok = np.all((self.extra_pts >= blo[b]) & (self.extra_pts <= bhi[b]), axis=1)
                emit(b, self.extra_pts[ok], self.extra_ids[ok])
        if out_b:
            bi = np.concatenate(out_b)
            pp = np.concatenate(out_p)
            ii = np.concatenate(out_i)
        else:
            bi = np.empty(0, np.int64)
            pp = np.empty((0, d), np.int64)
            ii = np.empty(0, np.int64)
        return bi, pp, ii

    def circle_count(self, centers: np.ndarray, radii: np.ndarray) -> np.ndarray:
        """Count points within squared-L2 radius² (inclusive) of each center.

        centers (m,d) int64, radii (m,) — radius in coordinate units.
        Mirrors range_count(circle) (range_count.hpp:99-131).
        """
        centers = np.asarray(centers, np.int64)
        radii = np.asarray(radii, np.float64)
        r2 = radii ** 2
        m, d = centers.shape
        out = np.zeros(m, dtype=np.int64)
        cf = centers.astype(np.float64)

        def box_min_d2(act, nlo, nhi):
            c = np.clip(cf[act], nlo, nhi)
            diff = cf[act] - c
            return np.einsum("ij,ij->i", diff, diff)

        def box_max_d2(act, nlo, nhi):
            far = np.where(np.abs(cf[act] - nlo) > np.abs(cf[act] - nhi), nlo, nhi)
            diff = cf[act] - far
            return np.einsum("ij,ij->i", diff, diff)

        if self.n_base:
            stack = [(0, np.arange(m, dtype=np.int64))]
            while stack:
                node, act = stack.pop()
                nb = self.nbox[node].astype(np.float64)
                nlo, nhi = nb[:d], nb[d:]
                keep = box_min_d2(act, nlo, nhi) <= r2[act]
                act = act[keep]
                if len(act) == 0:
                    continue
                contained = box_max_d2(act, nlo, nhi) <= r2[act]
                out[act[contained]] += self.end[node] - self.start[node]
                act = act[~contained]
                if len(act) == 0:
                    continue
                if self.split_dim[node] < 0:
                    lo, hi = self.start[node], self.end[node]
                    sub = self.pts[lo:hi].astype(np.float64)
                    diff = cf[act][:, None, :] - sub[None, :, :]
                    d2 = np.einsum("ijk,ijk->ij", diff, diff)
                    out[act] += (d2 <= r2[act][:, None]).sum(axis=1)
                else:
                    stack.append((self.left[node], act))
                    stack.append((self.right[node], act))
        for arr, sign in ((self.extra_pts, 1), (self.tomb_pts, -1)):
            if len(arr):
                diff = cf[:, None, :] - arr[None, :, :].astype(np.float64)
                d2 = np.einsum("ijk,ijk->ij", diff, diff)
                out += sign * (d2 <= r2[:, None]).sum(axis=1)
        return out
