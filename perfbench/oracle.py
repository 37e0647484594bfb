"""Independent numpy brute-force answers for every call the benchmark
times. Nothing here imports the engine: each check recomputes the
answer from the generated points alone and compares it exactly.

Each `check_*` returns an empty string when the engine's answer is
right, else a one-line description of the first mismatch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


class LiveSet:
    """The points an index should hold: (pid, x, y) int64 arrays kept
    sorted by x, so a box count is a binary search plus a y filter."""

    def __init__(self, pid: np.ndarray, x: np.ndarray, y: np.ndarray):
        order = np.argsort(x, kind="stable")
        self.pid, self.x, self.y = pid[order], x[order], y[order]

    def __len__(self) -> int:
        return len(self.pid)

    def updated(self, del_pid: np.ndarray, ins_pid: np.ndarray,
                ins_x: np.ndarray, ins_y: np.ndarray) -> "LiveSet":
        """The live set after deleting `del_pid`, then inserting."""
        keep = ~np.isin(self.pid, del_pid)
        return LiveSet(np.concatenate([self.pid[keep], ins_pid]),
                       np.concatenate([self.x[keep], ins_x]),
                       np.concatenate([self.y[keep], ins_y]))


def knn_rows(live: LiveSet, qid: np.ndarray, qx: np.ndarray,
             qy: np.ndarray, k: int) -> pd.DataFrame:
    """(qid, rank, nid, dist_sq) for the k nearest live points of each
    query, ties broken by smaller pid — the engine's documented order."""
    out = []
    for i in range(len(qid)):
        d2 = (live.x - qx[i]) ** 2 + (live.y - qy[i]) ** 2
        kk = min(k, len(d2))
        kth = np.partition(d2, kk - 1)[kk - 1]
        cand = np.flatnonzero(d2 <= kth)
        order = np.lexsort((live.pid[cand], d2[cand]))[:kk]
        sel = cand[order]
        out.append(pd.DataFrame({
            "qid": qid[i], "rank": np.arange(1, kk + 1),
            "nid": live.pid[sel], "dist_sq": d2[sel]}))
    return pd.concat(out, ignore_index=True)


def check_knn(result: pd.DataFrame, live: LiveSet, qid, qx, qy, k: int,
              sample: np.ndarray) -> str:
    """Every query has ranks 1..k; the sampled queries' rows equal the
    brute force exactly."""
    want_n = min(k, len(live))
    per_q = result.groupby("qid")["rank"].agg(["count", "min", "max"])
    if (len(per_q) != len(qid) or (per_q["count"] != want_n).any()
            or (per_q["min"] != 1).any() or (per_q["max"] != want_n).any()):
        return f"knn: rank structure wrong ({len(per_q)} of {len(qid)} queries)"
    got = (result[result["qid"].isin(qid[sample])]
           .astype({"qid": "int64", "rank": "int64", "nid": "int64",
                    "dist_sq": "int64"})
           .sort_values(["qid", "rank"]).reset_index(drop=True))
    want = knn_rows(live, qid[sample], qx[sample], qy[sample], k)
    want = want.astype("int64").sort_values(["qid", "rank"]) \
        .reset_index(drop=True)
    got = got[["qid", "rank", "nid", "dist_sq"]]
    if not got.equals(want):
        bad = (got != want).any(axis=1)
        row = got[bad].head(1).to_dict("records")
        return f"knn: {int(bad.sum())} sampled rows differ, first {row}"
    return ""


def range_counts(live: LiveSet, boxes: np.ndarray) -> np.ndarray:
    """Inclusive box counts; boxes rows are (box_id, xlo, ylo, xhi, yhi)."""
    lo = np.searchsorted(live.x, boxes[:, 1], side="left")
    hi = np.searchsorted(live.x, boxes[:, 3], side="right")
    out = np.empty(len(boxes), np.int64)
    for i in range(len(boxes)):
        ys = live.y[lo[i]:hi[i]]
        out[i] = np.count_nonzero((ys >= boxes[i, 2]) & (ys <= boxes[i, 4]))
    return out


def check_range(result: pd.DataFrame, live: LiveSet,
                boxes: np.ndarray) -> str:
    got = result.set_index("box_id")["cnt"].reindex(boxes[:, 0])
    if got.isna().any():
        return f"range: {int(got.isna().sum())} boxes missing"
    want = range_counts(live, boxes)
    bad = np.flatnonzero(got.to_numpy(np.int64) != want)
    if len(bad):
        i = bad[0]
        return (f"range: {len(bad)} boxes wrong, box {boxes[i, 0]} "
                f"got {int(got.iloc[i])} want {want[i]}")
    return ""


def _eps_pairs(x: np.ndarray, y: np.ndarray, eps: int,
               block: int = 256) -> tuple[np.ndarray, np.ndarray]:
    """All (i, j) index pairs, i != j, within distance eps. Points are
    scanned in x order, each block of `block` points against the x
    slab that can reach it."""
    order = np.argsort(x, kind="stable")
    xs, ys = x[order], y[order]
    e2 = int(eps) * int(eps)
    ii, jj = [], []
    for s in range(0, len(xs), block):
        bx, by = xs[s:s + block], ys[s:s + block]
        lo = np.searchsorted(xs, bx[0] - eps, side="left")
        hi = np.searchsorted(xs, bx[-1] + eps, side="right")
        d2 = ((bx[:, None] - xs[None, lo:hi]) ** 2
              + (by[:, None] - ys[None, lo:hi]) ** 2)
        a, b = np.nonzero(d2 <= e2)
        a, b = a + s, b + lo
        keep = a != b
        ii.append(order[a[keep]])
        jj.append(order[b[keep]])
    return np.concatenate(ii), np.concatenate(jj)


def dbscan_labels(pid: np.ndarray, x: np.ndarray, y: np.ndarray,
                  eps: int, min_pts: int) -> pd.DataFrame:
    """(pid, cluster, kind) under the engine's documented DBSCAN
    semantics: |N_eps(p)| counts p; clusters are components of core
    points, labelled by their smallest core pid; a border point takes
    the smallest label among its core neighbours."""
    order = np.argsort(pid)
    pid, x, y = pid[order], x[order], y[order]
    n = len(pid)
    a, b = _eps_pairs(x, y, eps)
    core = (np.bincount(a, minlength=n) + 1) >= min_pts
    cc = core[a] & core[b]
    ea, eb = a[cc], b[cc]
    lbl = np.arange(n)
    while True:  # min-label propagation with pointer jumping
        m = np.minimum(lbl[ea], lbl[eb])
        new = lbl.copy()
        np.minimum.at(new, ea, m)
        np.minimum.at(new, eb, m)
        new = new[new]
        if np.array_equal(new, lbl):
            break
        lbl = new
    cluster = np.full(n, -1, np.int64)
    cluster[core] = pid[lbl[core]]
    border_e = core[a] & ~core[b]
    bl = np.full(n, np.iinfo(np.int64).max)
    np.minimum.at(bl, b[border_e], cluster[a[border_e]])
    border = ~core & (bl != np.iinfo(np.int64).max)
    cluster[border] = bl[border]
    kind = np.where(core, "core", np.where(border, "border", "noise"))
    return pd.DataFrame({"pid": pid, "cluster": cluster, "kind": kind})


def check_dbscan(result: pd.DataFrame, want: pd.DataFrame) -> str:
    got = result.sort_values("pid").reset_index(drop=True)
    if len(got) != len(want) or not (got["pid"].to_numpy(np.int64)
                                     == want["pid"].to_numpy()).all():
        return f"dbscan: {len(got)} labelled points, want {len(want)}"
    cl = got["cluster"].fillna(-1).to_numpy(np.int64)
    bad = np.flatnonzero((cl != want["cluster"].to_numpy())
                         | (got["kind"].to_numpy() != want["kind"].to_numpy()))
    if len(bad):
        i = bad[0]
        return (f"dbscan: {len(bad)} points wrong, pid {want['pid'][i]} got "
                f"({cl[i]}, {got['kind'][i]}) want "
                f"({want['cluster'][i]}, {want['kind'][i]})")
    return ""
