"""Deterministic query-geometry fixtures (FIXTURES.md §3).

The reference generates query rectangles by recursively splitting the
data with `srand(10)` until each box holds a target count bracketed by
n^(1/4) / n^(1/2) (`tests/testFramework.h:55-150`: small/medium/large).
libc rand() isn't reproducible across platforms, so — as planned in
SURVEY §5 — we define our own seeded-numpy variant with the same
small/medium/large size brackets over the coordinate domain, and bless
these as the goldens.

Every fixture is a list of plain ints, so the exact same constants are
embedded in the Spark plan and in the DuckDB oracle SQL (VALUES lists).
"""

from __future__ import annotations

import numpy as np

from .grid import COORD_LIMIT

# width brackets per class: small / medium / large — relative spans chosen
# so boxes hold roughly n^(1/4), n^(1/2), n^(3/4) points under uniform data
_BRACKETS = [(2_000, 12_000), (20_000, 90_000), (150_000, 450_000)]


def gen_boxes(n: int = 30, seed: int = 10,
              classes: tuple = (0, 1, 2)) -> list[tuple[int, int, int, int, int]]:
    """n boxes cycling the given size classes (default small/medium/
    large): (box_id, xlo, ylo, xhi, yhi). Pass classes=(0,) for an
    all-small batch — the 10k-rect REPORT workload uses it so the
    materialized output stays O(n^(1/4)) per box like the reference's
    type-0 rectangles (tests/testFramework.h:55-150)."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        wlo, whi = _BRACKETS[classes[i % len(classes)]]
        w = int(rng.integers(wlo, whi))
        h = int(rng.integers(wlo, whi))
        x0 = int(rng.integers(0, COORD_LIMIT - w))
        y0 = int(rng.integers(0, COORD_LIMIT - h))
        out.append((i, x0, y0, x0 + w, y0 + h))
    return out


def gen_boxes_d(n: int, d: int, seed: int = 11,
                classes: tuple = (0, 1, 2)) -> list[tuple]:
    """d-dimensional boxes (box_id, lo0..lo{d-1}, hi0..hi{d-1}) with the
    same expected-count brackets as gen_boxes: a 2-D box of width w
    covers an area fraction (w/L)², so the d-D per-dim width holding the
    same point count is L^(1-2/d) * w^(2/d) (the reference's range
    sweep runs at d=5, script/checkCorrect.sh)."""
    rng = np.random.default_rng(seed)
    L = COORD_LIMIT
    out = []
    for i in range(n):
        wlo, whi = _BRACKETS[classes[i % len(classes)]]
        lo, hi = [], []
        for _ in range(d):
            w2 = int(rng.integers(wlo, whi))
            w = min(int(L ** (1 - 2 / d) * w2 ** (2 / d)), L - 1)
            x0 = int(rng.integers(0, L - w))
            lo.append(x0)
            hi.append(x0 + w)
        out.append((i, *lo, *hi))
    return out


def boxes_values_sql_d(boxes, d: int, alias: str = "b") -> str:
    rows = ", ".join("(" + ", ".join(str(v) for v in b) + ")"
                     for b in boxes)
    lo = ["bxlo", "bylo"] + [f"blo{j}" for j in range(2, d)]
    hi = ["bxhi", "byhi"] + [f"bhi{j}" for j in range(2, d)]
    return (f"(VALUES {rows}) AS {alias}(box_id, "
            + ", ".join(lo + hi) + ")")


def gen_circles(n: int = 30, seed: int = 20) -> list[tuple[int, int, int, int]]:
    """(circle_id, cx, cy, r) with radii cycling the same brackets."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        rlo, rhi = _BRACKETS[i % 3]
        r = int(rng.integers(rlo // 2, rhi // 2))
        cx = int(rng.integers(0, COORD_LIMIT))
        cy = int(rng.integers(0, COORD_LIMIT))
        out.append((i, cx, cy, r))
    return out


def gen_circles_d(n: int, d: int, seed: int = 21) -> list[tuple]:
    """d-dimensional circles (circle_id, c0..c{d-1}, r): same
    count-preserving radius scaling as gen_boxes_d — a 2-D radius r
    covers area fraction ~(r/L)², so the d-D radius holding the same
    point count is L^(1-2/d) * r^(2/d) (the reference's correctness
    sweep varies queryType and d independently, script/checkCorrect.sh)."""
    rng = np.random.default_rng(seed)
    L = COORD_LIMIT
    out = []
    for i in range(n):
        rlo, rhi = _BRACKETS[i % 3]
        r2 = int(rng.integers(rlo // 2, rhi // 2))
        r = min(int(L ** (1 - 2 / d) * r2 ** (2 / d)), L // 2)
        ctr = [int(rng.integers(0, L)) for _ in range(d)]
        out.append((i, *ctr, r))
    return out


def circles_values_sql_d(circles, d: int, alias: str = "c") -> str:
    rows = ", ".join("(" + ", ".join(str(v) for v in c) + ")"
                     for c in circles)
    ctr = ["cx", "cy"] + [f"ctr{j}" for j in range(2, d)]
    return (f"(VALUES {rows}) AS {alias}(circle_id, "
            + ", ".join(ctr) + ", r)")


def gen_polygons(n: int = 8, seed: int = 30,
                 nvert=(5, 12)) -> list[tuple[int, list[tuple[int, int]]]]:
    """Convex-ish CCW polygons: (poly_id, [(x,y), ...]).

    Inclusion is DEFINED as the conjunction of left-of-edge tests over
    the CCW vertex ring — both the engine and the oracle evaluate the
    same integer half-plane predicates, so results agree exactly.
    """
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        k = int(rng.integers(nvert[0], nvert[1] + 1))
        cx = int(rng.integers(200_000, 800_000))
        cy = int(rng.integers(200_000, 800_000))
        rad = int(rng.integers(40_000, 180_000))
        ang = np.sort(rng.uniform(0, 2 * np.pi, size=k))
        vx = (cx + rad * np.cos(ang)).astype(np.int64)
        vy = (cy + rad * np.sin(ang)).astype(np.int64)
        out.append((i, list(zip(vx.tolist(), vy.tolist()))))
    return out


def gen_convex_polygons(n: int, seed: int = 50,
                        nvert=(4, 9)) -> list[tuple[int, list]]:
    """STRICTLY convex CCW integer polygons: (poly_id, [(x,y), ...]).

    gen_polygons' int rounding can leave near-collinear rings slightly
    concave, which is fine for its half-plane point test but breaks the
    separating-axis polygon-polygon join (SAT is exact only for convex
    rings). Here candidate rings are rejection-resampled (deterministic
    under the seed) until every consecutive cross product is > 0."""
    rng = np.random.default_rng(seed)
    out = []
    i = 0
    while len(out) < n:
        k = int(rng.integers(nvert[0], nvert[1] + 1))
        cx = int(rng.integers(150_000, 850_000))
        cy = int(rng.integers(150_000, 850_000))
        rad = int(rng.integers(30_000, 140_000))
        ang = np.sort(rng.uniform(0, 2 * np.pi, size=k))
        vx = np.rint(cx + rad * np.cos(ang)).astype(np.int64)
        vy = np.rint(cy + rad * np.sin(ang)).astype(np.int64)
        dx = np.diff(np.r_[vx, vx[0]])
        dy = np.diff(np.r_[vy, vy[0]])
        cross = dx * np.roll(dy, -1) - dy * np.roll(dx, -1)
        if (cross > 0).all():
            out.append((i, list(zip(vx.tolist(), vy.tolist()))))
            i += 1
    return out


def polygon_verts_values_sql(polygons, alias: str = "v") -> str:
    """(poly_id, vid, x, y) VALUES rows — one per vertex, vid in ring
    order — for SQL-side edge reconstruction."""
    rows = ", ".join(
        f"({pid}, {j}, {x}, {y})"
        for pid, verts in polygons for j, (x, y) in enumerate(verts))
    return f"(VALUES {rows}) AS {alias}(poly_id, vid, x, y)"


def gen_tiles(n: int = 12, seed: int = 40) -> list[tuple[int, int, int, int, int]]:
    """Raster tiles (tile_id, x0, y0, x1, y1) for tile<->cell assignment."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        w = int(rng.integers(30_000, 300_000))
        h = int(rng.integers(30_000, 300_000))
        x0 = int(rng.integers(0, COORD_LIMIT - w))
        y0 = int(rng.integers(0, COORD_LIMIT - h))
        out.append((i, x0, y0, x0 + w, y0 + h))
    return out


# ---------------------------------------------------------------- SQL render

def tiles_values_sql(tiles, alias: str = "t") -> str:
    rows = ", ".join(f"({i}, {x0}, {y0}, {x1}, {y1})"
                     for i, x0, y0, x1, y1 in tiles)
    return f"(VALUES {rows}) AS {alias}(tile_id, tx0, ty0, tx1, ty1)"


def polygon_pred_sql(verts, x: str = "x", y: str = "y") -> str:
    """Conjunction of CCW left-of-edge integer cross-product tests."""
    terms = []
    k = len(verts)
    for j in range(k):
        x1, y1 = verts[j]
        x2, y2 = verts[(j + 1) % k]
        terms.append(f"(({x2 - x1}) * ({y} - {y1}) - "
                     f"({y2 - y1}) * ({x} - {x1}) >= 0)")
    return "(" + " AND ".join(terms) + ")"


def polygon_bbox(verts) -> tuple[int, int, int, int]:
    xs = [v[0] for v in verts]
    ys = [v[1] for v in verts]
    return min(xs), min(ys), max(xs), max(ys)


def gen_boxes_bulk(n: int, seed: int = 10) -> np.ndarray:
    """(n, 5) int64 [box_id, xlo, ylo, xhi, yhi] — vectorized variant of
    `gen_boxes` for scale-size workloads (1e5-1e6 boxes): same size
    brackets and determinism guarantees, but drawn with batched numpy
    calls, so the per-box values differ from gen_boxes' sequential
    draws. Use gen_boxes for oracle-gated queries (its values are the
    blessed goldens); use this for throughput/scaling runs where only
    determinism matters. A 1e6-box gen_boxes loop costs ~14 s of pure
    driver python; this is ~50 ms (float-scale draws — per-element
    bounded integers() is rejection-sampled and 100x slower)."""
    rng = np.random.default_rng(seed)
    bid = np.arange(n, dtype=np.int64)
    cls = bid % 3
    lo = np.array([b[0] for b in _BRACKETS], np.int64)[cls]
    hi = np.array([b[1] for b in _BRACKETS], np.int64)[cls]
    w = lo + np.floor(rng.random(n) * (hi - lo)).astype(np.int64)
    h = lo + np.floor(rng.random(n) * (hi - lo)).astype(np.int64)
    x0 = np.floor(rng.random(n) * (COORD_LIMIT - w)).astype(np.int64)
    y0 = np.floor(rng.random(n) * (COORD_LIMIT - h)).astype(np.int64)
    return np.stack([bid, x0, y0, x0 + w, y0 + h], axis=1)
