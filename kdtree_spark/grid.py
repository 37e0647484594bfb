"""Global grid — the *top* level of the two-level distributed index.

The reference builds the top of its kd-tree by sampling ~2048 points and
picking 63 median pivots per 6-level round (`build_tree.hpp:49-70`), then
counting-sort-shuffling all points into the 64 buckets
(`build_tree.hpp:84-121`). In Spark, that shuffle IS the top of the tree:
we use a fixed integer grid-cell id over the first two coordinate
dimensions as the partition/shuffle key, and per-cell bounding-box stats
(over ALL dims) as the pruning metadata (the analogue of interior-node
bounding boxes, `utility/box_op.hpp`).

Everything here is pure integer arithmetic so the same cell id is
computable in three places with bit-identical results:
  - a Spark SQL expression (JVM-side, codegen, no UDF),
  - a DuckDB SQL expression (the driver's oracle),
  - numpy (inside pandas UDFs for candidate generation).

Domain: coordinates are int64 in [0, COORD_LIMIT) — matching the
reference's `long` coords in [0, 1e6] (`tests/data_generate.cpp:19,33-42`,
`README.md:125`). Coordinates outside it fold onto the boundary cells.

`Grid.cover` is the one place an extent becomes the cells it meets:
every cell-expand join, range enumeration and tile assignment goes
through it (the reference's "visit a subtree only if its box meets the
query", `query_op/range_count.hpp:9-96`, one grid level at a time).
"""

from __future__ import annotations

import numpy as np

COORD_LIMIT = 1_000_000  # exclusive upper bound on generated coords


class Grid:
    """g-per-dim row-major cell grid over [0, COORD_LIMIT)^dims.

    dims = number of GRIDDED coordinate dims (the cell/shuffle key);
    default 2. For d >= 3 point sets a dims=3 grid keys cells on the
    first three coords — the kNN candidate region then prunes in three
    dims instead of two (the reference's top-of-tree splits rotate
    through ALL dims, build_tree.hpp:49-70; a 2-D-only key makes every
    z-slab of a column one cell and high-d kNN over-visits). Cell id is
    row-major: ((c0*g + c1)*g + c2)... — dims=2 reproduces the
    historical cx*g + cy exactly."""

    def __init__(self, g: int, dims: int = 2):
        assert g >= 1 and dims >= 2
        self.g = g
        self.dims = dims
        self.cw = (COORD_LIMIT + g - 1) // g  # cell width, ceil

    @staticmethod
    def for_count(n: int, target_per_cell: int = 8192,
                  dims: int = 2) -> "Grid":
        """Pick a grid size so the average cell holds ~target rows.

        The scale story: at 10^12 rows and target 8k/cell this yields a
        ~11k×11k grid (1.2e8 cells) — cells stay executor-memory-sized
        and the stats table stays a few GB (broadcastable in chunks or
        range-partitioned). At test scale it degrades gracefully to a
        handful of cells.
        """
        cells = max(1, n // max(1, target_per_cell))
        g = max(1, int(np.ceil(cells ** (1.0 / dims))))
        return Grid(g, dims=dims)

    # ---- row-major cell-id algebra (shared by Spark SQL and numpy) --
    def coord_sql(self, cell: str, j: int, g: int | None = None) -> str:
        """SQL expr: the j-th grid coordinate of a row-major cell id."""
        g = self.g if g is None else g
        div = g ** (self.dims - 1 - j)
        s = f"({cell} DIV {div})" if div > 1 else f"({cell})"
        return f"({s} % {g})" if j > 0 else s

    def parent_cell_sql(self, cell: str, child_g: int, fac: int,
                        parent_g: int) -> str:
        """SQL: row-major parent id on a parent_g-per-dim grid, each
        parent covering fac x .. x fac children of a child_g-per-dim
        grid (the pyramid / super-cell coarsening)."""
        expr = f"({self.coord_sql(cell, 0, child_g)} DIV {fac})"
        for j in range(1, self.dims):
            expr = (f"({expr} * {parent_g} "
                    f"+ ({self.coord_sql(cell, j, child_g)} DIV {fac}))")
        return expr

    def compose_sql(self, coords: list, g: int | None = None) -> str:
        """SQL: row-major cell id from per-dim coordinate exprs."""
        g = self.g if g is None else g
        expr = coords[0]
        for c in coords[1:]:
            expr = f"({expr} * {g} + {c})"
        return expr

    # ---- the cell cover: where coordinates become cell ids ----------
    # Every Spark SQL coordinate -> cell step (a point's home cell, an
    # extent's covered cells, a pair's reference cell) clamps with
    # _axis_sql, so a point's home cell lies inside the cover of every
    # extent holding it, on the grid or off it. Without the clamp Spark
    # goes wrong off the grid twice: sequence(lo, hi) runs DESCENDING
    # when lo > hi, and an out-of-range coordinate aliases another cell
    # (cx*g + cy with cy = -1 is cell (cx-1, g-1)). With it, Spark's
    # truncating DIV, DuckDB's flooring // and Python's // agree: they
    # differ only on (-cw, 0), which clamps to 0.
    @property
    def level(self) -> tuple:
        """(g, cw): this grid as a `cover` level."""
        return self.g, self.cw

    def cell_sql(self, cols, f64: bool) -> str:
        """Spark SQL: the home cell of a point, keyed on its first
        `dims` coordinate columns (f64: double coordinates)."""
        assert len(cols) >= self.dims, (cols, self.dims)
        return self.compose_sql([_axis_sql(c, f64, self.level)
                                 for c in cols[:self.dims]])

    def ref_cell(self, a_lo, b_lo) -> str:
        """Spark SQL: the cell holding the min corner of the
        intersection of two integer extents, from each side's per-dim
        lo exprs. It lies in both sides' covers, so a pair join that
        keeps only this cell emits each overlapping pair once."""
        return self.cell_sql([f"GREATEST({a}, {b})"
                              for a, b in zip(a_lo, b_lo)], False)

    def cover(self, df, extents, f64: bool, level: tuple):
        """df + `_cell`: one row per (row, cell of `level` = (g, cw)
        that the row's extent meets). extents: per-gridded-dim (lo, hi)
        SQL over coordinates, inclusive. Rows whose extent is empty
        (lo > hi on any dim) drop; the rest explode one sequence per
        dim over clamped cell coordinates and compose the row-major id.
        Off-grid parts of an extent fold onto the boundary cells, as
        off-grid points do (cell_sql)."""
        assert len(extents) == self.dims, (extents, self.dims)
        df = df.filter(" AND ".join(f"({lo}) <= ({hi})"
                                    for lo, hi in extents))
        tmp = [f"_c{j}" for j in range(self.dims)]
        for t, (lo, hi) in zip(tmp, extents):
            df = df.selectExpr(
                "*", f"explode(sequence({_axis_sql(lo, f64, level)}, "
                     f"{_axis_sql(hi, f64, level)})) AS {t}")
        return (df.selectExpr("*", f"{self.compose_sql(tmp, level[0])} "
                                   f"AS _cell")
                .drop(*tmp))

    def cover_ranges(self, lo, hi) -> list:
        """Driver-side twin of `cover` on this grid for one integer
        extent: per-dim ranges of covered cell coordinates, all empty
        when the extent is empty."""
        if any(a > b for a, b in zip(lo, hi)):
            return [range(0)] * self.dims
        g, cw = self.level
        return [range(min(max(int(a) // cw, 0), g - 1),
                      min(max(int(b) // cw, 0), g - 1) + 1)
                for a, b in zip(lo, hi)]

    def cover_cells(self, lo: np.ndarray, hi: np.ndarray, level: tuple):
        """Driver-side twin of `cover` for many integer extents at once:
        lo, hi are (rows, dims) inclusive corners -> (row, cell) arrays,
        one entry per (row, cell of `level` = (g, cw) the row meets).
        Work is proportional to the output; empty extents meet none."""
        g, cw = level
        c0 = np.clip(lo // cw, 0, g - 1)
        nper = np.where((lo <= hi).all(axis=1)[:, None],
                        np.clip(hi // cw, 0, g - 1) - c0 + 1, 0)
        return block_cells(c0.T, nper.T, g)[:2]

    # -- DuckDB SQL (oracle side): the same clamp over integer coords
    def duckdb_axis_sql(self, c: str) -> str:
        return f"LEAST(GREATEST(({c}) // {self.cw}, 0), {self.g - 1})"

    def duckdb_cell_sql(self, x: str = "x", y: str = "y") -> str:
        assert self.dims == 2
        return (f"({self.duckdb_axis_sql(x)} * {self.g} "
                f"+ {self.duckdb_axis_sql(y)})")

    # -- numpy
    def cell_of(self, x: np.ndarray, y: np.ndarray) -> np.ndarray:
        assert self.dims == 2
        if np.issubdtype(np.asarray(x).dtype, np.floating):
            return (np.floor(x / float(self.cw)).astype(np.int64) * self.g
                    + np.floor(y / float(self.cw)).astype(np.int64))
        return (x // self.cw) * self.g + (y // self.cw)

    def home_cells(self, pts: np.ndarray, S: int = 1) -> np.ndarray:
        """numpy twin of cell_sql over the rows of pts (first `dims`
        columns; a float dtype floors as f64 does), each home cell's
        coordinates divided by S and composed on the -(-g // S)-per-dim
        grid above it (parent_cell_sql)."""
        g, cw = self.level
        cell = np.zeros(len(pts), np.int64)
        for j in range(self.dims):
            p = pts[:, j]
            c = (np.floor(p / float(cw)) if p.dtype.kind == "f"
                 else p // cw)
            cell = cell * -(-g // S) + np.clip(c, 0, g - 1).astype(
                np.int64) // S
        return cell

    def cell_coord(self, cell: np.ndarray, j: int) -> np.ndarray:
        """j-th grid coordinate of a row-major cell id (numpy)."""
        c = cell // (self.g ** (self.dims - 1 - j))
        return c % self.g if j > 0 else c

    def cell_bounds(self, cell: np.ndarray):
        """Geometric bounds of cells in the first two gridded dims:
        (xlo, ylo, xhi, yhi) inclusive."""
        xlo = self.cell_coord(cell, 0) * self.cw
        ylo = self.cell_coord(cell, 1) * self.cw
        return xlo, ylo, xlo + self.cw - 1, ylo + self.cw - 1


def _axis_sql(c: str, f64: bool, level: tuple) -> str:
    """Spark SQL: the clamped cell coordinate of coordinate expr `c` on
    a (g, cw) level. f64 floors an IEEE double divide — Spark, DuckDB
    and numpy floor the SAME correctly-rounded quotient, so the three
    agree bit-for-bit; integer coordinates use exact DIV."""
    g, cw = level
    q = (f"CAST(FLOOR(({c}) / CAST({cw} AS DOUBLE)) AS BIGINT)" if f64
         else f"(({c}) DIV {cw})")
    return f"LEAST(GREATEST({q}, 0), {g - 1})"


def block_cells(c0, nper, g: int):
    """Row-major ids of every cell of a g-per-dim grid in per-row
    blocks (per dim j: [c0[j], c0[j] + nper[j])) -> (rep, cells,
    counts): the source row of each output cell, the cell ids, and the
    cells per row."""
    gd = len(c0)
    counts = np.asarray(nper[0], np.int64).copy()
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
