"""The two-level distributed spatial index.

Top level: grid-cell partition key (grid.py) — the shuffle that plays the
role of the reference's sampled 6-level top-of-tree + counting-sort bucket
shuffle (`build_tree.hpp:49-121`). Bottom level: a serialized numpy
kd-tree per (cell, salt) built inside `applyInArrow` (localtree.py).

Every read routes against one driver-held level per index version
(`SpatialIndex.level`, one row per non-empty cell of the grid, at most
grid.MAX_CELLS): per cell its live count, full-d data bbox, highest
salt and pooled probe sample. kNN queries and range / circle shapes are
routed against it in driver numpy, and no read joins a Spark-side stats
table. Every read then scans its candidate cells' blobs in ONE
broadcast-hash join (scan_blobs): the cached blob table streams in
place, the build side is one row per candidate cell holding its shapes
as a list, and one mapInArrow runs the cell's tree kernel once per
joined blob row, so no read shuffles or sorts a blob, as no query of
the reference moves its tree (`nn_search.hpp:83-126`).

Skew handling (the dummy-leaf / INBALANCE analogue at the distributed
level, plus what BASELINE.json calls out): cells whose row count exceeds
`hot_cell_cap` are salted into multiple index rows; a read's blob scan
meets each of a cell's blobs wherever the cache holds it, so a salted
cell's work spreads over the tasks holding its blobs and salting is
invisible to query semantics.

Updates are log-structured at BOTH levels (I1/D1/D2 of SURVEY §2):
inside a cell, new rows append to the extra log / tombstone set and
rebuild only past the INBALANCE_RATIO=30 threshold (`tree_node.hpp:
127-131` analogue); across the index, each batch produces a
checkpointed touched-cell DELTA fragment layered over the inherited
fragments, each filtered by the batch's touched-cell list. The batch's
cells are computed on the driver, and one SQL execution scans the
touched blobs in place through the reads' broadcast-hash join
(scan_blobs), so no blob is shuffled and untouched cells are never
read, deserialized, or rewritten. A fragment whose
rows later deltas all rewrote leaves the union, as the reference's
rebuilt subtree replaces the old one (`batch_insert.hpp:60-191`), and a
full compaction bounds the fragments that stay. Deletes are
partial-cover tolerant (`batch_delete.hpp:95-107`). The routing level
travels with a batch whose parent holds it: the new version's level is
the parent's, patched with the delta's own blob rows, not a rescan of
the fragments.

Persistence is write-audit-publish: parquet + JSON manifest written to a
temp dir, audited (row counts), then atomically renamed — the checkpoint
/ lineage story. Each manifest records per-cell counts, depths and build
metrics (the analogue of the reference's per-run timing lines).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import os
import time
import uuid
import zipimport
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from .grid import MAX_CELLS, Grid
from .localtree import LocalKDTree

INDEX_SCHEMA = ("cell long, salt int, cnt long, nextra long, ntomb long, "
                "depth int, xmin long, ymin long, xmax long, ymax long, "
                "bbox array<bigint>, probe array<bigint>, blob binary")

# float-coordinate mode (the reference's double-coordinate test build,
# comparator.h:10-79): same layout, double-typed coordinate metadata
INDEX_SCHEMA_F64 = INDEX_SCHEMA.replace(
    "xmin long, ymin long, xmax long, ymax long",
    "xmin double, ymin double, xmax double, ymax double").replace(
    "array<bigint>", "array<double>", 1).replace(
    "probe array<bigint>", "probe array<double>")

LEVEL_PROBES = 1 << 17  # pooled probe points one driver level holds at
# most: a cell keeps up to its share, LEVEL_PROBES / (cells of the
# grid), and strides its pool down past that. update-mix's 81 cells
# keep every ~1024-point blob sample whole; 4096 cells keep 32 each.
# 2 MB of 2-D int64, held on the driver, where kNN routes.

STATS_COLS = ["cell", "salt", "cnt", "nextra", "ntomb", "depth",
              "xmin", "ymin", "xmax", "ymax"]
LEVEL_COLS = ["cell", "salt", "cnt", "bbox", "probe"]  # a blob's level input


def bbox_cols(d: int) -> tuple[list, list]:
    """(lo, hi) data-bbox column names of cell_stats for a d-dim
    index."""
    return (["xmin", "ymin"] + [f"mn{j}" for j in range(2, d)],
            ["xmax", "ymax"] + [f"mx{j}" for j in range(2, d)])

HOT_CELL_CAP = 131_072  # rows per index blob before salting splits it

# a cell is "hot" once it has at least this many non-empty blobs. A
# read's blob scan meets every blob of a cell on its own (scan_blobs);
# a kNN search of a cold cell's blob forces its block-scan bound
# tighten, a hot cell's many small blobs skip it (per-blob bound scans
# cost the varden leg 3x, localtree.LocalKDTree.knn)
FANOUT_MIN_BLOBS = 4


def _hot_pred():
    """Blob-row predicate: a non-empty blob whose salt makes its cell
    hot (the cell's highest non-empty salt + 1 >= FANOUT_MIN_BLOBS)."""
    return (F.col("cnt") > 0) & (F.col("salt") >= FANOUT_MIN_BLOBS - 1)

def in_list(col: str, values) -> F.Column:
    """`col` IN (integer values) as one SQL expression, false when
    values is empty: Column.isin makes one py4j call per value (14 ms
    for 81 cells, 0.14 ms as one SQL string)."""
    values = ", ".join(str(int(v)) for v in values)
    return F.expr(f"`{col}` IN ({values})") if values else F.lit(False)

COMPACT_EVERY = 8  # an update that would leave more fragments than
# this checkpoints their union as one (a compaction)

PROBE_CAP = 1024
PROBE_FRACTION = 32
# sample at least 1/PROBE_FRACTION of the blob's live points
# live-sample points per blob for kNN bound-seeding (localtree.
# probe_sample). The seed bound tightens as (blob/cap)^(1/d) in radius;
# sampling a bounded FRACTION (>= a d-scaled floor) caps the looseness
# factor at PROBE_FRACTION^(2/d) in distance² for every blob size —
# oversized blobs (salted hot cells, coarse test grids) would otherwise
# dilute a fixed-size sample into a useless bound. Sample bytes stay
# <= ~3% of blob bytes, and the driver level pools them (LEVEL_PROBES).
# High-d floors: looseness costs candidate cells quadratically in the
# two gridded dims while sample bytes grow only linearly; measured at
# sf0.1/d=5 (alternated A/B, best-of-3): floor 1024 -> 15.6s, 4096 ->
# 11.2s for the kNN k=10 leg.


def _probe_cap(d: int, n_live: int) -> int:
    floor = PROBE_CAP * min(2 ** (d - 2), 4) if d > 2 else PROBE_CAP
    return max(floor, n_live // PROBE_FRACTION)


def _tree_row(cell: int, salt: int, tree: LocalKDTree) -> dict:
    d = tree.pts.shape[1]
    cdt = tree.cdtype
    if tree.n_base:
        root = tree.nbox[0]
        lo = root[:d].astype(cdt).copy()
        hi = root[d:].astype(cdt).copy()
    else:
        lo = np.zeros(d, cdt)
        hi = np.full(d, -1, cdt)
    # widen bbox to cover the extra log (stats must stay a valid superset)
    if len(tree.extra_ids):
        lo = np.minimum(lo, tree.extra_pts.min(axis=0))
        hi = np.maximum(hi, tree.extra_pts.max(axis=0))
    # xmin..ymax: the two grid dims (fast path for 2-D range ops);
    # bbox: all d dims, the tight phase-2 kNN bound for d > 2
    return dict(cell=cell, salt=salt, cnt=tree.n_live,
                nextra=len(tree.extra_ids), ntomb=len(tree.tomb_ids),
                depth=tree.depth,
                xmin=lo[0].item(), ymin=lo[1].item(),
                xmax=hi[0].item(), ymax=hi[1].item(),
                bbox=np.concatenate([lo, hi]),
                probe=tree.probe_sample(cap=_probe_cap(d, tree.n_live)),
                blob=tree.to_bytes())


def _build_group(key, t: pa.Table) -> dict:
    cell, salt = key
    coord_cols = [c for c in t.column_names
                  if c not in ("pid", "cell", "salt")]
    pts = np.column_stack([_column(t.column(c)) for c in coord_cols])
    pts = pts.astype(np.float64 if pts.dtype.kind == "f" else np.int64,
                     copy=False)
    ids = _column(t.column("pid")).astype(np.int64, copy=False)
    return _rows([_tree_row(cell, salt, LocalKDTree.build(pts, ids))])


def _rows(rows: list) -> dict:
    """Row dicts (_tree_row) as kernel output columns."""
    return {c: [r[c] for r in rows] for c in rows[0]} if rows else {}


def _column(col: pa.ChunkedArray, rows: np.ndarray | None = None):
    """The `rows` (default all) of an Arrow column as a kernel reads
    them: fixed-width types as numpy (zero-copy where Arrow allows),
    binary as memoryview slices of the data buffer, arrays as the flat
    values of the rows, arrays of structs as one {field: values} per
    row."""
    a = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
    if pa.types.is_binary(a.type):
        off = np.frombuffer(a.buffers()[1], np.int32)[
            a.offset:a.offset + len(a) + 1].tolist()
        data = memoryview(a.buffers()[2] or b"")
        return [data[off[i]:off[i + 1]]
                for i in (range(len(a)) if rows is None else rows)]
    if pa.types.is_list(a.type):
        a = a if rows is None else a.take(rows)
        if not pa.types.is_struct(a.type.value_type):
            return a.flatten().to_numpy()
        off = a.offsets.to_numpy()
        off = off - off[0]
        flat = a.flatten()
        fields = {f.name: v.to_numpy(zero_copy_only=False)
                  for f, v in zip(flat.type, flat.flatten())}
        return [{c: v[lo:hi] for c, v in fields.items()}
                for lo, hi in zip(off[:-1], off[1:])]
    v = a.to_numpy(zero_copy_only=False)
    return v if rows is None else v[rows]


def _rescan_changed_zips_only() -> None:
    """Make importlib.invalidate_caches() re-read a zip archive only
    when the archive changed on disk. PySpark calls it before every
    Python task, and CPython 3.11's zipimporter.invalidate_caches
    re-reads its archive's whole directory each time, once per
    zipimporter on the worker path (pyspark.zip alone holds over a
    thousand entries). An archive whose (st_mtime_ns, st_size, st_ino)
    equals the value recorded at its last read yields the same
    directory, so imports see the same files. Engine kernels call this
    first, so it ships with the package; installing it rescans every
    archive once, to record the stamps, which is all it costs per
    worker process."""
    zi = zipimport.zipimporter
    if getattr(zi.invalidate_caches, "narrowed", False):
        return
    full = zi.invalidate_caches
    read_at: dict = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if (stamp is None or files is None
                or read_at.get(self.archive) != stamp):
            full(self)
            read_at[self.archive] = stamp
        else:
            self._files = files

    invalidate_caches.narrowed = True
    zi.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


def _table(cols: dict, out: pa.Schema) -> pa.Table:
    """Kernel output columns (none at all for no rows) as one Arrow
    table of exactly the declared schema's types."""
    if not cols:
        return out.empty_table()
    return pa.table([_array(cols[f.name], f.type) for f in out],
                    schema=out)


def _array(values: list, typ: pa.DataType) -> pa.Array:
    """One output column as Arrow: a list column of numpy arrays is
    built from their concatenation and offsets, not value by value."""
    if (pa.types.is_list(typ) and values
            and all(isinstance(v, np.ndarray) for v in values)):
        off = np.zeros(len(values) + 1, np.int32)
        np.cumsum([len(v) for v in values], out=off[1:])
        return pa.ListArray.from_arrays(
            pa.array(off), pa.array(np.concatenate(values), typ.value_type))
    return pa.array(values, typ)


def _arrow_fn(fn, schema: str):
    """fn(key, table) -> {column: values}, as an applyInArrow function
    of the declared schema: group keys arrive as Python values."""
    out = to_arrow_schema(_parse_datatype_string(schema))  # needs the driver

    def run(key, t):  # unannotated: applyInArrow infers its mode from hints
        _rescan_changed_zips_only()
        return _table(fn(tuple(k.as_py() for k in key), t), out)
    return run


def map_arrow(df: DataFrame, fn, schema: str) -> DataFrame:
    """fn({column: values}) -> {column: values} per Arrow batch of df
    (columns as _column reads them), as one mapInArrow of the declared
    schema: a narrow kernel, no exchange and no job of its own."""
    out = to_arrow_schema(_parse_datatype_string(schema))

    def run(batches):
        _rescan_changed_zips_only()
        for b in batches:
            t = pa.Table.from_batches([b])
            yield from _table(fn({c: _column(t.column(c))
                                  for c in t.column_names}),
                              out).to_batches()
    return df.mapInArrow(run, schema)


def cell_lists(spark: SparkSession, cell: np.ndarray, cols: dict
               ) -> DataFrame:
    """Driver arrays of shapes (`cols`: field -> numpy values, one per
    shape; `cell`: each shape's cell) as a scan_blobs build side: one
    row per distinct cell, `cell bigint, shapes array<struct<cols>>`,
    built in Arrow from sorted offsets. A local relation: collecting it
    for the broadcast reads no input."""
    order = np.argsort(cell, kind="stable")
    cell = np.asarray(cell, np.int64)[order]
    first = np.flatnonzero(np.diff(cell, prepend=cell[:1] - 1))
    shapes = pa.StructArray.from_arrays(
        [pa.array(np.asarray(v)[order]) for v in cols.values()], list(cols))
    return spark.createDataFrame(pa.table({
        "cell": pa.array(cell[first]),
        "shapes": pa.ListArray.from_arrays(
            pa.array(np.append(first, len(cell)).astype(np.int32)),
            shapes)}))


def scan_blobs(frames: list, cells: DataFrame, fn, schema: str,
               fed: list = ()) -> DataFrame:
    """fn(cell, salt, shapes, blob) -> output columns, once per blob row
    of `frames` (blob tables: a read's index.df, an update's fragments)
    whose cell is in `cells` (cell_lists: one row per candidate cell,
    its shapes as a list), shapes reaching fn as {field: values}.
    ONE broadcast of the cells, hash-joined to each frame, streams the
    blob tables in place, and one mapInArrow runs fn per joined row: no
    blob is shuffled or sorted, only the candidate cells' blobs cross
    the Arrow hop, and a salted cell's blobs are scanned by whichever
    tasks hold them. Each call sees one blob, so the caller composes the
    partials (counts sum, reports union, kNN top-k lists merge, an
    update's rewritten blobs form its delta). The i-th Observation of
    `fed` collects the (cell, salt) keys the i-th frame fed to fn."""
    cells = F.broadcast(cells)
    joined = []
    for f, o in itertools.zip_longest(frames, fed):
        j = f.select("cell", "salt", "blob").join(cells, "cell")
        joined.append(j if o is None else j.observe(
            o, F.expr("collect_set(struct(cell, salt)) AS keys")))

    def run(c: dict) -> dict:
        outs = [o for o in map(fn, c["cell"].tolist(), c["salt"].tolist(),
                               c["shapes"], c["blob"]) if o]
        return {k: np.concatenate(v) if isinstance(v[0], np.ndarray)
                else [x for p in v for x in p]
                for k, v in ((k, [o[k] for o in outs]) for k in outs[0])
                } if outs else {}
    return map_arrow(_union(joined), run, schema)


def observed(obs: Observation) -> dict | None:
    """The metrics `obs` collected, or None when its operator saw no
    rows: AQE prunes an observed operator whose input turned out empty,
    metrics and all (an empty row, which Observation.get rejects)."""
    return obs.get if obs._jo.getRow().size() else None


@contextlib.contextmanager
def job_description(spark: SparkSession, label: str):
    """Run the block's Spark jobs under spark.job.description `label`
    (a per-phase label in the event log), then restore the caller's."""
    sc = spark.sparkContext
    desc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setJobDescription(desc)


def free_checkpoint(ckpt: DataFrame) -> None:
    """Free a localCheckpoint's blocks now. DataFrame.unpersist is a
    cache-manager call that leaves them to GC and the ContextCleaner;
    they belong to the materialized RDD that the checkpointed frame's
    LogicalRDD wraps (queryExecution().toRdd() is only a wrapper over
    it)."""
    ckpt._jdf.queryExecution().logical().rdd().unpersist(False)


class _Frag(NamedTuple):
    """One fragment of an index version's blob table: `frame` (what
    reads scan), the cache()d or localCheckpointed `store` that holds
    its blocks (None: nothing to free), and the `live` blob rows frame
    serves (None: unknown, never dropped)."""
    frame: DataFrame
    store: DataFrame | None
    live: int | None


def _free(store: DataFrame) -> None:
    """Release a fragment's storage: a cache()d frame's cache entry, or
    a localCheckpoint's blocks."""
    with contextlib.suppress(Exception):
        if store.is_cached:
            store.unpersist()
        else:
            free_checkpoint(store)


def _union(frames) -> DataFrame:
    return functools.reduce(DataFrame.unionByName, frames)


def _salt_lists(cell, salt) -> dict:
    """Blob-row keys as {cell: ascending salts (a tuple)}."""
    cell, salt = np.asarray(cell, np.int64), np.asarray(salt, np.int64)
    order = np.lexsort((salt, cell))
    cell, salt = cell[order], salt[order]
    at = np.flatnonzero(np.diff(cell)) + 1
    return {int(c[0]): tuple(s.tolist())
            for c, s in zip(np.split(cell, at), np.split(salt, at)) if len(c)}


class Level(NamedTuple):
    """An index version's routing level (SpatialIndex.level): per
    non-empty grid cell (ascending `cell`), its live count, highest
    non-empty salt, full-d data bbox (cells x d) and pooled probe sample
    (an object array of points x d arrays: its blobs' samples in
    (cell, salt) order, strided down to its LEVEL_PROBES share)."""
    cell: np.ndarray
    ccnt: np.ndarray
    maxsalt: np.ndarray
    lo: np.ndarray
    hi: np.ndarray
    probe: np.ndarray

    def find(self, cells: np.ndarray) -> np.ndarray:
        """Each of `cells`' position in this level, -1 where empty."""
        return np.where(np.isin(cells, self.cell),
                        np.searchsorted(self.cell, cells), -1)

    def patched(self, touched: list, delta: "Level") -> "Level":
        """This level with the cells in `touched` replaced by `delta`'s
        rows (a touched cell missing from delta drops out)."""
        keep = ~np.isin(self.cell, touched)
        both = [np.concatenate([a[keep], b]) for a, b in zip(self, delta)]
        order = np.argsort(both[0], kind="stable")
        return Level(*(f[order] for f in both))


class SpatialIndex:
    def __init__(self, spark: SparkSession, grid: Grid, df: DataFrame,
                 manifest: dict | None = None,
                 coord_cols: tuple = ("x", "y")):
        self.spark = spark
        self.grid = grid
        self.df = df
        self.manifest = manifest or {}
        self.coord_cols = tuple(coord_cols)
        # float-coordinate mode is carried by the blob table's own
        # schema (double metadata columns), so load()/snapshots keep it
        from pyspark.sql.types import DoubleType
        self.float_coords = isinstance(df.schema["xmin"].dataType,
                                       DoubleType)
        self._stats_pd: pd.DataFrame | None = None
        # the driver-held routing level (level()): a build or an update
        # hands it over, any other version aggregates it on first read
        self._level: Level | None = None
        # per cell that has blob rows, their salts (_blob_salts)
        self._salts: dict | None = None
        # delta versioning (update()): df is the union of the fragments'
        # frames. A version made from a plain frame is one fragment that
        # holds no storage; a build or load manifest gives its blob row
        # count
        self._frags = [_Frag(df, None, self.manifest.get("cells"))]

    # ------------------------------------------------------------------ build
    @classmethod
    def build(cls, spark: SparkSession, points: DataFrame,
              grid: Grid | None = None, n_hint: int | None = None,
              hot_cell_cap: int = HOT_CELL_CAP,
              coord_cols: tuple = ("x", "y")) -> "SpatialIndex":
        """points: DataFrame(pid long, <coord_cols> long|double). Bulk
        load (B1-B7). d = len(coord_cols) >= 2; the grid cell (top
        level) always keys on the first two dims — for d>2 the per-cell
        trees split on all d (max-stretch), and xy-only cell pruning
        remains a valid lower bound. Double coordinates switch the
        whole index (blobs, stats, probes) to float mode — the
        reference's double test build (comparator.h:10-79); exact-
        integer mode is the default and matches its `long` coords."""
        if grid is not None and grid.g ** grid.dims > MAX_CELLS:
            raise ValueError(f"Grid({grid.g}, dims={grid.dims}) has "
                             f"{grid.g ** grid.dims} cells, past the "
                             f"routing level's cap of {MAX_CELLS}")
        t0 = time.time()
        n = n_hint if n_hint is not None else points.count()
        grid = grid or Grid.for_count(n)
        assert grid.dims <= len(coord_cols), (grid.dims, coord_cols)
        from pyspark.sql.types import DoubleType, FloatType
        fmode = isinstance(points.schema[coord_cols[0]].dataType,
                           (DoubleType, FloatType))
        cols = list(coord_cols)
        # int32 coords/cell through the shuffle + Arrow hop (coords are
        # < 1e6, cell < MAX_CELLS): 1/3 fewer bytes on the hot path
        ct = "double" if fmode else "int"
        pts = points.selectExpr(
            "pid", *[f"CAST({c} AS {ct}) AS {c}" for c in coord_cols],
            f"CAST({grid.cell_sql(cols, fmode)} AS int) AS cell")

        # salting plan from per-cell counts (the sampled-pivot round's
        # analogue: one cheap agg instead of a sample)
        counts = pts.groupBy("cell").agg(F.count("*").alias("c"))
        nsplit = counts.select(
            "cell",
            (F.floor((F.col("c") - 1) / F.lit(hot_cell_cap)) + 1)
            .cast("int").alias("nsplit"))
        pts = (pts.join(F.broadcast(nsplit), "cell")
               .withColumn("salt",
                           F.when(F.col("nsplit") <= 1, F.lit(0))
                           .otherwise(F.pmod(F.col("pid"), F.col("nsplit")))
                           .cast("int"))
               .drop("nsplit"))

        schema = INDEX_SCHEMA_F64 if fmode else INDEX_SCHEMA
        built = pts.groupBy("cell", "salt").applyInArrow(
            _arrow_fn(_build_group, schema), schema)
        # cached as built, not re-clustered by cell: a read streams the
        # cache in place through its broadcast-hash join on the
        # candidate cells (scan_blobs) and shuffles no blob, so a
        # cell-clustered cache would save it nothing
        df = built.cache()
        idx = cls(spark, grid, df, coord_cols=coord_cols)
        # materialize, collecting the hot-cell set in the same job:
        # update() never adds salts, so the set is fixed from here on
        # and query operators plan their fan-out from this literal.
        # The job also collects every non-empty blob's level input, so
        # no read aggregates it
        row = df.agg(F.count("*").alias("n"),
                     F.collect_set(F.when(_hot_pred(), F.col("cell")))
                     .alias("hot"),
                     F.collect_list(F.when(F.col("cnt") > 0,
                                           F.struct(*LEVEL_COLS)))
                     .alias("rows")).collect()[0]
        idx.manifest = dict(kind="build", n=n, grid_g=grid.g,
                            grid_dims=grid.dims, cells=int(row["n"]),
                            hot_cells=sorted(int(c) for c in row["hot"]),
                            wall_sec=time.time() - t0,
                            coord_cols=list(coord_cols),
                            version=str(uuid.uuid4())[:8])
        idx._frags = [_Frag(df, df, idx.manifest["cells"])]
        idx._level = idx._blob_level(row["rows"])
        # every built blob holds points, so the level rows name them all
        idx._salts = _salt_lists([r["cell"] for r in row["rows"]],
                                 [r["salt"] for r in row["rows"]])
        return idx

    # ------------------------------------------------------------------ stats
    def stats(self) -> pd.DataFrame:
        """Per-blob stats (no blobs) as driver pandas — DIAGNOSTIC ONLY
        (validate()); one Spark job. Query pruning reads level()
        instead, per cell, already on the driver."""
        if self._stats_pd is None:
            self._stats_pd = self.df.select(*STATS_COLS).toPandas()
        return self._stats_pd

    def cell_stats(self) -> DataFrame:
        """Per non-empty cell its union bbox, live count and highest
        non-empty salt: level() without the probe pools, as a local
        relation (for diagnostics; no read joins it)."""
        lv, t = self.level(), "double" if self.float_coords else "bigint"
        cols = {"cell": (lv.cell, "bigint"), "ccnt": (lv.ccnt, "bigint"),
                "maxsalt": (lv.maxsalt, "int")}
        for j, (lo, hi) in enumerate(zip(*bbox_cols(len(self.coord_cols)))):
            cols[lo], cols[hi] = (lv.lo[:, j], t), (lv.hi[:, j], t)
        return self.spark.createDataFrame(
            pd.DataFrame({c: v for c, (v, _) in cols.items()}),
            ", ".join(f"{c} {t}" for c, (_, t) in cols.items()))

    def hot_cells(self) -> list:
        """Sorted ids of the cells of >= FANOUT_MIN_BLOBS non-empty
        blobs. Fixed at build time — update() keeps each cell's blob
        count and gives new cells salt 0 — and carried through
        update/save/load by the manifest; a manifest without it (legacy
        snapshots, catalog loads) collects it once here. Hot cells are
        rare by construction, so the kNN kernel holds the set as a
        literal."""
        hot = self.manifest.get("hot_cells")
        if hot is None:
            hot = sorted(int(r["cell"]) for r in self.df.filter(_hot_pred())
                         .select("cell").distinct().collect())
            self.manifest["hot_cells"] = hot
        return hot

    def _blob_salts(self) -> dict:
        """{cell: its blob rows' salts, ascending} over every cell that
        has a blob row, emptied ones included: where update() routes a
        salted cell's inserts, and which touched cells need a
        placeholder. Fixed per cell once the cell has a row, since an
        update never adds a salt; build() hands it over and update()
        adds the cells its placeholders created. Any other version
        collects it here once (one job)."""
        if self._salts is None:
            t = self.df.select("cell", "salt").toArrow()
            self._salts = _salt_lists(_column(t.column("cell")),
                                      _column(t.column("salt")))
        return self._salts

    def level(self) -> Level:
        """The routing level every read descends, on the driver, as
        every query of the reference descends the same top of one tree
        (build_tree.hpp:49-70): one row per non-empty grid cell, so at
        most grid.MAX_CELLS rows at any index size. build() hands it
        over and update() patches the parent's; any other version
        (load(), a snapshot) aggregates it here once, striding the
        samples inside the aggregation, so the driver never holds more
        than LEVEL_PROBES pooled points."""
        if self._level is None:
            d = len(self.coord_cols)
            cap = self._level_cap()
            pool = ("flatten(transform(array_sort(collect_list("
                    "struct(cell, salt, probe))), b -> b.probe))")
            stride = f"GREATEST(1, (size(pool) DIV {d} + {cap - 1}) DIV {cap})"
            lv = (self.df.filter(F.col("cnt") > 0).groupBy("cell")
                  .agg(F.sum("cnt").alias("ccnt"),
                       F.max("salt").alias("maxsalt"),
                       F.array(*[F.min(F.col("bbox")[j])
                                 for j in range(d)]).alias("lo"),
                       F.array(*[F.max(F.col("bbox")[d + j])
                                 for j in range(d)]).alias("hi"),
                       F.expr(pool).alias("pool"))
                  .selectExpr("cell", "ccnt", "maxsalt", "lo", "hi",
                              f"filter(pool, (v, i) -> (i DIV {d}) "
                              f"% {stride} = 0) AS pool")
                  .toPandas().sort_values("cell"))
            self._level = self._make_level(
                lv["cell"], lv["ccnt"], lv["maxsalt"], list(lv["lo"]),
                list(lv["hi"]), list(lv["pool"]))
        return self._level

    def _level_cap(self) -> int:
        """Pooled probe points one level cell keeps at most."""
        return max(1, LEVEL_PROBES // self.grid.g ** self.grid.dims)

    def _make_level(self, cell, ccnt, maxsalt, lo, hi, pools) -> Level:
        """A Level from per-cell columns; each pool (flat probe values
        of the cell's blobs in (cell, salt) order) keeps every s-th
        point, s the least stride that fits the cell's share."""
        d = len(self.coord_cols)
        cdt = np.float64 if self.float_coords else np.int64
        cap = self._level_cap()
        probe = np.empty(len(pools), object)
        for i, p in enumerate(pools):
            p = np.asarray(p, cdt).reshape(-1, d)
            probe[i] = p[::max(1, -(-len(p) // cap))]
        return Level(np.asarray(cell, np.int64), np.asarray(ccnt, np.int64),
                     np.asarray(maxsalt, np.int32),
                     np.asarray(lo, cdt).reshape(-1, d),
                     np.asarray(hi, cdt).reshape(-1, d), probe)

    def _blob_level(self, rows: list) -> Level:
        """The level of blob rows (LEVEL_COLS): the same aggregation
        level() runs over a blob table.
        A blob's row counts once, even if a re-run task reported it
        again."""
        d = len(self.coord_cols)
        blobs = {(r["cell"], r["salt"]): r for r in rows if r["cnt"] > 0}
        cells = [[r for _, r in g] for _, g in itertools.groupby(
            sorted(blobs.items()), key=lambda kv: kv[0][0])]
        box = [np.reshape([r["bbox"] for r in g], (-1, 2 * d)) for g in cells]
        return self._make_level(
            [g[0]["cell"] for g in cells], [sum(r["cnt"] for r in g)
                                            for g in cells],
            [max(r["salt"] for r in g) for g in cells],
            [b[:, :d].min(axis=0) for b in box],
            [b[:, d:].max(axis=0) for b in box],
            [[v for r in g for v in r["probe"]] for g in cells])

    # ---------------------------------------------------------------- updates
    def update(self, inserts: DataFrame | None = None,
               deletes: DataFrame | None = None) -> "SpatialIndex":
        """Batch insert/delete (I1, D1/D2). Both args: (pid, <coord_cols>).

        Physical plan (the reference rebuilds only tagged subtrees in
        place, `batch_insert.hpp:60-191`; the distributed analogue is
        rewriting only the touched cells' blobs where they lie): the
        batch comes to the driver once, as Arrow, and its cells, salts
        and touched-cell list are driver numpy. One SQL execution then
        scans the touched blobs in place, as reads do (scan_blobs): each
        fragment's frame is hash-joined to one broadcast row per touched
        cell holding that cell's batch rows, plus one placeholder row
        (salt 0, empty blob) per touched cell without a blob row, and one
        mapInArrow rewrites each joined blob (LocalKDTree.with_updates;
        a placeholder builds a new cell's tree from its inserts). No
        blob is shuffled. The rewritten blobs are coalesced to at most
        defaultParallelism partitions and checkpointed as the
        touched-cell DELTA, and the new version is the delta unioned
        with the inherited fragments, each that fed the scan filtered to
        its untouched cells by one literal `cell IN (...)` — untouched
        blobs are neither read, deserialized, nor rewritten to storage,
        so a 0.01% batch pays O(batch), not O(index), in both compute
        AND materialized bytes. Touched cells go log-structured with
        threshold rebuild.

        Routing inside a cell: an unsalted cell's one blob takes all its
        rows. A salted cell's insert goes to salts[pid % len(salts)],
        the cell's blob-row salts held on the driver (fixed at build:
        an update never adds a salt), and its deletes are routed by
        membership, each blob dropping the ids it holds.

        Superseded fragments leave the union. Each fragment counts the
        blob rows it still serves; the delta rewrites every blob of a
        touched cell, so this update subtracts the (cell, salt) keys an
        Observation per fragment saw it feed into the scan (a set: a
        re-run task cannot subtract twice). A fragment at 0, an empty
        delta included, is left out; one of unknown count never is. An
        update that would leave more than COMPACT_EVERY fragments
        checkpoints their union as one.

        The routing level travels with the delta, the way the reference
        keeps subtree sizes current through a batch, when the parent
        holds it on the driver: the delta's Observation collects each
        rewritten blob's (cell, salt, cnt, bbox, probe), and the new
        version's level() is the parent's rows of the untouched cells
        plus those, aggregated per cell: no Spark job here, and no
        fragment scan at the next read. Any other parent leaves the new
        version to aggregate its own on first read.

        Dimension-generic: works for any d = len(coord_cols) >= 2, same
        as the reference's dim-templated batch ops (`batch_insert.hpp:
        60-191`, `batch_delete.hpp:75-107`).

        Same-batch semantics: DELETES APPLY BEFORE INSERTS within one
        call. Deletes are routed by membership against the PRE-batch
        index, so a pid that appears in both `deletes` and `inserts` of
        the same batch has its old point removed (if present) and its
        new point inserted — the delete never targets the same batch's
        insert. Feeding the same pid twice through `inserts` of one
        batch is a caller error (ids are unique in the data model).
        """
        t0 = time.time()
        grid = self.grid
        cc = list(self.coord_cols)
        cdt = np.float64 if self.float_coords else np.int64
        schema = INDEX_SCHEMA_F64 if self.float_coords else INDEX_SCHEMA
        parts = [df.selectExpr("pid", *cc, f"CAST({op} AS tinyint) AS op")
                 for df, op in ((inserts, 1), (deletes, 0)) if df is not None]
        if not parts:
            return self
        with job_description(self.spark, "update:rewrite"):
            salts = self._blob_salts()
            # the whole batch, once, as Arrow: O(batch) on the driver
            t = _union(parts).toArrow()
        ups = {c: _column(t.column(c)) for c in ["pid", "op"]}
        ups.update({c: _column(t.column(c)).astype(cdt, copy=False)
                    for c in cc})
        cell = grid.home_cells(np.column_stack([ups[c] for c in cc]))
        # each row's blob: the salt of the blob it goes to, or -1 for a
        # salted cell's delete (every blob of the cell tests membership)
        ups["salt"] = np.zeros(len(cell), np.int32)
        touched = np.unique(cell).tolist()
        new_cells = []
        for c in touched:
            s = salts.get(c)
            if s is None:  # no blob row: a placeholder builds one
                new_cells.append(c)
            elif s != (0,):  # salted cells are rare: O(batch) each
                m = cell == c
                s = np.asarray(s, np.int32)
                ups["salt"][m] = np.where(
                    ups["op"][m] == 1, s[ups["pid"][m] % len(s)],
                    s[0] if len(s) == 1 else -1)

        def rewrite(cell: int, salt: int, b: dict, blob) -> dict:
            pts = np.column_stack([b[c] for c in cc])
            mine = b["salt"] == salt
            ins = np.flatnonzero(mine & (b["op"] == 1))
            if not len(blob):  # a placeholder: a new cell's first tree
                return _rows([_tree_row(cell, salt, LocalKDTree.build(
                    pts[ins], b["pid"][ins]))]) if len(ins) else {}
            tree = LocalKDTree.from_bytes(blob)
            dels = np.flatnonzero(mine & (b["op"] == 0))
            owned = np.flatnonzero((b["salt"] < 0) & (b["op"] == 0))
            dels = np.concatenate([dels, owned[
                np.isin(b["pid"][owned], tree.ids)
                | np.isin(b["pid"][owned], tree.extra_ids)]])
            return _rows([_tree_row(cell, salt, tree.with_updates(
                pts[ins], b["pid"][ins], pts[dels], b["pid"][dels]))])

        frames = [f.frame for f in self._frags]
        if new_cells:
            frames.append(self.spark.createDataFrame(pa.table({
                "cell": pa.array(new_cells, pa.int64()),
                "salt": pa.array(np.zeros(len(new_cells), np.int32)),
                "blob": pa.array([b""] * len(new_cells), pa.binary())})))
        fed = [Observation() for _ in self._frags]  # single-use: one each
        # DELTA versioning: checkpoint ONLY the rewritten touched-cell
        # blobs — O(batch) materialization, never O(index). The new
        # version's df is the inherited fragments each filtered by the
        # touched-cell predicate, unioned with the delta. localCheckpoint
        # truncates the delta's lineage (which references the parent),
        # so chained updates grow the plan by one filter per fragment —
        # linear, not exponential — and the coalesce keeps a delta at
        # most defaultParallelism partitions, not the fragment union's
        # count. The rewritten blobs' keys, and their level rows when
        # the level is carried, ride on the checkpoint.
        carry = self._level is not None
        obs = Observation()
        with job_description(self.spark, "update:rewrite"):
            cols = ", ".join(LEVEL_COLS if carry else ["cell", "salt"])
            delta = (scan_blobs(frames, cell_lists(self.spark, cell, ups),
                                rewrite, schema, fed)
                     .coalesce(self.spark.sparkContext.defaultParallelism)
                     .observe(obs, F.expr(
                         f"to_json(collect_list(struct({cols}))) AS rows"))
                     .localCheckpoint(eager=True))
        # read as a Java string: Observation.get's pickled row crosses
        # py4j as bytes that it decodes one at a time in Python, about
        # 0.2 s per MB of probe samples
        rows = obs._jo.getRow()
        rows = json.loads(rows.getString(0)) if rows.size() else []
        # the fragment filter names `salt` (never negative) next to
        # `cell`: a predicate on `cell` alone would be inferred through
        # the join key onto the broadcast side of every join a scan
        # makes per fragment, so one broadcast per scan would become
        # one per fragment. Every filter below, in this version and its
        # descendants until compaction, is a literal predicate on the
        # touched-cell list (O(batch)): no lineage back to the caller's
        # input frames (a streaming caller deletes evicted slice files)
        untouched = ~in_list("cell", touched) | (F.col("salt") < 0)
        frags = []
        for f, o in zip(self._frags, fed):
            keys = (observed(o) or {"keys": ()})["keys"]
            if f.live is not None:
                f = f._replace(live=f.live - len(keys))
            # every blob of a touched cell was fed, so a fragment that
            # fed none holds none: it keeps its frame unfiltered
            if f.live != 0:
                frags.append(f._replace(frame=f.frame.filter(untouched))
                             if keys else f)
        nkeys = len({(r["cell"], r["salt"]) for r in rows})
        if nkeys or not frags:
            frags.append(_Frag(delta, delta, nkeys))
        else:  # an empty delta: nothing reads it
            free_checkpoint(delta)
        compacted = len(frags) > COMPACT_EVERY
        if compacted:
            # the inherited fragments' blocks are freed when the parent
            # calls unpersist(successor=...), the delta's here: nothing
            # past this point reads them
            live = [f.live for f in frags]
            with job_description(self.spark, "update:compact"):
                ckpt = (_union(f.frame for f in frags)
                        .localCheckpoint(eager=True))
            free_checkpoint(delta)
            frags = [_Frag(ckpt, ckpt, None if None in live else sum(live))]
        # no per-update blob-row count: nothing load-bearing reads it
        # (save() audits its own row counts) and it cost a Spark job
        # per chained update
        manifest = dict(kind="update", base_version=self.manifest.get("version"),
                        frags=len(frags), compacted=compacted,
                        hot_cells=self.hot_cells(),
                        wall_sec=time.time() - t0,
                        coord_cols=cc, version=str(uuid.uuid4())[:8])
        new = SpatialIndex(self.spark, grid, _union(f.frame for f in frags),
                           manifest, coord_cols=self.coord_cols)
        new._frags = frags
        # a placeholder that built a blob gave its cell salt 0
        new._salts = {**salts, **{r["cell"]: (0,) for r in rows
                                  if r["cell"] not in salts}}
        if carry:
            # the parent's rows of untouched cells plus the delta's (a
            # touched cell whose blobs all emptied drops out): driver
            # arrays, with nothing to cache or free and no lineage to
            # any fragment
            new._level = self._level.patched(touched, new._blob_level(rows))
        # the sorted touched-cell ids let an incremental snapshot commit
        # (catalog.SnapshotStore) rewrite only the buckets this update
        # changed
        new.touched_cells = touched
        return new

    def cache(self) -> "SpatialIndex":
        """Cache this version's blob table as its one fragment, which
        unpersist(successor=...) frees once no successor reads it (used
        after load(), whose one fragment holds no storage; it keeps the
        fragment's live row count, so an update can still drop it)."""
        live = [f.live for f in self._frags]
        self.df = self.df.cache()
        self._frags = [_Frag(self.df, self.df,
                             None if None in live else sum(live))]
        return self

    def unpersist(self, successor: "SpatialIndex | None" = None) -> None:
        """Release this version's storage (streaming indexers call this
        on superseded versions to bound executor storage): a fragment's
        cached frame or localCheckpoint blocks ONLY where `successor`
        (the version that replaced this one) does not still read them —
        a delta-update child shares its parent's live fragments, so
        freeing those would sever the child's truncated lineage. The
        fragments the child dropped (every row rewritten) are freed, and
        after a compaction the child inherits nothing, so all of this
        version's are."""
        kept = [f.store for f in successor._frags] if successor else []
        for f in self._frags:
            if f.store is not None and not any(f.store is k for k in kept):
                _free(f.store)

    # -------------------------------------------------------------- persist
    def save(self, path: str) -> str:
        """Write-audit-publish: parquet + manifest, atomic rename."""
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        self.df.write.mode("overwrite").parquet(os.path.join(tmp, "index"))
        # audit metrics via one Spark agg (no O(cells) driver collect)
        row = self.df.agg(F.sum("cnt").alias("t"), F.count("*").alias("c"),
                          F.max("depth").alias("d")).collect()[0]
        audit = dict(self.manifest)
        audit["hot_cells"] = self.hot_cells()
        audit["total_rows"] = int(row["t"] or 0)
        audit["cells"] = int(row["c"])
        audit["max_depth"] = int(row["d"] or 0)
        audit["grid_g"] = self.grid.g
        audit["grid_dims"] = self.grid.dims
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(audit, f, indent=1)
        # audit: re-read row count matches
        back = self.spark.read.parquet(os.path.join(tmp, "index")).count()
        if back != audit["cells"]:  # not assert: must survive python -O
            raise RuntimeError(
                f"audit failed: re-read {back} rows != {audit['cells']}")
        if os.path.exists(path):
            os.rename(path, path + f".old-{uuid.uuid4().hex[:8]}")
        os.rename(tmp, path)
        return path

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "SpatialIndex":
        with open(os.path.join(path, "manifest.json")) as f:
            manifest = json.load(f)
        df = spark.read.parquet(os.path.join(path, "index"))
        grid = Grid(int(manifest["grid_g"]),
                    dims=int(manifest.get("grid_dims", 2)))
        return cls(spark, grid, df, manifest,
                   coord_cols=tuple(manifest.get("coord_cols", ["x", "y"])))

    # ------------------------------------------------------------ validation
    def validate(self, expected_n: int | None = None) -> dict:
        """Structural invariants (utility/validation.hpp analogue).
        Raises RuntimeError naming the first one that fails (not
        assert: must survive python -O)."""
        stats = self.stats()
        total = int(stats["cnt"].sum())
        live = stats[stats["cnt"] > 0]

        def check(ok, what):
            if not ok:
                raise RuntimeError(f"validate: {what}")

        check(expected_n is None or total == expected_n,
              f"live points {total} != expected {expected_n}")
        v = {c: live[c].to_numpy() for c in ("xmin", "ymin", "xmax", "ymax")}
        check((v["xmin"] <= v["xmax"]).all(), "a live blob has xmin > xmax")
        check((v["ymin"] <= v["ymax"]).all(), "a live blob has ymin > ymax")
        # every blob's bbox sits inside its cell's geometric bounds
        # (only for unsalted, tomb-free cells built straight from data)
        xlo, ylo, xhi, yhi = self.grid.cell_bounds(live["cell"].to_numpy())
        f = (live["nextra"].to_numpy() == 0) & (live["ntomb"].to_numpy() == 0)
        check((v["xmin"][f] >= xlo[f]).all() and (v["xmax"][f] <= xhi[f]).all()
              and (v["ymin"][f] >= ylo[f]).all()
              and (v["ymax"][f] <= yhi[f]).all(),
              "a fresh blob's bbox leaves its cell")
        return dict(total=total, cells=len(stats),
                    max_depth=int(stats["depth"].max()) if len(stats) else 0)
