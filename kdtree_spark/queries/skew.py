"""Hot-cell (salted) work fan-out shared by the query operators.

The build salts cells past HOT_CELL_CAP rows into multiple blobs
(index.py), which keeps *build* tasks bounded; these helpers keep
*query* tasks bounded too: instead of cogrouping a hot cell's whole
workload on `cell` (one task no matter how many blobs), its query rows
are replicated once per salt and cogrouped on (cell, salt) against just
the hot blobs — one task per blob. Cold cells (the overwhelming
majority) keep the plain `cell` cogroup, preserving the cached index's
exchange reuse. This is the distributed analogue of the reference's
per-subtree parallelism inside one tree (it never serializes a subtree
on one thread either, kdTreeParallel.h build/query par_do recursion).

The hot-cell set is known on the driver (SpatialIndex.hot_cells), so
the split is a literal predicate, and an index without hot cells (every
uniform one) plans no hot branch at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index import (FANOUT_MIN_BLOBS, SpatialIndex, cogroup,  # noqa: F401
                     in_list)


def hot_blobs(index: SpatialIndex) -> DataFrame:
    """Blobs of fanned-out ("hot") cells — the minority side that query
    operators re-key by (cell, salt)."""
    return index.df.filter(in_list("cell", index.hot_cells()))


def split_by_salt(index: SpatialIndex, cand: DataFrame
                  ) -> tuple[DataFrame, DataFrame | None]:
    """(cold, hot): cold rows keep few-blob cells (cogroup on `cell`
    as usual — the per-cell kernel loops the blobs); hot rows are
    replicated once per salt of their fanned-out cell (cogroup on
    (cell, salt) against hot_blobs). hot is None when the index has no
    hot cells. `cand` must carry a `maxsalt` column (from the
    cell-stats join), consumed here."""
    hot_cells = index.hot_cells()
    if not hot_cells:
        return cand.drop("maxsalt"), None
    hot_pred = in_list("cell", hot_cells)
    cold = cand.filter(~hot_pred).drop("maxsalt")
    hot = (cand.filter(hot_pred)
           .withColumn("salt", F.explode(
               F.sequence(F.lit(0), F.col("maxsalt"))))
           .drop("maxsalt"))
    return cold, hot


def scan_blobs(index: SpatialIndex, cand: DataFrame, cold_fn, hot_fn,
               schema: str) -> DataFrame:
    """Run a blob scan over (query, cell) rows with the cold/hot split:
    cold cells group on `cell` with cold_fn; hot cells fan out per
    (cell, salt) blob with hot_fn. Each blob side is first pruned to
    its side's cells (pruned_blobs), so only those cells' blobs are
    serialized through the Arrow hop — bytes scale with the query set,
    not with index size. hot_fn sees one blob per group, so its partial
    results must compose in the caller's merge (counts sum, reported
    rows union, kNN top-k lists merge). `cand` must carry `maxsalt`,
    and its lineage must not reach index.df (or the semi-join would
    trip the self-join analyzer) unless through re-aliased stats
    frames (index.cell_stats): the reads' candidates come from a
    kernel over the queries or from driver arrays."""
    cold, hot = split_by_salt(index, cand)
    out = cogroup(cold, pruned_blobs(index.df, cold).select("cell", "blob"),
                  ["cell"], cold_fn, schema)
    if hot is None:
        return out
    return out.unionByName(cogroup(
        hot, pruned_blobs(hot_blobs(index), hot).select("cell", "salt",
                                                        "blob"),
        ["cell", "salt"], hot_fn, schema))


def pruned_blobs(blobs: DataFrame, side: DataFrame) -> DataFrame:
    """`blobs` semi-joined to the cells of `side`, broadcast, so only
    the surviving blobs reach an exchange. The cells are not made
    distinct first: the broadcast relation is O(rows of `side`), and a
    distinct would cost its own exchange job."""
    return blobs.join(F.broadcast(side.select("cell")), "cell", "semi")
