"""Connected components over near-duplicate pairs — the clustering step
that turns pair output (minhash/simhash/phash joins, dedup.py) into
dedup groups with a canonical representative per group (min id), which
is what a training-data pipeline actually consumes: keep one doc per
component, drop the rest.

Algorithm: alternating large-star / small-star edge contraction (the
DataFrame rendering of Kiveris et al., "Connected Components in
MapReduce and Beyond", SOCC'14 — public literature); details in the
star_edges docstring. The edge list itself contracts toward
disjoint stars, so dense components collapse in a few rounds and
per-round cost shrinks as the graph does — O(log n) rounds. A round
is one fused plan: two window-min phases on uniform node keys (two
exchanges) and one eager localCheckpoint, which frees the previous
round's blocks (flat lineage AND flat executor storage — the same
truncation discipline as SpatialIndex.update). The same checkpoint
carries the fixpoint test, an observed count of the nodes that break
the star shape, so convergence costs no action of its own. Spatially
local edges (dbscan's) first merge per locality group by numpy
union-find in one Arrow kernel (cell-local merging before cross-cell
links, as in Wang, Gu & Shun's parallel DBSCAN, SIGMOD'20).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation, Window, functions as F

from ..index import (_arrow_fn, _column, free_checkpoint, job_description,
                     observed)


def dedup_canonical(docs: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id",
                    a_col: str = "da", b_col: str = "db") -> DataFrame:
    """The dedup pipeline endpoint: given the corpus and its near-dup
    pair list, keep exactly ONE document per connected component (the
    min id — every dropped doc has a surviving near-duplicate) and
    return the surviving subset of `docs` with all its columns.

    Plan: connected_components over the pairs, then a semi-join of the
    corpus against the canonical ids — one extra shuffle on the id key
    beyond the clustering itself."""
    cc = connected_components(pairs, docs.select(id_col),
                              a_col=a_col, b_col=b_col, id_col=id_col)
    keep = (cc.filter(F.col("id") == F.col("comp"))
            .select(F.col("id").alias(id_col)))
    return docs.join(keep, id_col, "left_semi")


def connected_components(edges: DataFrame, nodes: DataFrame | None = None,
                         a_col: str = "da", b_col: str = "db",
                         id_col: str = "id", max_rounds: int = 50,
                         local_col: str | None = None) -> DataFrame:
    """edges: undirected pair list (a_col, b_col); nodes: optional
    (id_col) universe so isolated nodes appear as singletons.
    -> (id, comp): comp = smallest node id in the node's component.
    The other arguments and the algorithm: star_edges."""
    # stars: (leaf, center) edges; every center labels itself
    out = star_edges(edges, a_col, b_col, max_rounds, local_col) \
        .selectExpr("stack(2, u, v, v, v) AS (id, comp)").distinct()
    if nodes is not None:
        singles = (nodes.select(F.col(id_col).alias("id")).distinct()
                   .join(out.select("id"), "id", "left_anti")
                   .withColumn("comp", F.col("id")))
        out = out.unionByName(singles)
    return out


def star_edges(edges: DataFrame, a_col: str = "da", b_col: str = "db",
               max_rounds: int = 50,
               local_col: str | None = None) -> DataFrame:
    """-> (u, v): one row per edge-list node u that is not the least of
    its component, v that least id. Nodes of no edge are absent.

    Kiveris et al. (SOCC'14), edge list kept oriented (u > v), both
    phases a window min over u. large-star: on the symmetric list, each
    larger neighbor v of u links to LEAST(min neighbor, u) <= u < v, so
    the output is oriented as is. small-star: on that output (its
    distinct already hash-partitions it on u), u and each smaller
    neighbor but the least link to the least. A round is one plan, two
    exchanges and one eager localCheckpoint; the previous one is freed.
    With local_col (integer ids), a checkpoint of _contract over each
    local_col group comes first: per group, stars of equal connectivity.

    Fixpoint = stars centered at their minimum, recognised on the
    round's INPUT without an action of its own: an Observation on the
    large-star window counts nodes with a smaller neighbor and more
    than one distinct neighbor. Two such nodes are never adjacent, so
    at 0 every edge has a leaf end: each component is a star whose
    center is below its leaves, and the round's output is its edges
    once each, which the loop keeps. Exact: a retried stage can only
    over-count. Raises RuntimeError when max_rounds contraction rounds
    pass without the fixpoint. Job descriptions: components:contract,
    components:round; the caller's is restored."""
    e = edges.selectExpr(f"GREATEST({a_col}, {b_col}) AS u",
                         f"LEAST({a_col}, {b_col}) AS v",
                         *([local_col] if local_col else [])
                         ).filter("u != v")
    spark = edges.sparkSession
    w = Window.partitionBy("u")
    if local_col:
        with job_description(spark, "components:contract"):
            e = (e.groupBy(local_col)
                 .applyInArrow(_arrow_fn(_contract, "u long, v long"),
                               "u long, v long").localCheckpoint())
    with job_description(spark, "components:round"):
        for rnd in range(max_rounds):
            obs = Observation()  # single-use: one per round
            ls = (e.selectExpr("stack(2, u, v, v, u) AS (u, v)")
                  .select("u", "v", F.min("v").over(w).alias("mn"),
                          F.max("v").over(w).alias("mx"))
                  .observe(obs, F.count(F.when(
                      (F.col("mn") < F.col("u"))
                      & (F.col("mx") > F.col("mn")), 1)).alias("bad"))
                  .filter("v > u")
                  .selectExpr("v AS u", "LEAST(mn, u) AS v")
                  .repartition("u").distinct())
            nxt = (ls.select("u", "v", F.min("v").over(w).alias("mn"))
                   .selectExpr("IF(v = mn, u, v) AS u", "mn AS v")
                   .localCheckpoint())
            m = observed(obs)  # None: no rows, so none breaks the shape
            if rnd or local_col:  # else e is the caller's plan
                free_checkpoint(e)
            e = nxt
            if m is None or m["bad"] == 0:
                return e
    raise RuntimeError(
        f"connected_components: no fixpoint after {max_rounds} "
        f"rounds; the labels would not be components")


def _contract(key, t) -> dict:
    """One group's edges (u, v) -> (u, v) for each node u that is not
    the least of its group-local component, v that least id. Each pass
    hooks the larger root of every edge onto the smaller, then pointer
    jumping flattens the forest; a component's least id stays a root."""
    u, v = _column(t.column("u")), _column(t.column("v"))
    ids, ix = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = np.split(ix, 2)  # dense indices in id order
    lab = np.arange(len(ids))
    while (lab[a] != lab[b]).any():
        np.minimum.at(lab, np.maximum(lab[a], lab[b]),
                      np.minimum(lab[a], lab[b]))
        while (lab[lab] != lab).any():
            lab = lab[lab]
    leaf = lab != np.arange(len(ids))
    return {"u": ids[leaf], "v": ids[lab[leaf]]}
