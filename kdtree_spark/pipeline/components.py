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
local edges (dbscan's) take no round: a numpy union-find per locality
group in one Arrow kernel, then one union-find over the labels of the
nodes that several groups share (cell-local merging before cross-cell
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

    With local_col (integer ids) there is no round and no checkpoint,
    only one lazy plan. Per local_col group, one Arrow kernel labels
    every node with its group-local least id. A node in several groups
    ties their labels together, and one union-find over the labels of
    all such nodes, in ONE task, maps each label to its component's
    least id, broadcast back. Exact: a component's least id labels its
    own local component, and shared nodes link every local component
    of a component. local_col must be spatially local (dbscan's coarse
    cells) so that the shared nodes stay few: about sqrt(n) at
    dbscan's shape. max_rounds applies only without local_col.

    Fixpoint = stars centered at their minimum, recognised on the
    round's INPUT without an action of its own: an Observation on the
    large-star window counts nodes with a smaller neighbor and more
    than one distinct neighbor. Two such nodes are never adjacent, so
    at 0 every edge has a leaf end: each component is a star whose
    center is below its leaves, and the round's output is its edges
    once each, which the loop keeps. Exact: a retried stage can only
    over-count. Raises RuntimeError when max_rounds contraction rounds
    pass without the fixpoint. Rounds run under the job description
    components:round; the caller's is restored."""
    e = edges.selectExpr(f"GREATEST({a_col}, {b_col}) AS u",
                         f"LEAST({a_col}, {b_col}) AS v",
                         *([local_col] if local_col else [])
                         ).filter("u != v")
    if local_col:
        return _local_stars(e, local_col)
    spark = edges.sparkSession
    w = Window.partitionBy("u")
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
            if rnd:  # else e is the caller's plan
                free_checkpoint(e)
            e = nxt
            if m is None or m["bad"] == 0:
                return e
    raise RuntimeError(
        f"connected_components: no fixpoint after {max_rounds} "
        f"rounds; the labels would not be components")


def _local_stars(e: DataFrame, local_col: str) -> DataFrame:
    """star_edges of (u, v, local_col) edges: per group each node's
    group-local least id, then one union-find over the labels of the
    nodes in more than one group."""
    # NOT NULL: no inferred null filter under only one of node's two
    # uses, so both read one exchange and the group kernel runs once
    schema = "u long NOT NULL, l long NOT NULL"
    kern = _arrow_fn(_labels, schema)
    lab = e.groupBy(local_col).applyInArrow(kern, schema)
    node = lab.groupBy("u").agg(F.collect_set("l").alias("ls"))
    # a node in >= 2 groups ties their labels; one task joins them all
    root = (node.filter("size(ls) > 1")
            .selectExpr("explode(ls) AS u", "array_min(ls) AS v")
            .groupBy().applyInArrow(kern, schema)
            .selectExpr("u AS l", "l AS r"))
    return (node.selectExpr("u", "array_min(ls) AS l")
            .join(F.broadcast(root), "l", "left")
            .selectExpr("u", "COALESCE(r, l) AS v").filter("u != v"))


def _labels(key, t) -> dict:
    """Edges (u, v) -> (u, l) for every node u, l the least id of its
    component. Each pass hooks the larger root of every edge onto the
    smaller, then pointer jumping flattens the forest; a component's
    least id stays a root."""
    u, v = _column(t.column("u")), _column(t.column("v"))
    ids, ix = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = np.split(ix, 2)  # dense indices in id order
    lab = np.arange(len(ids))
    while (lab[a] != lab[b]).any():
        np.minimum.at(lab, np.maximum(lab[a], lab[b]),
                      np.minimum(lab[a], lab[b]))
        while (lab[lab] != lab).any():
            lab = lab[lab]
    return {"u": ids, "l": ids[lab]}
