"""Connected components over near-duplicate pairs — the clustering step
that turns pair output (minhash/simhash/phash joins, dedup.py) into
dedup groups with a canonical representative per group (min id), which
is what a training-data pipeline actually consumes: keep one doc per
component, drop the rest.

Algorithm: alternating large-star / small-star edge contraction (the
DataFrame rendering of Kiveris et al., "Connected Components in
MapReduce and Beyond", SOCC'14 — public literature); details in the
connected_components docstring. The edge list itself contracts toward
disjoint stars, so dense components collapse in a few rounds and
per-round cost shrinks as the graph does — O(log n) rounds, each one
groupBy-min + one join per phase on uniform node keys,
AQE-splittable. Every phase materializes through an eager
localCheckpoint and unpersists the previous round (flat lineage AND
flat executor storage — the same truncation discipline as
SpatialIndex.update).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


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
                         id_col: str = "id",
                         max_rounds: int = 50) -> DataFrame:
    """edges: undirected pair list (a_col, b_col); nodes: optional
    (id_col) universe so isolated nodes appear as singletons.
    -> (id, comp): comp = smallest node id in the node's component.

    Alternating large-star / small-star edge contraction (Kiveris et
    al., SOCC'14): each round REWRITES the edge list toward a star
    centered at the component minimum, so dense components collapse in
    O(log n) rounds and the per-round join cost SHRINKS as the graph
    contracts (the earlier min-label-propagation rendering advanced a
    frontier — O(diameter) rounds at constant full-edge-list cost,
    measured pathological on large dense eps-graphs; see BENCH.md).

    large-star: for each u, every larger neighbor links to
    m = min(neighborhood(u) + {u}).  small-star: orient edges toward
    the larger endpoint; every smaller neighbor (and u) links to the
    minimum smaller neighbor.  Fixpoint = disjoint stars; convergence
    is detected EXACTLY (count + exceptAll on the canonical edge set,
    both cheap at converged size), not via a hash fingerprint.
    Every phase materializes through an eager localCheckpoint and
    unpersists the previous round (flat lineage AND flat storage).
    Raises RuntimeError when max_rounds pass without the fixpoint."""
    e = (edges.selectExpr(f"{a_col} AS u", f"{b_col} AS v")
         .filter("u != v")
         .selectExpr("GREATEST(u, v) AS u", "LEAST(u, v) AS v")
         .distinct().localCheckpoint())

    def large_star(ed):
        sym = ed.unionByName(ed.selectExpr("v AS u", "u AS v"))
        m = (sym.groupBy("u").agg(F.min("v").alias("mn"))
             .select("u", F.least("mn", F.col("u")).alias("m")))
        return (sym.filter("v > u").join(m, "u")
                .selectExpr("v AS u", "m AS v").filter("u != v")
                .distinct())

    def small_star(ed):
        # ed oriented u > v by invariant below
        m = ed.groupBy("u").agg(F.min("v").alias("m"))
        return (ed.join(m, "u")
                .selectExpr("v AS a", "m AS b")
                .unionByName(m.selectExpr("u AS a", "m AS b"))
                .filter("a != b")
                .selectExpr("GREATEST(a, b) AS u", "LEAST(a, b) AS v")
                .distinct())

    if e.count() > 0:
        for _ in range(max_rounds):
            ls = (large_star(e)
                  .selectExpr("GREATEST(u, v) AS u", "LEAST(u, v) AS v")
                  .distinct().localCheckpoint())
            nxt = small_star(ls).localCheckpoint()
            ls.unpersist()
            same = (nxt.count() == e.count()
                    and nxt.exceptAll(e).isEmpty())
            e.unpersist()
            e = nxt
            if same:
                break
        else:
            raise RuntimeError(
                f"connected_components: no fixpoint after {max_rounds} "
                f"rounds; the labels would not be components")
    # fixpoint: stars (member, comp_min) with member > comp_min
    lbl = (e.selectExpr("u AS id", "v AS comp")
           .groupBy("id").agg(F.min("comp").alias("comp")))
    centers = e.selectExpr("v AS id").distinct()         .join(lbl.select("id"), "id", "left_anti")         .withColumn("comp", F.col("id"))
    out = lbl.unionByName(centers)
    if nodes is not None:
        singles = (nodes.select(F.col(id_col).alias("id")).distinct()
                   .join(out.select("id"), "id", "left_anti")
                   .withColumn("comp", F.col("id")))
        out = out.unionByName(singles)
    return out
