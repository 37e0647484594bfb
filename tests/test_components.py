"""Connected components vs a driver-side union-find oracle."""

import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kdtree_spark.pipeline.components import connected_components


def _uf_components(n_ids, edges):
    parent = {i: i for i in n_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min id: root chosen as min via the merge rule
    return {i: find(i) for i in n_ids}


def _mk_edges(spark, edges):
    return spark.createDataFrame(
        pd.DataFrame({"da": [a for a, _ in edges],
                      "db": [b for _, b in edges]}, dtype="int64"),
        "da long, db long")


def test_components_random_graph(spark):
    rng = np.random.default_rng(31)
    ids = list(range(300))
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 300, (250, 2))
             if a != b]
    got = dict(connected_components(
        _mk_edges(spark, edges),
        spark.createDataFrame(pd.DataFrame({"id": ids}, dtype="int64"))
    ).collect())
    assert got == _uf_components(ids, edges)


def test_components_long_path_exercises_jump(spark):
    """A 400-node path: plain label propagation needs 400 rounds; the
    star contraction must converge inside the round cap."""
    edges = [(i, i + 1) for i in range(399)]
    got = dict(connected_components(_mk_edges(spark, edges)).collect())
    assert got == {i: 0 for i in range(400)}


def test_components_round_cap_raises(spark):
    """One contraction round cannot reach a path's fixpoint: the call
    raises instead of returning labels that are not components."""
    edges = [(i, i + 1) for i in range(20)]
    with pytest.raises(RuntimeError, match="no fixpoint after 1 rounds"):
        connected_components(_mk_edges(spark, edges), max_rounds=1)


def _check(spark, edges, **kw):
    """connected_components over `edges`, given their nodes, vs
    union-find."""
    ids = sorted({x for e in edges for x in e})
    nodes = spark.createDataFrame(pd.DataFrame({"id": ids}, dtype="int64"))
    got = dict(connected_components(_mk_edges(spark, edges), nodes,
                                    **kw).collect())
    assert got == _uf_components(ids, edges)


def test_components_star_forest_input(spark):
    """Input already at the fixpoint (stars centered at their minimum,
    given leaf-first and center-first): the first round observes it,
    so even one round suffices."""
    edges = ([(0, i) for i in range(1, 12)] + [(57, 50), (50, 51)]
             + [(90, 80), (7000, 6999)])
    _check(spark, edges)
    _check(spark, edges, max_rounds=1)


def test_components_duplicates_and_self_loops(spark):
    edges = [(3, 1), (1, 3), (3, 1), (1, 3), (3, 3), (4, 4), (4, 5),
             (5, 4), (5, 4), (6, 6), (2, 1), (1, 2)]
    _check(spark, edges + [(9, 9)])  # 6 and 9: self-loops only


def test_components_chain_of_stars(spark):
    """Stars whose centers are leaves of another star (10 is the center
    of 11..14 and a leaf of 5; 5 is a leaf of 20's star), and a star
    whose center is larger than its leaves."""
    edges = ([(10, i) for i in range(11, 15)] + [(5, 10), (5, 6)]
             + [(20, 5), (20, 21)] + [(100, i) for i in range(90, 96)])
    _check(spark, edges)


def test_components_complete_graph_and_ring(spark):
    k30 = [(a, b) for a in range(30) for b in range(a + 1, 30)]
    ring = [(1000 + i, 1000 + (i + 1) % 200) for i in range(200)]
    _check(spark, k30 + ring)


def test_components_extreme_ids(spark):
    lo, hi = -2**63, 2**63 - 1
    edges = [(hi, hi - 1), (hi - 1, -5), (lo, lo + 1), (lo + 1, -1),
             (-7, -3), (-3, 0), (0, hi - 2), (lo + 2, hi - 3)]
    _check(spark, edges)


def test_components_singletons_and_empty_edges(spark):
    ids = [5, 9, 42]
    got = dict(connected_components(
        _mk_edges(spark, []),
        spark.createDataFrame(pd.DataFrame({"id": ids}, dtype="int64"))
    ).collect())
    assert got == {5: 5, 9: 9, 42: 42}


def test_components_two_clusters_plus_isolated(spark):
    edges = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)]
    ids = list(range(1, 15))
    got = dict(connected_components(
        _mk_edges(spark, edges),
        spark.createDataFrame(pd.DataFrame({"id": ids}, dtype="int64"))
    ).collect())
    exp = _uf_components(ids, edges)
    assert got == exp
    assert got[3] == 1 and got[12] == 10 and got[14] == 14


def _check_local(spark, edges, locs, ids=None):
    """connected_components with a locality column (edge i in group
    locs[i]) vs union-find, over `ids` (default: the edges' nodes); the
    caller's job description survives the call and labels every job it
    ran, so none is a components:round job."""
    ids = sorted({x for e in edges for x in e}) if ids is None else ids
    df = spark.createDataFrame(
        pd.DataFrame({"da": [a for a, _ in edges],
                      "db": [b for _, b in edges],
                      "loc": locs}, dtype="int64"),
        "da long, db long, loc long")
    nodes = spark.createDataFrame(pd.DataFrame({"id": ids}, dtype="int64"),
                                  "id long")
    sc = spark.sparkContext
    group = f"cc-local-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "caller")
    try:
        got = dict(connected_components(df, nodes,
                                        local_col="loc").collect())
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == _uf_components(ids, edges)
    store = sc._jsc.sc().statusStore()
    descs = [store.job(i).description().get()
             for i in sc.statusTracker().getJobIdsForGroup(group)]
    assert descs and set(descs) == {"caller"}, descs


def test_components_local_runs_no_round(spark):
    """A local_col call takes no contraction round: its jobs carry the
    caller's description, and max_rounds=1 does not bind, though one
    round cannot reach a 20-edge path's fixpoint (the round cap test)."""
    edges = [(i, i + 1) for i in range(20)]
    _check_local(spark, edges, [i % 2 for i in range(20)])
    df = _mk_edges(spark, edges).withColumn("loc", F.lit(0))
    assert dict(connected_components(df, max_rounds=1, local_col="loc")
                .collect()) == {i: 0 for i in range(21)}


def test_components_local_path_alternating_groups(spark):
    """Consecutive path edges sit in different groups, every group
    holds edges, and no two edges of a group touch: the per-group
    union-find merges nothing and every node but the ends is shared."""
    edges = [(i, i + 1) for i in range(199)]
    _check_local(spark, edges, [i % 4 for i in range(199)])


def test_components_local_zigzag_through_groups(spark):
    """One component, a path over shuffled ids, zig-zags through all 4
    groups 6 times in runs of 5 edges (each group holds 6 disjoint
    pieces of it, joined only through other groups), beside a second
    component that stays in group 2."""
    rng = np.random.default_rng(41)
    p = [int(x) for x in rng.permutation(121) * 3 + 7]
    edges = list(zip(p, p[1:])) + [(1000, 1001), (1001, 1002)]
    _check_local(spark, edges, [i // 5 % 4 for i in range(120)] + [2, 2])


def test_components_local_no_shared_node(spark):
    """Every component lies in one group: no node is in two groups, so
    the shared-node union-find gets no input."""
    rng = np.random.default_rng(43)
    edges, locs = [], []
    for g in range(4):
        ids = [int(x) for x in 100 * g + rng.permutation(40)]
        edges += list(zip(ids[:30], ids[1:31])) + [(ids[35], ids[36])]
        locs += [g] * 31
    _check_local(spark, edges, locs)


def test_components_local_many_components(spark):
    """Many components across groups, with isolated nodes, duplicate
    edges (in one group and across groups), self-loops and extreme
    int64 ids."""
    rng = np.random.default_rng(37)
    lo, hi = -2**63, 2**63 - 1
    pool = ([lo, lo + 1, lo + 2, hi, hi - 1, hi - 2, -1, 0]
            + [int(x) for x in rng.choice(10**6, 200, replace=False)])
    idx = rng.integers(0, len(pool), (150, 2))
    edges = [(pool[a], pool[b]) for a, b in idx]
    edges += edges[:20] + [(x, x) for x in pool[:6]] + [(lo, hi)]
    locs = [int(g) for g in rng.integers(0, 5, len(edges))]
    isolated = [10**7 + i for i in range(5)]
    _check_local(spark, edges, locs, sorted(set(pool) | set(isolated)))


def test_components_local_empty_edges(spark):
    _check_local(spark, [], [], [3, 8, -2**63])


def test_dedup_canonical(spark):
    """Endpoint: one survivor per component, the min id, full rows."""
    import pandas as pd
    from kdtree_spark.pipeline.components import dedup_canonical
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": list(range(10)),
         "text": [f"t{i}" for i in range(10)]}))
    pairs = _mk_edges(spark, [(0, 1), (1, 2), (5, 6), (8, 3), (3, 0)])
    out = dedup_canonical(docs, pairs).toPandas()
    # components: {0,1,2,3,8}, {5,6}; singletons 4,7,9
    assert sorted(out.doc_id) == [0, 4, 5, 7, 9]
    assert set(out.columns) == {"doc_id", "text"}
    assert out.set_index("doc_id").text.to_dict() == {
        0: "t0", 4: "t4", 5: "t5", 7: "t7", 9: "t9"}
