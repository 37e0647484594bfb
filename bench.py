"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` is the total wall seconds across the headline queries (lower is
better). Extra keys report throughputs the judge can compare against
BASELINE.md (build rows/s, kNN q/s, range q/s).

Usage:
    python bench.py                  # full headline run, one JSON line
    python bench.py --cpus 8         # override parallelism (scaling study)
    python bench.py --queries knn_k10,range_count
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE_SPATIAL = [
    "knn_k1", "knn_k10", "knn_k100", "knn_varden", "knn_k10_d3",
    "knn_k10_d5",
    "range_count", "range_count_10k", "range_report", "range_report_10k",
    "circle_count",
    "insert_then_count", "delete_then_count", "update_then_knn",
    "update_then_knn_d3", "insert_ratio_sweep", "incr_build_and_query",
    "point_in_polygon", "tile_cells",
]
HEADLINE_PIPELINE = [
    "dedup_exact", "dedup_ngram", "dedup_minhash", "simhash",
    "ann_cosine_topk", "embedding_neardup", "text_stats", "token_topk",
]
HEADLINE = HEADLINE_SPATIAL + HEADLINE_PIPELINE


def main() -> None:
    from kdtree_spark.session import host_defaults
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=host_defaults()[0])
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default=None,
                    help="comma-separated subset of query names")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from kdtree_spark import points
    from kdtree_spark.grid import Grid
    from kdtree_spark.index import SpatialIndex
    from kdtree_spark.session import get_spark

    spark = get_spark("bench", cpus=args.cpus,
                      shuffle_partitions=max(args.cpus, 8))
    # defensive: if a prior phase (correctness sweep) shares this
    # session, its cached tables (driver_queries index/image caches)
    # would occupy executor storage and evict/skew bench timings
    spark.catalog.clearCache()
    from kdtree_spark.driver_queries import imaging as _dqi
    from kdtree_spark.driver_queries import spatial as _dqs
    _dqi._IMG_CACHE.clear()
    _dqs._INDEX_CACHE.clear()
    sf_dir = args.sf_dir
    # label the run by lineitem row count (sf0.1 ~ 600k)
    n_rows = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    sf = round(n_rows / 6_000_000, 4)

    # warmup: spin the JVM, shuffle machinery and Python UDF workers so
    # timings measure the engine, not process start
    import pandas as _pd
    spark.range(1_000_000).selectExpr("id % 97 AS g", "id") \
        .groupBy("g").count().count()
    spark.range(10_000).selectExpr("CAST(id % 7 AS long) AS g", "id") \
        .groupby("g").applyInPandas(
            lambda p: _pd.DataFrame({"n": [len(p)]}), "n long").count()

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}
    trials: dict[str, list] = {}

    # -- index build, timed separately (B1-B7 headline); best-of-2 like
    # every other timed query (protocol uniformity, ADVICE r4) -------------
    pts = points.load_points(spark, sf_dir, "uniform").select("pid", "x", "y")
    t0 = time.time()
    idx = SpatialIndex.build(spark, pts, grid=Grid(8), n_hint=n_rows)
    t_first = time.time() - t0
    idx.unpersist()
    t0 = time.time()
    idx = SpatialIndex.build(spark, pts, grid=Grid(8), n_hint=n_rows)
    timings["index_build"] = min(t_first, time.time() - t0)
    extras["build_rows_per_sec"] = round(n_rows / timings["index_build"], 1)
    # getAveTreeHeight analogue (reference tests/testFramework.h): mean
    # and max per-blob tree depth across the forest, via one Spark agg
    from pyspark.sql import functions as _F
    drow = idx.df.agg(_F.avg("depth").alias("a"),
                      _F.max("depth").alias("m")).collect()[0]
    extras["ave_tree_height"] = round(float(drow["a"] or 0), 2)
    extras["max_tree_height"] = int(drow["m"] or 0)

    # seed the driver-query cache so per-query timings measure queries only
    from kdtree_spark.driver_queries import spatial as dq
    dq._INDEX_CACHE[dq._key(spark, sf_dir, dq._U2)] = idx

    # warm the query path once (cell-stats cache, blob shuffles, pandas
    # workers for the cogroup UDFs) so the first timed kNN measures the
    # engine, not one-time cache builds — see knn_k1 anomaly, VERDICT r1
    from kdtree_spark.queries.knn import knn_candidates, knn_join
    warmq = (points.load_query_points(spark, sf_dir, "uniform").limit(64))
    knn_join(idx, warmq, 1).count()

    # full registry, including gates retired from the driver's 50-row
    # correctness sweep — bench timings stay comparable round-over-round
    entrymod._ship_package(spark)
    queries = entrymod._registry()
    names = (args.queries.split(",") if args.queries else HEADLINE)
    n_knn_queries = max(1, n_rows // 101)
    for name in names:
        if name not in queries:
            continue
        if name == HEADLINE_PIPELINE[0] and args.queries is None:
            # pruning-quality audit (the reference's visited-node metric,
            # testFramework.h:505-517): avg candidate cells per kNN query
            # at d=2/3/5 — measures how xy-only cell pruning degrades
            # with dimensionality
            nq = max(1, n_rows // 101)
            q2 = points.load_query_points(spark, sf_dir, "uniform")
            extras["knn_k10_d2_cells_per_query"] = round(
                knn_candidates(idx, q2, 10).count() / nq, 2)
            # visited-work audit (reference knn.csv visited-node column)
            from kdtree_spark.queries.knn import knn_scan_stats
            from pyspark.sql import functions as _F
            row = (knn_scan_stats(idx, q2, 10)
                   .agg(_F.avg("scanned").alias("s"),
                        _F.avg("leaves").alias("l")).collect()[0])
            extras["knn_k10_d2_scanned_pts_per_query"] = round(row["s"], 1)
            extras["knn_k10_d2_leaves_per_query"] = round(row["l"], 2)
            # blob-shipping audit (the 100x scale question): build a
            # 4096-cell index and run a small query batch — the blob
            # rows/bytes crossing the Arrow cogroup must scale with the
            # batch's candidate cells, not with the 4096 cells
            from kdtree_spark.queries.knn import knn_shipped_blobs
            idx64 = SpatialIndex.build(spark, pts, grid=Grid(64),
                                       n_hint=n_rows)
            q256 = q2.limit(256)
            aud = knn_shipped_blobs(idx64, q256, 10)
            idx64.unpersist()
            for kk, vv in aud.items():
                extras[f"grid64_256q_{kk}"] = vv
            aud2 = knn_shipped_blobs(idx, q256, 10)
            for kk, vv in aud2.items():
                extras[f"grid8_256q_{kk}"] = vv
            # skewed-density audit (varden clusters concentrate queries
            # in few cells, the known phase-3 task-skew spot to watch)
            # and the d=3 / d=5 pruning audit, over the gates' own
            # memoized indexes and query sets when those gates ran
            for tag, name in (("varden", "knn_varden"),
                              ("d3", "knn_k10_d3"), ("d5", "knn_k10_d5")):
                g = dq._GATES[name]
                idxd = dq._INDEX_CACHE.get(
                    dq._key(spark, sf_dir, g.src, g.build))
                if idxd is not None:
                    qd = dq._sql(spark, sf_dir, dq._query_sql(g, dq._VIEW))
                    extras[f"knn_k10_{tag}_cells_per_query"] = round(
                        knn_candidates(idxd, qd, 10).count() / nq, 2)
            # salted fan-out path (extras-only so the headline sum stays
            # comparable round-over-round): trial 1 includes the
            # hot_cell_cap=512 varden build, trial 2 reuses the cached
            # salted index and times the (cell, salt) fan-out query alone
            t0 = time.time()
            dq.QUERIES["hot_cell_knn"](spark, sf_dir).count()
            extras["hot_cell_knn_build_and_query_sec"] = round(
                time.time() - t0, 3)
            t0 = time.time()
            dq.QUERIES["hot_cell_knn"](spark, sf_dir).count()
            hot2 = time.time() - t0
            extras["hot_cell_knn_query_sec"] = round(hot2, 3)
            extras["hot_cell_knn_q_per_sec"] = round(nq / hot2, 1)
            # spatial family done: drop its caches so pipeline timings
            # aren't skewed by memory pressure from index/blob caches
            spark.catalog.clearCache()
            dq._INDEX_CACHE.clear()
        # best-of-2 for EVERY timed query (uniform protocol, ADVICE r4:
        # mixing best-of-2 kNN with single-trial others made the summed
        # headline internally inconsistent). Rationale: identical jobs
        # measured 5.6-40 s across windows on a shared host; min()
        # keeps one co-tenant spike from reading as an engine
        # regression. Both trials are recorded (trials field) so
        # single-trial rounds remain comparable.
        t0 = time.time()
        cnt = queries[name](spark, sf_dir).count()
        t_first = time.time() - t0
        t0 = time.time()
        queries[name](spark, sf_dir).count()
        t_second = time.time() - t0
        timings[name] = min(t_first, t_second)
        trials[name] = [round(t_first, 3), round(t_second, 3)]
        if name.startswith("knn_"):
            extras[f"{name}_q_per_sec"] = round(n_knn_queries / timings[name], 1)
        elif name in ("range_count", "circle_count"):
            extras[f"{name}_q_per_sec"] = round(cnt / timings[name], 1)

    # -- late-round-5 operators (distance/rect joins, dedup clustering,
    # spatial x phash): timed best-of-2 but reported under extras ONLY,
    # so the headline suite wall keeps its round-1-4 query set and
    # stays comparable round-over-round
    if args.queries is None:
        for name in ("distance_join", "rect_join", "dedup_components",
                     "image_spatial_phash", "polygon_overlay", "dbscan",
                     "kernel_density", "closest_pair"):
            fn = queries.get(name)
            if fn is None:
                continue
            t0 = time.time()
            cnt = fn(spark, sf_dir).count()
            t_first = time.time() - t0
            t0 = time.time()
            fn(spark, sf_dir).count()
            t_second = time.time() - t0
            extras[f"{name}_sec"] = round(min(t_first, t_second), 3)
            extras[f"{name}_rows"] = int(cnt)
            trials[name] = [round(t_first, 3), round(t_second, 3)]
        spark.catalog.clearCache()
        from kdtree_spark.driver_queries import imaging as dqi
        dqi._IMG_CACHE.clear()

    # -- sf1-scale leg (~6M rows, 10x the suite's sf0.1): build + kNN +
    # 10k-rect range count over synthetic points (points.synth_points —
    # same scramble family, generated distributedly). Reported under
    # extras only, NOT in `value`, so round-over-round suite walls stay
    # comparable; this leg is the larger-n signal that the 600k-row
    # suite's noise band can't provide.
    if args.queries is None:
        from kdtree_spark import fixtures
        from kdtree_spark.queries.knn import knn_shipped_blobs
        from kdtree_spark.queries.ranges import range_count
        n1 = 6_000_000
        p1 = points.synth_points(spark, n1, parts=args.cpus)

        def best2(fn):
            t0 = time.time()
            fn()
            t_a = time.time() - t0
            t0 = time.time()
            fn()
            return min(t_a, time.time() - t0)

        # first-class sf1 leg: identical best-of-2 protocol as the
        # sf0.1 suite (directive r4 #6 — the 600k-row suite sits in a
        # noise band; this is the larger-n round-over-round signal).
        # Reported under extras only, NOT in `value`, so suite walls
        # stay comparable with earlier rounds.
        t0 = time.time()
        idx1 = SpatialIndex.build(spark, p1, grid=Grid.for_count(n1),
                                  n_hint=n1)
        t_b1 = time.time() - t0
        idx1.unpersist()
        t0 = time.time()
        idx1 = SpatialIndex.build(spark, p1, grid=Grid.for_count(n1),
                                  n_hint=n1)
        extras["sf1_rows"] = n1
        extras["sf1_grid_g"] = idx1.grid.g
        extras["sf1_build_sec"] = round(min(t_b1, time.time() - t0), 3)
        extras["sf1_build_rows_per_sec"] = round(
            n1 / extras["sf1_build_sec"], 1)
        q1 = (points.synth_points(spark, n1 // 100, parts=args.cpus)
              .selectExpr("pid AS qid", "x", "y"))
        extras["sf1_knn_k10_sec"] = round(
            best2(lambda: knn_join(idx1, q1, 10).count()), 3)
        extras["sf1_knn_k10_q_per_sec"] = round(
            (n1 // 100) / extras["sf1_knn_k10_sec"], 1)
        extras["sf1_range_count_10k_sec"] = round(
            best2(lambda: range_count(
                idx1, fixtures.gen_boxes_bulk(10_000)).count()), 3)
        extras["sf1_range_10k_q_per_sec"] = round(
            10_000 / extras["sf1_range_count_10k_sec"], 1)
        # blob-shipping audit at sf1 (same protocol fields as the sf0.1
        # grid64 audit): bytes crossing Arrow must scale with the query
        # batch's candidate cells, not the index's cell count
        q256 = q1.limit(256)
        for kk, vv in knn_shipped_blobs(idx1, q256, 10).items():
            extras[f"sf1_256q_{kk}"] = vv
        nq1 = max(1, n1 // 100)
        extras["sf1_knn_k10_cells_per_query"] = round(
            knn_candidates(idx1, q1, 10).count() / nq1, 2)
        idx1.unpersist()

    total = sum(timings.values())
    out = {
        "metric": "headline_suite_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf,
        "cpus": args.cpus,
        "rows": n_rows,
        "protocol": {"all": "best_of_2", "sf1_leg": "best_of_2"},
        "trials": trials,
        "throughput": extras,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
