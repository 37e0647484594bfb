"""One-process scale leg: build + query the spatial index at large n.

Usage: python scripts/scale_leg.py [n_rows] [n_queries] [cpus]

Defaults to the 100M-row leg reported in BENCH.md (two orders of
magnitude above the sf0.1 gate scale, 16x the sf1 leg). Everything is
synthesized deterministically via points.synth_points — no external
data. Prints one JSON line:

  {"rows": N, "build_sec": ..., "build_rows_per_sec": ...,
   "grid_g": g, "knn_k10_sec": ..., "knn_k10_q_per_sec": ...,
   "range_10k_sec": ..., "range_10k_q_per_sec": ...,
   "cells_per_query": ...}

The kNN batch is intentionally large (1M queries by default): the
per-job stage floor (BENCH.md, kNN latency composition) is
fixed, so q/s keeps amortizing with batch size — this leg is the
evidence point for that claim at the largest n the sandbox fits.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kdtree_spark import fixtures, points
from kdtree_spark.grid import Grid
from kdtree_spark.index import SpatialIndex
from kdtree_spark.queries.knn import knn_candidates, knn_join
from kdtree_spark.queries.ranges import range_count
from kdtree_spark.session import get_spark


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    nq = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    spark = get_spark("scale_leg", cpus=cpus, shuffle_partitions=128)
    # JVM/codegen warmup outside every timed window
    spark.range(1_000_000).selectExpr("id % 97 AS g").groupBy("g").count().count()

    p = points.synth_points(spark, n, parts=256)
    out = {"rows": n}
    t0 = time.time()
    idx = SpatialIndex.build(spark, p, grid=Grid.for_count(n), n_hint=n)
    out["build_sec"] = round(time.time() - t0, 2)
    out["build_rows_per_sec"] = round(n / out["build_sec"], 0)
    out["grid_g"] = idx.grid.g

    q = points.synth_points(spark, nq, parts=64).selectExpr(
        "pid AS qid", "x", "y")
    t0 = time.time()
    knn_join(idx, q, 10).count()
    out["knn_k10_sec"] = round(time.time() - t0, 2)
    out["knn_k10_q_per_sec"] = round(nq / out["knn_k10_sec"], 0)

    t0 = time.time()
    range_count(idx, fixtures.gen_boxes_bulk(10_000)).count()
    out["range_10k_sec"] = round(time.time() - t0, 2)
    out["range_10k_q_per_sec"] = round(10_000 / out["range_10k_sec"], 0)

    out["cells_per_query"] = round(
        knn_candidates(idx, q.limit(4096), 10).count() / 4096, 2)

    # radius distance join (queries/joins.py): the 1M-query set against
    # all n rows, r sized for ~3 partners/query at this density — the
    # pure-JVM join path at the largest sandbox n
    from kdtree_spark.queries.joins import distance_join
    r = max(1, int((3 * 1e12 / (3.14159 * n)) ** 0.5))
    t0 = time.time()
    npairs = distance_join(q, p, r, left_id="qid",
                           right_id="pid").count()
    out["join_r"] = r
    out["join_sec"] = round(time.time() - t0, 2)
    out["join_pairs"] = int(npairs)
    out["join_q_per_sec"] = round(nq / out["join_sec"], 0)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
