"""spark-submit entrypoint (BASELINE.json north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

Unlike the in-repo harnesses (bench.py, scaling.py), this script does
NOT construct its own local[N] session: it calls
`SparkSession.builder.getOrCreate()` and inherits whatever master /
executor topology / confs spark-submit was given, so the same file runs
unchanged on a real cluster:

    scripts/package.sh                       # -> dist/kdtree_spark.zip
    spark-submit \
        --master <cluster-master> \
        --py-files dist/kdtree_spark.zip \
        scripts/submit_job.py \
        --sf-dir hdfs://.../points --output metrics.json

In the sandbox the same invocation is smoke-tested with
`--master local[8]` (tests/test_submit.py runs it end to end).

The job is the headline workload: build the two-level index from the
parquet point table, run kNN k=10 over the 2% query set and the fixed
range-count batch, and write a metrics JSON (per-stage wall seconds +
throughputs + the index manifest — the "per-partition lineage +
metrics" artifact the north_rule asks every run to emit).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True,
                    help="directory with lineitem.parquet (point source), "
                         "or a reference-format ASCII .in point file when "
                         "--input-format=ascii")
    ap.add_argument("--input-format", choices=("parquet", "ascii"),
                    default="parquet",
                    help="ascii = the reference's 'N Dim' point files "
                         "(points.read_ascii_points); queries are the "
                         "reference's convention of a ~1%% prefix of the "
                         "data itself (testFramework.h:25,471-521)")
    ap.add_argument("--output", required=True,
                    help="where to write the metrics JSON")
    ap.add_argument("--grid", type=int, default=8,
                    help="grid granularity g (g x g cell grid)")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--snapshot-dir", default=None,
                    help="optional: SnapshotStore root; when given the "
                         "built index is committed there (resumable "
                         "checkpoint) and reloaded before querying")
    args = ap.parse_args()

    # session comes from spark-submit; only analytics confs and Unix
    # sockets are set here (master/memory/executors belong to the submit
    # command line); each JVM keeps its java.io.tmpdir as socket dir: a
    # directory the driver made would not exist on the executor hosts
    from pyspark.sql import SparkSession

    from kdtree_spark.session import UDS_CONF
    spark = (SparkSession.builder.appName("kdtree-spark-job")
             .config(UDS_CONF, "true")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.skewJoin.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    from kdtree_spark import fixtures, points
    from kdtree_spark.grid import Grid
    from kdtree_spark.index import SpatialIndex
    from kdtree_spark.queries.knn import knn_join
    from kdtree_spark.queries.ranges import range_count

    metrics: dict = {"stages": {}, "throughput": {}}
    if args.input_format == "ascii":
        pts = points.read_ascii_points(spark, args.sf_dir)
    else:
        pts = points.load_points(spark, args.sf_dir, "uniform") \
            .select("pid", "x", "y")
    n = pts.count()
    metrics["rows"] = n

    t0 = time.time()
    idx = SpatialIndex.build(spark, pts, grid=Grid(args.grid), n_hint=n)
    metrics["stages"]["build"] = round(time.time() - t0, 3)
    metrics["throughput"]["build_rows_per_sec"] = round(
        n / metrics["stages"]["build"], 1)
    # per-partition lineage manifest: one row per blob (cell, salt,
    # count, bbox, depth) — what the north_rule calls "per-partition
    # lineage"; kept summary-level in the JSON so the file stays small
    stats = idx.cell_stats()
    manifest = stats.count()
    metrics["manifest"] = {
        "blobs": manifest,
        "grid_g": args.grid,
        "coord_cols": list(idx.coord_cols),
    }

    if args.snapshot_dir:
        from kdtree_spark.catalog import SnapshotStore
        store = SnapshotStore(args.snapshot_dir)
        t0 = time.time()
        snap = store.commit(idx)
        metrics["stages"]["snapshot_commit"] = round(time.time() - t0, 3)
        metrics["manifest"]["snapshot_id"] = snap
        idx = store.load(spark)  # prove the checkpoint round-trip

    if args.input_format == "ascii":
        # reference convention: query with a ~1% prefix of the data
        qdf = pts.filter(pts.pid % 101 == 7).selectExpr(
            "pid AS qid", *[c for c in pts.columns if c != "pid"])
    else:
        qdf = points.load_query_points(spark, args.sf_dir, "uniform")
    nq = qdf.count()
    t0 = time.time()
    knn_rows = knn_join(idx, qdf, args.k).count()
    metrics["stages"]["knn"] = round(time.time() - t0, 3)
    metrics["throughput"]["knn_q_per_sec"] = round(
        nq / metrics["stages"]["knn"], 1)
    metrics["knn_rows"] = knn_rows

    boxes = fixtures.gen_boxes(100, seed=7)
    t0 = time.time()
    total = range_count(idx, boxes).agg({"cnt": "sum"}).collect()[0][0]
    metrics["stages"]["range_count"] = round(time.time() - t0, 3)
    metrics["throughput"]["range_q_per_sec"] = round(
        len(boxes) / metrics["stages"]["range_count"], 1)
    metrics["range_total"] = int(total)

    metrics["wall_sec"] = round(sum(metrics["stages"].values()), 3)
    with open(args.output, "w") as f:
        json.dump(metrics, f, indent=1)
    print(json.dumps({"wall_sec": metrics["wall_sec"],
                      "output": args.output}))
    spark.stop()


if __name__ == "__main__":
    main()
