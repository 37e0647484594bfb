"""spark-kd benchmark body: seeded workloads driven through kdtree_spark's
public entry points from one process — one client, closed loop, on
local[nproc/2]. Start it through run.py (see README.md):

    python3 perfbench/run.py --workload update-mix --seed 1 --seconds 10 --trace 0

Every input is generated with numpy from --seed; the engine sees only
those points, queries and boxes. After the workload's warm-up cycles,
timed cycles run back to back for --seconds, and at least MIN_CYCLES
of them. Afterwards every answer is checked against the brute force in
oracle.py. The last stdout line is the result JSON; lines before it
start with '# ' and are for people.

--trace 0 reports the end-to-end metrics. --trace 1 turns Spark's event
log on, labels each timed call with a job group, and reports the
per-layer metrics folded from the log.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import zlib  # noqa: E402

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import eventlog  # noqa: E402
import oracle  # noqa: E402

COORD = 1_000_000      # engine domain: int64 coords in [0, COORD)
KNN_SAMPLE = 8         # queries per kNN batch checked by brute force
LOCALTREE_REPS = 5     # repetitions of each direct LocalKDTree timing
MIN_CYCLES = 2         # measured cycles per run, however long --seconds

# Input sizes per workload; "tiny" is for the benchmark's own tests.
SIZES = {
    "full": {
        "update-mix": dict(n=600_000, nq=64, nb=64, k=10,
                           n_ins=6_000, n_del=6_000),
        "cluster": dict(n=2_000, min_pts=5),
    },
    "tiny": {
        "update-mix": dict(n=20_000, nq=16, nb=16, k=10,
                           n_ins=200, n_del=200),
        "cluster": dict(n=1_000, min_pts=5),
    },
}


def eps_for(n: int, mean_neighbours: float = 10.0) -> int:
    """DBSCAN radius giving uniform points ~mean_neighbours within eps."""
    return int(round((mean_neighbours * COORD ** 2 / (np.pi * n)) ** 0.5))


def percentile_tail(values: list) -> tuple[str, float | None]:
    """The highest of p50/p90/p99/p99.9 with at least ten samples
    beyond it; (name, value), or ("", None) when none qualifies."""
    vals = sorted(values)
    best = ("", None)
    for name, q in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99),
                    ("p99.9", 0.999)):
        idx = int(np.ceil(q * len(vals))) - 1
        if idx >= 0 and len(vals) - 1 - idx >= 10:
            best = (name, vals[idx])
    return best


# --------------------------------------------------------------- session

def host_memory_gib() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2 ** 30


def spark_env(work: str, trace: bool) -> str:
    """Point every Spark/JVM/Python scratch location into `work` and set
    the driver memory from the host. Returns the driver memory."""
    import shlex
    mem = f"{max(1, min(4, int(host_memory_gib()) // 4))}g"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = work
    # -UsePerfData: no hsperfdata file in the system temp directory
    args = ["--driver-java-options",
            f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
            "--conf", f"spark.sql.warehouse.dir={work}/warehouse"]
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{work}/events",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"])
    return mem


# ------------------------------------------------------------ the runner

class Runner:
    """Times calls, labels them for the event log when tracing, and
    keeps each call's deferred oracle check."""

    def __init__(self, spark, trace: bool, inject_wrong: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace = trace
        self.inject_wrong = inject_wrong
        self.calls: list[dict] = []

    def call(self, name: str, fn, check=None, cycle: int = -1,
             corrupt=None):
        """Run fn() timed. check(result) -> '' or a mismatch message,
        run later by verify(); corrupt(result) alters the answer once
        when --inject-wrong is set (the oracle must then fail)."""
        label = f"{name}#{len(self.calls)}"
        if self.trace:
            self.sc.setJobGroup(label, name)
        t0_ms = time.time() * 1e3
        p0 = time.perf_counter()
        result, error = None, ""
        try:
            result = fn()
        except Exception as e:  # a failed op is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            error = f"{name}: {type(e).__name__}: {str(e)[:200]}"
        wall = time.perf_counter() - p0
        t1_ms = time.time() * 1e3
        if self.trace:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        if corrupt is not None and self.inject_wrong and not error:
            corrupt(result)
            self.inject_wrong = False
        rec = dict(call=name, label=label, cycle=cycle, wall_s=wall,
                   t0_ms=t0_ms, t1_ms=t1_ms, error=error,
                   result=result if check is not None else None,
                   check=check)
        self.calls.append(rec)
        return result, rec

    def verify(self) -> tuple[int, int, list]:
        """-> (attempted, failed, messages) over every call. A call
        fails when it raised or its answer disagrees with the oracle;
        updates are checked through the reads that follow them."""
        msgs = []
        for rec in self.calls:
            msg = rec["error"] or (rec["check"](rec["result"])
                                   if rec["check"] else "")
            rec["result"] = None
            if msg:
                msgs.append(f"{rec['label']}: {msg}")
        return len(self.calls), len(msgs), msgs


def frame(spark, **cols):
    return spark.createDataFrame(pd.DataFrame(cols))


def write_points(work: str, pid, x, y) -> str:
    """Write the points as parquet (pyarrow, no Spark job) for the
    engine to read: a DataFrame made from a large local pandas frame
    would carry every row in its plan."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    path = os.path.join(work, "points.parquet")
    pq.write_table(pa.table({"pid": pid, "x": x, "y": y}), path)
    return path


def uniform(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    xy = rng.integers(0, COORD, size=(n, 2), dtype=np.int64)
    return xy[:, 0].copy(), xy[:, 1].copy()


# ---------------------------------------------------------- update-mix

class UpdateMix:
    """Writes beside reads on a 2-D uniform index built in set-up. Each
    cycle: one kNN batch and one range_count batch against the current
    version, then one update (inserts + deletes) producing the next."""

    warmup = 1  # the second kNN call already runs at its steady speed

    def __init__(self, size: dict, rng, runner: Runner, work: str):
        from kdtree_spark.index import SpatialIndex
        self.size, self.rng, self.r = size, rng, runner
        self.spark = runner.spark
        n = size["n"]
        pid = np.arange(n, dtype=np.int64)
        x, y = uniform(rng, n)
        self.live = oracle.LiveSet(pid, x, y)
        self.next_pid = n
        pts = self.spark.read.parquet(write_points(work, pid, x, y))
        self.idx, _ = runner.call(
            "build", lambda: SpatialIndex.build(self.spark, pts, n_hint=n))
        if self.idx is None:
            raise RuntimeError("initial build failed")
        self.frags: list[tuple] = []  # (kNN call label, index.frags)

    def run_cycle(self, cycle: int) -> None:
        self.knn(cycle)
        self.range(cycle)
        self.update(cycle)

    def queries(self):
        nq = self.size["nq"]
        qid = np.arange(nq, dtype=np.int64)
        qx, qy = uniform(self.rng, nq)
        return qid, qx, qy

    def knn(self, cycle: int) -> None:
        from kdtree_spark.queries.knn import knn_join
        idx, live, k = self.idx, self.live, self.size["k"]
        qid, qx, qy = self.queries()
        qdf = frame(self.spark, qid=qid, x=qx, y=qy)
        sample = self.rng.choice(len(qid), min(KNN_SAMPLE, len(qid)),
                                 replace=False)

        def corrupt(res):
            hit = res.index[res["qid"] == qid[sample[0]]][0]
            res.loc[hit, "nid"] += 1

        _, rec = self.r.call(
            "knn", lambda: knn_join(idx, qdf, k).toPandas(),
            lambda res: oracle.check_knn(res, live, qid, qx, qy, k, sample),
            cycle, corrupt)
        self.frags.append((rec["label"], idx.manifest.get("frags", 1)))

    def boxes(self) -> np.ndarray:
        nb = self.size["nb"]
        lo = self.rng.integers(0, COORD, size=(nb, 2))
        side = self.rng.integers(1_000, 100_000, size=(nb, 2))
        hi = np.minimum(lo + side, COORD - 1)
        b = np.column_stack([np.arange(nb), lo[:, 0], lo[:, 1],
                             hi[:, 0], hi[:, 1]]).astype(np.int64)
        b[0, 1:] = (0, 0, COORD - 1, COORD - 1)  # whole domain: live count
        return b

    def range(self, cycle: int) -> None:
        from kdtree_spark.queries.ranges import range_count
        idx, b, live = self.idx, self.boxes(), self.live

        def corrupt(res):
            res.loc[res.index[0], "cnt"] += 1

        self.r.call("range", lambda: range_count(idx, b).toPandas(),
                    lambda res: oracle.check_range(res, live, b), cycle,
                    corrupt)

    def update(self, cycle: int) -> bool:
        """One insert+delete batch; the oracle mirror follows it, so the
        next reads check the update. -> whether it succeeded."""
        s, live, old = self.size, self.live, self.idx
        dsel = self.rng.choice(len(live), s["n_del"], replace=False)
        dpid, dx, dy = live.pid[dsel], live.x[dsel], live.y[dsel]
        ipid = np.arange(self.next_pid, self.next_pid + s["n_ins"],
                         dtype=np.int64)
        ix, iy = uniform(self.rng, s["n_ins"])
        ins = frame(self.spark, pid=ipid, x=ix, y=iy)
        dels = frame(self.spark, pid=dpid, x=dx, y=dy)
        new, rec = self.r.call(
            "update", lambda: old.update(inserts=ins, deletes=dels),
            cycle=cycle)
        if new is None:
            return False
        old.unpersist(successor=new)  # frees what `new` does not share
        self.idx = new
        self.live = live.updated(dpid, ipid, ix, iy)
        self.next_pid += s["n_ins"]
        return True

    def trace_before(self, out: dict) -> None:
        """Traced run only, right after the warm-up cycle, so the index
        version and the queries depend on the seed alone: pruning and
        shipping counters of one kNN batch."""
        from kdtree_spark.queries.knn import knn_candidates, knn_shipped_blobs
        k = self.size["k"]
        qid, qx, qy = self.queries()
        qdf = frame(self.spark, qid=qid, x=qx, y=qy)
        cand, _ = self.r.call(
            "audit.cells", lambda: knn_candidates(self.idx, qdf, k).count())
        shipped, _ = self.r.call(
            "audit.shipped", lambda: knn_shipped_blobs(self.idx, qdf, k))
        out["knn.cells_per_query"] = (cand or 0) / len(qid)
        out["knn.shipped_bytes"] = (shipped or {}).get("shipped_bytes", 0)

    def trace_after(self, out: dict) -> None:
        """Traced run only: updates up to the next compaction, then a
        kNN batch (its jobs fall with the fragment count)."""
        from kdtree_spark.index import COMPACT_EVERY
        for _ in range(COMPACT_EVERY):
            if not self.update(-2):
                return
            if self.idx.manifest.get("compacted"):
                self.knn(-2)
                return

    def localtree_sample(self) -> tuple[np.ndarray, np.ndarray]:
        return cell_sample(self.live.pid, self.live.x, self.live.y)


def cell_sample(pid, x, y) -> tuple[np.ndarray, np.ndarray]:
    """(points, ids) of one grid cell's worth of points: the cell of the
    Grid.for_count grid that holds the first point."""
    from kdtree_spark.grid import Grid
    cells = Grid.for_count(len(pid)).cell_of(x, y)
    m = cells == cells[0]
    return np.column_stack([x[m], y[m]]), pid[m]


# ------------------------------------------------------------- cluster

class Cluster:
    """dbscan on seeded uniform points; no index, no Python UDF. Each
    cycle is one dbscan call."""

    warmup = 2  # the second call still runs ~15% slower than the third

    def __init__(self, size: dict, rng, runner: Runner, work: str):
        self.size, self.r = size, runner
        self.spark = runner.spark
        n = size["n"]
        self.pid = rng.permutation(n).astype(np.int64)
        self.x, self.y = uniform(rng, n)
        self.eps = eps_for(n)
        self.pts = self.spark.read.parquet(
            write_points(work, self.pid, self.x, self.y))
        self._want = None

    def want(self) -> pd.DataFrame:
        if self._want is None:  # brute force once per run
            self._want = oracle.dbscan_labels(
                self.pid, self.x, self.y, self.eps, self.size["min_pts"])
        return self._want

    def run_cycle(self, cycle: int) -> None:
        from kdtree_spark.queries.dbscan import dbscan
        eps, min_pts = self.eps, self.size["min_pts"]

        def corrupt(res):
            res.loc[res.index[0], "kind"] = "corrupted"

        self.r.call("dbscan",
                    lambda: dbscan(self.pts, eps, min_pts).toPandas(),
                    lambda res: oracle.check_dbscan(res, self.want()),
                    cycle, corrupt)

    def trace_before(self, out: dict) -> None:
        """Nothing to count before the window."""

    def trace_after(self, out: dict) -> None:
        """Traced run only: dbscan's two heavy stages called directly on
        the same inputs, so their split shows. After the window, so the
        extra calls do not warm the measured ones."""
        from pyspark.sql import functions as F
        from kdtree_spark.pipeline.components import connected_components
        from kdtree_spark.queries.joins import distance_join
        a = self.pts.select(F.col("pid").alias("pa"), "x", "y")
        b = self.pts.select(F.col("pid").alias("pb"), "x", "y")
        pairs, _ = self.r.call(
            "distance_join", lambda: distance_join(
                a, b, self.eps, left_id="pa", right_id="pb")
            .select("pa", "pb").localCheckpoint(eager=True), cycle=-2)
        if pairs is None:
            return
        core = (pairs.groupBy("pa").agg(F.count("*").alias("n"))
                .filter(F.col("n") >= self.size["min_pts"])
                .select(F.col("pa").alias("pid")).localCheckpoint(eager=True))
        edges = (pairs.filter("pa < pb")
                 .join(core.selectExpr("pid AS pa"), "pa")
                 .join(core.selectExpr("pid AS pb"), "pb")
                 .select(F.col("pa").alias("da"), F.col("pb").alias("db"))
                 .localCheckpoint(eager=True))
        self.r.call("components", lambda: connected_components(
            edges, core, id_col="pid").count(), cycle=-2)

    def localtree_sample(self) -> tuple[np.ndarray, np.ndarray]:
        return cell_sample(self.pid, self.x, self.y)


def localtree_timings(wl, rng) -> dict:
    """Direct LocalKDTree build / kNN / range_count on one cell's worth
    of the workload's points (median of LOCALTREE_REPS each)."""
    from kdtree_spark.localtree import LocalKDTree
    pts, ids = wl.localtree_sample()
    lo, hi = pts.min(axis=0), pts.max(axis=0)
    q = rng.integers(lo, hi + 1, size=(64, 2))
    blo = rng.integers(lo, hi + 1, size=(64, 2))
    bhi = np.minimum(blo + (hi - lo) // 8, hi)
    boxes = np.column_stack([blo, bhi]).astype(np.int64)

    def med(fn) -> float:
        ts = []
        for _ in range(LOCALTREE_REPS):
            t = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t)
        return statistics.median(ts)

    tree = LocalKDTree.build(pts, ids)
    return {"localtree.build_s": med(lambda: LocalKDTree.build(pts, ids)),
            "localtree.knn_s": med(lambda: tree.knn(q, 10)),
            "localtree.range_count_s": med(lambda: tree.range_count(boxes)),
            "localtree.points": len(ids)}


WORKLOADS = {"update-mix": UpdateMix, "cluster": Cluster}


# ---------------------------------------------------------------- report

def per_kind(calls: list) -> dict:
    """call name -> (n, p50, tail name, tail) over the measured calls."""
    out = {}
    for name in dict.fromkeys(c["call"] for c in calls):
        ws = [c["wall_s"] for c in calls if c["call"] == name]
        tname, tail = percentile_tail(ws)
        out[name] = (len(ws), statistics.median(ws), tname, tail)
    return out


def cycle_walls(calls: list) -> dict:
    cycles: dict[int, float] = {}
    for c in calls:
        cycles[c["cycle"]] = cycles.get(c["cycle"], 0.0) + c["wall_s"]
    return cycles


def fold_trace(work: str, runner: Runner) -> tuple[dict, list]:
    """-> (per-cycle per-layer medians, per-call counter rows)."""
    ev_dir = os.path.join(work, "events")
    logs = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    jobs, totals = eventlog.read_log(logs[0])
    rows = []
    for c in runner.calls:
        ctr = eventlog.call_counters(jobs, totals, c["label"],
                                     c["t0_ms"], c["t1_ms"])
        rows.append(dict(label=c["label"], call=c["call"], cycle=c["cycle"],
                         wall_s=round(c["wall_s"], 4),
                         **{k: round(v, 6) for k, v in ctr.items()}))
    measured = [r for r in rows if r["cycle"] >= 0]
    per_cycle: dict[int, dict] = {}
    for r in measured:
        acc = per_cycle.setdefault(r["cycle"], {})
        for k in eventlog.COUNTERS:
            if k != "span_cover":
                acc[k] = acc.get(k, 0) + r[k]
    layer = {k: statistics.median(c[k] for c in per_cycle.values())
             for k in eventlog.COUNTERS if k != "span_cover"}
    layer["span_cover"] = min(r["span_cover"] for r in measured)
    return layer, rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SIZES), default="full")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt one answer (the oracle must catch it)")
    args = ap.parse_args(argv)
    work = os.environ.get("PERFBENCH_WORK")
    if not work or not os.path.isdir(work):
        print("bench.py: PERFBENCH_WORK unset; start it through run.py",
              file=sys.stderr)
        return 2
    trace = bool(args.trace)
    driver_mem = spark_env(work, trace)

    from kdtree_spark.session import get_spark
    nproc = len(os.sched_getaffinity(0))
    # half the cores run tasks; the rest keep the driver JVM (planning,
    # JIT, GC), the Python driver and the Python workers off the task
    # threads, which made calls both faster and steadier than local[nproc]
    ncpu = max(1, nproc // 2)
    spark = get_spark(f"perfbench-{args.workload}", cpus=ncpu)
    size = SIZES[args.scale][args.workload]
    rng = np.random.default_rng(
        [args.seed, zlib.crc32(args.workload.encode())])
    runner = Runner(spark, trace, args.inject_wrong)
    wl = WORKLOADS[args.workload](size, rng, runner, work)

    # warm-up cycles, checked but not measured
    for _ in range(wl.warmup):
        wl.run_cycle(-1)
    setup_s = time.perf_counter() - T_PROCESS
    extra: dict = {}
    if trace:
        wl.trace_before(extra)

    t_end = time.perf_counter() + args.seconds
    cycle = 0
    # at least MIN_CYCLES: a cycle takes over 5 s, so a 10 s run measures
    # two cycles on a faster or a slower host alike, and the median is
    # always over the same cycles
    while cycle < MIN_CYCLES or time.perf_counter() < t_end:
        wl.run_cycle(cycle)
        cycle += 1
    measured = [c for c in runner.calls if c["cycle"] >= 0]

    if trace:
        wl.trace_after(extra)
        extra.update(localtree_timings(wl, rng))
    host = dict(
        nproc=nproc, mem_gib=round(host_memory_gib(), 1),
        master=spark.sparkContext.master, driver_mem=driver_mem,
        pyspark=spark.version,
        java=spark.sparkContext._jvm.System.getProperty("java.version"),
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        scale=args.scale, sizes=size, cycles=cycle)
    if args.workload == "cluster":
        host["eps"] = wl.eps
    spark.stop()

    attempted, failed, msgs = runner.verify()
    print("# host " + json.dumps(host))
    print(f"# setup_s {setup_s:.3f} (session, data, index, {wl.warmup} "
          f"warm-up cycle(s)); process wall {time.perf_counter() - T_PROCESS:.3f} s")
    for name, (n, p50, tname, tail) in per_kind(measured).items():
        tail_s = f"{tname} {tail:.4f} s" if tname else "tail n/a"
        print(f"# {name:8s} n={n:3d} p50 {p50:.4f} s, {tail_s}")
    print("# walls " + " ".join(f"{c['call']}@{c['cycle']}={c['wall_s']:.3f}"
                               for c in runner.calls))
    print(f"# failed_frac {failed}/{attempted} = "
          f"{failed / max(attempted, 1):.4f} (ops failed / attempted)")
    for m in msgs:
        print(f"# FAILED {m}")

    lead: dict[int, float] = {}
    for c in measured:  # the first call of each cycle
        lead.setdefault(c["cycle"], c["wall_s"])
    cycle_s = statistics.median(cycle_walls(measured).values())
    if not trace:
        metrics = {"setup_s": (setup_s, "s"),
                   "cycle_s": (cycle_s, "s"),
                   "lead_call_s": (statistics.median(lead.values()), "s")}
    else:
        layer, rows = fold_trace(work, runner)
        print("# trace-calls " + json.dumps(rows))
        if isinstance(wl, UpdateMix):
            jobs_by_label = {r["label"]: r["jobs"] for r in rows}
            print("# knn-frags " + json.dumps(
                [(lbl, f, jobs_by_label[lbl]) for lbl, f in wl.frags]))
        for k, v in extra.items():
            print(f"# {k} {v}")
        low = min(rows, key=lambda r: r["span_cover"] if r["jobs"] else 1)
        if low["span_cover"] < 0.95:
            print(f"# WARNING labelled jobs span only "
                  f"{low['span_cover']:.3f} of {low['label']}'s wall time")
        units = dict(jobs="count", span_cover="ratio",
                     to_py_bytes="bytes", from_py_bytes="bytes",
                     shuffle_bytes="bytes")
        metrics = {k: (v, units.get(k, "s")) for k, v in layer.items()}
        metrics["traced_cycle_s"] = (cycle_s, "s")
        for k in ("localtree.build_s", "localtree.knn_s",
                  "localtree.range_count_s"):
            metrics[k] = (extra[k], "s")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
