"""Deterministic point-set derivations from the driver's testdata tables.

The reference's inputs are ASCII files of uniform or variable-density
("varden") integer points in [0, 1e6]^d (`tests/testFramework.h:967-990`,
`script/gen_ss_varden.sh`). Here, point sets derive *arithmetically* from
the shared parquet tables so that the driver's DuckDB oracle can compute
the identical set with plain SQL — same constants, same integer ops,
bit-identical in both engines.

`pid` is a deterministic 64-bit key from lineitem's unique natural key
(l_orderkey, l_linenumber, l_partkey, l_suppkey). All products stay far
below 2^63 up to sf10, and all operands are non-negative so `%` agrees
between Spark and DuckDB.

uniform:  x, y from multiplicative scrambles of pid — iid-uniform-ish
          over [0, 1e6)² (generate_random_points analogue).
varden:   64 cluster centers (hashed from l_partkey) with per-cluster
          spread in {1e2, 1e4, 2e5} spanning 3 orders of magnitude —
          the hot-cell / skew stressor (ss_varden analogue).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# -- shared arithmetic (same text works in Spark SQL and DuckDB) --------------

PID_SQL = ("(l_orderkey * 2654435761 + l_linenumber * 40503 "
           "+ l_partkey * 2246822519 + l_suppkey * 3266489917)")


def _scramble(p: int, m: int) -> str:
    """One coordinate of the multiplicative-scramble family."""
    return f"((({PID_SQL} % {p}) * {m}) % 1000000)"


# arbitrary-d configurations (reference dim dispatch covers d in
# {2,3,5,7,9,10,12,16}, tests/test.cpp:569-617): every dim is the same
# multiplicative-scramble family with its own (modulus, multiplier)
# prime pair; the first two are the uniform 2-D point set's
_DIM_PRIMES = [
    (1000003, 7919), (999983, 104729), (999979, 7907), (999961, 6011),
    (999959, 4001), (999953, 104717), (999931, 9973), (999917, 11939),
    (999907, 21881), (999883, 32749), (999863, 44683), (999853, 57859),
    (999809, 71411), (999773, 86813), (999769, 99991), (999763, 30011),
]

UNIFORM_X_SQL, UNIFORM_Y_SQL = (_scramble(p, m) for p, m in _DIM_PRIMES[:2])

_CLUSTER_SQL = "(l_partkey % 64)"
_VCX_SQL = f"(({_CLUSTER_SQL} * 2654435761) % 1000000)"
_VCY_SQL = f"(({_CLUSTER_SQL} * 2246822519) % 1000000)"
# spread by cluster id: 100 / 10_000 / 200_000
_SIG_SQL = (f"(CASE WHEN {_CLUSTER_SQL} % 3 = 0 THEN 100 "
            f"WHEN {_CLUSTER_SQL} % 3 = 1 THEN 10000 ELSE 200000 END)")
VARDEN_X_SQL = (f"GREATEST(0, LEAST(999999, {_VCX_SQL} + "
                f"(({PID_SQL} % (2 * {_SIG_SQL} + 1)) - {_SIG_SQL})))")
VARDEN_Y_SQL = (f"GREATEST(0, LEAST(999999, {_VCY_SQL} + "
                f"((({PID_SQL} % 999983) % (2 * {_SIG_SQL} + 1)) - {_SIG_SQL})))")


def dim_cols(d: int) -> tuple:
    names = ["x", "y", "z", "w", "v"] + [f"c{i}" for i in range(5, d)]
    return tuple(names[:d])


def dim_exprs(d: int) -> tuple:
    assert 2 <= d <= len(_DIM_PRIMES)
    return tuple(_scramble(p, m) for p, m in _DIM_PRIMES[:d])


def dimd_select_sql(d: int, id_alias: str = "pid") -> str:
    return ", ".join([f"{PID_SQL} AS {id_alias}"]
                     + [f"{e} AS {c}"
                        for c, e in zip(dim_cols(d), dim_exprs(d))])


# time-slice label for the sliding-window workload (insertOsmByTime analogue,
# tests/testFramework.h:818-870): 10 slices keyed off pid
SLICE_SQL = f"({PID_SQL} % 10)"


def points_select_sql(dist: str = "uniform") -> str:
    """SELECT-list fragment producing (pid, x, y, slice) from lineitem."""
    if dist == "uniform":
        xy = dimd_select_sql(2)
    elif dist == "varden":
        xy = f"{PID_SQL} AS pid, {VARDEN_X_SQL} AS x, {VARDEN_Y_SQL} AS y"
    else:
        raise ValueError(dist)
    return f"{xy}, {SLICE_SQL} AS slice"


def points_sql(table: str = "lineitem", dist: str = "uniform") -> str:
    return f"SELECT {points_select_sql(dist)} FROM {table}"


def f64_select_sql(id_alias: str = "pid") -> str:
    """(pid, x double, y double): the uniform integer coords plus a
    deterministic fractional part. Every term is an exact integer fed
    through ONE double divide and ONE double add (both correctly
    rounded), so Spark, DuckDB and numpy produce bit-identical doubles
    — the float-mode gate's cross-engine contract. DuckDB note: the
    divisor must be CAST(... AS DOUBLE); a 997.0 literal is DECIMAL
    there and decimal division is not IEEE."""
    return (f"{PID_SQL} AS {id_alias}, "
            f"CAST({UNIFORM_X_SQL} AS DOUBLE)"
            f" + ({PID_SQL} % 997) / CAST(997 AS DOUBLE) AS x, "
            f"CAST({UNIFORM_Y_SQL} AS DOUBLE)"
            f" + ({PID_SQL} % 991) / CAST(991 AS DOUBLE) AS y")


def load_points(spark: SparkSession, sf_dir: str, dist: str = "uniform"
                ) -> DataFrame:
    """Derive the point DataFrame from lineitem parquet.

    Narrow projection: Catalyst prunes the scan to the four key columns
    (check: ReadSchema in `.explain("formatted")`).
    """
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_pts_lineitem")
    return spark.sql(points_sql("_pts_lineitem", dist))


# -- query points: a deterministic subset of the data (the reference queries
#    with the first 1% of the dataset itself, testFramework.h:25,471-521) ----

QUERY_FILTER_SQL = f"({PID_SQL} % 101 = 7)"  # ~1% of rows, deterministic


def query_points_sql(table: str = "lineitem", dist: str = "uniform",
                     qdist: str | None = None) -> str:
    """Query set = ~1% sample; optionally drawn from a different
    distribution than the build set (the OOD workload, test.cpp:494-509)."""
    sel = points_select_sql(qdist or dist)
    return (f"SELECT pid AS qid, x, y FROM "
            f"(SELECT {sel} FROM {table} WHERE {QUERY_FILTER_SQL})")


def load_query_points(spark: SparkSession, sf_dir: str, dist: str = "uniform",
                      qdist: str | None = None) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_qpts_lineitem")
    return spark.sql(query_points_sql("_qpts_lineitem", dist, qdist))


# -- update batches (insert/delete fixtures; the reference reads a sibling
#    file and takes ratio-sized prefixes, tests/test.cpp:53-74) --------------

INSERT_FILTER_SQL = f"({PID_SQL} % 97 = 13)"   # ~1% batch to insert
DELETE_FILTER_SQL = f"({PID_SQL} % 89 = 11)"   # ~1% batch to delete

# inserted points get fresh pids + shifted coords so they don't collide:
# one scramble (modulus, multiplier) pair per dim, d <= 5
INSERT_PID_SQL = f"({PID_SQL} + 4000000000000000)"
_INSERT_PRIMES = [(1000033, 6007), (999979, 31771), (999961, 16033),
                  (999959, 23003), (999953, 37019)]
INSERT_X_SQL, INSERT_Y_SQL = (_scramble(p, m) for p, m in _INSERT_PRIMES[:2])


def insert_batch_sql(table: str = "lineitem", d: int = 2) -> str:
    if d > len(_INSERT_PRIMES):
        raise ValueError(f"insert batches span d <= {len(_INSERT_PRIMES)}")
    coords = ", ".join(f"{_scramble(p, m)} AS {c}"
                       for (p, m), c in zip(_INSERT_PRIMES, dim_cols(d)))
    return (f"SELECT {INSERT_PID_SQL} AS pid, {coords} "
            f"FROM {table} WHERE {INSERT_FILTER_SQL}")


def insert_batch_f64_sql(table: str = "lineitem") -> str:
    """Float-mode insert batch: integer scrambles + one fractional
    divide/add per coord — the same bit-identical-double contract as
    f64_select_sql (distinct fractional primes, so inserted points
    never collide with existing ones)."""
    return (f"SELECT {INSERT_PID_SQL} AS pid, "
            f"CAST({INSERT_X_SQL} AS DOUBLE)"
            f" + ({PID_SQL} % 983) / CAST(983 AS DOUBLE) AS x, "
            f"CAST({INSERT_Y_SQL} AS DOUBLE)"
            f" + ({PID_SQL} % 977) / CAST(977 AS DOUBLE) AS y "
            f"FROM {table} WHERE {INSERT_FILTER_SQL}")


def delete_batch_f64_sql(table: str = "lineitem") -> str:
    """Float-mode delete batch: existing f64 points (bit-identical
    coords route the delete to the right cell)."""
    return (f"SELECT pid, x, y FROM (SELECT {f64_select_sql()} "
            f"FROM {table} WHERE {DELETE_FILTER_SQL})")


def delete_batch_sql(table: str = "lineitem", dist: str = "uniform",
                     d: int = 2) -> str:
    """Deletes target existing points (FullCovered semantics on the
    match); d > 2 is the uniform point set of dimd_select_sql(d)."""
    sel = points_select_sql(dist) if d == 2 else dimd_select_sql(d)
    return (f"SELECT pid, {', '.join(dim_cols(d))} FROM (SELECT {sel} "
            f"FROM {table} WHERE {DELETE_FILTER_SQL})")


# -- H2 ratio sweep: insert/delete batches at ratios {1e-4, 1e-3, 1e-2, 0.1}
#    (tests/test.cpp:55-72). Each leg is a deterministic modulus filter;
#    insert legs get disjoint pid offsets + per-leg coord scrambles.

SWEEP_LEGS = ((10007, 1), (1009, 1), (101, 3), (10, 1))  # ~1e-4..0.1


def sweep_insert_sql(table: str, step: int) -> str:
    """Insert batch for sweep leg `step` (1-based)."""
    mod, rem = SWEEP_LEGS[step - 1]
    pid = f"({PID_SQL} + {4_000_000_000_000_000 + step * 1_000_000_000_000_000})"
    x = _scramble(1000033, 6007 + 2 * step)
    y = _scramble(999979, 31771 + 2 * step)
    return (f"SELECT {pid} AS pid, {x} AS x, {y} AS y "
            f"FROM {table} WHERE ({PID_SQL} % {mod} = {rem})")


def sweep_delete_sql(table: str, step: int) -> str:
    """Delete batch for sweep leg `step` (1-based): existing uniform points.
    Legs can overlap (nested moduli); repeated deletes of an id are
    ignored (partial-cover semantics)."""
    mod, rem = SWEEP_LEGS[step - 1]
    sel = points_select_sql("uniform")
    return (f"SELECT pid, x, y FROM (SELECT {sel} FROM {table} "
            f"WHERE ({PID_SQL} % {mod} = {rem}))")


# probe set for the H9 interleaved build-and-query workload (~0.1%)
PROBE_FILTER_SQL = f"({PID_SQL} % 1009 = 7)"


# -- reference ASCII .in point files ------------------------------------------

_PARTITION_MASK = (1 << 33) - 1  # monotonically_increasing_id layout


def read_ascii_points(spark: SparkSession, path: str, dtype: str = "int64",
                      validate: bool = True) -> DataFrame:
    """Distributed reader for the reference's ASCII point files.

    Format (`tests/data_generate.cpp:55-60`): a header line ``N Dim``
    followed by one point per line of ``Dim`` whitespace-separated
    coordinates; a point's id is its 0-based position in file order
    (`tests/testFramework.h:993-1023` ``read_points`` assigns
    ``wp[i].id = i``). The reference tokenizes the whole file, so any
    whitespace layout is legal there; this reader supports the layout
    its own generator emits — line-per-point — which is what every
    ``.in`` file under `script/` uses.

    Spark-first at scale: ``spark.read.text`` splits the file into
    byte-range partitions that scan in parallel; the exact file-order
    id is reconstructed declaratively from
    ``monotonically_increasing_id``'s ``(partition << 33) | row``
    layout — per-partition row counts (one tiny agg: #splits rows), a
    running-sum window over that tiny frame, and a broadcast join back.
    No RDDs, no per-row Python, no driver materialization beyond the
    2-token header. Single-file contract (which is what the format is):
    Spark emits one split per contiguous byte range and stable-sorts
    splits by length descending, so a single file's equal-sized splits
    keep offset order and the short tail lands last — ids are exact.
    Multi-file directories get no such ordering guarantee.

    Returns ``(pid, <dim_cols(d)>)`` — the same schema family as
    `load_points`, so the result feeds `SpatialIndex.build` directly.
    dtype: "int64" (reference default `long`) or "float64"
    (`comparator.h` double mode).
    """
    text = spark.read.text(path).select(
        F.monotonically_increasing_id().alias("mid"), "value")
    header = text.where(F.col("mid") == 0).head()
    if header is None:
        raise ValueError(f"empty point file: {path}")
    n_decl, d = (int(t) for t in header.value.split()[:2])
    if not 1 <= d <= len(_DIM_PRIMES):
        raise ValueError(f"unsupported dim {d} in {path}")

    text = text.select(
        F.shiftright("mid", 33).alias("part"),
        F.col("mid").bitwiseAND(F.lit(_PARTITION_MASK)).alias("local"),
        "value")
    counts = text.groupBy("part").agg(F.count("*").alias("n"))
    w = Window.orderBy("part").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "part", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("off"))

    typ = "bigint" if dtype in ("int64", "long") else "double"
    cols = dim_cols(d) if d >= 2 else ("x",)
    toks = F.split(F.trim("value"), r"\s+")
    pts = (text.join(F.broadcast(offsets), "part")
           .select((F.col("off") + F.col("local")).alias("line"),
                   toks.alias("toks"))
           .where((F.col("line") >= 1) & (F.size("toks") >= d)
                  & (F.element_at("toks", 1) != ""))
           .select((F.col("line") - 1).alias("pid"),
                   # try_cast: malformed coords surface as nulls for the
                   # validation agg instead of an ANSI cast abort
                   *[F.element_at("toks", i + 1).try_cast(typ).alias(c)
                     for i, c in enumerate(cols)]))
    if validate:
        chk = pts.agg(
            F.count("*").alias("n"),
            *[F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}")
              for c in cols]).head()
        if chk.n != n_decl:
            raise ValueError(
                f"{path}: header declares {n_decl} points, parsed {chk.n}")
        bad = [c for c in cols if chk[f"null_{c}"]]
        if bad:
            raise ValueError(f"{path}: unparseable {typ} coords in {bad}")
    return pts


def write_ascii_points(df: DataFrame, path: str,
                       coord_cols: tuple | None = None) -> int:
    """Matching sink for the reference's point-file writer
    (`tests/test.cpp:224-234` ``writeToFile``): header ``N Dim``, one
    point per line, a trailing space after every coord, ordered by pid
    (file position IS the id in this format, so pid order is the only
    faithful serialization).

    The format is inherently a single sequential file — the reference's
    own writer is a single-node ofstream loop — so this is a bounded
    export path, not a 100 TB sink (Parquet is the engine's scale
    format). It streams via ``toLocalIterator`` with a pre-sorted,
    line-formatted plan: the sort, the coord formatting, and the
    concat all run distributed JVM-side; the driver holds one
    partition's lines at a time, never the table. Returns N.
    """
    cols = (list(coord_cols) if coord_cols is not None
            else [c for c in df.columns if c != "pid"])
    n = df.count()
    d = len(cols)
    # int64 coords must not render as "1.0E6"; doubles use repr-faithful
    # formatting on the JVM side via CAST(... AS STRING)
    line = F.concat_ws("", *[x for c in cols
                             for x in (F.col(c).cast("string"), F.lit(" "))])
    # orderBy = range partitioning + per-partition sort; toLocalIterator
    # walks partitions in order, so the stream is globally pid-sorted.
    # Double->string is Java's shortest-round-trip form (bit-exact on
    # re-read; scientific notation parses fine in both engines).
    ordered = df.orderBy("pid").select(line.alias("ln"))
    with open(path, "w") as f:
        f.write(f"{n} {d}\n")
        for row in ordered.toLocalIterator():
            f.write(row.ln + "\n")
    return n


def write_knn_graph(knn: DataFrame, path: str, n: int, k: int) -> int:
    """H10 sink parity: serialize a kNN-join result as the reference's
    graph file (`tests/testFramework.h:779-814` ``generate_knn``) — the
    PBBS ``WeightedAdjacencyGraph`` layout: header line, n, m = n*k,
    then n offset lines (i*k), m edge lines (neighbor ids, rank order
    per source), m weight lines (the stored distance metric; squared L2
    here, same as the reference's ``nn_pair.second``).

    The format is positional: row i's edges are offsets [i*k, (i+1)*k),
    so qids MUST be the contiguous 0..n-1 domain (remap before calling;
    `read_ascii_points` pids already are). `knn` is knn_join output
    (qid, rank, nid, dist_sq). Ordering/formatting run JVM-side; the
    driver streams two pid-ordered passes (edges, then weights) —
    offsets are pure arithmetic. Bounded export path, like
    `write_ascii_points`. Returns m."""
    m = n * k
    cnt = knn.count()
    if cnt != m:
        raise ValueError(f"expected n*k = {m} result rows, got {cnt} "
                         "(every query needs exactly k neighbours)")
    ordered = knn.orderBy("qid", "rank")
    with open(path, "w") as f:
        f.write("WeightedAdjacencyGraph\n")
        f.write(f"{n}\n{m}\n")
        for i in range(n):
            f.write(f"{i * k}\n")
        for row in ordered.select(
                F.col("nid").cast("string").alias("ln")).toLocalIterator():
            f.write(row.ln + "\n")
        for row in ordered.select(
                F.col("dist_sq").cast("string").alias("ln")
                ).toLocalIterator():
            f.write(row.ln + "\n")
    return m


# -- arbitrary-n synthetic points (bench scale legs) --------------------------
# The driver's parquet stops at sf0.1 (~600k lineitem rows); larger-n
# benchmark legs synthesize points distributedly from spark.range with
# the SAME multiplicative-scramble family (deterministic, no data files,
# generated in parallel at any n — the same recipe would emit 10^12 rows
# across a cluster). Bench-only: correctness gates stay on the shared
# parquet + DuckDB oracle.

def synth_points(spark: SparkSession, n: int, dist: str = "uniform",
                 parts: int | None = None) -> DataFrame:
    pid = "(id * 2654435761 + 40503)"  # injective over [0, n); < 2^63
    if dist == "uniform":
        x = f"((({pid} % 1000003) * 7919) % 1000000)"
        y = f"((({pid} % 999983) * 104729) % 1000000)"
    elif dist == "varden":
        cl = "(id % 64)"
        sig = (f"(CASE WHEN {cl} % 3 = 0 THEN 100 "
               f"WHEN {cl} % 3 = 1 THEN 10000 ELSE 200000 END)")
        cx = f"(({cl} * 2654435761) % 1000000)"
        cy = f"(({cl} * 2246822519) % 1000000)"
        x = (f"GREATEST(0, LEAST(999999, {cx} + "
             f"(({pid} % (2 * {sig} + 1)) - {sig})))")
        y = (f"GREATEST(0, LEAST(999999, {cy} + "
             f"((({pid} % 999983) % (2 * {sig} + 1)) - {sig})))")
    else:
        raise ValueError(dist)
    rng = (spark.range(0, n, 1, parts) if parts else spark.range(n))
    return rng.selectExpr(f"{pid} AS pid", f"{x} AS x", f"{y} AS y")
