"""SparkSession factory tuned for the local[N] sandbox; the same settings
scale out (AQE, Arrow, skew-join) on a real cluster via spark-submit.

Every PySpark socket (worker daemon, task data channel, accumulator
server, Arrow toPandas / createDataFrame) is a Unix domain socket
(UDS_CONF, static): Spark opens loopback TCP without TCP_NODELAY, so
each Python task's small Arrow writes would wait out a 40 ms delayed
ACK. Spark names a socket `<dir>/.<uuid4>.sock`, 43 bytes past the
directory, and an AF_UNIX path holds at most 107 bytes. The default
directory, java.io.tmpdir, may be longer (a deep checkout, a long
TMPDIR) and fail context start-up, so each process's local[N] sessions
get one private directory that fits (_socket_dir)."""

from __future__ import annotations

import atexit
import functools
import hashlib
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession


UDS_CONF = "spark.python.unix.domain.socket.enabled"


@functools.cache
def _socket_dir() -> str:
    """Under the temp dir, or /tmp when that path is too long for a
    socket path; removed, sockets and all, at interpreter exit."""
    d = tempfile.mkdtemp(prefix="kds-sock-")
    if len(os.fsencode(d)) + 43 > 107:
        os.rmdir(d)
        d = tempfile.mkdtemp(prefix="kds-sock-", dir="/tmp")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _package_zip() -> str:
    """Zip this package so executors can import it — the local-mode
    equivalent of `spark-submit --py-files kdtree_spark.zip`. The file
    name carries a hash of the sources, so an unchanged package reuses
    the file in place, and a new one is written under a temporary name
    and renamed into place: no process reads a half-written zip."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    files = []
    for root, _dirs, names in os.walk(pkg_dir):
        for f in names:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                files.append((os.path.join(
                    "kdtree_spark", os.path.relpath(full, pkg_dir)), full))
    files.sort()
    h = hashlib.sha256()
    for rel, full in files:
        with open(full, "rb") as fh:
            h.update(f"{rel}\0".encode() + fh.read() + b"\0")
    out = os.path.join(tempfile.gettempdir(),
                       f"kdtree_spark_pyfiles-{h.hexdigest()[:16]}.zip")
    if not os.path.exists(out):
        fd, tmp = tempfile.mkstemp(suffix=".part", dir=os.path.dirname(out))
        try:
            with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as z:
                for rel, full in files:
                    z.write(full, rel)
            os.replace(tmp, out)
        except BaseException:
            os.unlink(tmp)
            raise
    return out


def ship_package(spark: SparkSession) -> None:
    """addPyFile the package zip unless the session already holds it."""
    sc = spark.sparkContext
    path = _package_zip()
    name = os.path.basename(path)
    if not any(f.rsplit("/", 1)[-1] == name for f in sc.listFiles):
        sc.addPyFile(path)


def host_defaults() -> tuple[int, str]:
    """(cpus, driver memory) for a session on this host: the CPUs this
    process may run on and half of physical memory (whole GiB, at
    least 1) — in local mode the driver JVM also runs every task.
    SPARK_GRAFT_CPUS and SPARK_GRAFT_DRIVER_MEM override them."""
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:  # not on Linux
        cpus = os.cpu_count() or 1
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return (int(os.environ.get("SPARK_GRAFT_CPUS", cpus)),
            os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                           f"{max(1, phys // 2 // 2 ** 30)}g"))


def get_spark(app: str = "kdtree_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    host_cpus, driver_mem = host_defaults()
    if cpus is None:
        cpus = host_cpus
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(UDS_CONF, "true")
        .config("spark.python.unix.domain.socket.dir", _socket_dir())
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
