"""SparkSession factory tuned for the local[N] sandbox; the same settings
scale out (AQE, Arrow, skew-join) on a real cluster via spark-submit."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip this package so executors can import it — the local-mode
    equivalent of `spark-submit --py-files kdtree_spark.zip`."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "kdtree_spark_pyfiles.zip")
    with zipfile.ZipFile(out, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join("kdtree_spark",
                                       os.path.relpath(full, pkg_dir))
                    z.write(full, rel)
    return out


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
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(_package_zip())
    return spark
