"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: one thread
per CPU this process may run on, one JVM) with a driver heap of
``$SPARK_GRAFT_DRIVER_MEM`` (default: half the machine's RAM); the same
settings are the right starting point on a real cluster: AQE handles
runtime re-planning (adaptive shuffle-partition coalescing, skew joins),
Arrow accelerates any pandas interchange, and the session timezone is
pinned to UTC so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    In ``local[*]`` the driver's sys.path leaks to the in-process workers,
    which MASKS a real cluster bug: any Arrow UDF that imports
    ``proxyhouse_spark`` (mapInPandas in multimodal/observability) dies
    with ModuleNotFoundError the moment executors are separate processes —
    found by the local-cluster[2,4,8192] differential smoke (round 4). On
    a 1000-executor deployment this zip is the ``--py-files`` artifact."""
    sc = spark.sparkContext
    if sc._jsc is None:  # stopped session — nothing to ship to
        return
    sc.addPyFile(_package_zip())


@functools.cache
def _package_zip() -> str:
    """This process's zip of the package, built once into a directory the
    process created and removes at exit: a name shared across processes
    (say, one keyed by PID) would ship a stale build once a PID is reused.
    One path per process, because a context refuses a second path under
    the same file name."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    tmp = tempfile.mkdtemp(prefix="proxyhouse_spark-")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    zip_path = os.path.join(tmp, "proxyhouse_spark.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(pkg_dir):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
    return zip_path


def default_cpus(affinity: set[int] | None = None) -> int:
    """``$SPARK_GRAFT_CPUS``, else the number of CPUs this process may run
    on (``affinity``, by default the process's own set)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env or len(affinity or os.sched_getaffinity(0)))


def default_driver_memory(meminfo: str | None = None) -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half of ``MemTotal`` in ``meminfo``
    (by default ``/proc/meminfo``): the other half is headroom for the
    Python workers, the JVM's off-heap memory and the OS. On a host
    without swap a heap sized past the RAM meets the kernel's OOM killer,
    not a JVM error."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    if meminfo is None:
        with open("/proc/meminfo") as f:
            meminfo = f.read()
    kib = int(meminfo.split("MemTotal:")[1].split()[0])
    return f"{kib // 2048}m"


def get_spark(app_name: str = "proxyhouse_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``spark.sql.shuffle.partitions`` defaults to the local core count rather
    than Spark's 200: at sf0.1 a 32-way shuffle keeps every partition in
    memory, and on a real cluster AQE coalesces post-shuffle partitions to
    size anyway (``spark.sql.adaptive.coalescePartitions.enabled``).
    """
    cpus = default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # fixture parquet stores timestamp[ns] (events.ts); Spark has no nanos
        # timestamp type — read as epoch-nanos long, converted in tables.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
