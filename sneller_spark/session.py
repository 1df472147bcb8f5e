"""SparkSession factory.

Defaults mirror what we would submit to a real cluster via
``spark-submit --py-files``: AQE on (runtime re-planning, skew-join
handling), Arrow enabled for all pandas interchange, UTC session
timezone (so results compare bit-for-bit against the DuckDB oracle),
and shuffle partitions sized to cores rather than the 200 default.

Reference analog: Sneller sizes one goroutine per core per operator
(/root/reference/vm/table.go:52-105); Spark's task-per-partition model
gives us the same thing when shuffle partitions ~ cores.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sneller_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    ``shuffle_partitions`` defaults to the local parallelism so that a
    shuffle produces one task per core instead of 200 slivers.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = os.cpu_count() or 8 if inner == "*" else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config(
            "spark.driver.memory",
            os.environ.get("SNELLER_SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # HotSpot refuses to JIT-compile methods over 8 KB of bytecode
        # (DontCompileHugeMethods, on by default) and leaves them to
        # the bytecode interpreter; lifting the limit, plus a larger
        # code cache so big compiled methods are not evicted, is a
        # standard Spark tuning for codegen-heavy plans.  It still pays
        # on the pipeline alone: without these defaults, 5 alternating
        # perfbench pairs on a 4-vCPU host ran `aggregate` 5% slower
        # (median seq_per_s 74.4k -> 70.6k) and `ingest` 6% slower
        # (17.8k -> 16.7k), with every end-to-end median worse.  Same
        # flags for executors on a real cluster.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SNELLER_SPARK_DRIVER_JAVA_OPTS",
                "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m",
            ),
        )
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get(
                "SNELLER_SPARK_EXECUTOR_JAVA_OPTS",
                "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m",
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def default_driver_memory() -> str:
    """Half of physical memory (``MemTotal`` in /proc/meminfo), in MiB.

    Spark sizes its unified memory pool from the heap ceiling and only
    spills when that pool fills, so a ceiling above physical memory
    lets the OS kill the driver before Spark spills.  The other half
    is left to the Python workers, off-heap buffers and the page
    cache."""
    try:
        with open("/proc/meminfo") as f:
            total_kib = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except OSError:  # no /proc (macOS): ask the OS directly
        total_kib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024
    return f"{total_kib // 2048}m"


_shipped: set[int] = set()


def write_package_zip(zpath: str) -> str:
    """Write every ``.py`` file of the sneller_spark package into the
    zip ``zpath`` (paths relative to the package's parent directory,
    as ``--py-files`` expects) and return ``zpath``."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return zpath


def ship_package(spark: SparkSession) -> None:
    """Ship the sneller_spark package to Python workers — the
    in-process analog of ``spark-submit --py-files sneller_spark.zip``.
    Without this, mapInPandas closures that reference package modules
    fail with ModuleNotFoundError on any worker that didn't inherit the
    repo on its sys.path (i.e., any real cluster)."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _shipped:
        return
    import atexit
    import tempfile

    zpath = os.path.join(tempfile.gettempdir(), f"sneller_spark_pyfiles_{os.getpid()}.zip")
    sc.addPyFile(write_package_zip(zpath))
    _shipped.add(key)
    # Spark copies the zip into its own file server at addPyFile; this
    # copy only has to outlive the process's own readers
    atexit.register(_remove_quietly, zpath)


def _remove_quietly(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
