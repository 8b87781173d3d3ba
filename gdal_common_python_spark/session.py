"""SparkSession builder with the engine's execution defaults.

local[N] in this sandbox; the same knobs are what you'd set cluster-side
(AQE + skew join, Arrow batches, explicit shuffle partitioning).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Default driver heap: half the host's memory, at most 24 GiB
    (``SPARK_GRAFT_DRIVER_MEM`` overrides it)."""
    with open(meminfo) as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(total_kb // 2 // 1024, 24 << 10)}m"


def get_spark(app: str = "gdal_common_python_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              executors: int | None = None,
              executor_cores: int = 2,
              executor_mem_mb: int = 4096) -> SparkSession:
    """local[N] session by default; with ``executors`` set, a
    ``local-cluster[n, executor_cores, mem]`` — real separate executor JVMs,
    the truthful sandbox analog of an n-executor cluster (the N-vs-4N
    scaling evidence runs this way: executor size fixed, count scaled)."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if executors is not None:
        master = f"local-cluster[{executors},{executor_cores},{executor_mem_mb}]"
        cores = executors * executor_cores
    else:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.files.maxPartitionBytes", "32m")
        # iterative operators (connected_components) reliable-checkpoint per
        # round; clean the files when their RDDs are GC'd
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory())
        .config("spark.ui.enabled", "false")
        # PySpark's per-call call-site capture costs py4j round trips on
        # every F.* call (active session, conf read, origin set/clear); errors
        # keep Spark's message and plan, only the Python file:line is lost
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # this sandbox kernel (firecracker-style) degrades badly under
        # concurrent GC threads: G1's background threads put the JVM at ~60%
        # system time and local[N>8] anti-scales. SerialGC + fewer JIT
        # threads restores near-linear task scaling (measured; BENCH notes).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_JVM_OPTS", "-XX:+UseSerialGC -XX:CICompilerCount=2"),
        )
    )
    if executors is not None:
        builder = builder.config("spark.executor.memory", f"{executor_mem_mb}m")
        # executor python workers don't see the driver's sys.path — ship the
        # package the way a real cluster job does (spark-submit --py-files).
        # When running from a repo checkout, build the artifact on the fly;
        # under real spark-submit the zip is already on the submit line.
        pkg_script = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts", "package.py",
        )
        if os.path.exists(pkg_script):
            import importlib.util

            spec = importlib.util.spec_from_file_location("_pkgbuild", pkg_script)
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
            builder = builder.config("spark.submit.pyFiles", mod.build())
        builder = (
            builder
            # identical per-executor JVM settings at every cluster size:
            # small fixed-size executors collect with SerialGC (2-core JVMs),
            # fewer JIT threads for this sandbox kernel (see BENCH notes)
            .config(
                "spark.executor.extraJavaOptions",
                os.environ.get(
                    "SPARK_GRAFT_EXEC_JVM_OPTS", "-XX:+UseSerialGC -XX:CICompilerCount=2"
                ),
            )
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if executors is not None:
        # belt-and-braces: spark.submit.pyFiles is only honored when the
        # context is created fresh from this builder — a cluster session
        # created AFTER a local one in the same process (stop + rebuild)
        # silently lost the package and executors raised
        # ModuleNotFoundError. addPyFile on the live context ships the zip;
        # Spark ignores a re-add of the same path with a log warning, so a
        # zip REBUILT during one context's lifetime is NOT re-shipped —
        # restart the session after source changes.
        zip_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "dist", "gdal_common_python_spark.zip",
        )
        if os.path.exists(zip_path):
            spark.sparkContext.addPyFile(zip_path)
    return spark
