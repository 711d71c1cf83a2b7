"""SparkSession factory with the engine's standard local-mode settings."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> str:
    """Make ``search_engine_spark`` importable on executors regardless of
    the driver's cwd (same mechanism as ``spark-submit --py-files``):
    zip the package once and addPyFile it."""
    import shutil
    import tempfile
    from pathlib import Path

    import search_engine_spark

    pkg_dir = Path(search_engine_spark.__file__).resolve().parent
    zip_base = Path(tempfile.gettempdir()) / (
        f"search_engine_spark-{search_engine_spark.__version__}-{os.getpid()}"
    )
    zip_path = Path(str(zip_base) + ".zip")
    if not zip_path.exists():
        shutil.make_archive(
            str(zip_base), "zip", root_dir=pkg_dir.parent,
            base_dir="search_engine_spark",
        )
    spark.sparkContext.addPyFile(str(zip_path))
    return str(zip_path)


def get_spark(
    master: str | None = None,
    app_name: str = "search_engine_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    master = master or f"local[{cpus}]"
    n_threads = master.removeprefix("local[").removesuffix("]")
    if shuffle_partitions is None:
        # SPARK_SHUFFLE_PARTITIONS pins the data layout independently of
        # thread count — required for clean scaling comparisons (a real
        # cluster comparison varies executors, not the plan)
        env_sp = os.environ.get("SPARK_SHUFFLE_PARTITIONS")
        if env_sp:
            shuffle_partitions = int(env_sp)
        else:
            shuffle_partitions = int(n_threads) if n_threads.isdigit() else os.cpu_count()
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # G1's concurrent barriers collapse under this sandbox's virtualized
        # kernel (3-8x sys-time blowup at >=32 threads, measured);
        # throughput GC restores scaling. SPARK_GC_OPTS overrides (e.g. to
        # bound ParallelGCThreads per executor — tools/scaling_bench.py
        # sets it); setting it here via builder would otherwise CLOBBER any
        # spark-submit --conf value for these keys.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC"),
        )
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
