"""SparkSession builder tuned for the sandbox (local[N], one JVM).

At real scale the same confs apply per-executor; AQE + adaptive skew
join are enabled so runtime re-planning handles stragglers/skew.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def pin_blas_threads() -> None:
    """One BLAS thread per Python worker: N workers each spawning N
    BLAS threads oversubscribes the host N-fold on the NumPy matmul
    kernels. Must run before the JVM forks workers; workers inherit
    the driver environment in local mode."""
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")


def _default_driver_mem() -> str:
    """Half the host's RAM, at most 48g. A heap larger than the host
    lets Spark's memory manager keep caching and buffering past physical
    memory until the OS kills the driver JVM."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(48, total // 2**31))}g"


def get_spark(
    app_name: str = "cityfinder_spark",
    cores: int | str = "*",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: int N for local[N], or "*" for all cores.
    shuffle_partitions: defaults to the core count (local mode — the
    upstream default of 200 over-parallelizes small shuffles).
    """
    pin_blas_threads()
    if shuffle_partitions is None:
        ncores = os.cpu_count() or 8
        shuffle_partitions = ncores if cores == "*" else int(cores)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches (default 10k): the pandas-UDF kernels are
        # vectorized NumPy whose per-call overhead amortizes with batch
        # size; 6.5x fewer Python<->JVM roundtrips on the 10M-row flagship
        # (measured ~7% wall there). Payload rows stay bounded: the widest
        # bytes rows are ~3 KB -> ~200 MB per batch per worker.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        # broadcast threshold: the cities cover table is the build side of
        # every hot join; keep the auto threshold generous in sandbox.
        .config("spark.sql.autoBroadcastJoinThreshold", str(256 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
