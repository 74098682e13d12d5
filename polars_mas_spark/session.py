"""SparkSession construction with scale-appropriate defaults.

One place to encode the engine's Spark tuning philosophy:

- AQE on (runtime coalescing, skew-join splitting) — at the 100 TB
  target the static shuffle-partition count is always wrong somewhere;
  AQE re-plans per stage.
- Arrow on for every executor<->Python boundary (the regression kernels
  and all extension Pandas UDFs move batches, not rows).
- Shuffle partitions default to one per core of a local master; a real
  cluster deployment overrides via spark-defaults / --conf.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


# One BLAS/OpenMP thread per task: the regression kernels solve tiny
# (n x ~10) systems where multithreaded BLAS is pure overhead, and with
# every core already running its own Python worker, k workers x k BLAS
# threads oversubscribes the machine k-fold (measured 7.7x slowdown on
# the 1,800-fit PheWAS fan-out). Same role as the reference's
# threadpool_limits(num_threads) (analysis.py:50) — SURVEY.md §2.11 K6.
_BLAS_ENV = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "VECLIB_MAXIMUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
}


_LOCAL_MASTER = re.compile(r"local(?:\[(\*|\d+)(?:\s*,\s*\d+)?\])?")


def default_shuffle_partitions(master: str) -> int:
    """One shuffle partition per core of a ``local``/``local[N]``/
    ``local[*]`` master (with or without a retry count); any other
    master keeps ``SPARK_GRAFT_CPUS``, else 32."""
    m = _LOCAL_MASTER.fullmatch(master)
    if m is None:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cores = m.group(1)
    if cores is None:
        return 1
    if cores != "*":
        return int(cores)
    # The cores this process may run on, as the JVM counts for local[*].
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def get_spark(
    app_name: str = "polars-mas-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Local-mode Python workers inherit the driver process environment;
    # cluster executors get the same caps via spark.executorEnv below.
    for key, value in _BLAS_ENV.items():
        os.environ.setdefault(key, value)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = default_shuffle_partitions(master)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for key, value in _BLAS_ENV.items():
        builder = builder.config(f"spark.executorEnv.{key}", value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
