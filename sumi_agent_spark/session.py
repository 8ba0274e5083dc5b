"""SparkSession factory tuned for the scrub pipeline.

Local-mode defaults mirror what a 1000-executor cluster deployment would set
per executor: AQE on (skew-join splitting + partition coalescing), Arrow
transfer for the pandas UDF stages, and shuffle partitions sized to the
parallelism instead of the 200 default.

Caveat: ``spark.driver.memory`` set here (SPARK_DRIVER_MEM) only takes
effect when THIS process launches the JVM (plain ``python ...``).  Under
``spark-submit`` the gateway already exists, so the builder value is
silently ignored -- pass ``--driver-memory`` on the spark-submit command
line instead (tools/run_pipeline.py documents the full invocation).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """``local[N]`` width when the caller names none: ``SPARK_GRAFT_CPUS``
    if set, else the cores this process may run on (its CPU affinity, which
    honours cpuset and ``taskset`` limits, unlike ``os.cpu_count``)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "sumi-agent-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or cores
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # scrub UDF cost is per-char, not per-row; keep batches moderate so
        # Arrow transfer pipelines with Python compute
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
