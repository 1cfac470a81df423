"""SparkSession factory.

Local test profile: ``local[$SPARK_GRAFT_CPUS]`` single-JVM. The configs
below are chosen for cluster-scale behavior too: AQE (runtime re-plan,
partition coalescing, skew-join splitting) and Arrow for every Python
boundary. On a real cluster only ``master`` and the memory knobs change.

Shuffle width: ``spark.sql.shuffle.partitions`` defaults to
:data:`SHUFFLE_PARTITIONS_PER_CORE` × the resolved core count, so every
shuffle stage runs about two waves of tasks on the cores it has. AQE
cannot narrow every stage (a checkpointed table keeps the hash
partitioning it was written with, and stages reading it keep that width),
so a fixed wide default (it was 32) made small iterative jobs, especially
the connected-components rounds, run mostly empty tasks on a small host.
``SPARK_GRAFT_SHUFFLE_PARTITIONS`` (or the ``shuffle_partitions``
argument) overrides the derived width. The driver heap is sized from the
host the same way (:func:`default_driver_mem`); ``SPARK_GRAFT_DRIVER_MEM``
overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SHUFFLE_PARTITIONS_PER_CORE = 2
MAX_DRIVER_MEM_GB = 48


def default_driver_mem() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: a quarter of
    physical memory, between 1 and :data:`MAX_DRIVER_MEM_GB` GiB. The JVM
    grows its heap toward ``-Xmx`` before it collects hard, so a cap above
    what the host has gets the driver OOM-killed instead of collected."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf on this platform
        return f"{MAX_DRIVER_MEM_GB}g"
    return f"{max(1, min(MAX_DRIVER_MEM_GB, phys // 4 // 2**30))}g"


def get_spark(
    app_name: str = "cql-xmlpipe-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the SparkSession with the engine's standard conf.

    AQE is on so shuffle partition counts self-tune at runtime and skewed
    join partitions split; session timezone is pinned to UTC so timestamp
    rendering is deterministic (the reference's ``java.util.Date.toString``
    output is JVM-default-TZ dependent — we pin instead, documented
    divergence).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_cores = (os.cpu_count() or 1) if str(cpus) == "*" else int(cpus)
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS", SHUFFLE_PARTITIONS_PER_CORE * n_cores
        )
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no ns timestamp
        # type, so read as long and convert in the source registry.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
