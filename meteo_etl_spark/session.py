"""SparkSession factory.

Local-mode defaults mirror the test/bench environment (``local[N]``,
one JVM). On a real cluster the same builder is driven by
``spark-submit``; every config here is also valid at cluster scale.

Key choices (and why they survive a 100 TB deployment):

- ``spark.sql.session.timeZone=UTC`` — the reference mixes naive-local
  and UTC timestamps (SURVEY.md §7 watch list); the engine standardizes
  on UTC so timestamp semantics are location-independent.
- AQE on (adaptive shuffle coalescing, skew-join splitting, runtime
  broadcast selection) — the runtime re-planner that keeps static
  ``shuffle.partitions`` choices from being fatal at scale.
- ``spark.sql.shuffle.partitions`` defaults to ~cores locally; on a
  cluster you raise it (or let AQE coalesce from a high initial value).
- Arrow enabled — every Pandas-UDF path in this engine is
  Arrow-batched, never row-at-a-time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "meteo-etl-spark"


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` sized from the host: half of
    ``MemAvailable``, between 1g and 32g. In local mode the driver JVM
    also runs the executors, so a heap larger than the machine lets it
    grow until the host runs out. Hosts without ``/proc/meminfo`` get
    the 32g cap."""
    cap_mib = 32 * 1024
    try:
        with open(meminfo) as f:
            avail_kib = next(
                int(line.split()[1]) for line in f if line.startswith("MemAvailable:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{cap_mib}m"
    return f"{max(1024, min(cap_mib, avail_kib // 2048))}m"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` (bench contract) for the local master
    thread count, ``SPARK_MASTER`` for an explicit master URL and
    ``SPARK_DRIVER_MEMORY`` for the driver heap (default:
    ``default_driver_memory()``).

    Note: ``getOrCreate`` returns an existing live session unchanged;
    configs only apply to the first creation in a process.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    master = os.environ.get("SPARK_MASTER") or (f"local[{cpus}]" if cpus else "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
