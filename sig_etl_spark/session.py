"""SparkSession builder for the engine.

Defaults are chosen for correctness at local test scale while keeping
the knobs that matter at 100 TB explicit:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- Arrow on (every Pandas UDF crosses the JVM/Python boundary in batches)
- shuffle partitions sized for the local box; on a real cluster this is
  overridden (or left to AQE's coalescing with a high initial value)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_cpus() -> str:
    """``$SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on
    (its affinity mask, which a container's cpuset can narrow below
    ``os.cpu_count()``)."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "sig_etl_spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a cluster, ``master`` comes from spark-submit; locally we default to
    ``local[N]`` with N shuffle partitions, N from :func:`_local_cpus`.
    """
    cpus = _local_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        # Adaptive execution: coalesce post-shuffle partitions, split skewed
        # ones (the blocked fuzzy join has CA/TX-sized skew by design).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas UDF / toPandas traffic.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # Parquet scans: allow large-enough splits that small tables stay in
        # one partition but 100 TB tables still parallelize (128 MiB default).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # ANSI on (the Spark 4 default, and what any production deployment
        # runs). The reference's null-on-failure semantics (invalid dates ->
        # null, SURVEY §2 F8) are realized with the try_* expression family
        # (try_to_date, try_element_at, try_cast) inside the library, NOT by
        # weakening the session — so queries compose safely with user code
        # that wants ANSI's overflow/cast checks.
        .config("spark.sql.ansi.enabled", "true")
        # The driver's events table stores TIMESTAMP(NANOS) parquet, which
        # Spark 4 rejects by default; read as long and rebuild (tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Pin the warehouse (bucketed catalog tables) inside the repo
        # regardless of the caller's CWD.
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "spark-warehouse"),
        )
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
