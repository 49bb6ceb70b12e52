"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every setting here is chosen for
cluster scale:

* AQE on — runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast conversion are exactly the knobs a
  1000-executor / 100 TB run needs (the reference hand-tunes batch size
  and thread count instead: KafkaConfig.java:51-88).
* ``spark.sql.session.timeZone=UTC`` — the engine defines all event-time
  arithmetic in UTC; the reference leaks the JVM default zone
  (CdcEvent.java:193-201), which we deliberately do NOT reproduce.
* Arrow enabled — every pandas-UDF kernel (Debezium decimal decode,
  multimodal byte decode) moves data in Arrow batches, never per row.
* shuffle.partitions defaults to 2x cores locally; on a real cluster
  this is overridden by AQE's coalescing from
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_driver_memory() -> str:
    """Default driver heap: half of the host's physical memory
    (``MemTotal`` in /proc/meminfo), capped at 24g. The other half is
    left to the JVM's off-heap use, the Python workers and the page
    cache; 4g when /proc/meminfo is unreadable."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "4g"
    return f"{min(kb // 2048, 24 * 1024)}m"


def get_spark(
    app_name: str = "cdc-sync-poc-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or all
    local cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_parts = max(2 * cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.default.parallelism", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
        # the single local JVM plays driver AND every executor thread; a
        # small heap turns the session-shared caches (loop-guard result,
        # shingle/signature views) into eviction-recompute churn under
        # repeated queries, a heap past physical memory gets the JVM
        # OOM-killed. On a real cluster this is spark.executor.memory.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or host_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
