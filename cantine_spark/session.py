"""SparkSession factory with scale-oriented defaults.

Local sandbox runs on local[N]; on a real cluster the same confs apply —
AQE handles runtime re-planning (skew joins, partition coalescing), Arrow
makes every pandas UDF a vectorized batch transfer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_mem() -> str:
    """Default driver heap: 16g, capped at ~40% of physical memory. The heap
    is pinned (-Xms = -Xmx) and pre-touched, so an uncapped 16g on a box
    with ~16 GB of RAM gets the JVM OOM-killed before the gateway opens."""
    cap_mb = 16 * 1024
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        cap_mb = min(cap_mb, int(phys * 0.4) >> 20)
    except (ValueError, OSError, AttributeError):
        pass  # sysconf name unavailable on this platform: keep 16g
    return f"{cap_mb}m"


def get_spark(
    app_name: str = "cantine_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - AQE on: runtime partition coalescing + skew-join splitting (the
      query-side analog of the build-side salting in build/builder.py).
    - Arrow on: every pandas_udf / mapInPandas moves columnar batches.
    - shuffle partitions ~ cores locally; on a cluster size to data volume.
    """
    cores = cores or DEFAULT_CPUS
    shuffle = shuffle_partitions or cores
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_mem)
        .config("spark.memory.fraction", "0.7")
        # Pin + pre-touch the heap and use a non-uncommitting GC: G1's
        # region commit/uncommit churn caused TLB-shootdown IPI storms at
        # local[32] (70-90% system CPU, threads stuck in
        # irqentry_exit_to_user_mode) — a 200k-doc build dropped from 262s
        # to 47s with this alone.
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_DRIVER_JAVA_OPTS",
                               f"-Xms{driver_mem} -XX:+AlwaysPreTouch "
                               "-XX:+UseParallelGC"))
        # direct task commits: no serial driver-side rename of hundreds of
        # bucket files at job commit
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Reused python workers in this PySpark build degrade into a
        # kernel-time spin after their first UDF stage (measured: an
        # identical build ran 27s with reuse off vs 60-160s with reuse on at
        # local[32], with 80-90% system CPU). Fresh workers per task cost
        # ~0.1s each — cheap against that pathology.
        .config("spark.python.worker.reuse", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
