"""SparkSession factory tuned for both local testing and cluster scale.

Defaults follow the 100 TB design notes in SCALING.md: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow for any
pandas exchange, and a shuffle-partition count that callers override per
deployment (32 for the local[32] test harness; thousands on a real
cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "erkg-tutorials-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Honors the driver's env contract: ``SPARK_GRAFT_CPUS`` controls local
    parallelism. On a real cluster pass ``master=None`` and set
    ``shuffle_partitions`` to ~2-3x total executor cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime partition coalescing + skew-join
        # splitting + dynamic join-strategy switch. Essential at 100 TB
        # where static planning can't see key skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE's initial partition count, pinned to the session's shuffle
        # partitions so a run-time change of spark.sql.shuffle.partitions
        # does not move it too. A static high count cost the iterative
        # kernels 1.2-2.3x at 10x (SCALING.md r12).
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(shuffle_partitions))
        # Dim tables (nation/region/countries/suspicions) are tiny; raise
        # the broadcast threshold so Catalyst picks broadcast-hash joins.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # A 64 MiB broadcast threshold needs driver headroom to build
        # the hashed relations: Spark's default 1g driver heap OOMs on
        # them at ≥5× the test scale factor (measured). Must be set
        # before the JVM starts — a no-op on an already-running session.
        # SPARK_GRAFT_DRIVER_MEM sizes it per deployment: local mode
        # puts the executors in the driver JVM, so a 10x-data sweep
        # needs a 10x-ish heap (the r10 full-registry 10x run OOMed at
        # 8g mid-ktruss and took the session down for every query
        # after it — the heap is a scale knob, not a constant).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # Arrow for pandas_udf / mapInPandas exchange (injected encoders, N-ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 128 MiB scan splits. NOTE: the testdata tables are single-row-
        # group parquet files, so byte-range splitting cannot parallelize
        # them anyway (measured: finer splits only add task overhead);
        # CPU-heavy operators repartition after the scan instead.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # The testdata parquet stores ns timestamps; read as µs-truncated.
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
