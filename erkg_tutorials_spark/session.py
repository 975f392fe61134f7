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
        # AQE coalesces DOWN from the initial partition count but never
        # splits up, so a static 32/64 initial count caps every sort at
        # (shuffle bytes / 64) per task regardless of scale — the r12
        # 100x spill datum: the triangle kernel's 44 GB adjacency
        # shuffle ran in 64 partitions and spilled 242 GB (mem+disk)
        # through sorts that fit nowhere, while the SAME plan at 10x
        # (4.3 GB, 0 spill) was fine. A static HIGH initial count is
        # the opposite mistake (r12 A/B, fresh memos, local[32], 10x
        # build): init=512 cost 2.3x on k-core peeling (12.6→28.4 s),
        # 1.8x on triangle enumeration, 1.2x on k-truss — every map
        # task writes, and AQE re-plans, a 512-way shuffle per round
        # even after the reduce side coalesces back to 32. The dial is
        # DATA-sized, not workload-static, exactly like
        # spark.sql.shuffle.partitions itself (which a cluster operator
        # sets to ~2-3x total cores, making the initial count naturally
        # large at cluster scale): default = shuffle_partitions (AQE's
        # own default), and SPARK_GRAFT_INIT_PARTITIONS raises it for
        # known-big runs. The 100x notch itself ended up not needing
        # the dial: the spill the 512 experiment targeted was killed
        # at the PLAN level instead (triangles' SHUFFLE_HASH probe +
        # single-execution enumeration — SCALING.md r12), which is the
        # right order of attack: partition counts tune a sort's memory
        # footprint, but a plan that never sorts the big side has no
        # footprint to tune.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                os.environ.get("SPARK_GRAFT_INIT_PARTITIONS",
                               str(shuffle_partitions)))
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
