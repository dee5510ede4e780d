"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live: AQE (runtime re-planning, skew-join
splitting, partition coalescing), Arrow for every pandas-UDF exchange, and a
shuffle-partition count sized from the parallelism level.  On a real cluster
the same factory is used by ``spark-submit --py-files``; in this sandbox the
master defaults to ``local[$SPARK_GRAFT_CPUS]``.

``get_spark`` only builds the session: it submits no Spark job.  An
application's first query therefore pays Spark's first-use initialization
(whole-stage-codegen compilation, the Python worker fork, JVM JIT of the
hot paths) once, inside its own wall; later queries reuse all of it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_heap() -> str:
    """60% of physical RAM, clamped to [2g, 31g] (see config comment)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(fh.readline().split()[1])  # MemTotal
        gb = int(kb / 1024 / 1024 * 0.6)
    except (OSError, ValueError, IndexError):
        gb = 8
    return f"{min(max(gb, 2), 31)}g"


def get_spark(
    app_name: str = "webtext-dedup",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # before the JVM launches: export the vendored-protobuf PYTHONPATH shim
    # (if needed) so transformWithState's forked Python workers inherit it
    from duplicate_image_detector_spark.compat import ensure_protobuf

    ensure_protobuf()
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # size shuffles to the core count; AQE coalesces small outputs anyway
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if inner == "*" else max(int(inner), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # text-heavy scans feed Python stages: favor split granularity over
        # scan batching so a 32-core node gets 32+ input tasks (the default
        # 128 MB splits a ~2 GB corpus into ~15 tasks and caps parallelism)
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # local mode runs driver + all executor threads in ONE JVM: heap
        # must cover 32 concurrent tasks' scan/cache/shuffle buffers (8g
        # OOMs a 32-thread run on a ~2M-doc corpus).  Default: 60% of
        # physical RAM capped at 31g — staying UNDER 32g keeps compressed
        # oops on (at 32g every reference doubles to 8 bytes, so 31g holds
        # more than 32g), and the RAM-derived floor keeps the ceiling
        # below physical memory on small hosts where 32g would invite the
        # OS OOM-killer instead of Spark's own spilling.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_heap()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # ContextCleaner frees dropped shuffle/broadcast/RDD state only
        # when a driver GC runs; on a 31 GB local-mode heap organic full
        # GCs are so rare that a long multi-stage job accumulates a
        # reference backlog that measurably slows later stage scheduling
        # (default interval 30min — far longer than whole jobs here).
        .config("spark.cleaner.periodicGC.interval", "30s")
    )
    # when the protobuf shim is active, also deliver its PYTHONPATH via
    # Spark conf: executorEnv reaches real-cluster executors that do NOT
    # inherit the driver process env (the os.environ export in compat.py
    # stays necessary for the transformWithState streaming driver worker,
    # which the driver-side JVM forks directly from its own environment)
    if os.environ.get("DEDUP_PROTOBUF_PATH") and os.environ.get("PYTHONPATH"):
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"]
        ).config(
            "spark.executorEnv.DEDUP_PROTOBUF_PATH",
            os.environ["DEDUP_PROTOBUF_PATH"],
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
