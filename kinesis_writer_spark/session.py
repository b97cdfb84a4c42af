"""SparkSession builder for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configuration is what we would ship for a 1000-executor cluster — AQE on
(runtime skew-join + partition coalescing), Arrow enabled for the few
Pandas-UDF paths, shuffle partitions sized to the parallelism at hand.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """The engine's local parallelism: ``$SPARK_GRAFT_CPUS``, default 32.

    One reader for the session's ``local[N]`` master and for planners that
    size their task count to it (the Kinesis partitioned reader packs a
    micro-batch into at most this many input partitions)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "kinesis_writer_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    At 100 TB on a real cluster, ``spark.sql.shuffle.partitions`` would be
    sized to ~2-3x total cores (or left to AQE's coalescing with a high
    initial value); locally we match the core count to avoid tiny-task
    overhead.
    """
    cpus = local_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Join strategy (optimization guide §3.1/§9): let the planner pick
        # shuffled-hash over sort-merge when its size conditions hold, and
        # let AQE rewrite SMJ->SHJ at runtime when EVERY post-shuffle
        # partition fits the local-map threshold — that runtime gate is
        # what keeps SHJ safe at cluster scale (a build partition above the
        # threshold keeps sort-merge; AQE skew-join still applies to SHJ).
        # Measured r14 same-session A/B over the 12 join-heaviest queries
        # at sf0.1: 16.79 s -> 13.69 s, every query faster or equal.
        # Env-overridable for clusters that prefer the sort-merge default.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP_MAX", str(64 * 1024 * 1024)),
        )
        # Shuffle/spill codec (guide §2.3): lz4 is Spark's default; zstd
        # trades CPU for ratio. NOT runtime-settable, so the choice is a
        # session-build knob — measured in a dedicated fresh-process A/B
        # (r15, SCALE.md "shuffle codec"): at sf0.1 and a synthesized sf1
        # the shuffle-heaviest queries are flat-to-slower under zstd
        # locally (shuffle volumes are MBs; the CPU tax shows, the ratio
        # doesn't pay until network/disk bound), so the local default
        # stays lz4 and a cluster deployment flips the env var.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # JDK 17 GCLocker starvation: a thread allocating while another
        # holds a JNI critical region (Arrow/netty buffers) retries only
        # GCLockerRetryAllocationCount=2 times before throwing a SPURIOUS
        # OutOfMemoryError ("Retried waiting for GCLocker too often") even
        # with tens of GB free — observed killing a 222M-row layout
        # checkpoint at the sf100 fixture. Raise the retry budget; this is
        # the documented JDK-side mitigation (JDK-8192647 family).
        # User-supplied driver JVM options (SPARK_GRAFT_DRIVER_JAVA_OPTS)
        # are appended AFTER the defaults: for duplicated -XX flags the JVM
        # honors the LAST occurrence, so user values win conflicts (e.g. a
        # user may lower GCLockerRetryAllocationCount back toward stock).
        .config(
            "spark.driver.extraJavaOptions",
            (
                "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64 "
                + os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
            ).strip(),
        )
        # Shuffle-file cleanup is GC-triggered (ContextCleaner weak refs),
        # and Spark's default periodic fallback GC is 30min — on a large
        # heap an iterative job (CC/PageRank rounds, multi-query sweeps)
        # can run for that long without a single full GC, so stale shuffle
        # files accumulate on local disk until it fills (observed: sf100
        # q255 died ENOSPC mid-round with a 100g heap). 5min bounds the
        # stale window; at cluster scale this is exactly the knob that
        # keeps executor local disks from filling under week-long jobs.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "5min"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # saveAsTable target (bucketed-layout operators); keep managed-table
        # state out of the repo/cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/kws_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
