"""SparkSession factory.

One place to encode the engine's execution posture: AQE on (runtime
re-planning, skew-join handling, partition coalescing), Arrow on (every
Python-boundary crossing is batched), UTC session time zone (parity with
the DuckDB oracle, which is UTC-naive), shuffle parallelism sized to the
machine instead of Spark's default 200.

At cluster scale the same settings hold; only ``master`` and memory are
deployment-specific, so they are parameterized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = max(8, (os.cpu_count() or 8))


def _default_driver_memory() -> str:
    """A quarter of the host's physical memory, at least 1 GiB. A fixed
    48g default let the driver heap outgrow a 15 GB host until the kernel
    OOM-killed the JVM; a quarter leaves room for its off-heap memory,
    the Python workers and other processes."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return f"{max(1024, total_mb // 4)}m"


def get_spark(
    app_name: str = "blow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults target the test rig (single JVM, ``local[N]``); on a real
    cluster pass ``master=None`` with externally-managed spark-submit conf
    and everything below still applies (AQE, Arrow, UTC).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # documents/text ops produce wide rows; keep broadcast joins viable
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Runtime bloom-filter semijoin reduction (off by default in
        # Spark): when a selective dim filter feeds a non-broadcast join,
        # inject a bloom filter of the dim keys into the fact scan — at
        # 100 TB this prunes most of the fact shuffle before it happens.
        # Spark's own size thresholds (10 MB creation side / 10 GB
        # application side) gate it, so small local joins are untouched;
        # injection + row-identity pinned in tests/test_plans.py.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # startup janitor (round-12): reap scratch dirs orphaned by DEAD
    # earlier sessions — the in-process LRU/atexit lifecycle cannot
    # reach them, and they otherwise accumulate across driver rounds
    from blow_spark.materialize import reap_orphan_scratch

    reap_orphan_scratch()
    return spark
