"""SparkSession factory tuned for the engine's workload.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same configuration
scales to a multi-executor cluster because every knob here is about plan
quality (AQE, broadcast thresholds, partition sizing), not local-mode
hacks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for scale: AQE re-plans at runtime (coalesces small
#: shuffle partitions, splits skewed ones, demotes/promotes joins);
#: Arrow makes every pandas-UDF boundary vectorized.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small dimension tables (region/nation/customer at test SF, candidate
    # id-lists in two-stage search) should always broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # 128 MB parquet splits: big enough to amortize task overhead at 100 TB,
    # small enough to parallelize at test scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.compression.codec": "zstd",
    # The events table carries TIMESTAMP(NANOS) parquet, which Spark 4
    # rejects by default; read as long and normalize in the table layer
    # (DuckDB likewise truncates nanos to its native micros).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: Ceiling on the default driver heap, in GiB.
DRIVER_MEM_CAP_GB = 48


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` sized to the host: half its physical
    memory in whole GiB, between 1g and ``DRIVER_MEM_CAP_GB``.  Half
    leaves the rest for the Python workers, the JVM's off-heap memory
    and the page cache; a heap larger than the host lets G1 grow the
    JVM until the kernel kills it."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    gib = phys_bytes // 2 // (1 << 30)
    return f"{max(1, min(gib, DRIVER_MEM_CAP_GB))}g"


def get_spark(
    app_name: str = "sortify-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would size it to ~2-3x total executor cores or rely on
    AQE coalescing from a higher initial value.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        # local[N] defaults to a 1 GiB heap shared by all N executor
        # threads — size it for the machine (only honored at JVM start;
        # no-op when attaching to an existing session).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or default_driver_memory(),
        )
        .config("spark.driver.maxResultSize", "4g")
    )
    for k, v in {**ENGINE_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
