"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the config choices are the ones that carry
to a real cluster (AQE on, explicit shuffle partitioning, Arrow for the
Python boundary, UTC session timezone for deterministic time semantics).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# ~2x the 4,171 classes a first registry pass compiles at sf0.01; at 100 each op recompiles
CODEGEN_CACHE_ENTRIES = 8192


def default_driver_memory() -> str:
    """Half the host's physical memory, at most 16g. The driver heap
    grows lazily toward its cap, so a cap above what the host has lets
    one long session starve a neighbouring JVM until it is killed."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):  # no sysconf: not POSIX
        return "16g"
    return f"{min(16 * 1024, phys // 2 // 2**20)}m"


def get_spark(
    app_name: str = "movie_data_pipeline_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores);
    ``SPARK_DRIVER_MEMORY`` overrides ``default_driver_memory()``.
    On a real cluster, master/memory come from spark-submit; everything
    set here is cluster-safe.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # match local cores, not the 200 default; AQE coalesces further
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # serve COUNT/MIN/MAX-only scans from parquet footer statistics
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # a TIMESTAMP(NANOS) parquet column reads as its raw int64
        # instead of failing the scan (sources/catalog.py::load_events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory()),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shuffle_parallelism(spark: SparkSession) -> int:
    """The session's shuffle width as an int, robust to non-numeric
    configs. ``spark.sql.shuffle.partitions`` may be ``"auto"`` (or any
    vendor string) outside this repo's controlled session; fall back to
    ``sparkContext.defaultParallelism`` rather than raising mid-plan.
    """
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        return spark.sparkContext.defaultParallelism


def clear_state(spark: SparkSession) -> None:
    """Release ALL block-manager state: cached tables AND
    persisted/localCheckpointed RDD blocks.

    ``catalog.clearCache()`` alone misses RDD-level blocks, and
    operators that persist intermediates (the dedup family's shingle
    tables, connected components' per-round checkpoints) keep those
    blocks registered until explicit unpersist — in a long-lived
    session running many analyses the leak surfaces as multi-second
    GC pauses. Call between unrelated analyses (bench.py calls it
    between every timed query)."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
