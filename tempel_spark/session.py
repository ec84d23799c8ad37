"""SparkSession factory tuned for the ER pipeline.

The reference hand-tunes reader/processor/writer process counts
(reference: README.md:71-76, s01_wikipedia_clean_and_tokenize.py:575-581);
here the equivalent knobs are executor cores + shuffle partitions + AQE.

Local mode (`local[N]`) is the sandbox stand-in for a multi-executor
cluster; every setting below is also the right default for a real
cluster run via `spark-submit --py-files` (BASELINE.json north_rule).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "codegen_compiles", "DEFAULT_CONF", "CODEGEN_CACHE_ENTRIES"]

# Generated-class cache (static, JVM-wide, LRU per segment): Spark's 100
# recompiled ~200 classes per rebuild; measured working sets are <= 235 (a
# rebuild session), <= 326 (query pass) and 4,125 (test suite) + headroom.
CODEGEN_CACHE_ENTRIES = 8192

# AQE handles runtime re-planning (skew-join splitting, partition
# coalescing); Arrow makes every pandas UDF batch-vectorized — the
# "no per-row Python" mandate of BASELINE.json input_hint.
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.ui.enabled": "false",
    "spark.driver.extraJavaOptions": "-Duser.timezone=UTC",
    "spark.executor.extraJavaOptions": "-Duser.timezone=UTC",
    # ANSI off: reference semantics are permissive (bad casts -> null,
    # e.g. sentinel -1 page ids, s02_alias_table_generator.py:321-323).
    "spark.sql.ansi.enabled": "false",
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    # AQE may number codegen stages differently from one rebuild to the
    # next; with the id in the class name, 2 of ~45 measured rebuilds
    # missed the cache for 4 otherwise identical classes
    "spark.sql.codegen.useIdInClassName": "false",
}


def _driver_memory() -> str:
    """$TEMPEL_DRIVER_MEM, else a quarter of physical memory capped at
    24g: a 24g heap on a 15 GB host let the JVM grow until the kernel
    killed it (cached blocks are only evicted near the heap limit)."""
    env = os.environ.get("TEMPEL_DRIVER_MEM")
    if env:
        return env
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError, AttributeError):
        return "24g"
    return f"{max(1024, min(24 * 1024, phys_mb // 4))}m"


def _cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


def get_spark(
    app_name: str = "tempel_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract).
    ``driver_memory`` defaults to $TEMPEL_DRIVER_MEM, else a quarter
    of physical memory (at most 24g).
    ``shuffle_partitions`` defaults to 2×cores — small enough that
    sf0.1 partitions stay cache-resident, large enough that AQE can
    split skewed ones; on a real cluster this is set to
    ~2-3× total executor cores instead.
    """
    n = cpus or _cpus()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * n))
        .config("spark.driver.memory", driver_memory or _driver_memory())
        .config("spark.default.parallelism", str(2 * n))
    )
    for k, v in DEFAULT_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far (cache
    misses of the code-generation cache)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
