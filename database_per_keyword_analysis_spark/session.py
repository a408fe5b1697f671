"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the configuration is
chosen so the same logical plans scale to a multi-executor cluster:
AQE for runtime re-planning (partition coalescing, skew-join handling),
Arrow for any Python boundary crossing, UTC session timezone so results
agree with the (UTC-naive) DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Generated classes Spark's code-generation cache keeps (Spark's default
# is an LRU of 100).  Measured with perfbench: one keyword report
# generates about 130 distinct classes and a serve_search run about 250.
# At 100 a warm report cycles the LRU and recompiles (Janino, then the
# JIT again) about 90 of its classes every time; at 1000 it compiles none.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "dpka-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine's defaults.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``local[*]``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]" if cpus else "local[*]")
    sp = shuffle_partitions or int(
        os.environ.get("DPKA_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r15 probed and REJECTED:
        # spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true
        # (AQE re-coalescing of cached-plan output).  Stage accounting
        # showed the graph family's DISK_ONLY edge caches keep all 32
        # shuffle partitions however small the data (each hits
        # iteration stage burned ~7 s executorRunTime over 32 tasks to
        # scan a 4 MB cached list — per-task broadcast-deserialization
        # and scheduling overhead), and the flag does collapse those
        # stages to ~8 tasks — but the paired subprocess A/B over the
        # six graph queries read a WALL-CLOCK WASH at sf0.1 (summed
        # medians 26.2 s on vs 27.0 s off, per-query signals inside
        # session noise, cheapest_paths trending worse: fewer cache
        # partitions also under-parallelize the CPU-dense decimal
        # aggregations that consume the cache).  Executor-seconds are
        # not the bottleneck at this scale; the serial job structure
        # was (fixed in hits_fixed).  Left at Spark's default.
        # HARD correctness pin, not a tuning default (r14, r13 advice):
        # operators/scale.py's global_rank/global_cumsums join a
        # sampled range exchange's output with an aggregate of the
        # SAME exchange; the two consumers see identical partition
        # boundaries ONLY because exchange reuse dedupes the sampled
        # shuffle (measured: with this flag off the two branches'
        # per-partition counts disagree on 32/32 partitions and ranks
        # silently corrupt — even over a deterministic parquet input,
        # because each exchange instance samples with its own rdd.id
        # seed).  `true` is Spark's default; pinning it here protects
        # against a caller override.  scale.py re-asserts at runtime.
        .config("spark.sql.exchange.reuse", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS), which Spark rejects by
        # default; read as long ns and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", os.environ.get("DPKA_SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("DPKA_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
