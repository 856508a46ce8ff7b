"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a production cluster submit would set:
AQE on (runtime coalesce / broadcast conversion / skew-join splitting),
shuffle partitions sized to the parallelism instead of the 200 default,
Arrow enabled for the pandas-UDF scoring path.

At 100 TB / 1000 executors the same builder holds: AQE handles skew and
post-shuffle coalescing, ``spark.sql.files.maxPartitionBytes`` keeps scan
tasks bounded, and shuffle partition count should be raised to roughly
(cluster cores × 2-3) — exposed here via the ``shuffle_partitions`` knob.

The generated-class cache (``spark.sql.codegen.cache.maxEntries``) is
sized to the engine's working set. Spark keys each whole-stage-codegen
class by its source text and keeps the last 100 by default, fewer than
one pass of the engine compiles: a perfbench warehouse pass alone
compiles about 170. A pass that cycles through more classes than the
cache holds misses on every lookup, so each repeat of a dashboard query
or an ingest micro-batch recompiled every class (p50 4 ms, p75 7 ms
each, on the driver, with no job running). The constant holds every class that one
sweep of all registered queries compiles, with headroom; see its
comment for the measurement. ``codegen_compiles`` reads the count of
compiles, which the profiler and ``bench.py`` report per query.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Distinct generated classes compiled by one sweep of every registered
# query (noop sink, clearCache between queries, unbounded cache): 4,671
# at sf0.01 on local[8] (tier-1's session), 4,672 at sf0.1 on local[4]
# (bench.py's scale), 4,707-4,723 at sf0.01 on local[4]. 8192 is the
# smallest power of two at least 1.5x the largest. Under LRU a cache
# below the working set thrashes again, so this must hold the whole
# sweep. After two sweeps at sf0.01 and a full GC the held classes cost
# 162 MB of heap and 41 MB of Metaspace over the 100-entry default
# (392 against 230 MB, 233 against 192 MB).
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(
    app_name: str = "bigdata_group4_app_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark)


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far: each is a miss of
    the generated-class cache. Take differences around a step."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to a session: ``get_spark``'s own,
    or an externally provided one.

    The driver hands ``entry()``/``queries()`` its own SparkSession; these
    runtime confs keep semantics deterministic (UTC timestamps so
    ``date_trunc`` agrees with the timezone-naive DuckDB oracle) without
    restarting the JVM.

    Only runtime confs can go here. The generated-class cache size is a
    static conf, fixed when the JVM's first session starts, so a session
    the driver hands in keeps its own size (100 entries by default); only
    ``get_spark`` sets ``CODEGEN_CACHE_ENTRIES``.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # events.ts is parquet TIMESTAMP(NANOS); read as raw int64 (see registry)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Python DataSource filter pushdown (sources/pydatasource.py): a
    # reader implementing pushFilters() hard-errors when this is off
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # let AQE re-plan ON TOP of InMemoryRelations: default-false pins
    # a cached plan's pre-AQE output partitioning, which penalizes
    # the round-10 persist()-shared subtrees (interleaved A/B at
    # sf0.1: peak_concurrent_sessions 1.46→1.17s, copurchase
    # 2.74→1.95s, markov 0.85→0.69s, none slower)
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    # Manifest-backed readers (snapshot catalog, streaming segment
    # stores) pass their O(segments) path list explicitly — the
    # manifest IS the listing. Spark's default threshold (32 paths)
    # turns those constructions into a distributed LISTING JOB,
    # which on a local FS costs more than it saves (measured 0.62 →
    # 0.35 s per 64-segment read at sf0.1).
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
    return spark
