"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a production cluster submit would set:
AQE on (runtime coalesce / broadcast conversion / skew-join splitting),
shuffle partitions sized to the parallelism instead of the 200 default,
Arrow enabled for the pandas-UDF scoring path.

At 100 TB / 1000 executors the same builder holds: AQE handles skew and
post-shuffle coalescing, ``spark.sql.files.maxPartitionBytes`` keeps scan
tasks bounded, and shuffle partition count should be raised to roughly
(cluster cores × 2-3) — exposed here via the ``shuffle_partitions`` knob.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to a session: ``get_spark``'s own,
    or an externally provided one.

    The driver hands ``entry()``/``queries()`` its own SparkSession; these
    runtime confs keep semantics deterministic (UTC timestamps so
    ``date_trunc`` agrees with the timezone-naive DuckDB oracle) without
    restarting the JVM.
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
