"""Convergence plumbing for iterative DataFrame loops.

Every fixpoint loop in this engine (min-label propagation, alternating
star CC, k-core peeling, frontier BFS, Lloyd rounds, BPE merges) follows
the same shape: run the rounds at a narrow shuffle width (the loop
relations are tiny next to the corpus, so per-round width is pure
overhead), materialize each round's state with an eager
``localCheckpoint`` (lineage truncation — CLAUDE.md iterative rule), then
ask a scalar question about that state ("how many rows changed?", "is the
edge set identical to last round's?") to decide whether to stop.

``loop_width`` is the one place that scopes the loop width: it sets
``spark.sql.shuffle.partitions`` for the loop body and restores the
previous value on exit, including when the body raises.

``checkpoint_with_metrics`` folds the convergence question INTO the
materialization. Asking with a separate ``count()`` (or worse,
``exceptAll``) costs one extra Spark JOB per round — and at the toy SFs
the driver benches, these loops are bounded by the ~0.15-0.3 s/job
scheduling floor, not by data. ``DataFrame.observe`` attaches aggregate
metrics that Spark computes on the rows flowing through the checkpoint's
own action, so a round costs exactly ONE job and the convergence scalars
ride along for free. The metrics are exact aggregates over the full
checkpointed row set (the CollectMetrics node sits above the full plan),
not estimates — the loop semantics and round counts are bit-identical to
the count()-based form.

Each call is one round: ``scripts/profiler.py`` counts a query's rounds
as its ``checkpoint_with_metrics`` calls, and the per-round exchanges
show as the stage count of each round's job in the Spark event log.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, SparkSession

_WIDTH_CONF = "spark.sql.shuffle.partitions"


@contextmanager
def loop_width(spark: SparkSession, n: int) -> Iterator[int]:
    """Run the ``with`` body at shuffle width ``n`` and restore the
    previous ``spark.sql.shuffle.partitions`` afterwards. Yields ``n``."""
    prev = spark.conf.get(_WIDTH_CONF)
    spark.conf.set(_WIDTH_CONF, str(n))
    try:
        yield n
    finally:
        spark.conf.set(_WIDTH_CONF, prev)


def checkpoint_with_metrics(
    df: DataFrame, *metrics: Column
) -> tuple[DataFrame, dict]:
    """Eagerly ``localCheckpoint`` ``df`` and return the checkpointed
    frame plus the observed aggregate ``metrics``, computed during the
    checkpoint's own materialization job (zero extra jobs per round).

    ``metrics`` are aggregate expressions over ``df``'s columns (e.g.
    ``F.count(F.lit(1))``, ``F.sum(...)``) — the same contract as
    ``DataFrame.observe``.
    """
    obs = Observation()
    observed = df.observe(obs, *metrics)
    return observed.localCheckpoint(), obs.get
