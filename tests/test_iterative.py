"""Iterative-loop family tests (``functions/iterative.py``): the
convergence-fold helper, the scoped loop width, and the loop rewrites
that use them.

The optimization claim (OPTIMIZATION_r14.md §1) is that observing the
convergence aggregates during the eager localCheckpoint's own job is
(a) exact — identical numbers to a separate count()/filter-count, and
(b) free — no extra Spark job beyond the checkpoint's. The loop outputs
themselves stay pinned by their oracle checks and the older suites;
these tests pin the MECHANISM so a refactor can't silently turn the
metrics into estimates or resurrect the per-round count job.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bigdata_group4_app_spark.functions.iterative import (
    checkpoint_with_metrics,
    loop_width,
)

from .conftest import jobs_during


@pytest.fixture(scope="module")
def skewed_df(spark):
    return spark.range(0, 5000).select(
        (F.col("id") % 101).alias("k"),
        (F.col("id") % 7 == 0).alias("flag"),
    )


class TestCheckpointWithMetrics:
    def test_metrics_match_direct_aggregates(self, spark, skewed_df):
        out, m = checkpoint_with_metrics(
            skewed_df,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("flag").cast("long")).alias("n_flag"),
        )
        assert m["n"] == skewed_df.count()
        assert (
            m["n_flag"]
            == skewed_df.filter("flag").count()
        )
        # the returned frame is the checkpointed data, fully usable
        assert out.count() == m["n"]
        assert out.columns == ["k", "flag"]

    def test_zero_extra_jobs_beyond_checkpoint(self, spark, skewed_df):
        agg = skewed_df.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
        n = F.count(F.lit(1)).alias("n")
        _, bare = jobs_during(spark, agg.localCheckpoint, "r14-bare")
        # the pre-r14 loop shape: checkpoint + separate count
        _, base = jobs_during(spark, lambda: agg.localCheckpoint().count(), "r14-base")
        (_, m), fold = jobs_during(
            spark, lambda: checkpoint_with_metrics(agg, n), "r14-fold"
        )
        assert m["n"] == 101
        assert len(fold) < len(base)  # the count job is gone
        # exactly the jobs of a bare checkpoint
        assert len(fold) == len(bare)

    def test_empty_frame_metrics(self, spark):
        empty = spark.range(0).select(F.col("id").alias("k"))
        _, m = checkpoint_with_metrics(
            empty,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.col("k")), F.lit(0)).alias("s"),
        )
        # count over no rows is 0; the coalesce guard keeps sums numeric
        # (the _star_components n_new metric relies on exactly this)
        assert m["n"] == 0
        assert m["s"] == 0


def test_loop_width_scopes_and_restores(spark):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    with loop_width(spark, 3) as n:
        assert (n, spark.conf.get(key)) == (3, "3")
    assert spark.conf.get(key) == prev
    with pytest.raises(RuntimeError):  # restored when a round fails too
        with loop_width(spark, 5):
            raise RuntimeError("round failed")
    assert spark.conf.get(key) == prev


class TestLoopRewritesStillConverge:
    def test_star_components_chain_and_clique(self, spark):
        # a chain (worst case for propagation) and a separate clique;
        # exact expected labels — convergence must be EXACT set equality
        from bigdata_group4_app_spark.operators.dedup import (
            _star_components,
        )

        chain = [(i, i + 1) for i in range(10, 17)]
        clique = [(a, b) for a in range(30, 34) for b in range(30, 34) if a != b]
        edges = spark.createDataFrame(
            chain + [(b, a) for a, b in chain] + clique,
            "doc_id_1 long, doc_id_2 long",
        )
        got = {
            (r["doc_id"], r["cluster_id"])
            for r in _star_components(edges).collect()
        }
        want = {(i, 10) for i in range(10, 18)} | {
            (i, 30) for i in range(30, 34)
        }
        assert got == want

    def test_propagate_min_labels_two_components(self, spark):
        from bigdata_group4_app_spark.operators.dedup import (
            _propagate_min_labels,
        )

        pairs = [(1, 2), (2, 3), (7, 8)]
        edges = spark.createDataFrame(
            pairs + [(b, a) for a, b in pairs],
            "doc_id_1 long, doc_id_2 long",
        )
        got = {
            (r["doc_id"], r["cluster_id"])
            for r in _propagate_min_labels(edges).collect()
        }
        assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
