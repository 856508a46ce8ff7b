"""The benchmark's workloads: one ordered op list per pass.

Every op is timed as a whole by the runner. ``kind`` decides which
end-to-end sample set it feeds: ``query`` ops feed the query percentiles,
``write`` ops the write percentiles, and ``replay`` and ``funnel`` ops
neither (they count in ``makespan_s`` and their ``op.*`` metrics).

The engine is only ever handed the generated table directory (registry
queries) or micro-batch DataFrames built from the generated ingest
stream (sink steps).
"""

from __future__ import annotations

from bigdata_group4_app_spark.operators import snapshots
from bigdata_group4_app_spark.registry import QUERY_REGISTRY
from bigdata_group4_app_spark.streaming import sinks

# The analyst's dashboard and batch-scoring queries plus the TPC-H-shaped
# reports and the two pair-explosion spines: few jobs each, real scan,
# shuffle and aggregate work, no fixpoint loops.
WAREHOUSE_QUERIES = [
    "churn_stats",
    "churn_rate_by_contract",
    "age_histogram",
    "spend_age_scatter",
    "age_filter_topn",
    "churn_score_batch",
    "churn_risk_summary",
    "pricing_summary",
    "shipping_priority",
    "local_supplier_volume",
    "revenue_by_region",
    "top_customers_by_revenue",
    "item_item_cosine",
    "association_rules",
]

# The curator's dedup funnel: shingling, MinHash banding and connected
# components through functions.iterative; tens of jobs over little data,
# bound by eager construction and the per-job scheduling floor.
CURATOR_QUERIES = ["near_dup_clusters"]


class QueryOp:
    """Registry call plus a noop-sink write of the result."""

    def __init__(self, name: str, kind: str = "query"):
        self.name = name
        self.kind = kind
        self.queries = [name]  # registry queries whose output is checked
        self.last_df = None

    def run(self, ctx) -> None:
        with ctx.tracer.span("operators.construct", "construct"):
            df = QUERY_REGISTRY[self.name](ctx.spark, ctx.input_dir)
        with ctx.tracer.span("spark.execute", "execute"):
            df.write.format("noop").mode("overwrite").save()
        self.last_df = df


class PublishScoresOp:
    """The batch-scoring refresh publishes its scores: the table is
    written as a new segment and committed as a snapshot of the
    analyst's catalog that replaces the previous scores."""

    kind = "write"
    name = "publish_scores"
    TABLE, QUERY = "scores", "churn_score_batch"

    def __init__(self):
        self.queries = [self.QUERY]  # checked by reading the table back
        self.n = 0

    def run(self, ctx) -> None:
        with ctx.tracer.span("operators.construct", "construct"):
            df = QUERY_REGISTRY[self.QUERY](ctx.spark, ctx.input_dir)
        with ctx.tracer.span("snapshots.commit", "write"):
            seg = snapshots.write_segment(
                df, ctx.catalog_dir, self.TABLE, f"{self.TABLE}-{self.n}"
            )
            snapshots.commit_snapshot(ctx.catalog_dir, tables={self.TABLE: [seg]})
        self.n += 1


class IngestOp:
    """One micro-batch through both sinks: the MinHash index step and the
    catalog commit. ``replay`` re-delivers the previous batch, which both
    sinks must treat as a no-op."""

    def __init__(self, replay: bool):
        self.replay = replay
        self.name = "ingest_replay" if replay else "ingest_commit"
        self.kind = "replay" if replay else "write"

    def run(self, ctx) -> None:
        batch = ctx.stream.last if self.replay else ctx.stream.next()
        df = ctx.batch_df(batch)
        before = sinks._live_versions(ctx.index_dir)
        with ctx.tracer.span("sinks.index_step", "write"):
            sinks.minhash_index_step(df, ctx.index_dir)
        with ctx.tracer.span("sinks.catalog_commit", "write"):
            sid = sinks.catalog_commit_step(df, ctx.catalog_dir)
        if self.replay:
            grew = sinks._live_versions(ctx.index_dir) != before
            if sid is not None or grew:
                ctx.fail(self, f"replay committed (snapshot {sid}, index grew {grew})")
        elif sid is None:
            ctx.fail(self, "new batch committed no snapshot")
        else:
            ctx.stream.committed(batch)


class CompactOp:
    """Compaction of both stores, each rewritten into one segment (also
    when it holds only one, so every compaction does the same work)."""

    kind = "write"
    name = "compact"

    def __init__(self):
        self.n = 0

    def run(self, ctx) -> None:
        with ctx.tracer.span("sinks.compact", "write"):
            merged = sinks.compact_minhash_index(
                ctx.spark, ctx.index_dir, min_segments=1
            )
        with ctx.tracer.span("snapshots.compact", "write"):
            snapshots.compact_table(
                ctx.spark, ctx.catalog_dir, "documents", f"compact-{self.n}"
            )
        self.n += 1
        if merged is None:
            ctx.fail(self, "index compaction found no live segment")


class SnapshotReadOp:
    """The read after a commit: document count and ``doc_stats`` of the
    catalog's current snapshot. Its values are checked after the timed
    phase against the ids the stream has committed by then."""

    kind = "query"
    name = "snapshot_read"

    def __init__(self):
        # (documents rows, doc_stats n_docs, doc_stats n_chars,
        #  ids committed so far, their characters)
        self.seen: list[tuple[int, int, int, int, int]] = []

    def run(self, ctx) -> None:
        with ctx.tracer.span("snapshots.read", "read"):
            n = snapshots.read_snapshot_table(
                ctx.spark, ctx.catalog_dir, "documents"
            ).count()
            stats = snapshots.read_snapshot_table(
                ctx.spark, ctx.catalog_dir, "doc_stats"
            ).collect()[0]
        self.seen.append(
            (n, stats["n_docs"], stats["n_chars"], ctx.stream.n_committed, ctx.stream.chars)
        )


def build(workload: str) -> list:
    """The op list of one pass."""
    if workload == "warehouse":
        # the scores are published after every fifth query, so a run has
        # three times as many write samples as passes
        publish = PublishScoresOp()
        ops: list = []
        for i in range(0, len(WAREHOUSE_QUERIES), 5):
            ops += [QueryOp(q) for q in WAREHOUSE_QUERIES[i : i + 5]] + [publish]
        return ops
    if workload == "curator":
        # one new batch, a replay of it and a compaction of both stores
        # per pass; every commit and every compaction publishes a snapshot,
        # and each is followed by a read of it. Both reads are one object,
        # so its record covers the whole run.
        read = SnapshotReadOp()
        ops = [IngestOp(replay=False), read, IngestOp(replay=True), CompactOp(), read]
        return ops + [QueryOp(q, kind="funnel") for q in CURATOR_QUERIES]
    raise ValueError(f"unknown workload {workload!r}")
