#!/usr/bin/env python
"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized through the ``noop`` sink so the full physical
plan executes (scan → shuffle → agg) without driver-collect overhead
polluting the timing. An untimed warmup pass amortizes JVM/codegen startup
out of the per-query numbers.

stderr carries the timed pass's per-query map, start offsets, canaries and
one ``layers`` line: per query its construct seconds, Spark jobs, tasks and
whole-stage-codegen compiles (jobs and tasks by the query's job group,
through the status tracker), plus the pass total of compiles.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdata_group4_app_spark.registry import QUERY_REGISTRY
from bigdata_group4_app_spark.session import codegen_compiles, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The driver captures a bounded tail of stdout: the one JSON line must stay
# short enough to survive that buffer (round 1's all-81-query line got
# truncated mid-line and parsed as null). Headline queries only on stdout;
# the full per-query map goes to stderr for local analysis.
HEADLINE = [
    "churn_stats",
    "pricing_summary",
    "shipping_priority",
    "local_supplier_volume",
    "revenue_by_region",
    "top_customers_by_revenue",
    "event_sessions",
    "event_funnel",
    "user_value_resampled",
    "events_profile",
    "minhash_lsh_pairs",
    "near_dup_clusters",
    "simhash_dup_pairs",
    "ngram_jaccard_pairs",
    "knn_brute_force",
    "knn_ivf",
    "tfidf_top_terms",
    "doc_chunks",
    "kmv_distinct_by_type",
    "cms_heavy_hitters",
    "scd2_priority_history",
    "pit_priority_lookup",
    "cdc_apply",
    "basket_pairs",
    "trade_network_pagerank",
    "ohlc_hourly_bars",
    "peak_concurrent_sessions",
    "dq_rule_violations",
    "levenshtein_dup_pairs",
    "layout_skipping_compare",
    "churn_score_booster",
    # Round representatives: a FIXED-SIZE two-round window (older rounds
    # rotate out — their history lives on in the committed BENCH_r*.json
    # files; the r1 core above never rotates, it is the baseline-compare
    # key set). Keeping the window bounded keeps the stdout line under
    # the driver's ~1500-char tail cap (asserted in main()).
    # round-11 representatives (the snapshot catalog family)
    "corpus_snapshot_diff_versions",
    "catalog_incremental_diff",
    "snapshot_catalog_read",
    # round-12 representatives (banding levers + catalog evolution)
    "minhash_lsh_pairs_scaled",
    "simhash_hamming_pairs",
    "catalog_schema_evolution_read",
    "catalog_takedown_read",
    "catalog_bloom_point_lookup",
    # r11-VERDICT weak-watch carryovers: stay on stdout until their
    # driver-record numbers re-land in-band (full history in BENCH_r*)
    "spend_equidepth_bins_dist",
    # round-13 additions
    "simhash_wide_pairs",
    "catalog_mor_delete_read",
    "catalog_wap_publish_read",
    "multimodal_dup_clusters",
    "zipf_slope_tokens",
]


# Noise canaries (round 11, VERDICT r10 item 5): trivial,
# plan-stable-since-r1 queries re-timed at sweep start/middle/end so
# every BENCH artifact carries its own host-drift measurement — the r10
# adjudication showed the host degrading WITHIN a sweep (late-alphabet
# names inflated 2-3× while isolated minima stayed flat). Read protocol
# in SCALE.md round 11: end/start ≳2× ⇒ adjudicate before comparing.
# Round 12 adds ONE parallel-heavy canary (minhash_lsh_pairs: wide
# shuffle fan-out, ~32 concurrent tasks) — the r11 record showed flat
# SMALL canaries alongside inflated mid-weight names, i.e. the
# small-task-count canaries are blind to core-stealing / scheduler
# contention that only parallel stages feel.
CANARIES = ["pricing_summary", "churn_stats", "doc_chunks", "minhash_lsh_pairs"]


def _materialize(spark, name: str) -> float:
    """Construct query ``name`` and run it through the noop sink, every
    Spark job of both steps under job group ``name``: an event log or the
    status tracker attributes each job, construction checkpoints
    included, to its query. Returns the construction seconds."""
    spark.sparkContext.setJobGroup(name, name)
    t0 = time.perf_counter()
    df = QUERY_REGISTRY[name](spark, SF_DIR)
    construct_s = time.perf_counter() - t0
    df.write.format("noop").mode("overwrite").save()
    return construct_s


def _group_jobs(spark, name: str) -> set[int]:
    """Ids of the jobs run under job group ``name`` that the status
    tracker still holds, once the listener bus has drained."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(name))


def _tasks(spark, job_ids: set[int]) -> int:
    """Tasks that ran in the stages of ``job_ids``: a stage shared by two
    jobs counts once, and a skipped stage ran none."""
    tracker = spark.sparkContext.statusTracker()
    stages = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        stages.update(info.stageIds if info else ())
    infos = (tracker.getStageInfo(s) for s in stages)
    return sum(i.numCompletedTasks for i in infos if i)


def _time_canaries(spark, sweep_t0: float) -> dict[str, object]:
    out: dict[str, object] = {"at": round(time.perf_counter() - sweep_t0, 1)}
    for name in CANARIES:
        t0 = time.perf_counter()
        _materialize(spark, name)
        out[name] = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
    return out


def main() -> None:
    spark = get_spark(app_name="bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # Warmup pass, UNTIMED: pays the JVM start, parquet footer reads, and
    # each plan shape's one-time whole-stage-codegen compile + JIT — a
    # fixed cost that amortizes to nothing at real scale but dominates
    # sub-second queries at sf0.1 (measured 2-4x inflation on first
    # execution of a plan shape). The compiles stay paid only because
    # get_spark's generated-class cache holds every class of the sweep
    # (session.py); the layers line's total_compiles counts the plan
    # shapes the timed pass still had to compile.
    for name in sorted(QUERY_REGISTRY):
        _materialize(spark, name)

    # Cache hygiene between warmup and the timed pass (round 10): several
    # queries persist() shared subtrees, and the cache manager matches
    # CANONICAL plans — so a fresh construction of the same query would
    # silently read the warmup pass's cached relation and the timed
    # number would measure a cache scan, not the query. clearCache makes
    # every timed run pay its own materialization (the same work the
    # pre-persist eager checkpoints paid), and per-query clearing also
    # keeps one query's cached relations from occupying memory during
    # another's measurement.
    spark.catalog.clearCache()

    # ONE timed pass: every number below — headline stdout subset AND the
    # full stderr map — comes from this single measurement, so the two can
    # never disagree (round-4 VERDICT item: two timed passes reported
    # divergent numbers for the same query in the same run).
    sweep_t0 = time.perf_counter()
    canary = {"start": _time_canaries(spark, sweep_t0)}
    timings: dict[str, float] = {}
    starts: dict[str, float] = {}  # per-query wall-clock offset into the
    # sweep (VERDICT r11 item 1a): any future drift window is locatable
    # post-hoc — names inflated between two canary points show exactly
    # WHERE on the sweep clock the host degraded
    # per query [construct_s, jobs, tasks, compiles], read outside the
    # timed span; jobs of the group that ran before this run (warm-up,
    # canaries) are subtracted
    layers: dict[str, list] = {}
    ordered = sorted(QUERY_REGISTRY)
    for i, name in enumerate(ordered):
        if i == len(ordered) // 2:
            canary["middle"] = _time_canaries(spark, sweep_t0)
        earlier = _group_jobs(spark, name)
        c0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        starts[name] = round(t0 - sweep_t0, 1)
        construct_s = _materialize(spark, name)
        timings[name] = round(time.perf_counter() - t0, 3)
        compiles = codegen_compiles(spark) - c0
        jobs = _group_jobs(spark, name) - earlier
        layers[name] = [round(construct_s, 3), len(jobs), _tasks(spark, jobs), compiles]
        spark.catalog.clearCache()
    canary["end"] = _time_canaries(spark, sweep_t0)

    total = round(sum(timings.values()), 3)
    print(json.dumps({"all_queries": timings}), file=sys.stderr)
    print(json.dumps({"layers": {
        "fields": ["construct_s", "jobs", "tasks", "compiles"],
        "total_compiles": sum(v[3] for v in layers.values()),
        "queries": layers,
    }}), file=sys.stderr)
    # host-drift telemetry: stderr only (stdout stays the ONE short line)
    print(json.dumps({"query_start_offsets": starts}), file=sys.stderr)
    print(json.dumps({"canary": canary}), file=sys.stderr)
    line = json.dumps(
        {
            "metric": "total_query_wall_seconds",
            "value": total,
            "unit": "sec",
            "n_queries": len(timings),
            "queries": {k: timings[k] for k in HEADLINE if k in timings},
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        },
        separators=(",", ":"),
    )
    # the driver tails stdout: a line past ~1500 chars truncates mid-JSON
    # and parses as null — fail loudly here instead
    assert len(line) < 1500, f"headline line {len(line)} chars: rotate HEADLINE"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
