"""``scripts/profiler.py``, the per-query measurement loop: its plan-shape
counters on a fixed plan, and one end-to-end run at sf0.001 that pins
the protocol (warm-up, then cache-cleared passes) and the event-log
attribution of jobs to query steps. Also ``bench.py``'s attribution of
every job to its query's job group."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

from .conftest import SF_SMOKE

PROFILER = pathlib.Path(__file__).resolve().parents[1] / "scripts" / "profiler.py"

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- Sort (8)
   +- Exchange (7)
      +- Exchange (6)
         +- Window (5)
            +- HashAggregate (4)
               +- BroadcastHashJoin Inner BuildRight (3)
                  :- Scan parquet  (1)
                  +- BroadcastExchange (2)
                     +- Scan ExistingRDD (0)


(1) Scan parquet
Output [3]: [a#1L, b#2, c#3]
ReadSchema: struct<a:bigint,b:string,c:double>

(3) BroadcastHashJoin
Left keys [1]: [a#1L]

(5) Window
Arguments: [row_number() windowspecdefinition(a#1L ASC NULLS FIRST)]

(6) Exchange
Arguments: hashpartitioning(a#1L, 8), ENSURE_REQUIREMENTS, [plan_id=10]

(7) Exchange
Arguments: rangepartitioning(a#1L ASC NULLS FIRST, 8), ENSURE_REQUIREMENTS, [plan_id=12]
"""


def test_plan_counters_on_a_fixed_plan():
    from profiler import plan_counters  # scripts/ is on sys.path (conftest)

    counters = plan_counters(PLAN)
    nonzero = {k: v for k, v in counters.items() if v}
    # join and scan nodes count once, from the tree, not again from the
    # details section; exchanges count from their Arguments lines, windows
    # from their details headers
    assert nonzero == {
        "exch_hash": 1,
        "exch_range": 1,
        "bhj": 1,
        "window": 1,
        "scan_parquet": 1,
        "scan_rdd": 1,
        "max_scan_cols": 3,
    }


def test_profile_run_attributes_jobs_to_steps(tmp_path):
    names = ["churn_stats", "kcore_parts", "minhash_lsh_pairs"]
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "2g"}
    subprocess.run(
        [sys.executable, str(PROFILER), ",".join(names), "--passes", "2",
         "--sf-dir", SF_SMOKE, "--out", str(tmp_path)],
        env=env, check=True, capture_output=True, timeout=300,
    )
    report = json.loads((tmp_path / "profile.json").read_text())
    q = report["queries"]
    rows = (tmp_path / "plan_counters.tsv").read_text().splitlines()
    assert [r.split("\t")[0] for r in rows] == names
    for name in names:
        assert (tmp_path / "plans" / f"{name}.txt").read_text().startswith(
            "== Physical Plan =="
        )
    # every run starts from a cleared cache, so a query that persist()s a
    # subtree runs the same jobs in each timed pass as in the warm-up
    lsh = q["minhash_lsh_pairs"]
    jobs = [sum(p["jobs"].values()) for p in [lsh["warm"], *lsh["passes"]]]
    assert jobs[0] > 0 and jobs == [jobs[0]] * 3, jobs
    for p in q["kcore_parts"]["passes"]:
        assert p["jobs"]["construct"] > 0 and p["rounds"] > 0, p
    for p in q["churn_stats"]["passes"]:
        assert p["jobs"]["construct"] == 0 and p["jobs"]["execute"] > 0, p
    # codegen compiles by step: the warm-up (in a fresh JVM) compiles the
    # plan's classes, and the timed passes of a plan that does not vary
    # between runs find every one of them in the generated-class cache
    steps = {"construct", "plan", "execute"}
    for name in names:
        for p in [q[name]["warm"], *q[name]["passes"]]:
            assert set(p["compiles"]) == steps, p
    stats = q["churn_stats"]
    assert stats["warm"]["compiles"]["execute"] > 0, stats["warm"]
    assert [sum(p["compiles"].values()) for p in stats["passes"]] == [0, 0], stats["passes"]
    assert set(report["totals"]["compiles"]) == steps


def test_bench_runs_each_query_under_its_job_group(spark, monkeypatch):
    import bench

    monkeypatch.setattr(bench, "SF_DIR", SF_SMOKE)
    sc = spark.sparkContext
    try:
        bench._materialize(spark, "churn_stats")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = bench._group_jobs(spark, "churn_stats")
    assert jobs and bench._tasks(spark, jobs) > 0
