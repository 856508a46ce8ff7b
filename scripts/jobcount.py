#!/usr/bin/env python
"""Isolated steady-state re-measure: per-query wall time plus Spark JOB
counts.

Protocol: fresh session -> per query: 1 untimed warmup (codegen/JIT)
-> clearCache -> N timed cache-cleared passes -> report each pass, the
min (the steady state SCALE.md records) and each pass's job count. Use
it to adjudicate driver-bench outliers (noise vs real) and as the
job-floor evidence for iterative-loop changes: the loops are bounded by
rounds x the per-job scheduling floor at bench SF, so the checkable
artifact is the number of jobs a query launches, measured via the
status tracker across one materialization.

Usage:
  python scripts/jobcount.py q1,q2,... [--passes 3] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bigdata_group4_app_spark.registry import QUERY_REGISTRY  # noqa: E402
from bigdata_group4_app_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", help="comma-separated registry names")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()
    names = [n for n in args.queries.split(",") if n]
    unknown = [n for n in names if n not in QUERY_REGISTRY]
    assert not unknown, f"unknown queries: {unknown}"

    spark = get_spark(app_name="jobcount")
    sc = spark.sparkContext
    out: dict[str, dict] = {}
    for name in names:
        fn = QUERY_REGISTRY[name]
        # warmup (codegen/JIT), untimed and uncounted
        fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        runs, jobs = [], []
        for i in range(args.passes):
            group = f"{name}-{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(round(time.perf_counter() - t0, 3))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            sc.setJobGroup("", "")
            spark.catalog.clearCache()
        out[name] = {"runs": runs, "min": min(runs), "jobs": jobs}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"jobcount": out}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
