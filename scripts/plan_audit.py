#!/usr/bin/env python
"""Mechanical plan audit over EVERY registered query: one TSV row per
query with the plan-shape counters that matter for scale — exchanges by
kind, join strategies, Python-boundary nodes, generators, windows — plus
flags for un-pruned scans (ReadSchema wider than 8 columns) and
non-final range exchanges.

Usage: python scripts/plan_audit.py OUT_DIR
Output: OUT_DIR/plan_audit.tsv   (query \t counter=value ...)
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession  # noqa: E402

from bigdata_group4_app_spark.registry import QUERY_REGISTRY  # noqa: E402
from drive_contract import SF as SF_DIR  # noqa: E402  (the oracle SF)

COUNTERS = [
    # counted over the FULL output: each Exchange node carries exactly
    # one "Arguments: <kind>partitioning..." line in the details section
    ("exch_hash", r"Arguments: hashpartitioning"),
    ("exch_range", r"Arguments: rangepartitioning"),
    ("exch_single", r"Arguments: SinglePartition"),
    ("smj", r"SortMergeJoin"),
    ("shj", r"ShuffledHashJoin"),
    ("bhj", r"BroadcastHashJoin"),
    ("bnlj", r"BroadcastNestedLoopJoin"),
    ("cartesian", r"CartesianProduct"),
    ("window", r"\(\d+\) Window$"),
    ("generate", r"\(\d+\) Generate"),
    ("python", r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas"),
    ("scan_parquet", r"Scan parquet"),
    ("scan_rdd", r"Scan ExistingRDD"),
    ("inmem", r"InMemoryTableScan"),
]


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = Path(sys.argv[1])
    out.mkdir(parents=True, exist_ok=True)
    rows = []
    for name in sorted(QUERY_REGISTRY):
        try:
            df = QUERY_REGISTRY[name](spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:
            rows.append(f"{name}\tERROR={type(e).__name__}")
            continue
        tree = plan.split("\n\n", 1)[0]
        vals = {}
        for key, pat in COUNTERS:
            src = tree if key in (
                "smj", "shj", "bhj", "bnlj", "cartesian", "window",
                "generate", "python", "scan_parquet", "scan_rdd", "inmem",
            ) else plan
            vals[key] = len(re.findall(pat, src, flags=re.M))
        # widest ReadSchema (from the details section)
        widths = [
            s.count(":") for s in re.findall(r"ReadSchema: struct<([^\n]*)>", plan)
        ]
        vals["max_scan_cols"] = max(widths, default=0)
        rows.append(
            name
            + "\t"
            + "\t".join(f"{k}={v}" for k, v in vals.items() if v)
        )
        spark.catalog.clearCache()
    (out / "plan_audit.tsv").write_text("\n".join(rows) + "\n")
    print(f"wrote {len(rows)} rows")
    spark.stop()


if __name__ == "__main__":
    main()
