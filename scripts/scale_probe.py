"""Scaling probe: replicate the sf0.1 testdata N× with key offsets and
time headline queries at 1×/2×/5× to MEASURE (not guess) each family's
scaling exponent.

Replication semantics (star-schema-honest):
- facts (orders, lineitem, events, documents, embeddings, customer)
  replicate with surrogate-key offsets so copy i's rows are new entities
  pointing at the SAME dimension rows (5× customers across the same 25
  nations — how a real warehouse grows);
- dimensions (region, nation, part, supplier) stay single-copy;
- documents get every word suffixed per copy (copy 0 untouched), giving
  each copy a DISJOINT vocabulary: no cross-copy shingle collisions, so
  the near-dup workload grows 5× in docs AND 5× in true pairs — if LSH
  banding is doing its job, runtime grows ~linearly; a quadratic
  all-pairs design would grow 25×. n_chars is recomputed after the
  rewrite.

Usage:
    python scripts/scale_probe.py [--copies 2,5] [--passes 2]

Writes replicated dirs under /tmp/scale_x{N}/ (reused if present) and
prints one JSON line per scale: per query, the min wall seconds and the
Spark jobs of each pass, measured by ``scripts/profiler.py::measure``
(one warm-up, then cache-cleared passes).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from bigdata_group4_app_spark.sources.registry import load_table  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"

# fact table -> columns that get +copy*OFFSET so copies are new entities
OFFSET = 10_000_000
FACT_KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation", "part", "supplier"]

PROBE_QUERIES = [
    # linear scan/agg family
    "pricing_summary",
    "events_hourly",
    "events_profile",
    # entity-window family
    "event_sessions",
    "user_value_resampled",
    "scd2_priority_history",
    "cdc_apply",
    # join family
    "local_supplier_volume",
    "basket_pairs",
    # the quadratic-unless-blocked family (the scaling question)
    "minhash_lsh_pairs",
    "simhash_dup_pairs",
    "ngram_jaccard_pairs",
    "near_dup_clusters",
    # ANN
    "knn_brute_force",
    # round-2 additions: the PPJoin-vs-naive crossover, the banded string
    # join, iterative float PageRank, sweep-line concurrency, fused DQ
    "jaccard_prefix_filter_pairs",
    "levenshtein_dup_pairs",
    # round-13: the production-width SimHash (candidate volume must
    # stay linear; see the r13 probe table)
    "simhash_wide_pairs",
    "trade_network_pagerank",
    "peak_concurrent_sessions",
    "dq_rule_violations",
    "twap_user_value",
    "ohlc_hourly_bars",
]


def replicate(spark, n_copies: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in DIMS:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            load_table(spark, BASE_SF, name).write.mode("overwrite").parquet(dst)
    for name, keys in FACT_KEYS.items():
        dst = os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(dst):
            continue
        base = load_table(spark, BASE_SF, name)
        copies = []
        for i in range(n_copies):
            c = base
            for k in keys:
                c = c.withColumn(k, F.col(k) + F.lit(i * OFFSET))
            if name == "documents" and i > 0:
                # disjoint vocabulary per copy: no cross-copy near-dups
                c = c.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", f"$1x{i}")
                ).withColumn("n_chars", F.length("text").cast("long"))
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        if name == "events":
            # write back as int64 micros-as-nanos so load_table's
            # nanos->micros read applies uniformly at every scale
            out = out.withColumn(
                "ts", (F.unix_micros("ts") * F.lit(1000)).cast("long")
            )
        out.write.mode("overwrite").parquet(dst)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", default="2,5")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated query names (default: PROBE_QUERIES)",
    )
    args = ap.parse_args()
    names = args.queries.split(",") if args.queries else PROBE_QUERIES
    # imported here, not at the top: perfbench/run.py imports FACT_KEYS
    # and OFFSET from this module and must not load a second run.py
    from profiler import measure, profiled_spark

    with profiled_spark("scale-probe") as spark:
        for n in [1] + [int(x) for x in args.copies.split(",")]:
            sf_dir = BASE_SF if n == 1 else f"/tmp/scale_x{n}"
            if n > 1:
                replicate(spark, n, sf_dir)
            res = measure(spark, names, sf_dir, args.passes)
            line: dict = {"scale": n, "queries": {}, "jobs": {}}
            for q, r in res.items():
                if "error" in r:
                    line.setdefault("errors", {})[q] = r["error"]
                    continue
                line["queries"][q] = r["min_s"]
                line["jobs"][q] = [sum(p["jobs"].values()) for p in r["passes"]]
            if n == 1:
                base = line["queries"]
            else:
                line["ratio_vs_1x"] = {
                    q: round(t / base[q], 2)
                    for q, t in line["queries"].items() if base.get(q)
                }
            print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
