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
prints one JSON line per scale with per-query wall seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from bigdata_group4_app_spark.registry import QUERY_REGISTRY  # noqa: E402
from bigdata_group4_app_spark.session import get_spark  # noqa: E402
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


def _resolve(q):
    """Registry entries first; probe-only callables (e.g. the scaled-k
    SemDeDup production form, deliberately unregistered) fall back to
    the similarity module namespace."""
    if q in QUERY_REGISTRY:
        return QUERY_REGISTRY[q]
    from bigdata_group4_app_spark.operators import similarity

    return getattr(similarity, q)


def time_queries(
    spark, sf_dir: str, passes: int, queries=None
) -> dict[str, float]:
    timings: dict[str, float] = {}
    for _ in range(passes):
        for q in queries or PROBE_QUERIES:
            t0 = time.perf_counter()
            _resolve(q)(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = round(time.perf_counter() - t0, 3)
            timings[q] = min(dt, timings.get(q, dt))
    return timings


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
    qlist = args.queries.split(",") if args.queries else None
    spark = get_spark(app_name="scale-probe")
    base = time_queries(spark, BASE_SF, args.passes, qlist)
    print(json.dumps({"scale": 1, "queries": base}), flush=True)
    for n in [int(x) for x in args.copies.split(",")]:
        out_dir = f"/tmp/scale_x{n}"
        replicate(spark, n, out_dir)
        t = time_queries(spark, out_dir, args.passes, qlist)
        ratios = {q: round(t[q] / base[q], 2) for q in t if base.get(q)}
        print(
            json.dumps({"scale": n, "queries": t, "ratio_vs_1x": ratios}),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
