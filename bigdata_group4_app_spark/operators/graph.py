"""Graph analytics over relations: weighted PageRank on the trade network.

The star schema induces a natural graph: supplier-nation → customer-nation
edges weighted by lineitem revenue. PageRank over it is the canonical
iterative-DataFrame algorithm — the one family (fixpoint loops) that SQL
alone doesn't express and that Spark runs as repeated joins over a
partitioned edge relation (GraphFrames' Pregel is this exact loop,
packaged). The DuckDB oracle UNROLLS the same three iterations as chained
CTEs, so every arithmetic step is verified, not just the final shape.

Cross-engine float discipline: edge weights and out-degree mass are
rounded 4dp before the transition matrix is formed, transition
probabilities and every iteration's rank vector are rounded 8dp — both
engines therefore iterate on IDENTICAL doubles and the usual
sum-order low-bit noise (≤25 in-edges per node) can never compound
across iterations. Literals are CAST to DOUBLE in the oracle (DuckDB
``0.85`` is DECIMAL).

near_dup_clusters (operators/dedup.py) is the sibling fixpoint: min-label
propagation vs a recursive CTE. This one verifies weighted float
iteration; that one verifies transitive closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.iterative import checkpoint_with_metrics, loop_width
from ..sources.registry import load_table

PR_DAMPING = 0.85
PR_ITERS = 3


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src nation, dst nation, 4dp revenue weight) from the 6-table star
    join. Both nation joins are broadcast (25 rows); the fact-side join
    shuffles on the fact keys once."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(nation.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("src"),
            )),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .join(
            F.broadcast(nation.select(
                F.col("n_nationkey").alias("cn_key"),
                F.col("n_name").alias("dst"),
            )),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .groupBy("src", "dst")
        .agg(F.round(F.sum(rev), 4).alias("w"))
    )


def trade_network_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 3 iterations) over the
    supplier-nation → customer-nation revenue graph.

    The iteration is the standard distributed form: ranks ⋈ transitions
    on src, re-aggregate on dst — each round is ONE shuffle of the edge
    relation keyed by src then dst, plus a scalar aggregate for the
    dangling-node mass (nodes with no out-edges redistribute uniformly,
    the full PageRank fix — total rank stays exactly 1 per iteration, a
    property the tests assert at a SF where 15 of 25 nations import
    only). Here the node set is 25, but the loop is written exactly as
    it runs on a billion-edge graph (``localCheckpoint`` per round
    truncates the growing plan — the same lever as near_dup_clusters'
    propagation loop; the dangling scalar broadcasts, never shuffles).
    """
    edges = _trade_edges(spark, sf_dir).localCheckpoint()
    out_w = edges.groupBy("src").agg(F.round(F.sum("w"), 4).alias("out_w"))
    trans = (
        edges.join(out_w, "src")
        .select(
            "src",
            "dst",
            F.round(F.col("w") / F.col("out_w"), 8).alias("p"),
        )
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    base = (1.0 - PR_DAMPING) / n_nodes
    # F.round (half-up, DuckDB-identical) — never Python round (half-even)
    ranks = nodes.select(
        "node", F.round(F.lit(1.0) / n_nodes, 8).alias("rank")
    )
    srcs = out_w.select(F.col("src").alias("node")).localCheckpoint()
    # NOTE (r13 optimization round): narrowing the loop's shuffle width
    # to 2 was A/B-measured a WASH here (AQE already coalesces the tiny
    # nation-grain shuffles) — left at session width deliberately.
    for _ in range(PR_ITERS):
        contribs = (
            trans.join(ranks, trans.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("p")).alias("mass"))
        )
        dangling = (
            ranks.join(srcs, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(dangling))
            .join(contribs, nodes.node == contribs.dst, "left")
            .select(
                "node",
                F.round(
                    base
                    + PR_DAMPING
                    * (
                        F.coalesce(F.col("mass"), F.lit(0.0))
                        + F.col("dm") / n_nodes
                    ),
                    8,
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks.select("node", F.round("rank", 6).alias("rank")).orderBy(
        "node"
    )


def _pagerank_oracle() -> str:
    head = """
WITH edges AS (
  SELECT sn.n_name AS src, cn.n_name AS dst,
    round(sum(l_extendedprice * (1 - l_discount)), 4) AS w
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  GROUP BY sn.n_name, cn.n_name
),
out_w AS (SELECT src, round(sum(w), 4) AS out_w FROM edges GROUP BY src),
trans AS (
  SELECT e.src, e.dst, round(e.w / o.out_w, 8) AS p
  FROM edges e JOIN out_w o ON o.src = e.src
),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (
  SELECT node, round(CAST(1 AS DOUBLE) / nn.n, 8) AS rank FROM nodes, nn
)"""
    iters = []
    for k in range(1, PR_ITERS + 1):
        iters.append(f""",
m{k} AS (
  SELECT t.dst, sum(r.rank * t.p) AS mass
  FROM trans t JOIN r{k - 1} r ON r.node = t.src
  GROUP BY t.dst
),
d{k} AS (
  SELECT coalesce(sum(rank), 0) AS dm FROM r{k - 1}
  WHERE node NOT IN (SELECT src FROM out_w)
),
r{k} AS (
  SELECT nodes.node,
    round((CAST(1 AS DOUBLE) - CAST({PR_DAMPING} AS DOUBLE)) / nn.n
          + CAST({PR_DAMPING} AS DOUBLE)
            * (coalesce(m{k}.mass, 0) + d{k}.dm / nn.n), 8) AS rank
  FROM nodes CROSS JOIN nn CROSS JOIN d{k}
  LEFT JOIN m{k} ON m{k}.dst = nodes.node
)""")
    return (
        head
        + "".join(iters)
        + f"\nSELECT node, round(rank, 6) AS rank FROM r{PR_ITERS} ORDER BY node\n"
    )


TRI_MIN_SUPPORT = 2  # co-purchase edges need >= 2 shared orders


def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph (parts are nodes; an edge
    = the pair appeared together in ≥{support} orders): n_nodes, n_edges,
    wedge count, triangle count, and the global clustering coefficient
    3·T/wedges — the graph-shape summary recommender pipelines read
    before trusting co-occurrence signals.

    Scale shape — DEGREE-ORDERED orientation (Chiba-Nishizeki / the
    standard distributed triangle recipe): each undirected edge points
    from its lower-(degree, id) endpoint to the higher one, which bounds
    every node's out-degree by O(√m) regardless of hub skew, so the
    wedge self-join fans out per-node quadratically only in OUT-degree —
    a hot hub with 10⁶ neighbors contributes wedges at its √m cap, not
    10¹²/2. The closing-edge check is one more equi-join. The DuckDB
    oracle counts the same triangles via plain id-ordering (orientation
    changes cost, never the count — each triangle is counted exactly
    once under ANY total order), keeping the oracle trivially auditable.

    All arithmetic is integer counts; the single double (clustering
    coefficient) divides two exact ints and rounds 4dp."""
    from .relational import basket_pairs_from

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pkey")
    )
    # ONE definition of the basket→pair explosion (relational.py owns it,
    # including the BASKET_MAX_PARTS skew cap the oracle mirrors)
    edges = (
        basket_pairs_from(li, ordered=False)
        .filter(F.col("n_orders") >= TRI_MIN_SUPPORT)
        .select(F.col("part1").alias("a"), F.col("part2").alias("b"))
        .persist()  # feeds degrees + orientation + closing join
        # (construction-lazy cache, round 10 — was an eager checkpoint)
    )
    deg = (
        edges.select(F.explode(F.array("a", "b")).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient each edge from lower (deg, id) to higher (deg, id)
    keyed = (
        edges.join(deg.withColumnRenamed("p", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("p", "b").withColumnRenamed("deg", "db"), "b")
        .select(
            F.when(
                F.struct(F.col("da"), F.col("a"))
                < F.struct(F.col("db"), F.col("b")),
                F.struct(
                    F.col("a").alias("src"),
                    F.col("b").alias("dst"),
                    F.struct(
                        F.col("db").alias("d"), F.col("b").alias("i")
                    ).alias("dk"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("b").alias("src"),
                    F.col("a").alias("dst"),
                    F.struct(
                        F.col("da").alias("d"), F.col("a").alias("i")
                    ).alias("dk"),
                )
            )
            .alias("e")
        )
        .select("e.src", "e.dst", "e.dk")
    )
    wedges = (
        keyed.alias("e1")
        .join(keyed.alias("e2"), F.col("e1.src") == F.col("e2.src"))
        .filter(F.col("e1.dk") < F.col("e2.dk"))
        .select(
            F.col("e1.dst").alias("v"), F.col("e2.dst").alias("w")
        )
    )
    # closing edge may be oriented either way under (deg, id); normalize
    # candidate to id order and probe the undirected edge set
    tri_n = (
        wedges.select(
            F.least("v", "w").alias("a"), F.greatest("v", "w").alias("b")
        )
        .join(edges, ["a", "b"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        F.sum(F.expr("deg * (deg - 1) / 2")).cast("long").alias("n_wedges"),
    )
    return (
        stats.join(tri_n)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0)
                * F.col("n_triangles")
                / F.greatest(F.col("n_wedges"), F.lit(1)),
                4,
            ).alias("global_clustering"),
        )
    )


def _triangles_oracle() -> str:
    from .relational import BASKET_MAX_PARTS as _BASKET_CAP_IMPORT
    _BASKET_CAP = _BASKET_CAP_IMPORT
    return f"""
WITH baskets AS (
  SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
  FROM lineitem GROUP BY l_orderkey
  HAVING len(list(DISTINCT l_partkey)) <= {_BASKET_CAP}
),
pairs AS (
  SELECT u1.p AS a, u2.p AS b
  FROM baskets, UNNEST(parts) u1(p), UNNEST(parts) u2(p)
  WHERE u1.p < u2.p
),
edges AS (
  SELECT a, b FROM pairs GROUP BY a, b
  HAVING count(*) >= {TRI_MIN_SUPPORT}
),
deg AS (
  SELECT p, count(*) AS deg FROM (
    SELECT a AS p FROM edges UNION ALL SELECT b FROM edges
  ) GROUP BY p
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
stats AS (
  SELECT count(*) AS n_nodes,
    CAST(CAST(sum(deg) AS BIGINT) / 2 AS BIGINT) AS n_edges,
    CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
  round(CAST(3 AS DOUBLE) * n_triangles / greatest(n_wedges, 1), 4)
    AS global_clustering
FROM stats, tri
"""


ORACLE: dict[str, str] = {
    "trade_network_pagerank": _pagerank_oracle(),
    "copurchase_triangles": _triangles_oracle(),
}

QUERIES = {
    "trade_network_pagerank": trade_network_pagerank,
    "copurchase_triangles": copurchase_triangles,
}


# ---------------------------------------------------------------------------
# degree distribution + log-log tail slope (power-law diagnostic)
# ---------------------------------------------------------------------------


def degree_distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph with the log-log OLS
    slope attached — the hub-skew diagnostic that decides whether
    degree-ordered joins (``copurchase_triangles``) and salting
    (``salted_supplier_revenue``) are needed: a steep negative slope ≈
    power-law tail, a flat one ≈ near-regular graph.

    The graph collapses to (degree → node count) — a relation bounded by
    max degree — and every remaining statistic (shares, the ln-ln OLS
    fit via unpartitioned window sums over the histogram rows) is free
    at any graph size. Edge definition is the ONE shared
    ``basket_pairs_from`` explosion (support ≥ 2, skew-capped), so this
    diagnostic describes exactly the graph the triangle census runs on.
    """
    from .relational import basket_pairs_from

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pkey")
    )
    edges = (
        basket_pairs_from(li, ordered=False)
        .filter(F.col("n_orders") >= TRI_MIN_SUPPORT)
        .select(F.col("part1").alias("a"), F.col("part2").alias("b"))
    )
    deg = (
        edges.select(F.explode(F.array("a", "b")).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    hist = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("n_nodes"))
    w = Window.partitionBy()
    x = F.log(F.col("deg").cast("double"))
    y = F.log(F.col("n_nodes").cast("double"))
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum(x).over(w)
    sy = F.sum(y).over(w)
    sxx = F.sum(x * x).over(w)
    sxy = F.sum(x * y).over(w)
    # degenerate-fit guard (round-4 ADVICE): one histogram row (or a
    # single distinct degree) makes the OLS denominator 0 — Spark doubles
    # give NaN where DuckDB v1.0 division-by-zero gives NULL, a
    # cross-engine divergence. NULL on both sides instead.
    den = n * sxx - sx * sx
    slope = F.when(
        (n > 1) & (den > 0),
        F.round((n * sxy - sx * sy) / den, 4) + F.lit(0.0),
    )
    total = F.sum("n_nodes").over(w)
    return (
        hist.select(
            F.col("deg").alias("degree"),
            "n_nodes",
            F.round(F.col("n_nodes") / total.cast("double"), 4).alias(
                "node_share"
            ),
            slope.alias("loglog_slope"),
        )
        .orderBy("degree")
    )


def _degree_dist_oracle() -> str:
    from .relational import BASKET_MAX_PARTS as _CAP

    return f"""
WITH baskets AS (
  SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
  FROM lineitem GROUP BY l_orderkey
  HAVING len(list(DISTINCT l_partkey)) <= {_CAP}
),
pairs AS (
  SELECT u1.p AS a, u2.p AS b
  FROM baskets, UNNEST(parts) u1(p), UNNEST(parts) u2(p)
  WHERE u1.p < u2.p
),
edges AS (
  SELECT a, b FROM pairs GROUP BY a, b
  HAVING count(*) >= {TRI_MIN_SUPPORT}
),
deg AS (
  SELECT p, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS p FROM edges UNION ALL SELECT b FROM edges
  ) GROUP BY p
),
hist AS (
  SELECT deg AS degree, CAST(count(*) AS BIGINT) AS n_nodes
  FROM deg GROUP BY deg
),
fit AS (
  SELECT degree, n_nodes,
    CAST(count(*) OVER () AS DOUBLE) AS n,
    sum(ln(CAST(degree AS DOUBLE))) OVER () AS sx,
    sum(ln(CAST(n_nodes AS DOUBLE))) OVER () AS sy,
    sum(ln(CAST(degree AS DOUBLE)) * ln(CAST(degree AS DOUBLE))) OVER ()
      AS sxx,
    sum(ln(CAST(degree AS DOUBLE)) * ln(CAST(n_nodes AS DOUBLE))) OVER ()
      AS sxy,
    CAST(sum(n_nodes) OVER () AS BIGINT) AS total
  FROM hist
)
SELECT degree, n_nodes,
  round(CAST(n_nodes AS DOUBLE) / total, 4) AS node_share,
  CASE WHEN n > 1 AND (n * sxx - sx * sx) > 0
    THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) + 0.0
    END AS loglog_slope
FROM fit
ORDER BY degree
"""


ORACLE["degree_distribution_stats"] = _degree_dist_oracle()
QUERIES["degree_distribution_stats"] = degree_distribution_stats


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg) — exact integer fixed-point
# ---------------------------------------------------------------------------

HITS_ITERS = 3
HITS_SCALE = 100000000  # scores live as 1e8-scaled BIGINTs


def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS on the (unweighted, distinct) trade-network edge
    set: which nations are the big EXPORTER hubs and which the big
    IMPORTER authorities. Complements weighted PageRank
    (`trade_network_pagerank`) with the second classic link-analysis
    fixpoint — the mutually recursive pair a = A^T h, h = A a with
    max-normalization per half-step.

    Scale shape: identical to the PageRank loop — each half-step is ONE
    shuffle of the edge relation keyed by the gathering endpoint, and
    the gather's ``localCheckpoint`` truncates the iterative plan. The
    normalizing max is observed during that checkpoint's own job
    (``checkpoint_with_metrics``) and enters the next projection as a
    double literal; an empty graph observes no max and falls back to
    ``1.0`` (there is no score to normalize). Written exactly as it runs
    on a billion-edge graph.

    Cross-engine exactness — STRONGER than the PageRank float
    discipline: scores never exist as accumulated floats. They are
    1e8-scaled BIGINTs; each gather is an EXACT integer sum, and the
    max-normalize is one double chain (score*1e8/max, correctly-rounded
    IEEE ops on identical inputs) rounded straight back to the integer
    grid. Sum order cannot produce even last-bit noise. Ranks order by
    the INTEGERS (desc, node) so both engines agree on ties; emitted
    scores are the exact int/1e8 divisions, un-re-rounded.
    """
    edges = (
        _trade_edges(spark, sf_dir)
        .select("src", "dst")
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    hubs = nodes.select("node", F.lit(HITS_SCALE).cast("long").alias("h"))
    auths = None
    # NOTE (r13 optimization round): narrowing the loop's shuffle width
    # was A/B-measured a WASH here too (same as the PageRank loop; AQE
    # already coalesces nation-grain shuffles) — session width kept.
    #
    # Round 14 (guide §1.2 / §5, the checkpoint_with_metrics lever): the
    # normalizing max is OBSERVED during the gather's own checkpoint job
    # and injected as a literal, instead of a broadcast crossJoin whose
    # 1-row aggregate re-planned (and re-ran) the whole gather subtree
    # each half-step; and the dense normalized vector is no longer
    # checkpointed per half-step (it is a shallow projection over the
    # checkpointed gather + checkpointed nodes — the NEXT half-step's
    # checkpoint materializes it once). 83 jobs → 55 for the full query
    # (the rest are the per-stage broadcast builds AQE runs per join).
    # Exactness is untouched: gathers are exact BIGINT sums, so the
    # observed max is bit-identical to the broadcast column it replaces,
    # and a Python int round-trips into a double literal exactly
    # (max ≤ 25·1e8 ≪ 2^53).
    def _normalize(raw: DataFrame, key: str, val: str, out: str) -> DataFrame:
        raw, m = checkpoint_with_metrics(
            raw, F.max(F.col(val)).alias("m")
        )
        mx = float(m["m"]) if m["m"] is not None else 1.0  # empty graph
        return raw, (
            nodes.join(raw, nodes.node == raw[key], "left")
            .select(
                "node",
                F.round(
                    F.coalesce(F.col(val), F.lit(0)).cast("double")
                    * F.lit(float(HITS_SCALE))
                    / F.lit(mx),
                    0,
                )
                .cast("long")
                .alias(out),
            )
        )

    for _ in range(HITS_ITERS):
        # authority gather: a(dst) = sum of h over in-edges (exact ints)
        _, auths = _normalize(
            edges.join(hubs, edges.src == hubs.node)
            .groupBy("dst")
            .agg(F.sum("h").alias("a_raw")),
            "dst",
            "a_raw",
            "a",
        )
        # hub gather: h(src) = sum of a over out-edges
        _, hubs = _normalize(
            edges.join(auths, edges.dst == auths.node)
            .groupBy("src")
            .agg(F.sum("a").alias("h_raw")),
            "src",
            "h_raw",
            "h",
        )
    j = hubs.join(auths, "node")
    wh = Window.orderBy(F.desc("h"), "node")
    wa = Window.orderBy(F.desc("a"), "node")
    return j.select(
        "node",
        (F.col("h").cast("double") / F.lit(float(HITS_SCALE))).alias(
            "hub_score"
        ),
        (F.col("a").cast("double") / F.lit(float(HITS_SCALE))).alias(
            "authority_score"
        ),
        F.row_number().over(wh).cast("int").alias("hub_rank"),
        F.row_number().over(wa).cast("int").alias("authority_rank"),
    ).orderBy("node")


def _hits_oracle() -> str:
    sc = f"CAST({float(HITS_SCALE)!r} AS DOUBLE)"
    parts = [
        """edges AS (
  SELECT DISTINCT sn.n_name AS src, cn.n_name AS dst
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
)""",
        "nodes AS (SELECT src AS node FROM edges "
        "UNION SELECT dst AS node FROM edges)",
        f"h0 AS (SELECT node, CAST({HITS_SCALE} AS BIGINT) AS h FROM nodes)",
    ]
    for r in range(1, HITS_ITERS + 1):
        p = r - 1
        parts.append(f"""ar{r} AS (
  SELECT e.dst, CAST(sum(h.h) AS BIGINT) AS a_raw
  FROM edges e JOIN h{p} h ON e.src = h.node GROUP BY 1
)""")
        parts.append(f"""a{r} AS (
  SELECT n.node,
    CAST(round(CAST(coalesce(ar.a_raw, 0) AS DOUBLE) * {sc}
      / CAST(m.m AS DOUBLE), 0) AS BIGINT) AS a
  FROM nodes n
  LEFT JOIN ar{r} ar ON n.node = ar.dst
  CROSS JOIN (SELECT CAST(max(a_raw) AS BIGINT) AS m FROM ar{r}) m
)""")
        parts.append(f"""hr{r} AS (
  SELECT e.src, CAST(sum(a.a) AS BIGINT) AS h_raw
  FROM edges e JOIN a{r} a ON e.dst = a.node GROUP BY 1
)""")
        parts.append(f"""h{r} AS (
  SELECT n.node,
    CAST(round(CAST(coalesce(hr.h_raw, 0) AS DOUBLE) * {sc}
      / CAST(m.m AS DOUBLE), 0) AS BIGINT) AS h
  FROM nodes n
  LEFT JOIN hr{r} hr ON n.node = hr.src
  CROSS JOIN (SELECT CAST(max(h_raw) AS BIGINT) AS m FROM hr{r}) m
)""")
    last = HITS_ITERS
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT h.node,
  CAST(h.h AS DOUBLE) / {sc} AS hub_score,
  CAST(a.a AS DOUBLE) / {sc} AS authority_score,
  CAST(row_number() OVER (ORDER BY h.h DESC, h.node) AS INT) AS hub_rank,
  CAST(row_number() OVER (ORDER BY a.a DESC, a.node) AS INT)
    AS authority_rank
FROM h{last} h JOIN a{last} a USING (node)
ORDER BY h.node
"""
    )


ORACLE["hits_hub_authority"] = _hits_oracle()
QUERIES["hits_hub_authority"] = hits_hub_authority


# ---------------------------------------------------------------------------
# k-core decomposition (iterative peeling) of the co-purchase graph
# ---------------------------------------------------------------------------

KCORE_K = 3
# Unroll budget for the DuckDB oracle: peeling is MONOTONE (edges only
# ever leave), so extra rounds past the fixpoint are exact no-ops — the
# budget only needs to be >= rounds-to-fixpoint at the oracle SF
# (measured: 11 at sf0.01, 3 at sf0.1; 14 leaves margin). The Spark loop
# early-exits on the exact fixpoint (equal edge COUNT == equal edge SET
# under monotone deletion).
KCORE_ROUNDS = 14


def kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {KCORE_K}-core of the co-purchase graph (same support-≥2
    edge relation as ``copurchase_triangles``): iteratively peel nodes
    with degree < k until none remain, emit every surviving part with
    its WITHIN-CORE degree — the standard dense-subgraph extraction a
    recommender or fraud pipeline runs to find the stable interaction
    backbone (Seidman 1983; the distributed formulation is the
    Matula-Beck peel run in rounds).

    Scale shape: each round is ONE degree aggregate + an endpoint
    semi-join on the shrinking symmetric edge relation —
    edges-only-shrink monotonicity makes rounds cheaper as they
    proceed; every round localCheckpoints (plan-growth rule) and the
    loop exits on the exact fixpoint (count-stable ⟺ set-stable under
    monotone deletion — no checksum). Rounds are barrier costs at
    cluster scale, bounded by the peel depth (≤ max degree, measured
    11 at sf0.01).

    Cross-engine: pure integer counts and joins end to end — the
    oracle unrolls {KCORE_ROUNDS} peel rounds as CTEs (the kmeans
    unrolled-loop precedent); surplus rounds past the fixpoint are
    no-ops, so the unroll budget only has to dominate the measured
    peel depth at the oracle SF."""
    from .relational import basket_pairs_from

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pkey")
    )
    edges = (
        basket_pairs_from(li, ordered=False)
        .filter(F.col("n_orders") >= TRI_MIN_SUPPORT)
        .select(F.col("part1").alias("a"), F.col("part2").alias("b"))
    )
    cur, m = checkpoint_with_metrics(
        edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ),
        F.count(F.lit(1)).alias("n"),
    )
    n_cur = m["n"]
    # the peel loop runs over the support-filtered co-purchase edge set
    # (small, and it only SHRINKS): per-round shuffle width is floor, not
    # data — scope it narrow, restore after (CLAUDE.md iterative-tail
    # rule; the basket mining above already materialized at full width)
    with loop_width(spark, 4):
        for _ in range(KCORE_ROUNDS):
            if n_cur == 0:
                break
            keep = (
                cur.groupBy("a")
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= KCORE_K)
                .select(F.col("a").alias("p"))
            )
            # surviving-edge count observed during the round's own
            # checkpoint job (round 14) — one job per peel round
            nxt, m = checkpoint_with_metrics(
                cur.join(keep.withColumnRenamed("p", "a"), "a")
                .join(
                    keep.withColumnRenamed("p", "b"),
                    "b",
                )
                .select("a", "b"),
                F.count(F.lit(1)).alias("n"),
            )
            n_nxt = m["n"]
            cur, stable = nxt, n_nxt == n_cur
            n_cur = n_nxt
            if stable:
                break
    return (
        cur.groupBy(F.col("a").alias("part"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .orderBy("part")
    )


def _kcore_oracle() -> str:
    from .relational import BASKET_MAX_PARTS as _cap

    rounds = []
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        # MATERIALIZED is load-bearing: each round references the prior
        # round THREE times (degree agg + two endpoint joins); DuckDB
        # inlines plain CTEs, so 14 rounds would expand 3^14 subtrees
        rounds.append(f"""
k{r} AS MATERIALIZED (
  SELECT a AS p FROM {prev} GROUP BY a
  HAVING count(*) >= {KCORE_K}
),
e{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  JOIN k{r} x ON x.p = e.a
  JOIN k{r} y ON y.p = e.b
)""")
        prev = f"e{r}"
    return f"""
WITH baskets AS (
  SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
  FROM lineitem GROUP BY l_orderkey
  HAVING len(list(DISTINCT l_partkey)) <= {_cap}
),
pairs AS (
  SELECT u1.p AS a, u2.p AS b
  FROM baskets, UNNEST(parts) u1(p), UNNEST(parts) u2(p)
  WHERE u1.p < u2.p
),
edges AS (
  SELECT a, b FROM pairs GROUP BY a, b
  HAVING count(*) >= {TRI_MIN_SUPPORT}
),
e0 AS MATERIALIZED (
  SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges
),{",".join(rounds)}
SELECT a AS part, CAST(count(*) AS BIGINT) AS core_degree
FROM {prev}
GROUP BY a
ORDER BY part
"""


ORACLE["kcore_parts"] = _kcore_oracle()
QUERIES["kcore_parts"] = kcore_parts


# ---------------------------------------------------------------------------
# Label propagation communities — fixed synchronous rounds, deterministic ties
# ---------------------------------------------------------------------------

LPA_ROUNDS = 4
LPA_TOP_N = 50
# loop shuffle width: ALSO the explicit partition count of the static
# pre-partitioned edge relation and the per-round repartition — the three
# must agree or the co-partitioning reuse breaks (at production scale set
# ∝ edge volume, exactly like the scoped conf it matches)
_LPA_WIDTH = 8


def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    2007) over the support-≥2 co-purchase graph, made fully
    deterministic: every node starts as its own label, each round
    adopts the most frequent label among its neighbors with ties broken
    toward the SMALLEST label, and the output is defined as the label
    state after exactly ``LPA_ROUNDS`` rounds (fixed-round contract —
    no convergence test, so synchronous oscillation cannot make the
    result ill-defined). Classic LPA breaks ties randomly; the
    min-label rule is the standard determinization (it also gives LPA
    its connected-components flavor on sparse regions).

    Scale shape: each round is ONE shuffle — edges ⋈ labels on the
    neighbor key, then a (node, label) count with a per-node argmax
    window on the same clustering; localCheckpoint per round caps plan
    growth (CLAUDE.md iterative rule). Rounds are barrier costs, fixed
    at {LPA_ROUNDS}. Cross-engine: pure integer counts/keys; the
    oracle unrolls the rounds as MATERIALIZED CTEs (k-core precedent).
    """
    from .relational import basket_pairs_from

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pkey")
    )
    edges = (
        basket_pairs_from(li, ordered=False)
        .filter(F.col("n_orders") >= TRI_MIN_SUPPORT)
        .select(F.col("part1").alias("a"), F.col("part2").alias("b"))
    )
    # one-exchange rounds (round 14, guide §2.4 / CLAUDE.md superset
    # rule): the edge relation is STATIC across rounds and always joined
    # on b — checkpoint it PRE-PARTITIONED on b once (LogicalRDD
    # preserves the partitioning, so no round ever re-shuffles the edge
    # set), and repartition the joined output on a so the SAME exchange
    # serves the (a, label) count, the per-node argmax window, AND the
    # next round's join probe (the checkpointed labels come back
    # hash(v)-partitioned, which is the nbr key). Before: 4 exchanges
    # per round (sym on b, labels on nbr, counts on (a,label), counts
    # on a); after: 1 (the edge-sized repartition on a).
    sym = (
        edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .repartition(_LPA_WIDTH, "b")
        .localCheckpoint()
    )
    labels = sym.select(F.col("a").alias("v")).distinct().select(
        "v", F.col("v").alias("label")
    )
    w = Window.partitionBy("v").orderBy(F.desc("cnt"), F.col("label"))
    # the loop relations are edge-sized at most — scope the per-round
    # shuffle width down (CLAUDE.md iterative rule), restore after
    with loop_width(spark, _LPA_WIDTH):
        for _ in range(LPA_ROUNDS):
            labels = (
                sym.join(
                    labels.select(
                        F.col("v").alias("nbr"), F.col("label")
                    ),
                    F.col("b") == F.col("nbr"),
                )
                .repartition(_LPA_WIDTH, "a")
                .groupBy(F.col("a").alias("v"), "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("v", "label")
                .localCheckpoint()
            )
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.desc("n_members"), "label")
        .limit(LPA_TOP_N)
    )


def _lpa_oracle() -> str:
    from .relational import BASKET_MAX_PARTS as _cap

    rounds = []
    prev = "l0"
    for r in range(1, LPA_ROUNDS + 1):
        rounds.append(f"""
l{r} AS MATERIALIZED (
  SELECT v, label FROM (
    SELECT e.a AS v, l.label, count(*) AS cnt,
      row_number() OVER (PARTITION BY e.a
        ORDER BY count(*) DESC, l.label) AS rn
    FROM e0 e JOIN {prev} l ON l.v = e.b
    GROUP BY e.a, l.label
  ) WHERE rn = 1
)""")
        prev = f"l{r}"
    return f"""
WITH baskets AS (
  SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
  FROM lineitem GROUP BY l_orderkey
  HAVING len(list(DISTINCT l_partkey)) <= {_cap}
),
pairs AS (
  SELECT u1.p AS a, u2.p AS b
  FROM baskets, UNNEST(parts) u1(p), UNNEST(parts) u2(p)
  WHERE u1.p < u2.p
),
edges AS (
  SELECT a, b FROM pairs GROUP BY a, b
  HAVING count(*) >= {TRI_MIN_SUPPORT}
),
e0 AS MATERIALIZED (
  SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges
),
l0 AS MATERIALIZED (
  SELECT DISTINCT a AS v, a AS label FROM e0
),{",".join(rounds)}
SELECT label, CAST(count(*) AS BIGINT) AS n_members
FROM {prev}
GROUP BY label
ORDER BY n_members DESC, label
LIMIT {LPA_TOP_N}
"""


ORACLE["label_propagation_communities"] = _lpa_oracle()
QUERIES["label_propagation_communities"] = label_propagation_communities


# ---------------------------------------------------------------------------
# BFS shortest-path distance histogram from the minimum-id part
# ---------------------------------------------------------------------------

BFS_ROUNDS = 14  # >= measured eccentricity at the oracle SF (10 at sf0.01)


def bfs_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted single-source shortest-path distances over the
    support-≥2 co-purchase graph (source = the smallest part id in the
    edge set, a deterministic anchor), emitted as a distance histogram
    with the disconnected remainder in a ``dist = -1`` bucket — the
    reachability/diameter diagnostic (how many hops does influence
    travel?) the graph shelf lacked next to PageRank/HITS/k-core/LPA.

    Scale shape: FRONTIER-based BFS — each round joins only the newly
    reached layer against the edge relation (never the full distance
    table), anti-joins the already-reached set, and localCheckpoints;
    the loop exits early on an empty frontier (monotone — a node's
    first reach IS its BFS distance). Rounds are barrier costs bounded
    by the graph's eccentricity. The oracle replays it as min-distance
    propagation (distance relation UNION frontier expansion, min per
    node) in {BFS_ROUNDS} unrolled MATERIALIZED CTEs — monotone, so
    surplus rounds are exact no-ops; frontier-BFS and min-propagation
    provably agree layer by layer."""
    from .relational import basket_pairs_from

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pkey")
    )
    edges = (
        basket_pairs_from(li, ordered=False)
        .filter(F.col("n_orders") >= TRI_MIN_SUPPORT)
        .select(F.col("part1").alias("a"), F.col("part2").alias("b"))
    )
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    src = sym.agg(F.min("a")).collect()[0][0]
    if src is None:  # empty edge relation — mirror the oracle's empty result
        return spark.createDataFrame([], "dist int, n_nodes long")
    reached = spark.createDataFrame(
        [(int(src), 0)], "v long, d int"
    ).localCheckpoint()
    frontier = reached
    # frontier/reached are node-sized at most — scope the per-round
    # shuffle width down (CLAUDE.md iterative rule), restore after
    with loop_width(spark, 8):
        for r in range(1, BFS_ROUNDS + 1):
            # frontier size observed during the checkpoint job (round
            # 14: was checkpoint + limit(1).count + a re-checkpoint of
            # the cumulative reached set = 3 jobs/round; now 1).
            new, m = checkpoint_with_metrics(
                sym.join(frontier, sym.a == frontier.v)
                .select(F.col("b").alias("v"))
                .distinct()
                .join(reached.select("v"), "v", "left_anti")
                .select("v", F.lit(r).cast("int").alias("d")),
                F.count(F.lit(1)).alias("n"),
            )
            if m["n"] == 0:
                break
            # union of ≤ BFS_ROUNDS checkpointed layer frames: plan depth
            # is round-bounded, and scanning r tiny checkpointed layers
            # beats re-materializing the cumulative set every round. The
            # cost is quadratic: round r's anti-join scans all r layer
            # frames, so layer scans total O(BFS_ROUNDS²) over the loop
            reached = reached.union(new)
            frontier = new
    nodes = sym.select(F.col("a").alias("v")).distinct()
    unreached = nodes.join(reached.select("v"), "v", "left_anti").select(
        "v", F.lit(-1).cast("int").alias("d")
    )
    return (
        reached.union(unreached)
        .groupBy(F.col("d").alias("dist"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("dist")
    )


def _bfs_oracle() -> str:
    from .relational import BASKET_MAX_PARTS as _cap

    rounds = []
    prev = "d0"
    for r in range(1, BFS_ROUNDS + 1):
        rounds.append(f"""
d{r} AS MATERIALIZED (
  SELECT v, CAST(min(d) AS INT) AS d FROM (
    SELECT v, d FROM {prev}
    UNION ALL
    SELECT e.b AS v, dd.d + 1 AS d FROM {prev} dd JOIN e0 e ON e.a = dd.v
  ) GROUP BY v
)""")
        prev = f"d{r}"
    return f"""
WITH baskets AS (
  SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
  FROM lineitem GROUP BY l_orderkey
  HAVING len(list(DISTINCT l_partkey)) <= {_cap}
),
pairs AS (
  SELECT u1.p AS a, u2.p AS b
  FROM baskets, UNNEST(parts) u1(p), UNNEST(parts) u2(p)
  WHERE u1.p < u2.p
),
edges AS (
  SELECT a, b FROM pairs GROUP BY a, b
  HAVING count(*) >= {TRI_MIN_SUPPORT}
),
e0 AS MATERIALIZED (
  SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges
),
d0 AS MATERIALIZED (
  SELECT min(a) AS v, CAST(0 AS INT) AS d FROM e0
),{",".join(rounds)},
alln AS (
  SELECT DISTINCT a AS v FROM e0
),
final AS (
  SELECT n.v, coalesce(r.d, -1) AS dist
  FROM alln n LEFT JOIN {prev} r ON r.v = n.v
)
SELECT CAST(dist AS INT) AS dist, CAST(count(*) AS BIGINT) AS n_nodes
FROM final
GROUP BY dist
ORDER BY dist
"""


ORACLE["bfs_distance_histogram"] = _bfs_oracle()
QUERIES["bfs_distance_histogram"] = bfs_distance_histogram


# ---------------------------------------------------------------------------
# resource-allocation link prediction over the co-purchase graph
# ---------------------------------------------------------------------------

RA_SCALE = 100_000_000  # per-neighbor term = RA_SCALE div deg(z), exact
RA_TOP_N = 50


def ra_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the support-≥2 co-purchase graph
    (TRI_MIN_SUPPORT): for part pairs NOT yet connected, the
    resource-allocation index Σ over z ∈ Γ(a)∩Γ(b) of 1/deg(z)
    (Zhou et al. 2009 — RA outperforms Adamic-Adar when hub degrees
    are heavy-tailed, and needs no logarithm). Top-RA_TOP_N (50)
    predicted edges.

    Determinism: each neighbor's contribution is quantized ONCE as the
    exact integer ``RA_SCALE div deg(z)`` — integer division, so the
    per-pair score is an order-free BIGINT sum (a float Σ 1/deg would
    be partition-order-dependent); common-neighbor counts ride along
    and the top-k order is (score DESC, a, b) — total. Scale shape:
    the wedge join fans out Σ deg² like the triangle census; at hub
    skew the same degree-ordered orientation lever applies
    (``copurchase_triangles``); the anti-join probes the edge set on
    the normalized pair key; TakeOrdered bounds the output."""
    return _ra_from_edges(_ra_edges(spark, sf_dir, TRI_MIN_SUPPORT))


def _ra_edges(
    spark: SparkSession,
    sf_dir: str,
    support: int | None = None,
    support_df: DataFrame | None = None,
) -> DataFrame:
    """Support-admitted co-purchase edge set — the ONE edge-admission
    definition both RA entry points call (shared-helper rule: a basket
    cap or orientation tweak must hit the registered entry and the
    scaled variant together). ``support`` is a literal threshold;
    ``support_df`` a 1-row ``(support BIGINT)`` relation derived
    IN-PLAN (broadcast onto the pair counts) so no entry point pays a
    driver-side job at query-construction time.

    PERSISTED, not checkpointed (round 10): ``localCheckpoint`` — even
    with ``eager=False`` — materializes the upstream AQE shuffle stages
    at CONSTRUCTION time (``queryExecution.toRdd`` under AQE executes
    the query stages), so every plan-only consumer (plan audits,
    EXPLAIN dossiers, bench assembly) paid the explosion + shuffle.
    ``persist()`` is genuinely lazy AND still dedups: the cache manager
    swaps all nine copies of the edge subtree (adjacency ×2, degrees
    ×2, ctr l/r ×4, anti-join ×1) for ONE InMemoryRelation computed at
    the first action — measured equal to the eager-checkpoint wall time
    at sf0.1 where the un-deduped form (plain ReuseExchange does NOT
    fire across these differently-projected copies) was ~10× slower.
    The cached relation is support-admitted edge pairs — dup-volume-
    bounded, far below the pair-count relation it derives from
    (VERDICT r9 item 2, the ``incremental_minhash_lsh``
    zero-jobs-at-construction discipline; pinned in
    tests/test_round10.py)."""
    from .relational import basket_pairs_from

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pkey")
    )
    counts = basket_pairs_from(li, ordered=False)
    if support_df is not None:
        # 1-row bounded-by-construction relation: explicit broadcast is
        # safe at any SF (allowlisted BNLJ, tests/test_scale.py).
        counts = (
            counts.join(F.broadcast(support_df))
            .filter(F.col("n_orders") >= F.col("support"))
            .drop("support")
        )
    else:
        counts = counts.filter(F.col("n_orders") >= support)
    return counts.select(
        F.col("part1").alias("a"), F.col("part2").alias("b")
    ).persist()


def _ra_from_edges(edges: DataFrame) -> DataFrame:
    """RA scoring over an admitted edge set — the ONE definition both
    the registered fixed-support entry and the production
    support-scaled variant run (shared-helper rule)."""
    adj = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = adj.groupBy(F.col("a").alias("z")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # center-annotated adjacency: each (z, neighbor) with z's RA term
    ctr = adj.select(F.col("a").alias("z"), F.col("b").alias("nb")).join(
        deg, "z"
    ).withColumn("term", F.expr(f"{RA_SCALE} div deg"))
    wedges = (
        ctr.alias("l")
        .join(ctr.alias("r"), F.col("l.z") == F.col("r.z"))
        .filter(F.col("l.nb") < F.col("r.nb"))
        .select(
            F.col("l.nb").alias("a"),
            F.col("r.nb").alias("b"),
            F.col("l.term").alias("term"),
        )
    )
    scored = (
        wedges.join(edges, ["a", "b"], "left_anti")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("term").alias("ra_score_scaled"),
        )
    )
    return (
        scored.select(
            "a",
            "b",
            "n_common",
            "ra_score_scaled",
            (F.col("ra_score_scaled").cast("double") / RA_SCALE).alias(
                "ra_score"
            ),
        )
        .orderBy(F.desc("ra_score_scaled"), "a", "b")
        .limit(RA_TOP_N)
    )


def _ra_oracle(support_sql: str = str(TRI_MIN_SUPPORT)) -> str:
    """RA oracle over an edge set admitted at ``support_sql`` — one
    shared text for the fixed-support entry and the support-scaled
    production entry (the SQL twin of the ``_ra_from_edges`` /
    ``_ra_edges`` shared-helper rule). The scaled entry passes a scalar
    subquery so the oracle derives the SAME rate-based threshold from
    the data instead of a frozen constant."""
    from .relational import BASKET_MAX_PARTS

    return f"""
WITH baskets AS (
  SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
  FROM lineitem GROUP BY l_orderkey
  HAVING len(list(DISTINCT l_partkey)) <= {BASKET_MAX_PARTS}
),
pairs AS (
  SELECT u1.p AS a, u2.p AS b
  FROM baskets, UNNEST(parts) u1(p), UNNEST(parts) u2(p)
  WHERE u1.p < u2.p
),
edges AS (
  SELECT a, b FROM pairs GROUP BY a, b
  HAVING count(*) >= ({support_sql})
),
adj AS (
  SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges
),
deg AS (
  SELECT a AS z, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1
),
ctr AS (
  SELECT adj.a AS z, adj.b AS nb, {RA_SCALE} // d.deg AS term
  FROM adj JOIN deg d ON d.z = adj.a
),
wedges AS (
  SELECT l.nb AS a, r.nb AS b, l.term
  FROM ctr l JOIN ctr r ON l.z = r.z AND l.nb < r.nb
),
scored AS (
  SELECT w.a, w.b, CAST(count(*) AS BIGINT) AS n_common,
    CAST(sum(w.term) AS BIGINT) AS ra_score_scaled
  FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.a = w.a AND e.b = w.b)
  GROUP BY 1, 2
)
SELECT a, b, n_common, ra_score_scaled,
  CAST(ra_score_scaled AS DOUBLE) / {RA_SCALE} AS ra_score
FROM scored
ORDER BY ra_score_scaled DESC, a, b
LIMIT {RA_TOP_N}
"""


ORACLE["ra_link_prediction"] = _ra_oracle()
QUERIES["ra_link_prediction"] = ra_link_prediction


RA_SUPPORT_BASKET_DIV = 10_000  # support = max(2, n_baskets div this)


def ra_link_prediction_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of ``ra_link_prediction``: the co-occurrence
    support threshold SCALES with corpus size (support = max(2,
    n_baskets div RA_SUPPORT_BASKET_DIV)) so edge admission stays
    rate-based as facts grow over a fixed part catalog — the SCALE.md
    round-8 probe measured the fixed-support form densifying toward
    the catalog clique (wedge work Σdeg²) exactly as predicted for
    dims-fixed growth. Registered in round 9 with its OWN oracle
    (VERDICT r8 item 2): the oracle derives the identical rate-based
    support with a scalar subquery (``greatest(2, n_baskets //
    RA_SUPPORT_BASKET_DIV)``), so the lever itself — not just the
    floored toy-SF behavior — is hash-checked at any SF. At the driver
    SF the formula floors to the fixed support and the output equals
    ``ra_link_prediction`` (also pinned by test); above ~20k baskets
    the thresholds diverge and so do the two entries.

    The threshold is derived IN-PLAN (round 10, VERDICT r9 item 2): a
    1-row ``greatest(TRI_MIN_SUPPORT, count(DISTINCT l_orderkey) div
    RA_SUPPORT_BASKET_DIV)`` aggregate broadcast into the
    edge-admission filter — exactly the oracle's scalar subquery — so
    query construction triggers zero jobs (the eager
    ``distinct().count()`` this replaces made every plan-only consumer
    pay a lineitem scan)."""
    support_df = (
        load_table(spark, sf_dir, "lineitem")
        .agg(
            F.expr(
                f"greatest(CAST({TRI_MIN_SUPPORT} AS BIGINT), "
                f"count(DISTINCT l_orderkey) div {RA_SUPPORT_BASKET_DIV})"
            ).alias("support")
        )
    )
    return _ra_from_edges(_ra_edges(spark, sf_dir, support_df=support_df))


_RA_SUPPORT_SUBQUERY = (
    f"SELECT greatest({TRI_MIN_SUPPORT}, "
    f"count(DISTINCT l_orderkey) // {RA_SUPPORT_BASKET_DIV}) FROM lineitem"
)
ORACLE["ra_link_prediction_scaled"] = _ra_oracle(_RA_SUPPORT_SUBQUERY)
QUERIES["ra_link_prediction_scaled"] = ra_link_prediction_scaled
