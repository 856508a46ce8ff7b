"""Oracle-parity + semantic tests for graph operators (PageRank)."""

from bigdata_group4_app_spark.operators import graph

from .conftest import SF_CORRECT, SF_SMOKE, check_registered


def test_pagerank_oracle_parity(spark):
    check_registered(spark, "trade_network_pagerank", SF_CORRECT)


def test_pagerank_replay(spark):
    """Three iterations replayed in pure Python over the collected edge
    list must reproduce every rank (independent of Spark's join path)."""
    edges = {
        (r["src"], r["dst"]): r["w"]
        for r in graph._trade_edges(spark, SF_SMOKE).collect()
    }
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out_w = {}
    for (s, _), w in edges.items():
        out_w[s] = out_w.get(s, 0.0) + w
    out_w = {s: round(w, 4) for s, w in out_w.items()}
    p = {(s, d): round(w / out_w[s], 8) for (s, d), w in edges.items()}
    n = len(nodes)
    dangling = [v for v in nodes if v not in out_w]
    # smoke SF: most nations import without exporting — the dangling
    # redistribution path genuinely executes
    assert dangling
    rank = {v: round(1.0 / n, 8) for v in nodes}
    for _ in range(graph.PR_ITERS):
        mass = {v: 0.0 for v in nodes}
        for (s, d), pr in p.items():
            mass[d] += rank[s] * pr
        dm = sum(rank[v] for v in dangling)
        rank = {
            v: round(
                (1.0 - graph.PR_DAMPING) / n
                + graph.PR_DAMPING * (mass[v] + dm / n),
                8,
            )
            for v in nodes
        }
    got = {
        r["node"]: r["rank"]
        for r in graph.trade_network_pagerank(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(rank)
    for v in nodes:
        assert abs(got[v] - rank[v]) < 1e-6

    # full PageRank conserves probability mass exactly
    assert abs(sum(got.values()) - 1.0) < 1e-4
    # ranks differentiate (not the uniform fixed point)
    assert max(got.values()) > min(got.values())


def test_triangle_census_matches_itertools_replay(spark):
    """Replay the co-purchase triangle census with sets + itertools."""
    from itertools import combinations

    from bigdata_group4_app_spark.operators import graph as g
    from bigdata_group4_app_spark.operators.relational import BASKET_MAX_PARTS
    from bigdata_group4_app_spark.sources.registry import load_table

    from .conftest import SF_CORRECT

    li = load_table(spark, SF_CORRECT, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    baskets: dict = {}
    for r in li:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    from collections import Counter

    pair_n = Counter()
    for parts in baskets.values():
        if len(parts) <= BASKET_MAX_PARTS:
            for a, b in combinations(sorted(parts), 2):
                pair_n[(a, b)] += 1
    edges = {p for p, n in pair_n.items() if n >= g.TRI_MIN_SUPPORT}
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tris = sum(
        1
        for (a, b) in edges
        for c in (adj[a] & adj[b])
        if b < c
    )
    wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    row = g.copurchase_triangles(spark, SF_CORRECT).collect()[0]
    assert row["n_nodes"] == len(adj)
    assert row["n_edges"] == len(edges)
    assert row["n_wedges"] == wedges
    assert row["n_triangles"] == tris
    assert row["global_clustering"] == round(3.0 * tris / max(wedges, 1), 4)
