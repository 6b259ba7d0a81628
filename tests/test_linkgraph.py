"""Link-graph operators: PageRank, connected components, triangles.

Each test checks against a pure-Python reference on a small deterministic
graph (independent of the DuckDB oracle in __spark_entry__)."""

from __future__ import annotations

import pytest

from distributed_web_crawling_and_indexing_system_gcp_spark.operators import (
    linkgraph as LG,
)


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _py_pagerank(pairs, iterations=5, damping=0.85):
    nodes = sorted({u for e in pairs for u in e})
    n = len(nodes)
    out = {}
    for s, _ in pairs:
        out[s] = out.get(s, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    base = (1.0 - damping) / n
    for _ in range(iterations):
        inflow = {v: 0.0 for v in nodes}
        for s, d in pairs:
            inflow[d] += rank[s] / out[s]
        rank = {v: base + damping * inflow[v] for v in nodes}
    return rank


GRAPH = [
    (1, 2), (2, 3), (3, 1),          # 3-cycle
    (4, 1), (4, 2), (4, 3),          # hub pointing into the cycle
    (1, 4),                          # so node 4 is not dangling
]


def test_pagerank_matches_python_reference(spark):
    got = {
        r["node"]: r["rank"]
        for r in LG.pagerank(_edges_df(spark, GRAPH), iterations=5).collect()
    }
    want = _py_pagerank(GRAPH, iterations=5)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_pagerank_sums_to_one_without_dangling(spark):
    # no dangling nodes in GRAPH → total rank mass is conserved
    total = sum(
        r["rank"]
        for r in LG.pagerank(_edges_df(spark, GRAPH), iterations=3).collect()
    )
    assert total == pytest.approx(1.0, abs=1e-9)


def test_connected_components_two_islands(spark):
    pairs = [(1, 2), (2, 3), (10, 11), (12, 11), (20, 20)]
    labels = {
        r["node"]: r["component"]
        for r in LG.connected_components(_edges_df(spark, pairs)).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20}


def test_connected_components_long_path_converges(spark):
    # path 0-1-2-...-9 exercises multi-round propagation (diameter 9)
    pairs = [(i, i + 1) for i in range(9)]
    labels = {
        r["node"]: r["component"]
        for r in LG.connected_components(_edges_df(spark, pairs)).collect()
    }
    assert labels == {i: 0 for i in range(10)}


def test_triangle_count(spark):
    # K4 has 4 triangles; extra pendant edge adds none; duplicate and
    # reversed edges must not double-count
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    pairs = k4 + [(3, 2), (1, 0), (4, 5), (0, 0)]
    [row] = LG.triangle_count(_edges_df(spark, pairs)).collect()
    assert row["n_triangles"] == 4


def test_triangle_count_empty(spark):
    [row] = LG.triangle_count(
        _edges_df(spark, [(1, 2), (2, 3)])
    ).collect()
    assert row["n_triangles"] == 0


# ---------------------------------------------------------------------------
# large-star/small-star (Kiveris et al.) — adversarial-diameter components
# ---------------------------------------------------------------------------

def test_cc_star_matches_label_prop_on_random_graph(spark):
    import random

    rng = random.Random(7)
    pairs = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    df = _edges_df(spark, pairs)
    lab = {
        r["node"]: r["component"]
        for r in LG.connected_components(df, algorithm="label").collect()
    }
    star = {
        r["node"]: r["component"]
        for r in LG.connected_components(df, algorithm="star").collect()
    }
    assert star == lab


def test_cc_star_long_path_converges_in_log_rounds(spark):
    """512-node path (diameter 511): label propagation needs ~511 rounds;
    the star algorithm must finish within 14 iterations (≈log₂ n + slack)
    with exact labels — the VERDICT r4 #4 'done' criterion."""
    n = 512
    pairs = [(i, i + 1) for i in range(n - 1)]
    labels = {
        r["node"]: r["component"]
        for r in LG.connected_components(
            _edges_df(spark, pairs), max_iterations=14, algorithm="star"
        ).collect()
    }
    assert labels == {i: 0 for i in range(n)}


def test_cc_auto_falls_back_to_star_on_long_diameter(spark):
    # diameter 99 ≫ star_fallback_after=4: auto must still return exact
    # labels (label-prop alone at 4 rounds would be wrong)
    pairs = [(i, i + 1) for i in range(99)] + [(200, 201)]
    labels = {
        r["node"]: r["component"]
        for r in LG.connected_components(
            _edges_df(spark, pairs),
            max_iterations=14,
            algorithm="auto",
            star_fallback_after=4,
        ).collect()
    }
    want = {i: 0 for i in range(100)}
    want.update({200: 200, 201: 200})
    assert labels == want


def test_cc_star_isolated_and_self_loop_nodes(spark):
    pairs = [(5, 5), (1, 2)]
    labels = {
        r["node"]: r["component"]
        for r in LG.connected_components(
            _edges_df(spark, pairs), algorithm="star"
        ).collect()
    }
    assert labels == {1: 1, 2: 1, 5: 5}


def test_cc_rejects_unknown_algorithm(spark):
    with pytest.raises(ValueError):
        LG.connected_components(_edges_df(spark, [(1, 2)]), algorithm="bogus")


def test_iterative_plans_do_not_grow_with_iterations(spark):
    """localCheckpoint must truncate lineage: the optimized plan of an
    8-iteration PageRank must not be materially larger than a
    2-iteration one (the classic iterative-Spark failure mode is a plan
    that grows linearly per iteration)."""
    df = _edges_df(spark, GRAPH)

    def plan_size(iters):
        out = LG.pagerank(df, iterations=iters)
        return len(out._jdf.queryExecution().optimizedPlan().toString())

    small, big = plan_size(2), plan_size(8)
    assert big <= small * 1.5, (small, big)


def _py_components(pairs):
    """Pure-Python union-find: node → smallest node id in its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@pytest.mark.parametrize("algorithm", ["auto", "label", "star"])
def test_cc_url_string_ids_match_union_find(spark, algorithm):
    """Crawl graphs name nodes by URL: string ids must converge to the
    true components, not stop after one round of propagation."""
    chain = [f"http://h{i % 3}.test/p{9 - i}" for i in range(10)]
    pairs = list(zip(chain, chain[1:]))
    pairs += [("http://z.test/b", "http://z.test/a"),
              ("http://z.test/c", "http://z.test/b"),
              ("http://solo.test/", "http://solo.test/")]
    df = spark.createDataFrame(pairs, "src string, dst string")
    labels = {
        r["node"]: r["component"]
        for r in LG.connected_components(df, algorithm=algorithm).collect()
    }
    assert labels == _py_components(pairs)
