"""Spark clustering operators vs the pure-Python oracle on randomized
graphs — the greedy-fidelity check for SURVEY §2.1 D1."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from umi_collapse_rs_spark import oracle
from umi_collapse_rs_spark.operators.cluster import (
    adjacency_assign,
    connected_components,
    propagate_min_label,
)
from umi_collapse_rs_spark.operators.edges import directional_edges


def _random_graph(seed: int, n: int = 60, n_edges: int = 90):
    rng = np.random.default_rng(seed)
    nodes = {f"n{i:03d}": int(rng.zipf(1.7)) for i in range(n)}
    pairs = set()
    while len(pairs) < n_edges:
        a, b = rng.integers(0, n, 2)
        if a == b:
            continue
        u, v = sorted((f"n{a:03d}", f"n{b:03d}"))
        pairs.add((u, v))
    plist = [(u, v, int(rng.integers(0, 4))) for (u, v) in sorted(pairs)]
    return nodes, plist


def _spark_dfs(spark, nodes, plist):
    fp = spark.createDataFrame(
        [(k, v) for k, v in nodes.items()], "url string, freq long"
    )
    pairs = spark.createDataFrame(plist, "src string, dst string, dist int")
    return fp, pairs


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_directional_matches_greedy_oracle(spark, seed):
    nodes, plist = _random_graph(seed)
    fp, pairs = _spark_dfs(spark, nodes, plist)
    gated = directional_edges(pairs, fp)
    got = {
        r["url"]: r["root_id"]
        for r in propagate_min_label(fp.select("url", "freq"), gated).collect()
    }
    want = oracle.greedy_directional(nodes, plist)
    assert got == want


def test_cc_matches_union_find(spark):
    nodes, plist = _random_graph(11, n=50, n_edges=40)
    fp, pairs = _spark_dfs(spark, nodes, plist)
    got = {
        r["url"]: r["root_id"]
        for r in connected_components(fp.select("url", "freq"), pairs).collect()
    }
    want = oracle.connected_components_py(nodes, plist)
    assert got == want


@pytest.mark.parametrize("seed", [5, 6])
def test_adjacency_matches_greedy_oracle(spark, seed):
    nodes, plist = _random_graph(seed, n=40, n_edges=50)
    fp, pairs = _spark_dfs(spark, nodes, plist)
    got = {
        r["url"]: r["root_id"]
        for r in adjacency_assign(fp.select("url", "freq"), pairs).collect()
    }
    want = oracle.greedy_adjacency(nodes, plist)
    assert got == want


def test_adjacency_round_cap_resolves_adversarial_chain(spark):
    """A 200-node strictly priority-decreasing path is the adjacency
    worst case: frontier peeling resolves ~one node per round.  With a
    small round cap the residual fallback (min-key label propagation
    over the live subgraph) must still assign EVERY node, terminate,
    and be deterministic across runs."""
    n = 200
    nodes = {f"p{i:03d}": n + 10 - i for i in range(n)}  # strictly decreasing freq
    plist = [(f"p{i:03d}", f"p{i+1:03d}", 1) for i in range(n - 1)]
    fp, pairs = _spark_dfs(spark, nodes, plist)
    got = {
        r["url"]: r["root_id"]
        for r in adjacency_assign(fp.select("url", "freq"), pairs, max_iterations=10).collect()
    }
    assert set(got) == set(nodes)  # full assignment despite the cap
    # within the cap the peeling is exact greedy: pairs (p0 absorbs p1,
    # p2 absorbs p3, ...) for the resolved prefix
    assert got["p001"] == "p000" and got["p003"] == "p002"
    again = {
        r["url"]: r["root_id"]
        for r in adjacency_assign(fp.select("url", "freq"), pairs, max_iterations=10).collect()
    }
    assert got == again  # deterministic
    # a short chain (cap not hit) still matches pure greedy end to end
    s_nodes = {k: v for k, v in list(nodes.items())[:12]}
    s_plist = plist[:11]
    s_fp, s_pairs = _spark_dfs(spark, s_nodes, s_plist)
    full = {
        r["url"]: r["root_id"]
        for r in adjacency_assign(s_fp.select("url", "freq"), s_pairs, max_iterations=50).collect()
    }
    assert full == oracle.greedy_adjacency(s_nodes, s_plist)


def test_deep_chain_converges(spark):
    """Pointer jumping: a 40-deep frequency-halving chain converges well
    under the iteration cap (log-depth rounds)."""
    freqs = [2**20 >> i for i in range(20)] + [1] * 20
    nodes = {f"c{i:02d}": max(f, 1) for i, f in enumerate(freqs)}
    plist = [(f"c{i:02d}", f"c{i+1:02d}", 1) for i in range(39)]
    fp, pairs = _spark_dfs(spark, nodes, plist)
    gated = directional_edges(pairs, fp)
    got = {
        r["url"]: r["root_id"]
        for r in propagate_min_label(fp.select("url", "freq"), gated, max_iterations=12).collect()
    }
    want = oracle.greedy_directional(nodes, plist)
    assert got == want

