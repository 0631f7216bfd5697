"""Golden end-to-end tests on the planted fixture corpus
(FIXTURES.md §2 assertions a/b/c + the input_hint invariant)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from umi_collapse_rs_spark import oracle
from umi_collapse_rs_spark.config import DedupConfig
from umi_collapse_rs_spark.operators.exact import exact_collapse, with_norm
from umi_collapse_rs_spark.plans.pipeline import run_dedup_pipeline

# sha256 of the sorted (url, canonical_url) rows of
# run_dedup_pipeline(fixture_500, DedupConfig()) — numpy fingerprints
# with the window pass; identical at local[4] / 8 partitions and
# local[2] / 3 partitions, and at the shuffle settings tested below
_CLUSTERS_SHA256 = "2ef8b8e605612eadeba6a59e955061a0be9217439e5efaea9015ac23fa23fe29"


def clusters_digest(clusters) -> str:
    blob = "".join(f"{u}\t{c}\n" for u, c in sorted(zip(clusters.url, clusters.canonical_url)))
    return hashlib.sha256(blob.encode()).hexdigest()


def test_cluster_assignments_are_pinned(pipeline_500):
    assert clusters_digest(pipeline_500["clusters"]) == _CLUSTERS_SHA256


def test_cluster_assignments_are_pinned_across_shuffle_settings(
    spark, fixture_500, shuffle_setting
):
    """Determinism guard: the same hash when every exchange (and the
    fingerprint stage, which follows the session's shuffle partitions)
    runs at another task count, with and without AQE."""
    res = run_dedup_pipeline(spark, fixture_500[0], DedupConfig())
    assert clusters_digest(res.clusters.toPandas()) == _CLUSTERS_SHA256


def test_recall_vs_planted_truth(pipeline_500):
    clusters, truth = pipeline_500["clusters"], pipeline_500["truth"]
    truth_pairs = set(zip(truth.src_url, truth.dst_url))
    assign = dict(zip(clusters.url, clusters.canonical_url))
    found = oracle.pair_set(assign)
    recall = oracle.dup_pair_recall(found, truth_pairs)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99"


def test_cluster_assignments_match_reference_oracle(spark, pipeline_500):
    """FIXTURES §2 (b): exact assignment equality vs the reference-
    semantics greedy directional oracle, on the same verified pairs."""
    pages, pairs = pipeline_500["pages"], pipeline_500["pairs"]
    reps, _ = exact_collapse(with_norm(pages))
    nodes = {r["url"]: r["freq"] for r in reps.select("url", "freq").collect()}
    plist = list(zip(pairs.src, pairs.dst, pairs.dist))
    want = oracle.greedy_directional(nodes, plist)
    clusters = pipeline_500["clusters"]
    got = {u: c for u, c in zip(clusters.url, clusters.canonical_url) if u in nodes}
    assert got == want


def test_canonical_is_highest_freq_then_min_url(pipeline_500):
    """FIXTURES §2 (c): canonical = highest exact-dup-freq member,
    tie -> lexicographically smallest url."""
    clusters = pipeline_500["clusters"]
    for canonical, grp in clusters.groupby("canonical_url"):
        best = grp.sort_values(["exact_dup_count", "url"], ascending=[False, True])
        # the canonical member's (freq, url) must be the best rep-level key
        crow = grp[grp.url == canonical]
        assert len(crow) == 1
        assert crow.exact_dup_count.iloc[0] == best.exact_dup_count.iloc[0]


def test_every_page_assigned_exactly_once(pipeline_500):
    clusters = pipeline_500["clusters"]
    assert len(clusters) == 500
    assert clusters.url.is_unique
    assert (clusters.cluster_size >= 1).all()
    assert (clusters.exact_dup_count >= 1).all()
    # cluster_size equals the actual member count of the cluster
    sizes = clusters.groupby("canonical_url").size()
    for canonical, grp in clusters.groupby("canonical_url"):
        assert (grp.cluster_size == sizes[canonical]).all()


def test_byte_identical_text_invariant(spark, pipeline_500):
    """input_hint per-row invariant: the extracted text reaching the
    output join is byte-identical to the input text, per url."""
    pages = pipeline_500["pages"]
    res = pipeline_500["res"]
    joined = (
        res.canonical_pages.select("url", F.col("text").alias("out_text"))
        .join(pages.select("url", "text"), "url")
        .withColumn("same", F.col("out_text") == F.col("text"))
    )
    assert joined.filter(~F.col("same")).count() == 0
    # and regeneration is bit-identical (fixture purity)
    from umi_collapse_rs_spark.fixtures import generate_pages

    p1, _ = generate_pages(500)
    p2, _ = generate_pages(500)
    h1 = hashlib.sha256("\x00".join(p1.text).encode()).hexdigest()
    h2 = hashlib.sha256("\x00".join(p2.text).encode()).hexdigest()
    assert h1 == h2


def test_exact_dup_groups_share_cluster(pipeline_500):
    clusters, truth = pipeline_500["clusters"], pipeline_500["truth"]
    assign = dict(zip(clusters.url, clusters.canonical_url))
    exact = truth[truth.kind == "exact"]
    for s, d in zip(exact.src_url, exact.dst_url):
        assert assign[s] == assign[d], f"exact pair split: {s} {d}"


def test_edge_rows_survive(pipeline_500):
    """Empty/whitespace/1-token/huge/CJK rows must all be assigned."""
    clusters = pipeline_500["clusters"]
    urls = [f"https://site{(i * 7919) % 97}.example/p{i:07d}" for i in range(490, 500)]
    got = clusters[clusters.url.isin(urls)]
    assert len(got) == 10


def test_dense_cluster_ids_match_sha_partition(pipeline_500):
    """SURVEY §2 C4 dense-id variant (canonical.with_dense_cluster_ids):
    ids are exactly 0..n_clusters-1 and induce the SAME partition of
    urls as the default sha-derived ids (a pure relabeling of the
    reference's running-offset ClusterTracker id space)."""
    from umi_collapse_rs_spark.operators.canonical import with_dense_cluster_ids

    res = pipeline_500["res"]
    dense = with_dense_cluster_ids(res.clusters).toPandas()
    sha = pipeline_500["clusters"]
    n = sha["cluster_id"].nunique()
    assert sorted(dense["cluster_id"].unique()) == list(range(n))
    # same partition: the (sha_id -> dense_id) mapping is a bijection
    merged = sha[["url", "cluster_id"]].merge(
        dense[["url", "cluster_id"]], on="url", suffixes=("_sha", "_dense")
    )
    assert len(merged) == len(sha)
    g = merged.groupby("cluster_id_sha")["cluster_id_dense"].nunique()
    assert (g == 1).all()
    g2 = merged.groupby("cluster_id_dense")["cluster_id_sha"].nunique()
    assert (g2 == 1).all()
