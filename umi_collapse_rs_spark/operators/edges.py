"""Stage 5 — edge construction: union pair sources, verify, gate.

Reference analog: the eligibility predicate inside ``remove_near``
(``/root/reference/src/data/naive.rs:31``):
``dist <= k && (dist == 0 || freq <= max_freq)`` where directional
clustering passes ``max_freq = (p * (freq_parent + 1)) as i32``
(``directional.rs:38``, p defaults to 0.5, cli.rs:25-26) — the UMI-tools
rule ``2*f_child <= f_parent + 1``, f32 truncation included (SURVEY
§2.1 D5).  The gate is reproduced here exactly, as a Column expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hamming_col(a: str, b: str) -> Column:
    """SimHash Hamming distance of two long columns."""
    return F.bit_count(F.col(a).bitwiseXOR(F.col(b)))


def sig_sim_col(a: str, b: str) -> Column:
    """Fraction of equal positions of two MinHash signatures (the
    Jaccard estimate), a zip_with/filter Column expression, JVM-side."""
    n_eq = F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda eq: eq))
    return n_eq / F.size(a)


def absorb_limit(p: float, f: str) -> Column:
    """Largest child freq a parent of freq ``f`` absorbs:
    ``(p * (f+1)) as i32`` (directional.rs:38, f32 truncation)."""
    return F.floor(F.lit(p) * (F.col(f) + 1)).cast("long")


def combined_candidates_with_dist(
    pair_dfs: list[DataFrame],
    fp: DataFrame,
    hamming_k: int,
    id_col: str = "url",
) -> DataFrame:
    """Union RAW kind-tagged candidate-pair sources
    (candidates.combined_band_pairs + the window pass) into one row per
    (src, dst) with source provenance and SimHash Hamming distance.

    Dedup happens ONCE here across all sources (one shuffle instead of
    one per source).  ``dist`` is always populated: the directional rule
    needs dist==0 to absorb identical fingerprints unconditionally
    (naive.rs:31); this universal join carries ONLY the 8-byte simhash
    per side.  Pairs arrive un-verified, so the Hamming gate happens
    here too: 'simhash' counts as evidence only when dist <= k (a
    piece-shared pair beyond the Hamming ball has that provenance
    stripped), and a pair whose remaining evidence set is empty is
    dropped.

    The output feeds two verify branches in :func:`verify_pairs`;
    materialize it between the two calls (the pipeline checkpoints it
    as stage s4) — otherwise Catalyst executes this whole subtree, and
    every candidate generator under it, once per branch.
    """
    all_pairs = pair_dfs[0]
    for p in pair_dfs[1:]:
        all_pairs = all_pairs.unionByName(p)
    best = all_pairs.groupBy("src", "dst").agg(
        F.array_sort(F.collect_set("source")).alias("sources"),
    )
    sh_a = fp.select(F.col(id_col).alias("src"), F.col("simhash").alias("_sh_a"))
    sh_b = fp.select(F.col(id_col).alias("dst"), F.col("simhash").alias("_sh_b"))
    with_dist = (
        best.join(sh_a, "src")
        .join(sh_b, "dst")
        .withColumn("dist", hamming_col("_sh_a", "_sh_b"))
        .drop("_sh_a", "_sh_b")
    )
    gated_sources = F.when(
        F.col("dist") <= hamming_k, F.col("sources")
    ).otherwise(F.array_remove("sources", "simhash"))
    return (
        with_dist.withColumn("sources", gated_sources)
        .filter(F.size("sources") > 0)
    )


def verify_pairs(
    with_dist: DataFrame,
    fp: DataFrame,
    jaccard_threshold: float,
    id_col: str = "url",
) -> DataFrame:
    """Verify unioned candidate pairs.

    SimHash pairs arrive already Hamming-verified; window pairs are
    accepted outright (they share >= min_shared verbatim 64-token
    windows — stronger evidence than a global-Jaccard estimate, which
    is exactly the signal LSH misses on long-overlap-in-long-doc
    pairs); LSH-only pairs are checked by MinHash signature similarity.

    ``fp`` needs (id_col, mh_sig: array<long>).  The signature join
    happens on candidate PAIRS (a small fraction of the corpus), never
    all-pairs; ``sig_sim`` is :func:`sig_sim_col`.
    """
    accepted_outright = F.array_contains("sources", "simhash") | F.array_contains(
        "sources", "window"
    )
    passthrough = with_dist.filter(accepted_outright).withColumn(
        "sig_sim", F.lit(None).cast("double")
    )
    # the ~1 KB/row MinHash-signature join runs ONLY for pairs whose sole
    # evidence is an LSH bucket hit (a small minority in duplicate-heavy
    # corpora — simhash/window pairs skip it); at 10^12 docs this keeps
    # the fat payload out of the big pair shuffle
    sig_a = fp.select(F.col(id_col).alias("src"), F.col("mh_sig").alias("_sig_a"))
    sig_b = fp.select(F.col(id_col).alias("dst"), F.col("mh_sig").alias("_sig_b"))
    verified_lsh = (
        with_dist.filter(~accepted_outright)
        .join(sig_a, "src")
        .join(sig_b, "dst")
        .withColumn("sig_sim", sig_sim_col("_sig_a", "_sig_b"))
        .filter(F.col("sig_sim") >= F.lit(jaccard_threshold))
        .drop("_sig_a", "_sig_b")
    )
    return passthrough.unionByName(verified_lsh).select(
        "src", "dst", "dist", "sources", "sig_sim"
    )


def directional_edges(pairs: DataFrame, fp: DataFrame, p: float = 0.5, id_col: str = "url") -> DataFrame:
    """Directed parent->child edges under the reference's exact gate.

    For an undirected verified pair (a, b) with exact-dup frequencies
    (f_a, f_b), emit a->b iff ``dist == 0 OR f_b <= trunc(p * (f_a + 1))``
    — byte-for-byte the reference's predicate (naive.rs:31:
    ``dist <= k && (dist == 0 || freq <= max_freq)`` with
    ``max_freq = (p * (f+1)) as i32``, directional.rs:38; the threshold
    is recomputed from *each visited node's own frequency*, which makes
    the gate edge-local and therefore expressible as a static edge
    filter; see SURVEY §2.1 D1/D5).  With p=0.5 the gate is
    ``2*f_b <= f_a + 1``.

    Returns (src, dst) directed edges.
    """
    fa = fp.select(F.col(id_col).alias("src"), F.col("freq").alias("_f_src"))
    fb = fp.select(F.col(id_col).alias("dst"), F.col("freq").alias("_f_dst"))
    pf = pairs.join(fa, "src").join(fb, "dst")
    zero = F.col("dist") == 0
    fwd = pf.filter(zero | (F.col("_f_dst") <= absorb_limit(p, "_f_src"))).select("src", "dst")
    bwd = pf.filter(zero | (F.col("_f_src") <= absorb_limit(p, "_f_dst"))).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return fwd.unionByName(bwd)
