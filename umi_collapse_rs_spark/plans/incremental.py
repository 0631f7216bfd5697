"""Incremental dedup — assign a NEW crawl batch against persisted
cluster state without re-clustering the corpus.

No reference analog (``umi-collapse-rs`` is single-corpus, one arena
per run); this is the operation a 10^12-document pipeline actually
performs every crawl: the full pipeline ran once, its state (an exact
sha index + canonical fingerprints) is persisted in Iceberg, and each
new snapshot is deduped AGAINST that state plus within itself.  Cost
per batch is O(batch) probes, not O(corpus) — re-running the full
pipeline at 100 TB to absorb a 1 TB snapshot re-shuffles the corpus;
this plan shuffles the batch.

Assignment contract (deterministic; "state wins"):

1. **exact**  — batch page whose normalized text sha already exists in
   the state's sha index joins that sha's cluster.  A byte-identical
   page is a duplicate of its twin regardless of which cluster the
   twin landed in.
2. **near**   — remaining batch reps probe the canonical fingerprints
   with the same banded candidate scheme as the full pipeline
   (SimHash pigeonhole pieces + MinHash bands, operators/candidates.
   cross_banded_pairs), verified by the same predicate
   (Hamming <= k OR signature similarity >= threshold) and gated by
   the same directional rule — the state canonical absorbs the batch
   rep iff ``dist == 0 OR f_batch <= trunc(p * (f_state + 1))``
   (reference semantics, directional.rs:38; state is history, so only
   the state->batch direction exists).  Among several absorbing
   canonicals the highest-priority one wins (cluster.priority_key:
   max freq, then min url — the same key the full pipeline's
   min-label clustering uses).
3. **new**    — batch reps matched by neither step form new clusters
   through the full pipeline's builders (plans/pipeline.py
   ``candidates`` -> ``verify_pairs`` -> directional gate ->
   ``pair_nodes`` -> min-label clustering), as the batch is normalized
   and fingerprinted by ``normalized_pages`` / ``fingerprints``.  The
   rule is always directional, and the window pass is bulk-only (state
   canonicals carry no window hashes).

Divergence from a full-corpus rerun, documented: a batch rep absorbed
by state ("state wins") does not also bridge two batch-only clusters,
and absorption is one-hop (no transitive growth through the new rep).
Both match the reference's own greedy "delete as you absorb" behavior
for nodes processed later — the batch is, by definition, later.

State is composable: ``IncrementalResult.state_out`` is the same shape
as the input state with frequencies grown by absorbed batch mass and
new clusters appended, so batches chain (test_incremental exercises
two chained batches).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from umi_collapse_rs_spark.config import DedupConfig
from umi_collapse_rs_spark.operators.candidates import cross_banded_pairs
from umi_collapse_rs_spark.operators.cluster import priority_key, propagate_min_label
from umi_collapse_rs_spark.operators.edges import (
    absorb_limit,
    directional_edges,
    hamming_col,
    sig_sim_col,
    verify_pairs,
)
from umi_collapse_rs_spark.operators.exact import exact_collapse
from umi_collapse_rs_spark.plans.pipeline import (
    candidates,
    fingerprints,
    normalized_pages,
    pair_nodes,
)
from umi_collapse_rs_spark.session import session_shuffle_partitions


@dataclass
class DedupState:
    """Persisted between-run dedup state (both tables live in Iceberg /
    parquet in production; ~40 B/row sha index + ~1 KB/row canonicals)."""

    sha_index: DataFrame   # (text_sha, canonical_url) — one row per distinct corpus text
    canonicals: DataFrame  # (url, freq, simhash, mh_bands, mh_sig) — one row per cluster
    # Set on states read from a StateStore: sha_index then also carries
    # a string ``sha_pfx`` column (the first ``sha_pfx_len`` hex chars of
    # text_sha) and the probe prunes its scan to the batch's own
    # prefixes — see incremental_assign.  None for in-memory states.
    sha_pfx_len: int | None = None


@dataclass
class StateDelta:
    """The O(batch)-sized state change one batch produces — what the
    log-structured store persists per snapshot (plans/state_store.py;
    r3 verdict item #1: the full-table rewrite betrayed the plan's
    O(batch) property at the write step).  Production mapping: one
    Iceberg transaction = INSERT sha_new + MERGE freq_delta + INSERT
    canon_new."""

    sha_new: DataFrame     # (text_sha, canonical_url) — disjoint from the index by construction
    freq_delta: DataFrame  # (url, added) — one row per canonical that absorbed batch mass
    canon_new: DataFrame   # (url, freq, simhash, mh_bands, mh_sig) — new clusters


@dataclass
class IncrementalResult:
    assignments: DataFrame  # (url, canonical_url, via) — one row per NEW page
    state_out: DedupState   # input state + absorbed mass + new clusters (in-memory fold of delta)
    delta: StateDelta       # the O(batch) persistable change (state_out = fold(state_in, delta))
    # the batch's distinct sha prefixes when the state came from a
    # StateStore (None otherwise) — what the exact probe's index scan
    # was pruned to; feed to StateStore.sha_read_bytes for evidence
    probe_prefixes: list[str] | None = None


def build_state(res) -> DedupState:
    """Derive persistable state from a full-pipeline DedupResult
    (plans/pipeline.run_dedup_pipeline return value; needs its ``reps``
    and ``fp`` internals)."""
    rep_clusters = res.clusters.select("url", "canonical_url", "cluster_size")
    sha_index = (
        res.reps.select("text_sha", "url")
        .join(rep_clusters.select("url", "canonical_url"), "url")
        .select("text_sha", "canonical_url")
    )
    canonical_urls = rep_clusters.filter(
        F.col("url") == F.col("canonical_url")
    ).select("url", F.col("cluster_size").alias("freq"))
    canonicals = res.fp.drop("freq").join(canonical_urls, "url").select(
        "url", "freq", "simhash", "mh_bands", "mh_sig"
    )
    return DedupState(sha_index=sha_index, canonicals=canonicals)


def incremental_assign(
    spark: SparkSession,
    state: DedupState,
    new_pages: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    index_bucket_cap: int | None = None,
) -> IncrementalResult:
    """Assign every page of ``new_pages`` to an existing or new cluster.

    ``new_pages`` needs (url, warc_ts, text) and may have (html, lang);
    batch urls must be disjoint from state urls (new crawl snapshot).
    ``index_bucket_cap``: skew bound for the state-probe join (see
    cross_banded_pairs); None = exact (oracle configuration).

    The batch runs through plans/pipeline.py's ``normalized_pages``,
    ``fingerprints``, ``candidates`` and ``pair_nodes`` with
    ``window_tokens=0`` (the window pass is bulk-only), cut by lazy
    local checkpoints; the rule is always directional.

    Shuffle budget: exact step 1 hash-agg + 1 broadcast-or-shuffle hash
    join on text_sha; near step 2 bucket-key exchanges + pair-sized
    fingerprint joins; residual step = the full pipeline's stage 4-6
    shape on the (typically small) unmatched remainder only.
    """
    cfg = replace(cfg, window_tokens=0)
    reps_n, members_n = exact_collapse(normalized_pages(new_pages), cfg.merge)
    # the batch rep set feeds 3+ consumers (exact probe, fingerprints,
    # final expansion) — cut once
    reps_n = reps_n.localCheckpoint(eager=False)

    # --- step 1: exact sha probe -----------------------------------
    # A StateStore state's index is prefix-partitioned: prune its scan
    # to the batch's own prefixes (a batch sha can only match an index
    # row sharing its prefix, for the join AND the anti-join).
    # The collect is bounded metadata — at most 16^pfx_len short
    # strings (16 at a few thousand pages, ~10^6 at 10^12 docs; the
    # store derives pfx_len from the index size), never rows — the same
    # driver-side footprint as an AQE statistic.  Index bytes read become
    # ~ touched_partitions × (index_bytes / partitions), tracking batch
    # mass while the batch is smaller than the prefix space
    # (BENCH/INCREMENTAL.md measures the curve and the saturation
    # floor; SCALE.md has the 10^12-doc partition-count math).
    sha_idx = state.sha_index
    probe_prefixes: list[str] | None = None
    if state.sha_pfx_len:
        probe_prefixes = sorted(
            r[0]
            for r in reps_n.select(
                F.substring("text_sha", 1, state.sha_pfx_len).alias("p")
            )
            .distinct()
            .collect()
        )
        sha_idx = sha_idx.filter(F.col("sha_pfx").isin(probe_prefixes))
    sha_idx = sha_idx.select("text_sha", "canonical_url")
    sha_hit = reps_n.join(sha_idx, "text_sha").select(
        F.col("url").alias("rep_url"),
        "canonical_url",
        F.lit("exact").alias("via"),
    )
    rest = reps_n.join(sha_idx.select("text_sha"), "text_sha", "left_anti")

    # --- step 2: banded near probe against canonicals ---------------
    # eager: the probe's two concurrent broadcast stages over fp_n would
    # each run the fingerprint UDF before a lazy cut exists
    fp_n = fingerprints(rest, cfg).localCheckpoint(eager=True)
    cand = cross_banded_pairs(
        fp_n, state.canonicals, cfg.simhash_bands, index_bucket_cap
    )
    sh_p = fp_n.select(
        F.col("url").alias("probe_id"),
        F.col("simhash").alias("_sh_p"),
        F.col("mh_sig").alias("_sig_p"),
        F.col("freq").alias("_f_p"),
    )
    sh_i = state.canonicals.select(
        F.col("url").alias("index_id"),
        F.col("simhash").alias("_sh_i"),
        F.col("mh_sig").alias("_sig_i"),
        F.col("freq").alias("_f_i"),
    )
    verified = (
        cand.join(sh_p, "probe_id")
        .join(sh_i, "index_id")
        .withColumn("_dist", hamming_col("_sh_p", "_sh_i"))
        .withColumn("_sig_sim", sig_sim_col("_sig_p", "_sig_i"))
        .filter(
            (F.col("_dist") <= cfg.hamming_k)
            | (F.col("_sig_sim") >= F.lit(cfg.jaccard_threshold))
        )
    )
    # directional gate, state->batch direction only
    gated = verified.filter(
        (F.col("_dist") == 0) | (F.col("_f_p") <= absorb_limit(cfg.directional_p, "_f_i"))
    )
    near_hit = (
        gated.groupBy("probe_id")
        .agg(F.min_by("index_id", priority_key("_f_i", "index_id")).alias("canonical_url"))
        .select(
            F.col("probe_id").alias("rep_url"), "canonical_url", F.lit("near").alias("via")
        )
        # cut: feeds both the residual anti-join and the rep_assign
        # union — without it the whole probe join re-executes per
        # consumer (the same fan-out trap the pipeline's stage
        # materialization solves)
        .localCheckpoint(eager=False)
    )

    # --- step 3: residual within-batch clustering -------------------
    fp_r = fp_n.join(near_hit.select(F.col("rep_url").alias("url")), "url", "left_anti")
    fp_r = fp_r.localCheckpoint(eager=False)  # feeds the candidate build + verify
    # cut between candidate union and the two verify branches, and
    # again after verify (pairs feed the gate, the node set, and the
    # clustering loop) — mirrors the pipeline's s4/s5 stage cuts
    r_cands = candidates(fp_r, cfg).localCheckpoint(eager=False)
    r_pairs = verify_pairs(r_cands, fp_r, cfg.jaccard_threshold).localCheckpoint(eager=False)
    r_edges = directional_edges(r_pairs, fp_r, cfg.directional_p)
    r_roots = propagate_min_label(
        pair_nodes(r_pairs, fp_r), r_edges, "url", cfg.max_cc_iterations
    )
    new_hit = (
        fp_r.select("url")
        .join(r_roots, "url", "left")
        .select(
            F.col("url").alias("rep_url"),
            F.coalesce("root_id", "url").alias("canonical_url"),
            F.lit("new").alias("via"),
        )
    )

    # --- assemble: one row per NEW page ------------------------------
    # cut: rep_assign feeds assignments + absorbed + new_sizes + sha_new.
    # The broadcast exact join streams the pruned index scan, so the
    # union has one partition per index split (plus the other
    # branches') — coalesce (no shuffle) to the session's task count so
    # the assignment and segment writes are sized by the batch, not by
    # the index's file layout.
    rep_assign = (
        sha_hit.unionByName(near_hit)
        .unionByName(new_hit)
        .coalesce(session_shuffle_partitions(spark))
        .localCheckpoint(eager=False)
    )
    assignments = (
        members_n.join(reps_n.select("text_sha", F.col("url").alias("rep_url")), "text_sha")
        .join(rep_assign, "rep_url")
        .select("url", "canonical_url", "via")
    )

    # --- state delta (all O(batch)) + state_out fold ------------------
    rep_freq = reps_n.select(F.col("url").alias("rep_url"), "freq")
    absorbed = (
        rep_assign.filter(F.col("via") != "new")
        .join(rep_freq, "rep_url")
        .groupBy("canonical_url")
        .agg(F.sum("freq").alias("_added"))
        # feeds both the persistable freq_delta and the in-memory fold
        .localCheckpoint(eager=False)
    )
    canon_grown = (
        state.canonicals.join(absorbed, state.canonicals["url"] == absorbed["canonical_url"], "left")
        .select(
            state.canonicals["url"],
            (F.col("freq") + F.coalesce("_added", F.lit(0))).alias("freq"),
            "simhash", "mh_bands", "mh_sig",
        )
    )
    new_sizes = (
        rep_assign.filter(F.col("via") == "new")
        .join(rep_freq, "rep_url")
        .groupBy("canonical_url")
        .agg(F.sum("freq").alias("freq"))
    )
    canon_new = (
        fp_r.drop("freq")
        .join(new_sizes, fp_r["url"] == new_sizes["canonical_url"])
        .select(fp_r["url"], "freq", "simhash", "mh_bands", "mh_sig")
    )
    sha_new = (
        reps_n.select("text_sha", F.col("url").alias("rep_url"))
        .join(rep_assign, "rep_url")
        # exact hits are already present in the input index
        .filter(F.col("via") != "exact")
        .select("text_sha", "canonical_url")
    )
    sha_new_folded = sha_new
    if state.sha_pfx_len:
        # keep the in-memory fold union-compatible with the prefix-
        # partitioned index (the persisted delta stays two-column;
        # StateStore.read re-derives the prefix for segments)
        sha_new_folded = sha_new.withColumn(
            "sha_pfx", F.substring("text_sha", 1, state.sha_pfx_len)
        )
    state_out = DedupState(
        sha_index=state.sha_index.unionByName(sha_new_folded),
        canonicals=canon_grown.unionByName(canon_new),
        sha_pfx_len=state.sha_pfx_len,
    )
    delta = StateDelta(
        sha_new=sha_new,
        freq_delta=absorbed.select(
            F.col("canonical_url").alias("url"), F.col("_added").alias("added")
        ),
        canon_new=canon_new,
    )
    return IncrementalResult(
        assignments=assignments,
        state_out=state_out,
        delta=delta,
        probe_prefixes=probe_prefixes,
    )
