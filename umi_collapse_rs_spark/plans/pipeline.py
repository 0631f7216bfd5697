"""The end-to-end dedup pipeline (SURVEY §7.1 stage list).

Reference analog: ``deduplicate_and_merge`` (``/root/reference/src/
deduplicate_sam.rs:72-269``) — ingest/filter/group/exact-collapse, then
per-group clustering, then writes.  Here each phase is a DataFrame
stage; the reference's serial per-group loop (its scalability ceiling —
everything in one arena on one thread) becomes shuffle-partitioned
dataflow with no driver-side per-group work.

    stage 0  ingest      pages (url, warc_ts, html, text, lang)
    stage 1  normalize   text_norm + text_sha            [codegen only]   normalized_pages *
    stage 2  exact       exact-dup collapse -> reps+freq [1 shuffle]      exact_collapse *
    stage 3  fingerprint simhash / minhash bands / sigs  [1 pandas UDF]   fingerprints *
    stage 4  candidates  banded self-joins, skew-capped                   candidates *
    stage 5  edges       verify + directional gate                        verify_pairs *
    stage 6  cluster     min-label propagation (dir|adj|cc)               pair_nodes *
    stage 7  canonical   clusters table
    stage 8  window      long-verbatim-overlap pairs (feeds stage 5)      bulk-only
    stage 9  outputs     clusters / metrics / lineage

``*``: plans/incremental.py builds its batch chain with the same
function; each caller keeps its own cuts and ``propagate_min_label`` call.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from umi_collapse_rs_spark.config import DedupConfig
from umi_collapse_rs_spark.functions.udfs import make_combined_fingerprint_udf
from umi_collapse_rs_spark.operators.candidates import (
    combined_band_pairs,
    window_overlap_pairs,
)
from umi_collapse_rs_spark.operators.canonical import build_clusters_table
from umi_collapse_rs_spark.operators.cluster import (
    adjacency_assign,
    connected_components,
    propagate_min_label,
)
from umi_collapse_rs_spark.operators.edges import (
    combined_candidates_with_dist,
    directional_edges,
    verify_pairs,
)
from umi_collapse_rs_spark.operators.exact import exact_collapse, with_norm
from umi_collapse_rs_spark.plans.checkpoint import StageCheckpointer
from umi_collapse_rs_spark.session import session_shuffle_partitions


@dataclass
class DedupResult:
    clusters: DataFrame        # (url, cluster_id, canonical_url, cluster_size, exact_dup_count)
    canonical_pages: DataFrame # kept representatives (one row per cluster)
    pairs: DataFrame           # verified near-dup pairs (src, dst, dist, sources, sig_sim)
    metrics: DataFrame         # per-stage rows_in/rows_out/wall_ms
    lineage: DataFrame         # (url, partition_id, checkpoint_epoch)
    stage_metrics: list[dict] = field(default_factory=list)
    # internals exposed for plans/incremental.build_state (state =
    # sha index + canonical fingerprints persisted between crawl runs)
    reps: DataFrame | None = None   # (text_sha, url, warc_ts, text_norm, lang, freq)
    fp: DataFrame | None = None     # (url, freq, simhash, mh_bands, mh_sig[, win_hashes])


def normalized_pages(pages: DataFrame) -> DataFrame:
    """Stage 1 projection: normalize once, keeping only the columns
    downstream stages read.  html and the raw text stay behind in the
    source scan (the output join re-reads text from the source)."""
    in_cols = [c for c in ("url", "warc_ts", "text", "lang") if c in pages.columns]
    keep = ["url", "warc_ts", *(["lang"] if "lang" in in_cols else []), "text_sha", "text_norm", "text_len"]
    return with_norm(pages.select(*in_cols)).select(*keep)


def fingerprints(reps: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Stage 3: (url, freq, simhash, mh_bands, mh_sig[, win_hashes iff
    ``cfg.window_tokens``]).  'numpy': the pandas UDF (the only Python in
    the pipeline); 'sql': Column expressions bit-reproducible in the
    DuckDB oracle (functions/sqlfp.py)."""
    fp_cols = ["url", "freq", "simhash", "mh_bands", "mh_sig"]
    if cfg.window_tokens:
        fp_cols.append("win_hashes")
    if cfg.fingerprint == "sql":
        from umi_collapse_rs_spark.functions.sqlfp import with_sql_fingerprints

        return with_sql_fingerprints(
            reps, "text_norm", cfg.shingle_k, cfg.lsh_bands
        ).select(*fp_cols)
    fp_udf = make_combined_fingerprint_udf(
        cfg.shingle_k, cfg.minhash_perms, cfg.lsh_bands, cfg.hash_seed,
        window_tokens=cfg.window_tokens, window_stride=cfg.window_stride,
    )
    # re-spread rows before the UDF: the exact-collapse output is
    # partitioned by text_sha ranges whose byte sizes can skew; a
    # straggler Arrow batch would serialize the whole stage.  The count
    # is the session's shuffle partitions, as in every pinned compute
    # stage: SPARK_GRAFT_CPUS makes it one task per core, which suits
    # small inputs, where each Python task's fixed ~0.25 s of set-up
    # (functions/udfs.py "Scale note") outweighs its rows; large inputs
    # pass --shuffle-partitions.  An explicit count keeps the exchange
    # REPARTITION_BY_NUM, which AQE never coalesces.
    n_tasks = session_shuffle_partitions(reps.sparkSession)
    return reps.repartition(n_tasks, "url").select(
        "url", "freq", fp_udf("text_norm").alias("_fp")
    ).select("url", "freq", *[F.col(f"_fp.{c}").alias(c) for c in fp_cols[2:]])


def candidates(fp: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Stage 4: simhash + minhash band pairs (one source-tagged exchange),
    plus window pairs iff ``cfg.window_tokens``, unioned + dedup'd +
    Hamming-gated.  Cut the result before :func:`verify_pairs`, whose two
    branches would otherwise each re-run the candidate DAG (measured 2x)."""
    sources = [
        combined_band_pairs(fp, cfg.simhash_bands, cfg.bucket_pair_cap, cfg.chain_width)
    ]
    if cfg.window_tokens:
        sources.append(
            window_overlap_pairs(
                fp, cfg.min_shared_windows, cfg.bucket_pair_cap, cfg.chain_width
            ).select("src", "dst", "source")
        )
    return combined_candidates_with_dist(sources, fp, cfg.hamming_k)


def pair_nodes(pairs: DataFrame, fp: DataFrame) -> DataFrame:
    """Stage 6 node set (url, freq): ONLY nodes of a verified pair.
    Unique pages (most of a real crawl) stay out of the iterative loop
    and become singletons through the caller's left-join + coalesce —
    ~10 TB instead of ~160 TB of label shuffle per round at 10^12 docs
    (SCALE.md)."""
    ids = (
        pairs.select(F.col("src").alias("url"))
        .unionByName(pairs.select(F.col("dst").alias("url")))
        .dropDuplicates(["url"])
    )
    return fp.select("url", "freq").join(ids, "url", "left_semi")


def run_dedup_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig = DedupConfig(),
) -> DedupResult:
    """Run the full near-duplicate pipeline on a pages DataFrame.

    ``pages`` must have (url, warc_ts, text) and may have (html, lang).
    Returns lazily-evaluated output DataFrames; with
    ``cfg.checkpoint_dir`` set, intermediate stages persist to parquet
    and a rerun resumes after the last completed stage.
    """
    ckpt = StageCheckpointer(spark, cfg.checkpoint_dir, cfg.output_config_token())
    stage_metrics: list[dict] = []

    def record(stage: str, t0: float, rows_in: int | None = None, rows_out: int | None = None):
        stage_metrics.append(
            {
                "stage": stage,
                "wall_ms": (time.monotonic() - t0) * 1e3,
                "rows_in": rows_in,
                "rows_out": rows_out,
            }
        )

    # stage 1: normalize ONCE and persist the working set — reps,
    # members, lineage, and the metrics aggregation all derive from this
    # single pass.  Measured trade-offs on this corpus shape: re-scanning
    # the source per consumer costs more than this one materialization
    # (the parquet decode + normalize regex dominate, and they scale
    # with cores), while a metadata-only checkpoint + broadcast text
    # re-fetch was NET SLOWER because of the second full scan (see
    # BENCH notes).
    pages_norm = ckpt.materialize("s1_norm", lambda: normalized_pages(pages))

    # stage 2: exact collapse (one hash-agg exchange, map-side partial
    # agg; the shuffle carries one text_norm per distinct sha per map
    # partition); members is a free projection of the stage-1 checkpoint
    reps, members = exact_collapse(pages_norm, cfg.merge)
    reps = ckpt.materialize("s2_exact_reps", lambda: reps)

    fp = ckpt.materialize("s3_fingerprints", lambda: fingerprints(reps, cfg))
    # stage 4 is cut (materialized) before the verify branches
    cands = ckpt.materialize("s4_candidates", lambda: candidates(fp, cfg))

    # stage 5: verify (simhash/window passthrough; LSH-only pairs get
    # the MinHash-signature check)
    pairs = ckpt.materialize(
        "s5_verified_pairs", lambda: verify_pairs(cands, fp, cfg.jaccard_threshold)
    )

    # stage 6: clustering over the verified-pair node set only
    nodes = pair_nodes(pairs, fp)
    t0 = time.monotonic()
    if cfg.algo == "dir":
        gated = directional_edges(pairs, fp, cfg.directional_p)
        assignments = propagate_min_label(nodes, gated, "url", cfg.max_cc_iterations)
    elif cfg.algo == "cc":
        assignments = connected_components(nodes, pairs, "url", cfg.max_cc_iterations)
    else:  # adj
        assignments = adjacency_assign(nodes, pairs, "url", cfg.max_cc_iterations)
    record("s6_cluster", t0)

    # stage 7: clusters table over every input url
    clusters = build_clusters_table(members, reps, assignments)
    clusters = ckpt.materialize("s7_clusters", lambda: clusters)

    out_cols = [c for c in ("url", "warc_ts", "text", "lang") if c in pages.columns]
    canonical_pages = (
        clusters.filter(F.col("url") == F.col("canonical_url"))
        .select("url", "cluster_id", "cluster_size")
        # re-read the raw text from the source scan (byte-identical
        # per-url invariant): one canonical url per cluster, so this is
        # a semi-join-sized read, and the source keeps predicate/column
        # pushdown — cheaper than materializing text through stage 1
        .join(pages.select(*out_cols), "url", "left")
    )

    # stage 9: metrics + lineage (north_rule: per-partition lineage +
    # metrics tables).  checkpoint_epoch counts completed resumable
    # stages at build time — a resumed run shows which inputs came from
    # disk vs fresh compute.
    epoch = sum(1 for r in ckpt.runs if r.get("resumed"))
    lineage = members.select(
        "url",
        F.spark_partition_id().alias("partition_id"),
        F.lit(epoch).alias("checkpoint_epoch"),
    )
    stage_metrics.extend(ckpt.runs)
    per_partition = pages_norm.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count(F.lit(1)).alias("rows_in"),
        F.count_if(F.length("text_norm") == 0).alias("empty_text_rows"),
        F.round(F.avg(F.length("text_norm")), 2).alias("avg_text_len"),
    )
    # per-stage wall/rows as a small metrics dimension, unioned in the
    # same table shape (partition_id = -1 marks stage-level rows)
    stage_rows = [
        (
            -1,
            str(m.get("stage")),
            float(m.get("wall_ms") or 0.0),
            bool(m.get("resumed", False)),
        )
        for m in stage_metrics
    ]
    stage_df = spark.createDataFrame(
        stage_rows, "partition_id int, stage string, wall_ms double, resumed boolean"
    )
    metrics = per_partition.withColumn("stage", F.lit("s1_ingest")).withColumn(
        "wall_ms", F.lit(None).cast("double")
    ).withColumn("resumed", F.lit(False)).unionByName(
        stage_df.withColumn("rows_in", F.lit(None).cast("long"))
        .withColumn("empty_text_rows", F.lit(None).cast("long"))
        .withColumn("avg_text_len", F.lit(None).cast("double")),
        allowMissingColumns=False,
    )
    return DedupResult(
        clusters=clusters,
        canonical_pages=canonical_pages,
        pairs=pairs,
        metrics=metrics,
        lineage=lineage,
        stage_metrics=stage_metrics,
        reps=reps,
        fp=fp,
    )
