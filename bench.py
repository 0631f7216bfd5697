#!/usr/bin/env python3
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit": "sec", "queries": {name: sec}, "sf"}.

The flagship measurement is the full near-dup pipeline over the
deterministic fixture corpus sized to the sf tier (FIXTURES.md §5:
sf0.1 -> 150k pages, sized so fixed JVM/stage overhead is <15% of the
run); `pages_per_sec` is the BASELINE.json throughput
metric.  Scaling evidence (local[8] vs local[32], north_rule) is
produced by tools/bench_scaling.py (raw JSON, aggregated by
tools/scaling_sessions.py into BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time


def _fixture_pages_for(sf_dir: str) -> int:
    name = os.path.basename(os.path.normpath(sf_dir))
    return {"sf0.001": 500, "sf0.01": 5_000, "sf0.1": 150_000}.get(name, 150_000)


def _fixture_parquet(n_pages: int) -> str:
    path = f"/tmp/ucs_bench_pages_{n_pages}.parquet"
    if not os.path.exists(path):
        from umi_collapse_rs_spark.fixtures import generate_pages

        pdf, _ = generate_pages(n_pages)
        # small row groups so the scan splits across all cores (parquet
        # splits at row-group granularity)
        pdf.to_parquet(
            path,
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
            row_group_size=8192,
        )
    return path


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    sf = float(sf_name.replace("sf", "")) if sf_name.startswith("sf") else 0.1

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry_mod
    from umi_collapse_rs_spark.config import DedupConfig
    from umi_collapse_rs_spark.plans.pipeline import run_dedup_pipeline
    from umi_collapse_rs_spark.session import get_spark

    # shuffle partitions stay at the session default (32) for this tier:
    # A/B at 150k pages on 32 cores measured sp=96 40% SLOWER (37.4 s vs
    # 26.6 s flagship) — with ~5k rows/partition the task overhead
    # dominates any balance gain.  The 3x-cores rule pays where
    # partitions would otherwise be few and fat (the 1-vs-4-core scaling
    # harness, tools/bench_scaling.py); granularity is a per-tier knob,
    # not a constant.
    spark = get_spark(app_name="bench")
    timings: dict[str, float] = {}

    def timed(key: str, build) -> None:
        t0 = time.monotonic()
        # count() materializes the full result without driver collection
        build().count()
        timings[key] = round(time.monotonic() - t0, 2)

    # --- flagship: full dedup pipeline on the fixture corpus ---
    n_pages = _fixture_pages_for(sf_dir)
    pages_path = _fixture_parquet(n_pages)
    pages = spark.read.parquet(pages_path)

    # steady-state warmup: one tiny end-to-end run first.  The metric is
    # sustained pages/sec on a 10^12-doc table, where one-time JVM
    # codegen + Python-worker fork costs are noise; without this the
    # 150k-page measurement charges ~20 s of cold-start to the first
    # (and only) timed run.
    warm = _fixture_parquet(2_000)
    run_dedup_pipeline(spark, spark.read.parquet(warm), DedupConfig()).clusters.count()

    t0 = time.monotonic()
    res = run_dedup_pipeline(spark, pages, DedupConfig())
    n_clusters = res.clusters.select("canonical_url").distinct().count()
    dt = time.monotonic() - t0
    timings["dedup_pipeline_fixture[numpy]"] = round(dt, 2)
    pages_per_sec = round(n_pages / dt, 1)

    # --- incremental dedup (production identity): state from the
    # flagship run absorbs a mixed batch — 10% recrawls (exact path)
    # plus the sf documents as fresh content (near/new paths).  This
    # times the PER-BATCH cost, the number that matters at 10^12 docs
    # where re-running the full pipeline per snapshot is off the table.
    from pyspark.sql import functions as F

    from umi_collapse_rs_spark.plans.incremental import build_state, incremental_assign

    state = build_state(res)
    recrawl = pages.filter(F.substring("url", -1, 1) == "7").select(
        F.concat(F.lit("recrawl://"), F.col("url")).alias("url"),
        F.col("warc_ts"),
        "html",
        "text",
        "lang",
    )
    fresh = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.format_string("fresh://%07d", "doc_id").alias("url"),
        F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id") * 17).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
    )
    batch = recrawl.drop("html").unionByName(fresh)
    timed(
        "incremental_assign[numpy]",
        lambda: incremental_assign(
            spark, state, batch, DedupConfig(), index_bucket_cap=64
        ).assignments,
    )

    # --- fingerprint-dependent queries: BOTH twins, mode-tagged.
    # The [sql] twins are the driver-oracle identities (sha256-based
    # Column-expression fingerprints — documented ~5x dearer than the
    # production path); the [numpy] twins are the production pandas-UDF
    # identities bench-compatible with the r1 numbers.  Keys carry the
    # mode so per-round deltas compare like with like (r2 verdict
    # item #4: r1->r2 looked regressed only because these queries
    # silently switched identity).
    qs = entry_mod.queries()
    from umi_collapse_rs_spark.functions.udfs import make_combined_fingerprint_udf
    from umi_collapse_rs_spark.operators.candidates import band_keys, bucket_pairs

    def _docs_numpy_fp():
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
        fp_udf = make_combined_fingerprint_udf(3, 128, 32, 42, window_tokens=0, window_stride=32)
        return d.select(
            F.col("doc_id"), F.lit(1).alias("freq"), fp_udf(norm).alias("_fp")
        ).select(
            "doc_id",
            "freq",
            F.col("_fp.simhash").alias("simhash"),
            F.col("_fp.mh_bands").alias("mh_bands"),
            F.col("_fp.mh_sig").alias("mh_sig"),
        )

    timed("dedup_clusters[sql]", lambda: qs["dedup_clusters"](spark, sf_dir))
    timed(
        "dedup_clusters[numpy]",
        lambda: entry_mod.q_dedup_clusters_numpy(spark, sf_dir),
    )
    timed("simhash_fingerprints[sql]", lambda: qs["simhash_fingerprints"](spark, sf_dir))
    timed("simhash_fingerprints[numpy]", lambda: _docs_numpy_fp().select("doc_id", "simhash"))
    timed("minhash_lsh_pairs[sql]", lambda: qs["minhash_lsh_pairs"](spark, sf_dir))
    timed(
        "minhash_lsh_pairs[numpy]",
        # production candidate config (cap=8, chain 4), numpy bands
        lambda: bucket_pairs(
            band_keys(_docs_numpy_fp().localCheckpoint(eager=False), 4, id_col="doc_id")
            .filter(F.col("source") == "minhash"),
            ["_bidx", "_bval"], "doc_id", "simhash", cap=8, chain_width=4,
        ).select("src", "dst").dropDuplicates(["src", "dst"]),
    )

    # --- mode-independent operator queries over the sf-dir tables ---
    for name in [
        "exact_collapse",
        "ngram_jaccard",
        "hamming_self_join",
        "cosine_topk",
        "embedding_lsh_ann",
        "embedding_multitable_ann",
        "embedding_ivf_ann",
        "embedding_ivf_fitted_ann",
        "event_window_agg",
        "window_rank",
        "semi_join",
    ]:
        timed(name, lambda name=name: qs[name](spark, sf_dir))

    total = round(sum(timings.values()), 2)
    print(
        json.dumps(
            {
                "metric": "bench_suite_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "fixture_pages": n_pages,
                "fixture_clusters": n_clusters,
                "pages_per_sec": pages_per_sec,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
