#!/usr/bin/env python3
"""Job driver: the spark-submit entry point for the dedup pipeline.

Usage (north_rule: runs via ``spark-submit --py-files``):

    spark-submit --driver-memory 24g --py-files umi_collapse_rs_spark.zip \
        jobs/run_dedup.py \
        --input /path/to/pages_parquet --output /tmp/dedup_out \
        --algo dir --checkpoint-dir /tmp/dedup_ckpt

``--driver-memory`` matters under spark-submit: the JVM exists before
session.py's ``spark.driver.memory=24g`` default can apply, so the
1 GiB spark-submit default OOMs around 100k fixture pages in local
mode (where the driver heap IS all executor memory).  Python launches
(``python jobs/run_dedup.py``) get the session.py default
automatically.

    # or generate the synthetic fixture corpus in-process:
    spark-submit jobs/run_dedup.py --fixture 5000 --output /tmp/dedup_out

Reference analog: the CLI + dispatch at ``/root/reference/src/main.rs:
17-103`` and ``cli.rs:5-77`` — the (algo x merge) trait matrix becomes
plain arguments; flag validation (main.rs:41-47) becomes argparse.

Writes ``clusters/ canonical_pages/ pairs/ metrics/ lineage/`` parquet
tables under --output and prints one summary JSON line to stdout.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="PySpark near-duplicate dedup pipeline")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet path with pages (url, warc_ts, html, text, lang)")
    src.add_argument("--fixture", type=int, help="generate N synthetic fixture pages instead")
    ap.add_argument("--output", required=True, help="output directory for result tables")
    ap.add_argument("--algo", choices=["dir", "adj", "cc"], default="dir")
    ap.add_argument(
        "--merge",
        choices=["earliest", "quality", "any"],
        default="earliest",
        help="exact-dup representative rule (reference merge/mod.rs matrix: "
        "mapqual/avgqual/any analogs)",
    )
    ap.add_argument("--directional-p", type=float, default=0.5)
    ap.add_argument("--hamming-k", type=int, default=3)
    ap.add_argument("--shingle-k", type=int, default=3)
    ap.add_argument("--minhash-perms", type=int, default=128)
    ap.add_argument("--lsh-bands", type=int, default=32)
    ap.add_argument("--jaccard-threshold", type=float, default=0.5)
    ap.add_argument("--checkpoint-dir", default=None, help="stage-checkpoint root (resumable)")
    ap.add_argument("--master", default=None, help="override spark master (default: env/local[*])")
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="spark.sql.shuffle.partitions, also the fingerprint UDF stage's task "
                         "count (default: SPARK_GRAFT_CPUS, else 32)")
    ap.add_argument(
        "--warmup",
        action="store_true",
        help="run a tiny end-to-end pipeline before the timed run (steady-state "
        "measurement: excludes one-time JVM codegen + Python-worker fork costs)",
    )
    args = ap.parse_args(argv)

    from umi_collapse_rs_spark.config import DedupConfig
    from umi_collapse_rs_spark.plans.pipeline import run_dedup_pipeline
    from umi_collapse_rs_spark.session import get_spark

    cfg = DedupConfig(
        algo=args.algo,
        merge=args.merge,
        directional_p=args.directional_p,
        hamming_k=args.hamming_k,
        shingle_k=args.shingle_k,
        minhash_perms=args.minhash_perms,
        lsh_bands=args.lsh_bands,
        jaccard_threshold=args.jaccard_threshold,
        checkpoint_dir=args.checkpoint_dir,
    )
    spark = get_spark(master=args.master, shuffle_partitions=args.shuffle_partitions)
    if args.fixture is not None:
        from umi_collapse_rs_spark.fixtures import pages_spark_df

        pages = pages_spark_df(spark, args.fixture)
    else:
        pages = spark.read.parquet(args.input)

    if args.warmup:
        from umi_collapse_rs_spark.fixtures import pages_spark_df

        warm_cfg = DedupConfig(algo=args.algo)
        run_dedup_pipeline(spark, pages_spark_df(spark, 2000), warm_cfg).clusters.count()

    t0 = time.monotonic()
    n_pages = pages.count()
    res = run_dedup_pipeline(spark, pages, cfg)
    for name, df in [
        ("clusters", res.clusters),
        ("canonical_pages", res.canonical_pages),
        ("pairs", res.pairs),
        ("metrics", res.metrics),
        ("lineage", res.lineage),
    ]:
        df.write.mode("overwrite").parquet(f"{args.output}/{name}")
    wall = time.monotonic() - t0
    clusters = spark.read.parquet(f"{args.output}/clusters")
    n_clusters = clusters.select("canonical_url").distinct().count()
    summary = {
        "pages": n_pages,
        "clusters": n_clusters,
        "dup_pages": n_pages - n_clusters,
        "algo": args.algo,
        "merge": args.merge,
        "wall_sec": round(wall, 2),
        "pages_per_sec": round(n_pages / wall, 1),
        "stages": res.stage_metrics,
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
