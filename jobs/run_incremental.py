#!/usr/bin/env python3
"""Job driver: incremental dedup via spark-submit (plans/incremental.py
+ the log-structured state store, plans/state_store.py).

Modes:

    # bootstrap: full pipeline over the corpus, persist the state BASE
    spark-submit --driver-memory 24g --py-files ucs.zip \
        jobs/run_incremental.py --bootstrap corpus.parquet --state /data/state

    # per-snapshot: assign a new batch against persisted state, write
    # assignments + ONE O(batch) delta segment, commit atomically
    spark-submit --driver-memory 24g --py-files ucs.zip \
        jobs/run_incremental.py --input batch.parquet --state /data/state \
        --output /data/out/2026-08-17

    # explicit compaction (also auto-triggered by --compact-segments)
    spark-submit ... jobs/run_incremental.py --compact --state /data/state

State layout under --state (see plans/state_store.py): an immutable
``base-g*/`` (sha_index + canonicals parquet), per-batch ``seg-*/``
delta dirs (sha_new + freq_delta + canon_new — all O(batch)), and a
``manifest/`` whose highest version IS the committed state.  Every
commit is one atomic single-file rename AFTER all data is written, so
a killed run at any step leaves the previous state readable and the
partial dirs unreferenced (startup gc() removes them).  Per-batch
state-write bytes are O(batch) — reported as ``state_write_bytes`` in
the summary JSON and measured in BENCH/INCREMENTAL.md.

``--compact-segments N`` folds the log into a fresh base once the
manifest carries >= N segments (one O(corpus) write amortized over N
batches) — the parquet spelling of Iceberg table compaction.

No reference analog (umi-collapse-rs is single-corpus per run); the
config flags mirror jobs/run_dedup.py.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="incremental dedup against persisted state")
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--bootstrap", help="corpus parquet: build initial state via the full pipeline")
    mode.add_argument("--input", help="new-batch parquet with pages (url, warc_ts, html, text, lang)")
    mode.add_argument("--compact", action="store_true",
                      help="fold committed segments into a fresh base, then exit")
    ap.add_argument("--state", required=True, help="state root (manifest/ + base-g*/ + seg-*/)")
    ap.add_argument("--output", help="batch output dir (assignments/); required with --input")
    ap.add_argument("--merge", choices=["earliest", "quality", "any"], default="earliest")
    ap.add_argument("--compact-segments", type=int, default=16,
                    help="auto-compact when the manifest carries >= N delta segments; 0 = never")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="spark.sql.shuffle.partitions, also the fingerprint UDF stage's task "
                         "count (default: SPARK_GRAFT_CPUS, else 32)")
    args = ap.parse_args(argv)
    if args.input and not args.output:
        ap.error("--output is required with --input")

    from umi_collapse_rs_spark.config import DedupConfig
    from umi_collapse_rs_spark.plans.state_store import StateStore
    from umi_collapse_rs_spark.session import get_spark

    # the rule is always directional (DedupConfig's default algo)
    cfg = DedupConfig(
        merge=args.merge,
        window_tokens=0,
    )
    spark = get_spark(master=args.master, shuffle_partitions=args.shuffle_partitions)
    t0 = time.monotonic()
    store = StateStore(spark, args.state)

    if args.bootstrap:
        from umi_collapse_rs_spark.plans.incremental import build_state
        from umi_collapse_rs_spark.plans.pipeline import run_dedup_pipeline

        pages = spark.read.parquet(args.bootstrap)
        res = run_dedup_pipeline(spark, pages, cfg)
        m = store.bootstrap(build_state(res))
        summary = {
            "mode": "bootstrap",
            "pages": pages.count(),
            "clusters": store.read().canonicals.count(),
            "state_write_bytes": m["bytes_written"],
            "wall_sec": round(time.monotonic() - t0, 2),
        }
    elif args.compact:
        m = store.compact()
        summary = {
            "mode": "compact",
            "version": m["version"],
            "state_write_bytes": m["bytes_written"],
            "gc_removed": len(m.get("gc_removed", [])),
            "wall_sec": round(time.monotonic() - t0, 2),
        }
    else:
        from umi_collapse_rs_spark.streaming.incremental import absorb_batch

        # startup recovery: a killed previous run may have stranded an
        # uncommitted segment/base or a manifest .tmp — unreferenced by
        # the current manifest, safe to drop
        gc_removed = store.gc()
        m, compacted = absorb_batch(
            spark, store, spark.read.parquet(args.input), cfg,
            f"{args.output}/assignments",
            compact_segments=args.compact_segments,
        )
        a = spark.read.parquet(f"{args.output}/assignments")
        vias = {r["via"]: r["count"] for r in a.groupBy("via").count().collect()}
        wall = time.monotonic() - t0
        n = a.count()
        summary = {
            "mode": "incremental",
            "batch_pages": n,
            "via": vias,
            "state_version": m["version"],
            "state_segments": len(m["segments"]),
            "state_write_bytes": m["bytes_written"],
            "state_total_bytes": store.total_bytes(),
            "recovered_dirs": len(gc_removed),
            **({"compacted_bytes": compacted["bytes_written"]} if compacted else {}),
            "wall_sec": round(wall, 2),
            "pages_per_sec": round(n / wall, 1),
        }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
