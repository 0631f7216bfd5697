#!/usr/bin/env python3
"""Job driver: streaming incremental dedup via spark-submit
(streaming/incremental.py + the log-structured state store).

    # drain every page drop currently under --input, one micro-batch
    # per --max-files files, then exit (availableNow):
    spark-submit --driver-memory 24g --py-files ucs.zip \
        jobs/run_stream_incremental.py \
        --input /data/drops --state /data/state \
        --output /data/out --checkpoint /data/ckpt

    # always-on continuous query (never exits; stop with SIGTERM):
    spark-submit ... jobs/run_stream_incremental.py --continuous ...

The state under --state must already be bootstrapped
(``jobs/run_incremental.py --bootstrap``).  Every micro-batch runs the
same O(batch) assignment plan as the batch job and commits one delta
segment; assignments land under ``--output/batch_id=N``.  Restarts
with the SAME checkpoint are exactly-once end to end: the query
checkpoint replays unfinished micro-batches, the per-batch output dirs
overwrite idempotently, and the state manifest's batch-id high-water
mark (scoped to the streaming query id) rejects double commits.

A LOST checkpoint is weaker: batch ids restart at 0 under a new query
id, so the mark alone proves nothing.  The sink then compares each
batch's content fingerprint against the committed ones — a
byte-identical re-delivery (same files, same --max-files) is absorbed
as a no-op; anything else FAILS FAST rather than guessing, because a
shifted batching could mix already-committed pages with new ones.
Pass --allow-new-stream only after verifying the input is genuinely
new data; it re-bases the lineage and absorbs the batches.

No reference analog (umi-collapse-rs is single-corpus per run).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="streaming incremental dedup")
    ap.add_argument("--input", required=True, help="directory watched for pages parquet drops")
    ap.add_argument("--state", required=True, help="bootstrapped state root")
    ap.add_argument("--output", required=True, help="assignments root (batch_id=N subdirs)")
    ap.add_argument("--checkpoint", required=True, help="streaming query checkpoint dir")
    ap.add_argument("--continuous", action="store_true",
                    help="run forever instead of draining available drops and exiting")
    ap.add_argument("--max-files", type=int, default=1,
                    help="max drop files per micro-batch (source-side backpressure); 0 = unbounded")
    ap.add_argument("--merge", choices=["earliest", "quality", "any"], default="earliest")
    ap.add_argument("--compact-segments", type=int, default=16,
                    help="auto-compact when the manifest carries >= N delta segments; 0 = never")
    ap.add_argument("--allow-new-stream", action="store_true",
                    help="permit a NEW checkpoint lineage to absorb batches whose "
                         "content matches no committed batch (verify the input is "
                         "genuinely new first — this disables the fail-fast guard)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="spark.sql.shuffle.partitions, also the fingerprint UDF stage's task "
                         "count (default: SPARK_GRAFT_CPUS, else 32)")
    args = ap.parse_args(argv)

    from umi_collapse_rs_spark.config import DedupConfig
    from umi_collapse_rs_spark.plans.state_store import StateStore
    from umi_collapse_rs_spark.session import get_spark
    from umi_collapse_rs_spark.streaming.incremental import start_incremental_stream

    spark = get_spark(master=args.master, shuffle_partitions=args.shuffle_partitions)
    cfg = DedupConfig(
        merge=args.merge,
        window_tokens=0,
    )
    store = StateStore(spark, args.state)
    gc_removed = store.gc()  # drop dirs stranded by a killed writer
    hwm_before = store.last_batch_id()
    t0 = time.monotonic()
    q = start_incremental_stream(
        spark,
        args.input,
        args.state,
        args.output,
        args.checkpoint,
        cfg,
        compact_segments=args.compact_segments,
        max_files_per_trigger=args.max_files or None,
        available_now=not args.continuous,
        allow_new_stream=args.allow_new_stream,
    )
    q.awaitTermination()
    m = store.manifest()
    # q.recentProgress is capped at spark.sql.streaming.numRecentProgressUpdates
    # (default 100), so long availableNow drains under-report there — the
    # authoritative per-batch record is the output batch_id=N partitions.
    progress = q.recentProgress or []
    batches = [
        {
            "batch_id": p["batchId"],
            # progress counts source ROWS READ, which exceeds the drop's
            # row count when the plan scans the micro-batch relation more
            # than once (exact probe + fingerprints + final expansion);
            # true per-batch page counts live in <output>/batch_id=N
            "source_rows_read": p["numInputRows"],
            "wall_sec": round((p.get("batchDuration") or 0) / 1000, 2),
        }
        for p in progress
        if p.get("numInputRows", 0) > 0
    ]
    out_batch_ids = sorted(
        int(name.split("=", 1)[1])
        for name in store._listdir(args.output)
        if name.startswith("batch_id=")
    )
    summary = {
        "mode": "stream_incremental",
        "hwm_before": hwm_before,
        "hwm_after": store.last_batch_id(),
        # authoritative (uncapped): one entry per batch ever written
        "output_batch_ids": out_batch_ids,
        "micro_batches": batches,
        "progress_capped": len(progress) >= 100,
        "state_version": m["version"],
        "state_segments": len(m["segments"]),
        "state_total_bytes": store.total_bytes(),
        "recovered_dirs": len(gc_removed),
        "wall_sec": round(time.monotonic() - t0, 2),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
