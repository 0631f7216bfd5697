#!/usr/bin/env python3
"""Process-level exactly-once probe (r4 verdict item #5): SIGKILL the
real ``jobs/run_stream_incremental.py`` spark-submit mid-micro-batch,
restart it on the same checkpoint, and assert the final state is
IDENTICAL to an uninterrupted run over the same drops.

The in-process tests (tests/test_streaming_incremental.py) already pin
the sink contract at the foreachBatch/manifest level; this probe kills
the whole JVM — checkpoint WAL, state-store manifest rename, and the
idempotent batch_id=N output dirs all have to cooperate across a real
process boundary.

Plan:
  1. build a bootstrapped state once, ``cp -r`` it to roots A and B
  2. run A: spark-submit, --max-files 1 over ``drops`` files; watch
     the state manifest and SIGKILL the process the moment the K-th
     commit lands (mid-stream: later drops still unprocessed, the
     checkpoint possibly mid-write for batch K+1)
  3. restart A on the same checkpoint; availableNow drains the rest
  4. run B uninterrupted
  5. compare: sha index rows, canonical (url, freq) rows, and the
     union of assignment outputs — must match exactly (bit-identical
     pages, same canonical per url)

Prints one JSON line; exit 0 iff every equality holds.

Usage: python tools/kill_probe.py [--pages 2000] [--drops 4] [--report]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit(master: str, args: list[str], **kw) -> subprocess.Popen:
    cmd = [
        "spark-submit",
        "--master", master,
        "--py-files", "/tmp/ucs_killprobe.zip",
        os.path.join(REPO, "jobs", "run_stream_incremental.py"),
        *args,
    ]
    return subprocess.Popen(
        cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, **kw
    )


def _manifest_version(state_root: str) -> int:
    vs = glob.glob(f"{state_root}/manifest/v*.json")
    return max((int(os.path.basename(v)[1:-5]) for v in vs), default=0)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=2000)
    ap.add_argument("--drops", type=int, default=4)
    ap.add_argument("--kill-after-commits", type=int, default=1)
    ap.add_argument("--workdir", default="/tmp/ucs_killprobe")
    ap.add_argument("--report", action="store_true", help="append result to BENCH/INCREMENTAL.md")
    args = ap.parse_args()

    wd = args.workdir
    shutil.rmtree(wd, ignore_errors=True)
    os.makedirs(wd)
    subprocess.run(
        ["zip", "-qr", "/tmp/ucs_killprobe.zip", "umi_collapse_rs_spark"],
        cwd=REPO, check=True,
    )

    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from umi_collapse_rs_spark.config import DedupConfig
    from umi_collapse_rs_spark.fixtures import pages_spark_df
    from umi_collapse_rs_spark.plans.incremental import build_state
    from umi_collapse_rs_spark.plans.pipeline import run_dedup_pipeline
    from umi_collapse_rs_spark.plans.state_store import StateStore
    from umi_collapse_rs_spark.session import get_spark

    spark = get_spark(app_name="kill_probe", shuffle_partitions=8)
    master = spark.sparkContext.master

    # corpus = last digit 0-8; drops = digit 9, one parquet FILE each
    # (maxFilesPerTrigger=1 -> one micro-batch per drop)
    pages = pages_spark_df(spark, args.pages)
    last, last2 = F.substring("url", -1, 1), F.substring("url", -2, 1)
    corpus = pages.filter(last != "9")
    drops_dir = f"{wd}/drops"
    os.makedirs(drops_dir)
    for k in range(args.drops):
        batch = pages.filter((last == "9") & (last2.cast("int") % args.drops == k))
        tmp = f"{wd}/stage{k}"
        batch.coalesce(1).write.parquet(tmp)
        src = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(src, f"{drops_dir}/drop{k:02d}.parquet")
        shutil.rmtree(tmp)

    cfg = DedupConfig(window_tokens=0)
    state = build_state(run_dedup_pipeline(spark, corpus, cfg))
    store0 = StateStore(spark, f"{wd}/state_boot")
    store0.bootstrap(state)
    shutil.copytree(f"{wd}/state_boot", f"{wd}/state_A")
    shutil.copytree(f"{wd}/state_boot", f"{wd}/state_B")

    def stream_args(tag: str) -> list[str]:
        return [
            "--input", drops_dir,
            "--state", f"{wd}/state_{tag}",
            "--output", f"{wd}/out_{tag}",
            "--checkpoint", f"{wd}/ckpt_{tag}",
            "--max-files", "1",
        ]

    # --- run A, SIGKILL after the K-th state commit --------------------
    v0 = _manifest_version(f"{wd}/state_A")
    pA = _spark_submit(master, stream_args("A"))
    target = v0 + args.kill_after_commits
    deadline = time.monotonic() + 600
    while time.monotonic() < deadline:
        if _manifest_version(f"{wd}/state_A") >= target:
            break
        if pA.poll() is not None:
            print(json.dumps({"error": "stream A exited before kill point"}))
            return 1
        time.sleep(0.05)
    else:
        pA.kill()
        print(json.dumps({"error": "kill point never reached"}))
        return 1
    os.kill(pA.pid, signal.SIGKILL)
    pA.wait()
    v_killed = _manifest_version(f"{wd}/state_A")

    # --- restart A on the same checkpoint: drains the remainder --------
    pA2 = _spark_submit(master, stream_args("A"))
    outA2, _ = pA2.communicate(timeout=900)
    if pA2.returncode != 0:
        print(json.dumps({"error": "restart failed", "rc": pA2.returncode}))
        return 1
    summary_A = json.loads(outA2.strip().splitlines()[-1])

    # --- run B uninterrupted -------------------------------------------
    pB = _spark_submit(master, stream_args("B"))
    outB, _ = pB.communicate(timeout=900)
    if pB.returncode != 0:
        print(json.dumps({"error": "run B failed", "rc": pB.returncode}))
        return 1
    summary_B = json.loads(outB.strip().splitlines()[-1])

    # --- compare final states + assignments -----------------------------
    def canon_pdf(root):
        st = StateStore(spark, root).read()
        return (
            st.canonicals.select("url", "freq").toPandas()
            .sort_values("url").reset_index(drop=True)
        )

    def sha_pdf(root):
        st = StateStore(spark, root).read()
        return (
            st.sha_index.select("text_sha", "canonical_url").toPandas()
            .sort_values(["text_sha", "canonical_url"]).reset_index(drop=True)
        )

    def assigns(tag):
        return (
            spark.read.option("basePath", f"{wd}/out_{tag}")
            .parquet(*glob.glob(f"{wd}/out_{tag}/batch_id=*"))
            .select("url", "canonical_url", "via").toPandas()
            .sort_values("url").reset_index(drop=True)
        )

    import pandas as pd

    checks = {}
    for name, fn in (("sha_index", sha_pdf), ("canonicals", canon_pdf)):
        a, b = fn(f"{wd}/state_A"), fn(f"{wd}/state_B")
        try:
            pd.testing.assert_frame_equal(a, b)
            checks[name] = True
        except AssertionError:
            checks[name] = False
    aA, aB = assigns("A"), assigns("B")
    checks["assignments"] = aA.equals(aB)
    n_drop_pages = pages.filter(last == "9").count()
    checks["every_page_once"] = (
        len(aA) == n_drop_pages and aA["url"].is_unique
    )

    ok = all(checks.values())
    result = {
        "pages": args.pages,
        "drops": args.drops,
        "killed_at_manifest_version": v_killed,
        "hwm_after_restart": summary_A["hwm_after"],
        "hwm_uninterrupted": summary_B["hwm_after"],
        "batches_restart": summary_A["output_batch_ids"],
        "batches_uninterrupted": summary_B["output_batch_ids"],
        "drop_pages": n_drop_pages,
        "checks": checks,
        "ok": ok,
    }
    print(json.dumps(result))

    if args.report and ok:
        with open(os.path.join(REPO, "BENCH", "KILLPROBE.md"), "w") as f:
            f.write(f"""# Process-level kill -9 probe (exactly-once across a real JVM death)

`tools/kill_probe.py`: SIGKILL the actual `spark-submit
jobs/run_stream_incremental.py` process the moment its
{args.kill_after_commits}{"st" if args.kill_after_commits == 1 else "th"} state
commit lands (manifest v{v_killed}, later drops unprocessed, checkpoint
possibly mid-write), restart on the same checkpoint, compare against an
uninterrupted twin over identical input ({args.drops} drops /
{n_drop_pages} pages on a {args.pages}-page fixture).

| check | equal |
|---|---|
| sha index (text_sha, canonical_url) | {checks['sha_index']} |
| canonicals (url, freq) | {checks['canonicals']} |
| assignments (url, canonical_url, via) | {checks['assignments']} |
| every drop page assigned exactly once | {checks['every_page_once']} |

Both runs end at high-water mark {summary_B['hwm_after']} with output
batches {summary_B['output_batch_ids']}.  The probe exercises the full
recovery stack end to end: Structured Streaming replays the in-flight
micro-batch from the checkpoint WAL, the batch_id=N output dir
overwrites idempotently, and the state manifest's lineage-scoped
high-water mark absorbs the replayed commit as a no-op.

Reproduce: `python tools/kill_probe.py --pages {args.pages} --drops {args.drops} --report`
""")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
