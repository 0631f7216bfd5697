#!/usr/bin/env python3
"""Scaling-efficiency evidence (north_rule: throughput efficiency >= 0.8
from N to 4N executors; sandbox stand-in per the driver instruction: the
same job on the SAME input at two pinned-CPU parallelism levels, fresh
JVM each; 1 vs 4 pinned CPUs is the pairing free of this host's DRAM /
SMT ceilings — see BENCH/BASELINE.md).

r3 methodology fixes (the r2 verdict called the single-run numbers
noise-dominated: three runs spanned 0.72-1.09):

- ``--repeats R`` (default 3): the core levels are measured in
  ALTERNATING order (1,4,1,4,...) so slow host drift hits both levels
  equally; the reported efficiency uses the MEDIAN pages/sec per level
  and the per-level spread is published alongside it.
- host-idle check: 1-minute loadavg is sampled before every run; the
  harness waits until it decays below ``--idle-below`` (default 0.3 —
  r4: the previous <1.0 gate admitted the prior run's load mid-decay,
  and 4-core throughput tracked start loadavg at Spearman -1.0; true
  idle on this VM is ~0.05) before burning a measurement.
- ``spark.sql.shuffle.partitions = 3 * cores`` at EVERY level (same
  formula per level — the standard 2-4x-cores sizing).  The r2 harness
  used exactly ``cores`` partitions, which made every stage wait on its
  slowest partition: with 4 partitions a text-length skew of 30% puts
  ~30% of the stage on one core while three idle.  Measured on the same
  600k-page input at local[4]: 215.3 s at sp=4 vs 163.2 s at sp=12 —
  this granularity artifact, not the job, was the r2 "scaling
  regression" (efficiency 0.72); with honest granularity the pairing
  measures the job.

Usage:

    python tools/bench_scaling.py [n_pages] [--cores 1,4] [--repeats 3] \
        > BENCH/scaling_<session>_raw.json
    python tools/scaling_sessions.py

The tool prints one raw JSON report (last stdout line) and writes no
other file; ``tools/scaling_sessions.py`` aggregates every committed
raw session into the table that BENCH/BASELINE.md's hand-curated
session history carries.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time


def _wait_host_idle(threshold: float, max_wait: int = 900) -> tuple[float, int]:
    """Block until 1-min loadavg < threshold (or max_wait s); return
    (load, seconds waited).  r4: the threshold default moved from 1.0
    to 0.3 — the r4 median-of-5 showed 4-core throughput perfectly
    rank-anticorrelated with start loadavg (Spearman -1.0,
    BENCH/BASELINE.md), and every 0.8-0.99 start was just the PREVIOUS
    run's load mid-decay (true idle on this VM is ~0.05): the <1.0
    gate fired at the first 15 s sample under 1.0 instead of letting
    the decay finish.  Waiting out the decay costs ~2 min/run and
    removes the dominant pairing noise."""
    waited = 0
    while True:
        load = os.getloadavg()[0]
        if load < threshold or waited >= max_wait:
            return load, waited
        time.sleep(15)
        waited += 15


def run_at(
    cores: int,
    pages_path: str,
    zip_path: str,
    idle_below: float = 0.3,
    scratch: str | None = None,
) -> dict:
    """Run the pipeline pinned to exactly ``cores`` CPUs.

    ``taskset`` pinning is what makes "N cores vs 4N cores" honest in a
    single-JVM sandbox: without it the local[2] JVM still spreads GC /
    shuffle-IO threads and Python UDF workers across all 32 host cores,
    inflating the small-N baseline and understating scaling efficiency.
    GC threads are pinned to the same budget for the same reason.

    ``scratch`` (e.g. ``/dev/shm/ucs_scaling_scratch``) moves
    ``spark.local.dir`` (shuffle files + spilled block-manager blocks)
    and the job's output tables onto that path.  Pointing it at tmpfs
    isolates the measurement from the sandbox's SHARED co-tenant disk:
    on a real cluster N -> 4N executors multiplies local-disk spindles
    along with cores, but in this one-VM sandbox both levels contend for
    the same /dev/vda, so a degraded host-disk day charges co-tenant I/O
    to the 4-core level only (the 1-core level can't saturate the disk)
    and understates the job's scaling — see BENCH/BASELINE.md "Why the
    Aug 19 sessions read low".  Runs with scratch set are labelled in
    the raw JSON; the input parquet stays on disk (read-once, then
    page-cached at either setting).
    """
    load, idle_wait = _wait_host_idle(idle_below)
    out_dir = f"/tmp/ucs_scaling_{cores}"
    extra_conf = []
    if scratch:
        import shutil

        # fresh per-run scratch: bound tmpfs usage and avoid any
        # cross-run block reuse making one run cheaper than another
        shutil.rmtree(scratch, ignore_errors=True)
        local_dir = os.path.join(scratch, "spark_local")
        out_dir = os.path.join(scratch, f"out_{cores}")
        os.makedirs(local_dir, exist_ok=True)
        extra_conf = ["--conf", f"spark.local.dir={local_dir}"]
    cmd = [
        "taskset",
        "-c",
        f"0-{cores - 1}",
        "spark-submit",
        "--driver-memory",
        "24g",
        "--conf",
        f"spark.driver.extraJavaOptions=-XX:+UseParallelGC -XX:ParallelGCThreads={max(2, cores)}",
        *extra_conf,
        "--py-files",
        zip_path,
        "jobs/run_dedup.py",
        "--warmup",
        "--input",
        pages_path,
        "--output",
        out_dir,
        "--master",
        f"local[{cores}]",
        "--shuffle-partitions",
        str(3 * cores),
    ]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, capture_output=True, text=True, check=True)
    total = time.monotonic() - t0
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    summary["total_process_sec"] = round(total, 1)
    summary["cores"] = cores
    summary["loadavg_at_start"] = round(load, 2)
    summary["idle_wait_sec"] = idle_wait
    if scratch:
        summary["scratch"] = scratch
    return summary


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("n_pages", type=int, nargs="?", default=1_200_000)
    ap.add_argument("--cores", default="1,4", help="comma-separated pinned-CPU counts")
    ap.add_argument("--repeats", type=int, default=3, help="alternating repeats per level")
    ap.add_argument(
        "--idle-below", type=float, default=0.3,
        help="start each run only once 1-min loadavg decays below this",
    )
    ap.add_argument(
        "--scratch", default=None,
        help="move spark.local.dir (shuffle + spilled blocks) and job "
             "output onto this path — point at tmpfs (/dev/shm/...) to "
             "isolate the pairing from the sandbox's shared co-tenant "
             "disk, which does not scale 1->4 the way per-executor "
             "disks do on a real cluster; recorded in the raw JSON",
    )
    ap.add_argument(
        "--seed-runs", default=None,
        help="path to a prior report JSON (this tool's output): its runs are "
             "merged in before computing medians, so a 3-rep session can be "
             "extended to 5 without re-measuring — every seeded run was "
             "itself gated and pinned identically",
    )
    opts = ap.parse_args()
    n_pages = opts.n_pages
    cores_list = [int(c) for c in opts.cores.split(",")]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.chdir(repo)
    sys.path.insert(0, repo)

    from bench import _fixture_parquet

    pages_path = _fixture_parquet(n_pages)
    zip_path = "/tmp/ucs_scaling.zip"
    subprocess.run(
        ["zip", "-qr", zip_path, "umi_collapse_rs_spark", "-x", "*__pycache__*"],
        check=True,
    )

    # alternating measurement order: any monotone host drift (thermal,
    # background daemons) lands on both levels symmetrically
    runs: dict[int, list[dict]] = {c: [] for c in cores_list}
    if opts.seed_runs:
        with open(opts.seed_runs) as fh:
            prior = json.loads(fh.read().strip().splitlines()[-1])
        for key, rs in prior.get("runs", {}).items():
            c = int(key.removeprefix("local"))
            if c in runs:
                runs[c].extend(rs)
    for rep in range(opts.repeats):
        for c in cores_list:
            r = run_at(c, pages_path, zip_path, idle_below=opts.idle_below, scratch=opts.scratch)
            r["rep"] = rep
            runs[c].append(r)
            print(
                json.dumps(
                    {k: r[k] for k in ("cores", "rep", "wall_sec", "pages_per_sec", "loadavg_at_start")}
                ),
                file=sys.stderr,
            )

    total_reps = min(len(runs[c]) for c in cores_list)
    tp_all = {c: sorted(r["pages_per_sec"] for r in runs[c]) for c in cores_list}
    tp = {c: statistics.median(v) for c, v in tp_all.items()}

    def eff(a: int, b: int) -> float:
        return round((tp[b] / tp[a]) / (b / a), 3)

    # per-stage efficiency (r4 verdict item #6: the clustering rounds
    # were the one sub-0.8 stage): median wall per stage per level,
    # efficiency = (w_small / w_big) / (big / small)
    def stage_walls(c: int) -> dict[str, float]:
        acc: dict[str, list[float]] = {}
        for r in runs[c]:
            for st in r.get("stages", []):
                acc.setdefault(st["stage"], []).append(st["wall_ms"])
        return {s: statistics.median(v) for s, v in acc.items()}

    stage_eff: dict[str, dict] = {}
    if len(cores_list) >= 2:
        a, b = cores_list[0], cores_list[-1]
        wa, wb = stage_walls(a), stage_walls(b)
        for s in sorted(set(wa) & set(wb)):
            stage_eff[s] = {
                f"wall_ms_{a}c": round(wa[s], 0),
                f"wall_ms_{b}c": round(wb[s], 0),
                "efficiency": round((wa[s] / wb[s]) / (b / a), 3),
            }

    report = {
        "n_pages": n_pages,
        "repeats": total_reps,
        **({"scratch": opts.scratch} if opts.scratch else {}),
        "median_pages_per_sec": tp,
        "all_pages_per_sec": tp_all,
        "stage_efficiency": stage_eff,
        "runs": {f"local{c}": runs[c] for c in cores_list},
    }
    for a, b in ((1, 4), (2, 8), (8, 32)):
        if a in tp and b in tp:
            report[f"efficiency_{a}_to_{b}"] = eff(a, b)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
