#!/usr/bin/env python3
"""Dedup benchmark runner: closed-loop pipeline calls or micro-batches.

    python3 dedupbench/run.py --workload bulk_longdoc --seed 1 --seconds 10 --trace 0

One Python process drives the program's public entry points on
``local[nproc]``; the next pipeline call (bulk) or batch (incremental)
starts only when the previous one has finished.  Inputs are generated
from ``--seed`` (dedupbench/workloads.py) and cached by (workload, seed,
size); generation is never timed.  Every operation's output is checked
(planted-pair recall, determinism, conservation), and the last stdout
line is one JSON result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
layer entry points in spans (dedupbench/spans.py), enables the Spark
event log and reports per-layer metrics instead.  The line before the
result is the host descriptor and health probe.  dedupbench/README.md
defines every metric and workload.

Exit status: 0 when every operation passed its checks, 1 on a check
failure or error, 2 when the program is not importable next to the
benchmark directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".dedupbench_run")
CACHE = os.path.join(ROOT, ".dedupbench_cache")
sys.path[:0] = [ROOT, HERE]

# input sizes per workload (pages); README.md says why each was chosen
WORKLOADS = {
    "bulk_longdoc": {"pages": 2000},
    "incremental_chain": {"corpus": 1500, "batch_min": 600, "batch_max": 750, "max_batches": 8},
}
DEFAULT_SEED = 1
RECALL_GATE = 0.99
DRIVER_MEMORY_MB = 4096  # capped below at half of MemTotal


def pin_environment() -> dict:
    """Apply the run environment through the knobs the program reads
    (session.py: SPARK_GRAFT_CPUS, SPARK_DRIVER_MEMORY,
    SPARK_DRIVER_JAVA_OPTS; Spark: SPARK_LOCAL_DIRS; the JVM:
    JAVA_TOOL_OPTIONS) before any JVM starts.  Everything the run writes
    stays under the checkout."""
    from host import meminfo_kb

    tmp = os.path.join(WORK, "tmp")
    mem_mb = min(DRIVER_MEMORY_MB, meminfo_kb("MemTotal") // 1024 // 2)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": f"{mem_mb}m",
        "SPARK_DRIVER_JAVA_OPTS": "-XX:+UseParallelGC",  # session.py's default
        # every JVM (spark-submit's launcher too): no hsperfdata, private tmpdir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "TMPDIR": tmp,
        # UDF workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update(env)
    return env


# ---------------------------------------------------------------- inputs


def _cached(key: str, make) -> str:
    """Directory holding the inputs for ``key``; ``make(dir)`` fills it
    once.  A finished directory is published by rename, so an interrupted
    generation is never reused."""
    path = os.path.join(CACHE, key)
    if not os.path.isdir(path):
        part = f"{path}.part-{os.getpid()}"
        shutil.rmtree(part, ignore_errors=True)
        os.makedirs(part)
        make(part)
        os.replace(part, path)
    return path


def bulk_inputs(seed: int) -> str:
    import workloads

    n = WORKLOADS["bulk_longdoc"]["pages"]

    def make(d):
        pages, truth = workloads.longdoc_pages(n, seed)
        workloads.write_parquet(pages, f"{d}/pages.parquet")
        truth.to_parquet(f"{d}/truth.parquet", index=False)

    return _cached(f"bulk_longdoc-s{seed}-n{n}", make)


def chain_inputs(seed: int) -> str:
    import workloads
    from umi_collapse_rs_spark.fixtures import generate_pages

    w = WORKLOADS["incremental_chain"]

    def make(d):
        # the standard fixture mix (FIXTURES.md §1.1)
        corpus, truth = generate_pages(w["corpus"], seed)
        workloads.write_parquet(corpus, f"{d}/corpus.parquet")
        truth.to_parquet(f"{d}/corpus_truth.parquet", index=False)

    return _cached(f"incremental_chain-s{seed}-c{w['corpus']}", make)


def batch_input(corpus_dir: str, seed: int, b: int) -> str:
    """Parquet path of chain batch ``b`` (generated on first use)."""
    import numpy as np

    import workloads

    w = WORKLOADS["incremental_chain"]
    path = f"{corpus_dir}/b{b:02d}.parquet"
    if not os.path.exists(path):
        corpus = read_parquet_dir(f"{corpus_dir}/corpus.parquet")
        truth = read_parquet_dir(f"{corpus_dir}/corpus_truth.parquet")
        # batch b has the same size under every seed: seeds vary content
        size = int(np.random.default_rng([1, b]).integers(w["batch_min"], w["batch_max"] + 1))
        pages, btruth = workloads.incremental_batch(corpus, truth, b, size, seed)
        btruth.to_parquet(f"{corpus_dir}/b{b:02d}_truth.parquet", index=False)
        workloads.write_parquet(pages, f"{path}.part-{os.getpid()}")
        os.replace(f"{path}.part-{os.getpid()}", path)
    return path


# ---------------------------------------------------------------- checks


def recall(assign: dict[str, str], truth) -> float:
    """Share of planted pairs whose two pages share a canonical."""
    hits = sum(
        1
        for a, b in zip(truth.src_url, truth.dst_url)
        if assign.get(a) is not None and assign.get(a) == assign.get(b)
    )
    return hits / len(truth) if len(truth) else 1.0


def digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(("\t".join(r) + "\n").encode())
    return h.hexdigest()[:16]


def read_parquet_dir(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


class Checks:
    """Collects check failures; any failure fails the run.  A failed
    run-level check (recall, conservation, committed hashes) fails every
    operation; a per-operation check fails only its operation."""

    def __init__(self):
        self.failures: list[str] = []
        self.run_level_failed = False

    def expect(self, ok: bool, what: str, per_op: bool = False) -> bool:
        if not ok:
            self.failures.append(what)
            self.run_level_failed |= not per_op
            print(f"dedupbench: CHECK FAILED: {what}", file=sys.stderr)
        return ok


def compare_hashes(checks: Checks, key: str, seed: int, got: dict, expected: dict) -> None:
    """Hashes must equal the committed ones (default seed) and those an
    earlier run on the same inputs (``key``) left in this checkout."""
    if seed == DEFAULT_SEED:
        for k, v in got.items():
            want = expected.get(k)
            if want is not None:
                checks.expect(v == want, f"{key}: {k} {v!r} != committed {want!r}")
    path = os.path.join(CACHE, "hashes.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    prev = seen.get(key, {})
    for k, v in got.items():
        if k in prev:
            checks.expect(v == prev[k], f"{key}: {k} {v!r} != earlier run {prev[k]!r}")
    seen[key] = {**prev, **got}
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(seen, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


# ---------------------------------------------------------------- spark


def start_spark(trace: bool):
    from umi_collapse_rs_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(WORK, "run", "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(app_name="dedupbench", extra_conf=conf)


def peak_rss_mb(spark) -> float:
    """JVM VmHWM plus the VmHWM of every pyspark daemon/worker under it."""
    from host import descendants, vm_hwm_kb

    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return sum(vm_hwm_kb(p) for p in [jvm_pid, *descendants(jvm_pid)]) / 1024


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    from host import descendants

    gateway = SparkContext._gateway
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    kids = descendants(jvm_pid)
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in [jvm_pid, *kids]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def du_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------- workloads

OUTPUTS = ["clusters", "canonical_pages", "pairs", "metrics", "lineage"]


def run_bulk(spark, seed, seconds, tracer, checks, expected):
    """Setup: one discarded full-size call.  Then closed-loop calls of
    run_dedup_pipeline + the five parquet writes (as jobs/run_dedup.py)."""
    from contextlib import nullcontext

    from umi_collapse_rs_spark.config import DedupConfig
    from umi_collapse_rs_spark.plans.pipeline import run_dedup_pipeline

    inputs = bulk_inputs(seed)
    truth = read_parquet_dir(f"{inputs}/truth.parquet")
    n_pages = WORKLOADS["bulk_longdoc"]["pages"]
    out_root = os.path.join(WORK, "run", "out")

    # read outside the timed region, as jobs/run_dedup.py does
    pages = spark.read.parquet(f"{inputs}/pages.parquet")

    def call(k: int, traced: bool) -> tuple[float, str]:
        out = f"{out_root}/op{k}"
        span = tracer.span if traced else (lambda name: nullcontext())
        t0 = time.monotonic()
        with span("op"):
            res = run_dedup_pipeline(spark, pages, DedupConfig())
            with span("outputs"):
                for name in OUTPUTS:
                    getattr(res, name).write.mode("overwrite").parquet(f"{out}/{name}")
        return time.monotonic() - t0, out

    def check(out: str) -> dict:
        cl = read_parquet_dir(f"{out}/clusters")
        assign = dict(zip(cl.url, cl.canonical_url))
        checks.expect(len(cl) == n_pages and len(assign) == n_pages, f"clusters rows {len(cl)} != {n_pages}")
        return {
            "clusters": int(cl.canonical_url.nunique()),
            "hash": digest(zip(cl.url, cl.canonical_url)),
            "recall": recall(assign, truth),
        }

    t_setup = time.monotonic()
    warm_wall, warm_out = call(-1, traced=False)
    ref = check(warm_out)
    setup_extra = time.monotonic() - t_setup
    checks.expect(ref["recall"] >= RECALL_GATE, f"recall {ref['recall']:.4f} < {RECALL_GATE}")

    walls, out_bytes, failed = [], [], 0
    while not walls or sum(walls) < seconds:
        k = len(walls)
        try:
            wall, out = call(k, traced=tracer is not None)
        except Exception as e:  # one failed operation ends the loop
            print(f"dedupbench: op {k} raised {e!r}", file=sys.stderr)
            walls.append(float("nan"))
            failed += 1
            break
        got = check(out)
        ok = checks.expect(
            got["hash"] == ref["hash"], f"op {k} output {got['hash']} != setup run {ref['hash']}", per_op=True
        )
        failed += 0 if ok else 1
        walls.append(wall)
        out_bytes.append(du_bytes(out))
        shutil.rmtree(out, ignore_errors=True)
    got = {"clusters": ref["clusters"], "hash": ref["hash"]}
    compare_hashes(checks, os.path.basename(inputs), seed, got, expected)
    good = [w for w in walls if w == w]
    return {
        "setup_extra_s": setup_extra,
        "attempted": len(walls),
        "failed": failed,
        "walls": good,
        "metrics": {
            "pages_per_s": (statistics.median(n_pages / w for w in good), "pages/s"),
            "batch_latency_p50_s": (statistics.median(good), "s"),
            "state_write_bytes_per_batch": (statistics.mean(out_bytes), "bytes"),
            "recall": (ref["recall"], "ratio"),
        },
        "diag": {"clusters": ref["clusters"], "hash": ref["hash"], "warm_wall_s": warm_wall},
    }


def run_chain(spark, seed, seconds, tracer, checks, expected):
    """Setup: bootstrap the state with the full pipeline, as
    jobs/run_incremental.py --bootstrap does.  Then closed-loop batches
    through incremental_sink's absorb function; at most ``max_batches``
    (< its compact_segments) so the chain never compacts."""
    from contextlib import nullcontext

    from umi_collapse_rs_spark.config import DedupConfig
    from umi_collapse_rs_spark.plans.incremental import build_state
    from umi_collapse_rs_spark.plans.pipeline import run_dedup_pipeline
    from umi_collapse_rs_spark.plans.state_store import StateStore
    from umi_collapse_rs_spark.streaming.incremental import incremental_sink

    w = WORKLOADS["incremental_chain"]
    inputs = chain_inputs(seed)
    run = os.path.join(WORK, "run")
    state_root, out_root = f"{run}/state", f"{run}/assign"
    span = tracer.span if tracer is not None else (lambda name: nullcontext())

    commits: list[dict] = []
    real_commit = StateStore.commit_delta

    def capture_commit(self, *args, **kwargs):
        m = real_commit(self, *args, **kwargs)
        commits.append(m)
        return m

    t_setup = time.monotonic()
    corpus = spark.read.parquet(f"{inputs}/corpus.parquet")
    if tracer is not None:
        # warm the pipeline untraced first, so the traced bootstrap's
        # stage rows are steady-state like bulk_longdoc's
        run_dedup_pipeline(spark, corpus, DedupConfig(window_tokens=0))
    with span("bootstrap"):
        res = run_dedup_pipeline(spark, corpus, DedupConfig(window_tokens=0))
        StateStore(spark, state_root).bootstrap(build_state(res))
    setup_extra = time.monotonic() - t_setup
    boot = res.clusters.select("url", "canonical_url").toPandas()

    absorb = incremental_sink(spark, state_root, out_root)
    store = StateStore(spark, state_root)
    walls, segments, failed = [], [], 0
    StateStore.commit_delta = capture_commit
    try:
        while len(walls) < w["max_batches"] and (not walls or sum(walls) < seconds):
            b = len(walls)
            batch = spark.read.parquet(batch_input(inputs, seed, b))
            segments.append(len(store.manifest()["segments"]))
            t0 = time.monotonic()
            try:
                with span("sink"):
                    absorb(batch, b)
            except Exception as e:  # one failed batch ends the chain
                print(f"dedupbench: batch {b} raised {e!r}", file=sys.stderr)
                failed += 1
                walls.append(float("nan"))
                break
            walls.append(time.monotonic() - t0)
    finally:
        StateStore.commit_delta = real_commit

    # checks: one assignment per batch page, recall over corpus + batch
    # truth, conservation of page mass in the state, determinism
    assign = dict(zip(boot.url, boot.canonical_url))
    truth = [read_parquet_dir(f"{inputs}/corpus_truth.parquet")]
    hashes = {
        "bootstrap_clusters": int(boot.canonical_url.nunique()),
        "bootstrap_hash": digest(zip(boot.url, boot.canonical_url)),
    }
    vias: dict[str, list[int]] = {"exact": [], "near": [], "new": []}
    good = [x for x in walls if x == x]
    batch_pages = []
    for b in range(len(good)):
        a = read_parquet_dir(f"{out_root}/batch_id={b}")
        want = set(read_parquet_dir(f"{inputs}/b{b:02d}.parquet").url)
        batch_pages.append(len(want))
        ok = checks.expect(
            len(a) == len(want) and set(a.url) == want,
            f"batch {b}: {len(a)} assignments for {len(want)} pages",
            per_op=True,
        )
        failed += 0 if ok else 1
        assign.update(zip(a.url, a.canonical_url))
        truth.append(read_parquet_dir(f"{inputs}/b{b:02d}_truth.parquet"))
        hashes[f"batch{b:02d}_hash"] = digest(zip(a.url, a.canonical_url, a.via))
        for via in vias:
            vias[via].append(int((a.via == via).sum()))
    import pandas as pd

    rec = recall(assign, pd.concat(truth))
    checks.expect(rec >= RECALL_GATE, f"recall {rec:.4f} < {RECALL_GATE}")
    mass = store.read().canonicals.agg({"freq": "sum"}).first()[0]
    want_mass = WORKLOADS["incremental_chain"]["corpus"] + sum(batch_pages)
    checks.expect(mass == want_mass, f"state freq mass {mass} != corpus + batch pages {want_mass}")
    compare_hashes(checks, os.path.basename(inputs), seed, hashes, expected)

    seg_bytes = [c["bytes_written"] for c in commits]
    return {
        "setup_extra_s": setup_extra,
        "attempted": len(walls),
        "failed": failed,
        "walls": good,
        "metrics": {
            "pages_per_s": (sum(batch_pages) / sum(good), "pages/s"),
            "batch_latency_p50_s": (statistics.median(good), "s"),
            "state_write_bytes_per_batch": (statistics.mean(seg_bytes), "bytes"),
            "recall": (rec, "ratio"),
        },
        "per_batch": {"segments": segments, "write_bytes": seg_bytes, "walls": good, "via": vias},
        "diag": hashes,
    }


# ---------------------------------------------------------------- trace fold


def trace_metrics(tracer, result: dict) -> tuple[dict, list[str]]:
    """Per-layer metrics from spans + the event log; also a text table."""
    import spans as tr

    groups: dict[str, dict] = {}
    log_dir = os.path.join(WORK, "run", "eventlog")
    # Spark 4 writes the log as a directory of rolled event files
    for d, _, files in sorted(os.walk(log_dir)):
        for name in sorted(f for f in files if f.startswith(("events_", "local-", "app-"))):
            with open(os.path.join(d, name)) as f:
                groups.update(tr.fold_event_log(f))
    roots: dict[str, set[int]] = {}
    for sp in tracer.spans:
        if sp.parent is None:
            roots.setdefault(sp.name, set()).add(sp.sid)
    table: dict[str, dict] = {}
    for name, ids in roots.items():
        table.update(tr.layer_table(tracer.spans, tracer.probes, groups, ids))
    pb = result.get("per_batch", {})
    if pb.get("via") and "inc.assign" in table:
        # incremental_assign returns lazy frames: its rows are the
        # assignments the sink wrote, one per batch page
        per_batch = [sum(c) for c in zip(*pb["via"].values())]
        table["inc.assign"]["rows_out"] = statistics.mean(per_batch)
    units = {
        "wall_s": "s",
        "self_s": "s",
        "rows_out": "rows",
        "shuffle_write_bytes": "bytes",
        "spill_bytes": "bytes",
        "gc_s": "s",
        "jobs": "count",
        "task_skew": "ratio",
    }
    metrics = {}
    for layer in tr.LAYERS:
        row = table.get(layer, {})
        for f in tr.LAYER_FIELDS:
            metrics[f"{layer}.{f}"] = (row.get(f, 0.0), units[f])

    op_roots = roots.get("op") or roots.get("sink") or set()
    op_spans = [sp for sp in tracer.spans if sp.sid in op_roots]
    net = [tr.net_time(sp, tracer.probes) for sp in op_spans]
    selfs = tr.self_times(tracer.spans, tracer.probes)
    coverage = [1 - selfs[sp.sid] / n for sp, n in zip(op_spans, net) if n > 0]
    s4, s5 = table.get("s4_candidates", {}), table.get("s5_verified_pairs", {})
    extra = {
        "s5.useful_ratio": (s5.get("rows_out", 0) / s4["rows_out"] if s4.get("rows_out") else 0.0, "ratio"),
        "state.segments": (statistics.mean(pb["segments"]) if pb.get("segments") else 0.0, "count"),
        "state.write_bytes": (statistics.mean(pb["write_bytes"]) if pb.get("write_bytes") else 0.0, "bytes"),
        **{
            f"inc.via_{v}": (statistics.mean(c) if c else 0.0, "pages")
            for v, c in (pb.get("via") or {"exact": [], "near": [], "new": []}).items()
        },
        "trace.op_wall_s": (statistics.median(net) if net else 0.0, "s"),
        "trace.span_coverage": (statistics.mean(coverage) if coverage else 0.0, "ratio"),
        "trace.probe_s": (sum(b - a for a, b in tracer.probes) / max(1, len(op_spans)), "s"),
    }
    metrics.update(extra)

    lines = [
        f"{'layer':<20}{'wall_s':>9}{'self_s':>9}{'share':>7}{'rows_out':>11}"
        f"{'shuf_MB':>9}{'gc_s':>7}{'jobs':>6}{'skew':>6}"
    ]
    stage_wall = sum(table.get(x, {}).get("wall_s", 0.0) for x in tr.BULK_LAYERS)
    for layer in tr.LAYERS:
        r = table.get(layer)
        if not r:
            continue
        share = f"{r['wall_s'] / stage_wall:.1%}" if layer in tr.BULK_LAYERS and stage_wall else "-"
        lines.append(
            f"{layer:<20}{r['wall_s']:>9.2f}{r['self_s']:>9.2f}{share:>7}{r['rows_out']:>11.0f}"
            f"{r['shuffle_write_bytes'] / 1e6:>9.2f}{r['gc_s']:>7.2f}{r['jobs']:>6.1f}{r['task_skew']:>6.2f}"
        )
    if pb.get("segments"):
        read_walls, by_root = [], {}
        for sp in tracer.spans:
            if sp.name == "state.read":
                read_walls.append(tr.net_time(sp, tracer.probes))
            if sp.sid in (roots.get("sink") or set()):
                by_root[sp.sid] = tr.net_time(sp, tracer.probes)
        lines.append("batch  segments  state.read_s  sink_s  write_bytes")
        for b, (seg, rw, sw, wb) in enumerate(
            zip(pb["segments"], read_walls, by_root.values(), pb["write_bytes"])
        ):
            lines.append(f"{b:>5}  {seg:>8}  {rw:>12.2f}  {sw:>6.2f}  {wb:>11}")
    return metrics, lines


# ---------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    try:
        import umi_collapse_rs_spark  # noqa: F401
    except ImportError as e:
        print(f"dedupbench: the program is not next to the benchmark ({e})", file=sys.stderr)
        return 2

    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    for d in ("run", "tmp", "local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.makedirs(CACHE, exist_ok=True)
    env = pin_environment()
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)

    import host

    desc = host.describe(WORK, expected["host_reference"])
    desc["env"] = {k: v for k, v in env.items() if k.startswith(("SPARK", "JAVA"))}
    # generate (or load) inputs before any timing starts
    (bulk_inputs if args.workload == "bulk_longdoc" else chain_inputs)(args.seed)

    checks = Checks()
    tracer = None
    t0 = time.monotonic()
    phases = {"before_spark_s": t0 - T_START}
    spark = start_spark(bool(args.trace))
    session_s = time.monotonic() - t0
    try:
        if args.trace:
            import spans as tr

            tracer = tr.Tracer(spark.sparkContext)
            tr.install(tracer)
        fn = run_bulk if args.workload == "bulk_longdoc" else run_chain
        result = fn(spark, args.seed, args.seconds, tracer, checks, expected.get(args.workload, {}))
        rss = peak_rss_mb(spark)
    finally:
        t_stop = time.monotonic()
        stop_spark(spark)
    phases.update(session_s=session_s, workload_s=t_stop - t0 - session_s, stop_s=time.monotonic() - t_stop)

    metrics = {
        "setup_s": (session_s + result["setup_extra_s"], "s"),
        **result["metrics"],
        "peak_rss_mb": (rss, "MB"),
    }
    diag = {"workload": args.workload, "seed": args.seed, "op_walls_s": result["walls"], "phases": phases}
    diag.update(result["diag"])
    if args.trace:
        metrics, table = trace_metrics(tracer, result)
        print("\n".join(table), file=sys.stderr)
    print(json.dumps({"diagnostics": diag}), file=sys.stderr)
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)

    failed = result["attempted"] if checks.run_level_failed else result["failed"]
    correct = not checks.failures and not failed
    print(json.dumps({"host": desc}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": result["attempted"],
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
