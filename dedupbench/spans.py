"""Spans around the program's layers and the fold of Spark's own task
metrics onto them.

A span is opened by a thin wrapper around a public function of the
program (installed only for a traced run, see :func:`install`).  On entry
it tags the current thread's Spark jobs with a job group unique to the
span instance, so the event log can be folded back per layer afterwards:
a job belongs to the innermost span that was open when it was submitted.

Pure parts (:func:`self_times`, :func:`fold_event_log`,
:func:`layer_table`) take plain data and are unit-tested without Spark.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# every layer the benchmark reports, in pipeline order; a workload that
# never enters a layer reports zeros for it
BULK_LAYERS = [
    "s1_norm",
    "s2_exact_reps",
    "s3_fingerprints",
    "s4_candidates",
    "s5_verified_pairs",
    "s6_cluster",
    "s7_clusters",
    "outputs",
]
INC_LAYERS = ["sink", "sink.fingerprint", "state.read", "inc.assign", "inc.residual", "state.commit"]
LAYERS = BULK_LAYERS + INC_LAYERS
LAYER_FIELDS = [
    "wall_s",
    "self_s",
    "rows_out",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
    "jobs",
    "task_skew",
]
PROBE_GROUP = "bench.probe"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    rows_out: int | None = None

    @property
    def group(self) -> str:
        return f"bench.{self.sid}.{self.name}"


@dataclass
class Tracer:
    """In-memory span recorder.  ``sc`` is the SparkContext whose job
    group is set per span; None records timings only (tests)."""

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    probes: list[tuple[float, float]] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @property
    def active(self) -> bool:
        return bool(self._stack)

    def _set_group(self, group: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.group)
        sp.t0 = time.monotonic()
        try:
            yield sp
        finally:
            sp.t1 = time.monotonic()
            self._stack.pop()
            self._set_group(parent.group if parent else PROBE_GROUP)

    def probe(self, fn):
        """Run ``fn`` (a row count for ``rows_out``) as instrumentation:
        its interval is excluded from every span's time and its Spark
        jobs go to a group no layer folds."""
        self._set_group(PROBE_GROUP)
        t0 = time.monotonic()
        try:
            return fn()
        finally:
            self.probes.append((t0, time.monotonic()))
            self._set_group(self._stack[-1].group if self._stack else PROBE_GROUP)


def net_time(sp: Span, probes: list[tuple[float, float]]) -> float:
    """Span duration minus the probe intervals inside it."""
    inside = sum(max(0.0, min(b, sp.t1) - max(a, sp.t0)) for a, b in probes)
    return (sp.t1 - sp.t0) - inside


def self_times(spans: list[Span], probes: list[tuple[float, float]] = ()) -> dict[int, float]:
    """Net span time minus its children's net time.  Spans of one thread
    nest and never overlap their siblings, so the children's sum is the
    part of the parent's interval they cover."""
    out = {sp.sid: net_time(sp, probes) for sp in spans}
    for sp in spans:
        if sp.parent is not None:
            out[sp.parent] -= net_time(sp, probes)
    return out


def fold_event_log(lines) -> dict[str, dict]:
    """Fold a Spark event log (JSON lines) into per-job-group totals:
    jobs, shuffle_write_bytes, spill_bytes, gc_s, records_written and the
    task durations of the group's heaviest stage (for skew)."""
    stage_group: dict[tuple[int, int], str] = {}
    stage_tasks: dict[tuple[int, int], list[float]] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(
            name,
            {"jobs": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0, "records_written": 0},
        )

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if grp:
                g(grp)["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if grp:
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = grp
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            grp = stage_group.get(key)
            if grp is None:
                continue
            m = ev.get("Task Metrics") or {}
            acc = g(grp)
            shuffle = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_bytes"] += shuffle.get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["records_written"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
            info = ev["Task Info"]
            stage_tasks.setdefault(key, []).append(float(info["Finish Time"] - info["Launch Time"]))
    for key, durs in stage_tasks.items():
        acc = g(stage_group[key])
        if sum(durs) > sum(acc.get("_heavy", [])):
            acc["_heavy"] = durs
    for acc in groups.values():
        heavy = acc.pop("_heavy", [])
        med = statistics.median(heavy) if heavy else 0.0
        acc["task_skew"] = max(heavy) / med if med > 0 else 1.0
    return groups


def layer_table(
    spans: list[Span],
    probes: list[tuple[float, float]],
    groups: dict[str, dict],
    roots: set[int],
) -> dict[str, dict]:
    """Per-layer means over the root spans in ``roots`` (one per
    operation).  Timing from spans; Spark metrics from the groups of the
    layer's own span instances; skew is the median over instances."""
    by_id = {sp.sid: sp for sp in spans}

    def root_of(sp: Span) -> int:
        while sp.parent is not None:
            sp = by_id[sp.parent]
        return sp.sid

    selfs = self_times(spans, probes)
    n_ops = max(1, len(roots))
    table: dict[str, dict] = {}
    skews: dict[str, list[float]] = {}
    for sp in spans:
        if root_of(sp) not in roots:
            continue
        row = table.setdefault(sp.name, {f: 0.0 for f in LAYER_FIELDS})
        acc = groups.get(sp.group, {})
        row["wall_s"] += net_time(sp, probes) / n_ops
        row["self_s"] += selfs[sp.sid] / n_ops
        rows = sp.rows_out if sp.rows_out is not None else acc.get("records_written", 0)
        row["rows_out"] += rows / n_ops
        for f in ("shuffle_write_bytes", "spill_bytes", "gc_s", "jobs"):
            row[f] += acc.get(f, 0) / n_ops
        skews.setdefault(sp.name, []).append(acc.get("task_skew", 1.0))
    for name, vals in skews.items():
        table[name]["task_skew"] = statistics.median(vals)
    return table


def install(tracer: Tracer) -> None:
    """Wrap the program's layer entry points so each call opens a span
    while an operation span is open.  Process-local; the program's files
    are not touched."""
    from umi_collapse_rs_spark.plans import incremental as inc_plan
    from umi_collapse_rs_spark.plans import pipeline as pipe
    from umi_collapse_rs_spark.plans.checkpoint import StageCheckpointer
    from umi_collapse_rs_spark.plans.state_store import StateStore
    from umi_collapse_rs_spark.streaming import incremental as sink_mod

    def wrap(fn, name_of, rows_of=None):
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name_of(args, kwargs)) as sp:
                out = fn(*args, **kwargs)
            if rows_of is not None:
                sp.rows_out = tracer.probe(lambda: rows_of(out))
            return out

        return traced

    def fixed(name):
        return lambda args, kwargs: name

    def stage_name(args, kwargs):
        return kwargs.get("stage", args[1] if len(args) > 1 else "stage")

    # checkpointed results, so a count re-reads blocks and recomputes
    # nothing; incremental_assign's lazy result is counted from its
    # written assignments instead (run.py)
    count = lambda df: df.count()  # noqa: E731
    StageCheckpointer.materialize = wrap(StageCheckpointer.materialize, stage_name, count)
    pipe.propagate_min_label = wrap(pipe.propagate_min_label, fixed("s6_cluster"), count)
    inc_plan.propagate_min_label = wrap(inc_plan.propagate_min_label, fixed("inc.residual"), count)
    sink_mod.batch_fingerprint = wrap(
        sink_mod.batch_fingerprint, fixed("sink.fingerprint"), lambda fp: int(fp.split(":")[0])
    )
    sink_mod.incremental_assign = wrap(sink_mod.incremental_assign, fixed("inc.assign"))
    StateStore.read = wrap(StateStore.read, fixed("state.read"), lambda st: st.canonicals.count())
    StateStore.commit_delta = wrap(StateStore.commit_delta, fixed("state.commit"))
