"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest dedupbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import spans  # noqa: E402
import workloads  # noqa: E402
from run import digest, recall  # noqa: E402

from umi_collapse_rs_spark.fixtures import generate_pages  # noqa: E402


def class_mix(truth, n_pages: int) -> dict[str, float]:
    """Share of pages per planted class (pages in no group are 'unique')."""
    by_kind: dict[str, set[str]] = {}
    for a, b, kind in zip(truth.src_url, truth.dst_url, truth.kind):
        by_kind.setdefault(kind, set()).update((a, b))
    mix = {k: len(v) / n_pages for k, v in by_kind.items()}
    mix["unique"] = (n_pages - len(set().union(*by_kind.values()))) / n_pages
    return mix


# ------------------------------------------------------------ generators


def test_longdoc_is_deterministic_per_seed():
    a_pages, a_truth = workloads.longdoc_pages(400, seed=3)
    b_pages, b_truth = workloads.longdoc_pages(400, seed=3)
    c_pages, _ = workloads.longdoc_pages(400, seed=4)
    assert a_pages.equals(b_pages) and a_truth.equals(b_truth)
    assert not a_pages.text.equals(c_pages.text)


@pytest.mark.parametrize("seed", [1, 7, 12345])
def test_longdoc_shape_and_class_mix(seed):
    n = 2000
    pages, truth = workloads.longdoc_pages(n, seed)
    assert len(pages) == n and pages.url.is_unique
    tokens = pages.text.str.split().str.len()
    # a near mutant may drop up to 3 tokens of its base
    assert tokens.min() >= 197 and tokens.max() <= 1200
    assert 600 <= tokens.mean() <= 800
    assert 125 <= pages.url.str.len().mean() <= 155
    mix = class_mix(truth, n)
    assert 0.74 <= mix["unique"] <= 0.84
    assert set(mix) == {"unique", "exact", "near", "overlap"}
    # every planted pair is between distinct pages of this corpus
    urls = set(pages.url)
    assert set(truth.src_url) <= urls and set(truth.dst_url) <= urls
    assert (truth.src_url < truth.dst_url).all()


@pytest.mark.parametrize("seed", [1, 9])
def test_incremental_batch_composition(seed):
    corpus, ctruth = generate_pages(1200, seed)
    b0, t0 = workloads.incremental_batch(corpus, ctruth, 0, 650, seed)
    again, t_again = workloads.incremental_batch(corpus, ctruth, 0, 650, seed)
    b1, _ = workloads.incremental_batch(corpus, ctruth, 1, 650, seed)
    assert b0.equals(again) and t0.equals(t_again)
    assert len(b0) == 650 and b0.url.is_unique and not set(b0.url) & set(corpus.url)
    assert not set(b0.url) & set(b1.url)

    n_exact = int(650 * workloads.BATCH_EXACT_SHARE)
    n_near = int(650 * workloads.BATCH_NEAR_SHARE)
    corpus_text = dict(zip(corpus.url, corpus.text))
    recrawl = t0[t0.kind == "recrawl"]
    near = t0[t0.kind == "edit"]
    assert len(recrawl) == n_exact and len(near) == n_near
    batch_text = dict(zip(b0.url, b0.text))
    for a, b in zip(recrawl.src_url, recrawl.dst_url):
        src, dst = (a, b) if a in corpus_text else (b, a)
        assert batch_text[dst] == corpus_text[src]
    for a, b in zip(near.src_url, near.dst_url):
        src, dst = (a, b) if a in corpus_text else (b, a)
        assert batch_text[dst] != corpus_text[src]
    # new pages carry fixed-size planted groups, inside the batch
    inner = t0[~t0.kind.isin(["recrawl", "edit"])]
    assert set(inner.src_url) | set(inner.dst_url) <= set(b0.url)
    counts = inner.kind.value_counts().to_dict()
    other = workloads.incremental_batch(corpus, ctruth, 0, 650, seed + 1)[1]
    assert counts == other[~other.kind.isin(["recrawl", "edit"])].kind.value_counts().to_dict()
    assert counts["exact"] > 0 and counts["near"] > 0


# ------------------------------------------------------------ checks


def test_recall_and_digest():
    import pandas as pd

    truth = pd.DataFrame({"src_url": ["a", "a", "c"], "dst_url": ["b", "d", "d"]})
    assert recall({"a": "a", "b": "a", "c": "c", "d": "c"}, truth) == pytest.approx(2 / 3)
    assert recall({}, truth) == 0.0
    assert digest([("b", "x"), ("a", "y")]) == digest([("a", "y"), ("b", "x")])
    assert digest([("a", "y")]) != digest([("a", "x")])


# ------------------------------------------------------------ span fold


def _span(sid, name, parent, t0, t1):
    return spans.Span(sid, name, parent, t0, t1)


def test_self_time_subtracts_children_and_probes():
    ss = [
        _span(0, "op", None, 0.0, 10.0),
        _span(1, "s1_norm", 0, 1.0, 3.0),
        _span(2, "s6_cluster", 0, 4.0, 8.0),
        _span(3, "inner", 2, 5.0, 6.0),
    ]
    probes = [(3.0, 3.5), (5.5, 5.75)]  # one between children, one inside a grandchild
    selfs = spans.self_times(ss, probes)
    assert spans.net_time(ss[0], probes) == pytest.approx(10.0 - 0.75)
    assert selfs[3] == pytest.approx(1.0 - 0.25)
    assert selfs[2] == pytest.approx((4.0 - 0.25) - 0.75)
    assert selfs[1] == pytest.approx(2.0)
    assert selfs[0] == pytest.approx(9.25 - 2.0 - 3.75)
    # self times partition the root's net time
    assert sum(selfs.values()) == pytest.approx(spans.net_time(ss[0], probes))


def test_tracer_nests_and_restores_job_groups():
    calls = []

    class FakeSC:
        def setJobGroup(self, group, desc):
            calls.append(group)

    tr = spans.Tracer(FakeSC())
    assert not tr.active
    with tr.span("op") as root:
        with tr.span("s1_norm") as child:
            assert tr.active
        tr.probe(lambda: 42)
    assert child.parent == root.sid and root.parent is None
    assert calls == [root.group, child.group, root.group, spans.PROBE_GROUP, root.group, spans.PROBE_GROUP]
    assert len(tr.probes) == 1


# ------------------------------------------------------------ event-log fold


def _events(group_of_stage: dict[int, str], tasks: list[tuple[int, int, dict]]) -> list[str]:
    ev = []
    for job, (stage, grp) in enumerate(group_of_stage.items()):
        props = {"spark.jobGroup.id": grp}
        ev.append({"Event": "SparkListenerJobStart", "Job ID": job, "Properties": props})
        ev.append(
            {
                "Event": "SparkListenerStageSubmitted",
                "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0},
                "Properties": props,
            }
        )
    for stage, dur, metrics in tasks:
        ev.append(
            {
                "Event": "SparkListenerTaskEnd",
                "Stage ID": stage,
                "Stage Attempt ID": 0,
                "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + dur},
                "Task Metrics": metrics,
            }
        )
    ev.append({"Event": "SparkListenerApplicationEnd", "Timestamp": 0})
    return [json.dumps(e) for e in ev]


def test_event_log_folds_per_job_group():
    shuffle = {"Shuffle Write Metrics": {"Shuffle Bytes Written": 100}, "JVM GC Time": 250}
    lines = _events(
        {0: "bench.1.s3_fingerprints", 1: "bench.1.s3_fingerprints", 2: "bench.2.outputs"},
        [
            (0, 100, shuffle),
            (0, 100, shuffle),
            (0, 400, {**shuffle, "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3}),
            (1, 10, {}),
            (2, 50, {"Output Metrics": {"Records Written": 11}}),
            (2, 50, {"Output Metrics": {"Records Written": 4}}),
        ],
    )
    groups = spans.fold_event_log(lines)
    s3 = groups["bench.1.s3_fingerprints"]
    assert s3["jobs"] == 2
    assert s3["shuffle_write_bytes"] == 300
    assert s3["spill_bytes"] == 10
    assert s3["gc_s"] == pytest.approx(0.75)
    # skew of the heaviest stage (stage 0): max 400 over median 100
    assert s3["task_skew"] == pytest.approx(4.0)
    out = groups["bench.2.outputs"]
    assert out["records_written"] == 15 and out["task_skew"] == pytest.approx(1.0)


def test_layer_table_means_over_operations():
    ss = [
        _span(0, "op", None, 0.0, 10.0),
        _span(1, "s3_fingerprints", 0, 1.0, 4.0),
        _span(2, "outputs", 0, 5.0, 9.0),
        _span(3, "op", None, 20.0, 28.0),
        _span(4, "s3_fingerprints", 3, 21.0, 22.0),
        _span(5, "outputs", 3, 23.0, 27.0),
    ]
    ss[1].rows_out = ss[4].rows_out = 100
    groups = {
        ss[1].group: {"jobs": 2, "shuffle_write_bytes": 10, "spill_bytes": 0, "gc_s": 0.5, "task_skew": 3.0},
        ss[4].group: {"jobs": 2, "shuffle_write_bytes": 30, "spill_bytes": 0, "gc_s": 0.1, "task_skew": 1.0},
        ss[2].group: {"jobs": 1, "records_written": 8, "task_skew": 1.0},
        ss[5].group: {"jobs": 1, "records_written": 8, "task_skew": 1.0},
    }
    table = spans.layer_table(ss, [], groups, {0, 3})
    s3 = table["s3_fingerprints"]
    assert s3["wall_s"] == pytest.approx(2.0)
    assert s3["shuffle_write_bytes"] == pytest.approx(20)
    assert s3["rows_out"] == pytest.approx(100)
    assert s3["task_skew"] == pytest.approx(2.0)
    assert table["outputs"]["rows_out"] == pytest.approx(8)
    assert table["op"]["self_s"] == pytest.approx((10 - 3 - 4 + 8 - 1 - 4) / 2)
    # only the requested roots are folded
    assert spans.layer_table(ss, [], groups, {3})["s3_fingerprints"]["wall_s"] == pytest.approx(1.0)
