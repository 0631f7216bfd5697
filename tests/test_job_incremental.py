"""The spark-submit batch surface (jobs/run_incremental.py), driven
in-process: a chained run must fire auto-compaction at the
--compact-segments threshold (r4 verdict item #4) with state equality
against the in-memory chain and the manifest lineage preserved."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest
from pyspark.sql import functions as F

from umi_collapse_rs_spark.config import DedupConfig
from umi_collapse_rs_spark.plans.incremental import build_state, incremental_assign
from umi_collapse_rs_spark.plans.pipeline import run_dedup_pipeline
from umi_collapse_rs_spark.plans.state_store import StateStore
from umi_collapse_rs_spark.streaming.incremental import INDEX_BUCKET_CAP

CFG = DedupConfig(window_tokens=0)
_JOB = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "jobs", "run_incremental.py")


def _job_main():
    spec = importlib.util.spec_from_file_location("run_incremental_job", _JOB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


def _run(main, argv, capsys) -> dict:
    assert main(argv) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_chained_job_auto_compacts_and_preserves_state(
    spark, fixture_500, tmp_path, capsys
):
    """3 batches with --compact-segments 2: batch 2's commit reaches
    the threshold and compaction fires inside the job (compacted_bytes
    in the summary, log emptied); batch 3 then probes the compacted
    base.  Final on-disk state equals the in-memory 3-batch chain, and
    the stream lineage survives compaction untouched."""
    main = _job_main()
    pages, _ = fixture_500
    is_new = F.substring("url", -1, 1).isin("3", "7")
    old = pages.filter(~is_new)
    new = pages.filter(is_new)
    # 3 disjoint sub-batches of the 100-page new half
    bkey = F.substring("url", -2, 1).cast("int") % 3
    batches = [new.filter(bkey == k) for k in range(3)]

    root = str(tmp_path / "state")
    store = StateStore(spark, root)
    state0 = build_state(run_dedup_pipeline(spark, old, CFG))
    store.bootstrap(state0)

    summaries = []
    for k, b in enumerate(batches):
        bdir = str(tmp_path / f"batch{k}")
        b.write.parquet(bdir)
        summaries.append(
            _run(
                main,
                ["--input", bdir, "--state", root,
                 "--output", str(tmp_path / f"out{k}"),
                 "--compact-segments", "2"],
                capsys,
            )
        )

    # compaction fired exactly once, at the threshold commit
    assert "compacted_bytes" not in summaries[0]
    assert summaries[1]["state_segments"] == 2  # the commit that tripped it
    assert summaries[1]["compacted_bytes"] > 0
    assert summaries[2]["state_segments"] == 1  # post-compact log restarted
    m = store.manifest()
    assert m["segments"] and len(m["segments"]) == 1
    assert m.get("sha_pfx_len") == 2  # layout survives compaction

    # equality vs the in-memory chain (same order, same cap)
    st = state0
    for b in batches:
        st = incremental_assign(spark, st, b, CFG, index_bucket_cap=INDEX_BUCKET_CAP).state_out

    def sha_pdf(df):
        return (
            df.select("text_sha", "canonical_url")
            .toPandas()
            .sort_values(["text_sha", "canonical_url"])
            .reset_index(drop=True)
        )

    import pandas as pd

    disk = store.read()
    pd.testing.assert_frame_equal(sha_pdf(disk.sha_index), sha_pdf(st.sha_index))
    a = (
        disk.canonicals.select("url", "freq").toPandas()
        .sort_values("url").reset_index(drop=True)
    )
    e = (
        st.canonicals.select("url", "freq").toPandas()
        .sort_values("url").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, e)

    # every batch page assigned exactly once across the 3 outputs
    n_assigned = sum(s["batch_pages"] for s in summaries)
    assert n_assigned == new.count()


def test_job_flag_validation(capsys):
    main = _job_main()
    with pytest.raises(SystemExit):
        main(["--input", "x", "--state", "s"])  # --output required
    capsys.readouterr()
    with pytest.raises(SystemExit):
        main(["--state", "s"])  # a mode is required
    capsys.readouterr()
