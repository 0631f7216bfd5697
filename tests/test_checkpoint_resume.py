"""Checkpointed resumability (north_rule: resumable from checkpoint).

The reference's ``--two-pass`` low-memory flag is accepted but
unimplemented (``/root/reference/src/cli.rs:45-48``); here resumability
is real: every stage persists to ``<root>/<stage>/`` with a ``_SUCCESS``
marker and a rerun resumes after the last completed stage
(plans/checkpoint.py).
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from umi_collapse_rs_spark.config import DedupConfig
from umi_collapse_rs_spark.fixtures import pages_spark_df
from umi_collapse_rs_spark.plans.pipeline import run_dedup_pipeline


def _clusters_pdf(res):
    return (
        res.clusters.select("url", "canonical_url", "cluster_size")
        .orderBy("url")
        .toPandas()
    )


@pytest.fixture(scope="module")
def ckpt_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ckpt"))


def test_resume_skips_completed_stages_and_matches(spark, ckpt_root):
    pages = pages_spark_df(spark, 300)
    cfg = DedupConfig(checkpoint_dir=ckpt_root)

    cold = run_dedup_pipeline(spark, pages, cfg)
    cold_pdf = _clusters_pdf(cold)
    assert not any(r.get("resumed") for r in cold.stage_metrics if "resumed" in r)

    warm = run_dedup_pipeline(spark, pages, cfg)
    warm_pdf = _clusters_pdf(warm)
    resumed = {r["stage"] for r in warm.stage_metrics if r.get("resumed")}
    assert {"s1_norm", "s2_exact_reps", "s3_fingerprints", "s5_verified_pairs", "s7_clusters"} <= resumed
    assert warm_pdf.equals(cold_pdf)
    # checkpoint_epoch in lineage reflects how many stages came from disk
    epochs = warm.lineage.select("checkpoint_epoch").distinct().collect()
    assert [row.checkpoint_epoch for row in epochs] == [len(resumed)]


def test_resume_recomputes_only_missing_suffix(spark, ckpt_root):
    """Deleting a late stage's marker re-runs that stage from the
    earlier checkpoints, and the result is unchanged."""
    pages = pages_spark_df(spark, 300)
    cfg = DedupConfig(checkpoint_dir=ckpt_root)
    before = _clusters_pdf(run_dedup_pipeline(spark, pages, cfg))

    shutil.rmtree(f"{ckpt_root}/{cfg.output_config_token()}/s5_verified_pairs")
    res = run_dedup_pipeline(spark, pages, cfg)
    resumed = {r["stage"] for r in res.stage_metrics if r.get("resumed")}
    assert "s5_verified_pairs" not in resumed
    assert {"s1_norm", "s2_exact_reps", "s3_fingerprints"} <= resumed
    assert _clusters_pdf(res).equals(before)


def test_resume_with_file_uri_root(spark, tmp_path):
    """Checkpoint root given as a ``file://`` URI — the API-compatible
    stand-in for hdfs:///s3a:// roots.  The Hadoop-FS probe must detect
    completed stages through the scheme (a plain os.path.exists on the
    URI string would never resume)."""
    pages = pages_spark_df(spark, 120)
    cfg = DedupConfig(checkpoint_dir=f"file://{tmp_path}/ckpt_uri")
    cold = run_dedup_pipeline(spark, pages, cfg)
    cold_pdf = _clusters_pdf(cold)
    warm = run_dedup_pipeline(spark, pages, cfg)
    resumed = {r["stage"] for r in warm.stage_metrics if r.get("resumed")}
    assert {"s1_norm", "s2_exact_reps", "s3_fingerprints", "s5_verified_pairs"} <= resumed
    assert _clusters_pdf(warm).equals(cold_pdf)


def test_no_resume_across_config_change(spark, ckpt_root):
    """A rerun with a different output-affecting config (merge rule)
    must NOT resume stages checkpointed under the old config — the
    stage paths are keyed by DedupConfig.output_config_token(), so the
    changed run recomputes and produces the changed-rule result."""
    pages = pages_spark_df(spark, 300)
    base = DedupConfig(checkpoint_dir=ckpt_root)
    run_dedup_pipeline(spark, pages, base).clusters.count()  # populate cache

    changed = DedupConfig(checkpoint_dir=ckpt_root, merge="quality")
    assert changed.output_config_token() != base.output_config_token()
    res = run_dedup_pipeline(spark, pages, changed)
    resumed = {r["stage"] for r in res.stage_metrics if r.get("resumed")}
    assert "s2_exact_reps" not in resumed  # merge rule affects s2 onward
    # the recomputed representatives follow the NEW rule: quality picks
    # the longest raw text per exact-dup group
    reps = res.clusters.filter(F.col("url") == F.col("canonical_url"))
    assert reps.count() > 0


def test_output_config_token_is_pinned():
    """Stage-checkpoint paths are keyed by the token, so a refactor of
    DedupConfig's execution fields must not move it: these values were
    recorded before the shuffle_partitions field was deleted."""
    assert DedupConfig().output_config_token() == "395bcc942505"
    assert DedupConfig(window_tokens=0).output_config_token() == "b6c55dc44d69"
    assert (
        DedupConfig(checkpoint_dir="/elsewhere").output_config_token()
        == DedupConfig().output_config_token()
    )


def test_byte_identical_text_through_resume(spark, ckpt_root):
    """input_hint per-row invariant survives a resumed run: canonical
    pages carry text byte-identical to the source rows."""
    pages = pages_spark_df(spark, 300)
    cfg = DedupConfig(checkpoint_dir=ckpt_root)
    res = run_dedup_pipeline(spark, pages, cfg)
    mismatches = (
        res.canonical_pages.select("url", F.col("text").alias("out_text"))
        .join(pages.select("url", "text"), "url")
        .filter(F.col("out_text") != F.col("text"))
        .count()
    )
    assert mismatches == 0
