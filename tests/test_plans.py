"""Catalyst plan checks: the scan-level optimizations SURVEY §4 counts
on must actually appear in the physical plan (pushdown, pruning,
whole-stage codegen, broadcast)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    from umi_collapse_rs_spark.fixtures import generate_pages

    pdf, _ = generate_pages(300)
    p = str(tmp_path_factory.mktemp("plans") / "pages.parquet")
    pdf.to_parquet(p, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    return p


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark, pages_path):
    df = spark.read.parquet(pages_path).filter(F.col("lang") == "en").select("url", "lang")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "lang" in plan.split("PushedFilters")[1].splitlines()[0]


def test_column_pruning_reaches_parquet_scan(spark, pages_path):
    """A 2-column projection must not read html/text bytes."""
    df = spark.read.parquet(pages_path).select("url", "lang")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "url" in read_schema and "lang" in read_schema
    assert "html" not in read_schema and "text" not in read_schema


def test_normalize_stage_is_whole_stage_codegen(spark, pages_path):
    from umi_collapse_rs_spark.operators.exact import with_norm

    df = with_norm(spark.read.parquet(pages_path))
    plan = _plan(df)
    # formatted mode marks whole-stage-codegen nodes with `[codegen id : N]`
    assert "codegen id" in plan
    # no python worker in the normalize path
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_exact_collapse_is_single_aggregate_exchange(spark, pages_path):
    from umi_collapse_rs_spark.operators.exact import exact_collapse, with_norm

    reps, _ = exact_collapse(with_norm(spark.read.parquet(pages_path)))
    import re

    plan = _plan(reps)
    # partial + final aggregate around exactly one exchange (formatted
    # output names each node once in the tree and once in the detail)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Aggregate" in plan


def test_pair_expansion_is_one_exchange_one_window(spark):
    """bucket_pairs (capped regime) must stay a single exchange on
    the bucket key feeding a single WindowExec — the bucket-size count
    and every lead() share one window spec, so one sort serves all of
    them, and no collect_list / python node appears anywhere."""
    import re

    from umi_collapse_rs_spark.operators.candidates import bucket_pairs

    df = spark.createDataFrame(
        [(i % 7, f"id{i:03d}", i) for i in range(100)], "b int, id string, o long"
    )
    plan = _plan(bucket_pairs(df, ["b"], "id", "o", cap=8, chain_width=4))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "collect_list" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_verify_signature_join_only_for_lsh_only_pairs(spark):
    """The ~1 KB MinHash-signature join must touch ONLY pairs whose sole
    evidence is an LSH bucket hit.  Proof by construction: a simhash
    pair whose nodes have NULL signatures still passes through (the
    signature join cannot be on its path), while an LSH-only pair is
    signature-verified; and the physical plan contains exactly the two
    signature-side joins."""
    import re

    from umi_collapse_rs_spark.operators.edges import verify_pairs

    fp = spark.createDataFrame(
        [("a", None), ("b", None), ("c", [1, 2, 3, 4]), ("d", [1, 2, 9, 9])],
        "url string, mh_sig array<long>",
    )
    cand = spark.createDataFrame(
        [("a", "b", ["simhash"], 1), ("c", "d", ["minhash"], 9)],
        "src string, dst string, sources array<string>, dist int",
    )
    out = verify_pairs(cand, fp, 0.5)
    plan = _plan(out)  # before collect: post-execution explain would
    #                    print the AQE initial plan too, doubling counts
    rows = {(r.src, r.dst): r.sig_sim for r in out.collect()}
    assert set(rows) == {("a", "b"), ("c", "d")}
    assert rows[("a", "b")] is None          # passthrough, no signature read
    assert rows[("c", "d")] == pytest.approx(0.5)
    n_joins = len(re.findall(r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan))
    assert n_joins == 2


def test_embedding_ann_plan_no_cartesian_no_driver_action(spark):
    """embedding_lsh_ann post-fix guardrails (VERDICT r1): building the
    query must trigger NO Spark job (dim is a parameter, not inferred
    via first()), and the candidate join must be a bucket equi-join —
    no CartesianProduct / nested-loop anywhere."""
    from umi_collapse_rs_spark.functions.embeddings import (
        lsh_blocked_near_dup_pairs,
        multitable_lsh_topk,
        parquet_num_rows,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = parquet_num_rows("/root/testdata/sf0.001/embeddings.parquet")
    sc = spark.sparkContext
    sc.setJobGroup("ann_build_probe", "ann build must be lazy")
    ann = multitable_lsh_topk(
        e, "vec_id", "embedding", n_rows=n, n_tables=1, probe_hamming=2
    )
    ndp = lsh_blocked_near_dup_pairs(e, "vec_id", "embedding", threshold=0.35)
    assert sc.statusTracker().getJobIdsForGroup("ann_build_probe") == []
    sc.setJobGroup("", "")
    for df in (ann, ndp):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    # the neighbor side is capped per bucket => a row_number window
    # bounds within-bucket expansion
    assert "row_number" in _plan(ann)


def test_ann_scoring_parallelism_is_pinned(spark):
    """The ANN candidate joins are tiny in bytes but heavy in compute
    (each matched row expands into up to cap scored candidates), so AQE's
    byte-based coalescing once collapsed the scoring stage to ONE task
    (measured 31 idle cores on the sf0.1 IVF query).  The operators now
    pin the stage with an explicit keyed repartition; REPARTITION_BY_NUM
    in the plan is the marker AQE is forbidden to coalesce, so its
    presence IS the guarantee."""
    from umi_collapse_rs_spark.functions.embeddings import (
        ivf_topk,
        lsh_blocked_near_dup_pairs,
        multitable_lsh_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sc = spark.sparkContext
    sc.setJobGroup("ann_pin_probe", "ivf build must be lazy")
    ivf = ivf_topk(e, "vec_id", "embedding")
    assert sc.statusTracker().getJobIdsForGroup("ann_pin_probe") == []
    sc.setJobGroup("", "")
    # fitted centroids flow through the same plan (literals, no extra
    # jobs beyond the driver-side pyarrow fit)
    from umi_collapse_rs_spark.functions.embeddings import fit_ivf_centroids

    fitted = ivf_topk(
        e,
        "vec_id",
        "embedding",
        centroids=fit_ivf_centroids(
            "/root/testdata/sf0.001/embeddings.parquet", n_centroids=8, iters=3
        ),
    )
    for df in (
        ivf,
        fitted,
        lsh_blocked_near_dup_pairs(e, "vec_id", "embedding", threshold=0.35),
        multitable_lsh_topk(e, "vec_id", "embedding", n_tables=4, n_rows=100),
    ):
        plan = _plan(df)
        assert "REPARTITION_BY_NUM" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    # with 16 centroids < 2 x shuffle partitions the IVF join is salted:
    # both join keys appear in the exchange so one hot list cannot
    # serialize the scoring stage
    ivf_plan = _plan(ivf)
    assert "_salt" in ivf_plan


def test_fingerprint_stage_follows_session_shuffle_partitions(spark, fixture_500):
    """The fingerprint UDF stage takes its task count from the session's
    spark.sql.shuffle.partitions, like the ANN scoring stages, not from a
    constant of its own (it was 32): each Python task pays a fixed
    ~0.25 s of worker set-up, so small inputs want one task per core.
    The explicit count keeps the exchange REPARTITION_BY_NUM, which AQE
    may not coalesce.  Read from the plan; nothing runs."""
    import re

    from umi_collapse_rs_spark.config import DedupConfig
    from umi_collapse_rs_spark.operators.exact import exact_collapse
    from umi_collapse_rs_spark.plans.pipeline import fingerprints, normalized_pages

    session_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert session_p != 32  # else the old constant would pass too
    pages, _ = fixture_500
    reps, _ = exact_collapse(normalized_pages(pages))
    plan = _plan(fingerprints(reps, DedupConfig()))
    assert "ArrowEvalPython" in plan
    counts = re.findall(r"hashpartitioning\(url#\d+, (\d+)\), REPARTITION_BY_NUM", plan)
    assert counts and {int(c) for c in counts} == {session_p}


def test_semi_join_goes_broadcast_when_small(spark):
    sf = "/root/testdata/sf0.001"
    big = spark.read.parquet(f"{sf}/lineitem.parquet")
    small = spark.read.parquet(f"{sf}/region.parquet")
    j = big.join(F.broadcast(small), big.l_suppkey == small.r_regionkey, "left_semi")
    assert "BroadcastHashJoin" in _plan(j)


def test_cross_banded_pairs_plan_shape(spark):
    """Incremental probe join (plans/incremental.py): bucket-key
    equi-join, never a cross join; the skew cap adds exactly one
    WindowExec (row_number per bucket) on the index side."""
    from umi_collapse_rs_spark.operators.candidates import cross_banded_pairs

    fp = (
        spark.range(200)
        .select(
            F.format_string("u%04d", "id").alias("url"),
            (F.col("id") * 2654435761).alias("simhash"),
            F.array(F.col("id") % 7, F.col("id") % 11).alias("mh_bands"),
            F.lit(1).alias("freq"),
        )
    )
    import re

    uncapped = cross_banded_pairs(fp, fp, simhash_bands=4)
    plan = _plan(uncapped)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 0  # no cap => no ranking pass
    capped = cross_banded_pairs(fp, fp, simhash_bands=4, index_bucket_cap=8)
    plan_c = _plan(capped)
    assert "CartesianProduct" not in plan_c and "BroadcastNestedLoopJoin" not in plan_c
    assert len(re.findall(r"\(\d+\) Window\b", plan_c)) == 1
    # Spark 4 plans the rank<=cap filter as WindowGroupLimit — a partial
    # top-k BEFORE the exchange, so a mega-bucket's excess index rows
    # never even shuffle.  Pin that: it's the skew bound's scale story.
    assert "WindowGroupLimit" in plan_c
