"""Incremental dedup (plans/incremental.py): batch-vs-state assignment.

The driver correctness gate hash-checks `incremental_assign` against
the two-recursive-CTE DuckDB oracle at sf0.01; these tests cover the
semantics the oracle can't see: state composability across batches,
the directional gate on the near path, skew capping, the numpy
fingerprint mode, and the no-crossJoin plan shape.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from umi_collapse_rs_spark.config import DedupConfig
from umi_collapse_rs_spark.plans.incremental import (
    DedupState,
    build_state,
    incremental_assign,
)
from umi_collapse_rs_spark.plans.pipeline import run_dedup_pipeline

CFG = DedupConfig(window_tokens=0)  # numpy fingerprints, default gates

# sha256 of the sorted (url, canonical_url, via) assignments and of the
# sorted delta rows (sha_new, freq_delta, canon_new url+freq) of the
# fixture_500 split; identical at local[4] / 8 partitions and local[2]
# / 3 partitions, and at the shuffle settings tested below
_INC_ASSIGNMENTS_SHA256 = "985e154994d1ce9bf08a8a95a98418b75eb07acf9cdb5d5015a9f828ae04b9e1"
_INC_DELTA_SHA256 = "81ffcd4aac79b6ad4c659412e92963c5b8d72b6f260b9fbd28c5a49f10e51aa1"


def _split_fixture(spark, fixture_500):
    """old = 400 pages / new = 100, split on the url's last digit
    (in {3, 7} => new) — planted dup groups are contiguous row runs,
    so a digit split scatters the batch ACROSS groups (24 exact-cross
    pages, 37 near-cross truth pairs at n=500); a prefix split would
    straddle at most one group."""
    pages, truth = fixture_500
    is_new = F.substring("url", -1, 1).isin("3", "7")
    return pages.filter(~is_new), pages.filter(is_new), truth


@pytest.fixture(scope="module")
def inc_run(spark, fixture_500):
    old, new, truth = _split_fixture(spark, fixture_500)
    res_old = run_dedup_pipeline(spark, old, CFG)
    state = build_state(res_old)
    inc = incremental_assign(spark, state, new, CFG)
    return {
        "old": old,
        "new": new,
        "truth": truth,
        "res_old": res_old,
        "state": state,
        "inc": inc,
        "assign": inc.assignments.toPandas(),
        "old_clusters": res_old.clusters.toPandas(),
    }


def test_every_new_page_assigned_exactly_once(inc_run):
    a = inc_run["assign"]
    new_urls = sorted(r.url for r in inc_run["new"].select("url").collect())
    assert sorted(a["url"]) == new_urls
    assert a["url"].is_unique
    assert set(a["via"]) <= {"exact", "near", "new"}


def test_exact_path_joins_the_twin_cluster(spark, inc_run):
    """A new page byte-identical to an old page lands in the old
    page's cluster, via='exact'."""
    a = inc_run["assign"]
    oldp = inc_run["old"].select("url", "text").toPandas()
    newp = inc_run["new"].select("url", "text").toPandas()
    oc = inc_run["old_clusters"].set_index("url")["canonical_url"]

    def norm(s):
        return " ".join((s or "").lower().split())

    old_by_norm = {norm(t): u for u, t in zip(oldp["url"], oldp["text"])}
    hits = 0
    am = a.set_index("url")
    for u, t in zip(newp["url"], newp["text"]):
        twin = old_by_norm.get(norm(t))
        if twin is None:
            continue
        hits += 1
        assert am.loc[u, "via"] == "exact", u
        assert am.loc[u, "canonical_url"] == oc.loc[twin], u
    assert hits > 0, "fixture split produced no cross-boundary exact dups"


def test_near_path_fires_and_respects_state_priority(inc_run):
    """Planted near-dup groups straddling the split produce 'near'
    assignments whose canonical is an OLD canonical."""
    a = inc_run["assign"]
    near = a[a["via"] == "near"]
    assert len(near) > 0, "fixture split produced no cross-boundary near dups"
    old_canon = set(inc_run["old_clusters"]["canonical_url"])
    assert set(near["canonical_url"]) <= old_canon


def test_new_clusters_are_self_contained(inc_run):
    """via='new' canonicals are batch urls, never state urls."""
    a = inc_run["assign"]
    new_urls = set(a["url"])
    newc = a[a["via"] == "new"]
    assert set(newc["canonical_url"]) <= new_urls


def test_state_composability_two_batches(spark, fixture_500):
    """batch2 containing an exact copy of a batch1-new-cluster page is
    assigned to the batch1 canonical via the grown sha index."""
    old, new, _ = _split_fixture(spark, fixture_500)
    res_old = run_dedup_pipeline(spark, old, CFG)
    inc1 = incremental_assign(spark, build_state(res_old), new, CFG)
    # batch2 = re-fetches of three batch1 pages under new urls
    batch2 = (
        new.orderBy("url")
        .limit(3)
        .select(
            F.concat(F.lit("refetch-"), F.col("url")).alias("url"),
            (F.col("warc_ts") + F.expr("INTERVAL 1 DAY")).alias("warc_ts"),
            "html",
            "text",
            "lang",
        )
    )
    inc2 = incremental_assign(spark, inc1.state_out, batch2, CFG)
    a1 = inc1.assignments.toPandas().set_index("url")
    a2 = inc2.assignments.toPandas()
    assert len(a2) == 3
    assert (a2["via"] == "exact").all()
    for _, row in a2.iterrows():
        orig = row["url"].removeprefix("refetch-")
        assert row["canonical_url"] == a1.loc[orig, "canonical_url"]


def test_state_out_freq_grows_by_absorbed_mass(spark, inc_run):
    """canonical freqs in state_out = input freq + absorbed batch pages;
    total mass = old pages + new pages."""
    out = inc_run["inc"].state_out
    total = out.canonicals.agg(F.sum("freq")).collect()[0][0]
    n_old = inc_run["old"].count()
    n_new = inc_run["new"].count()
    assert total == n_old + n_new


def test_index_bucket_cap_keeps_assignment_total(spark, fixture_500):
    """Skew cap bounds the probe join; every page is still assigned
    (near hits may degrade to 'new', never dropped)."""
    old, new, _ = _split_fixture(spark, fixture_500)
    state = build_state(run_dedup_pipeline(spark, old, CFG))
    inc = incremental_assign(spark, state, new, CFG, index_bucket_cap=1)
    a = inc.assignments.toPandas()
    assert len(a) == new.count()
    assert a["url"].is_unique


def test_no_cartesian_product_in_plan(spark, fixture_500):
    old, new, _ = _split_fixture(spark, fixture_500)
    state = build_state(run_dedup_pipeline(spark, old, CFG))
    inc = incremental_assign(spark, state, new, CFG)
    plan = inc.assignments._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _sha256_rows(rows) -> str:
    blob = "".join("\t".join(map(str, r)) + "\n" for r in sorted(rows))
    return hashlib.sha256(blob.encode()).hexdigest()


def incremental_digests(inc) -> tuple[str, str]:
    """(assignments, delta) sha256 of one incremental_assign result."""
    d = inc.delta
    assignments = _sha256_rows(
        tuple(r) for r in inc.assignments.select("url", "canonical_url", "via").collect()
    )
    delta = _sha256_rows(
        [("sha_new", r["text_sha"], r["canonical_url"]) for r in d.sha_new.collect()]
        + [("freq_delta", r["url"], r["added"]) for r in d.freq_delta.collect()]
        + [("canon_new", r["url"], r["freq"]) for r in d.canon_new.collect()]
    )
    return assignments, delta


@pytest.mark.parametrize("cfg", [CFG, DedupConfig()], ids=["window_tokens=0", "default"])
def test_incremental_outputs_are_pinned(spark, inc_run, cfg):
    """Assignments and the persisted delta are pinned, and equal with
    and without window_tokens: the window pass is bulk-only."""
    inc = incremental_assign(spark, inc_run["state"], inc_run["new"], cfg)
    assert incremental_digests(inc) == (_INC_ASSIGNMENTS_SHA256, _INC_DELTA_SHA256)


@pytest.mark.parametrize(
    "shuffle_setting", [(1, True), (13, False)], ids=["sp1-aqe", "sp13-noaqe"], indirect=True
)
def test_incremental_outputs_are_pinned_across_shuffle_settings(
    spark, inc_run, shuffle_setting
):
    """Determinism guard: the same digests when the batch's exchanges
    run at another task count, with and without AQE."""
    inc = incremental_assign(spark, inc_run["state"], inc_run["new"], CFG)
    assert incremental_digests(inc) == (_INC_ASSIGNMENTS_SHA256, _INC_DELTA_SHA256)


@pytest.mark.parametrize("pfx_len", [None, 2], ids=["derived", "len2"])
def test_incremental_outputs_are_pinned_across_prefix_lengths(
    spark, inc_run, tmp_path, force_sha_prefix_len, pfx_len
):
    """Determinism guard for the store layout: the same digests when the
    state is bootstrapped into a StateStore and the batch is assigned
    against ``store.read()`` (prefix-pruned exact probe), at the length
    the store derives for this index (1) and at the old fixed length 2."""
    from umi_collapse_rs_spark.plans.state_store import StateStore

    if pfx_len is not None:
        force_sha_prefix_len(inc_run["state"].sha_index.count(), pfx_len)
    store = StateStore(spark, str(tmp_path / "state"))
    m = store.bootstrap(inc_run["state"])
    assert m["sha_pfx_len"] == (pfx_len or 1)
    inc = incremental_assign(spark, store.read(), inc_run["new"], CFG)
    assert inc.probe_prefixes
    assert all(len(p) == m["sha_pfx_len"] for p in inc.probe_prefixes)
    assert incremental_digests(inc) == (_INC_ASSIGNMENTS_SHA256, _INC_DELTA_SHA256)


def test_empty_state_degenerates_to_full_batch_clustering(spark, fixture_500):
    """With no state, every page goes through the residual path and the
    assignment equals the full pipeline's cluster mapping on the same
    batch (same stages, same gates — the incremental plan adds nothing
    and loses nothing)."""
    pages, _ = fixture_500
    batch = pages.filter(F.substring("url", -1, 1).isin("3", "7"))
    empty_state = DedupState(
        sha_index=spark.createDataFrame([], "text_sha string, canonical_url string"),
        canonicals=spark.createDataFrame(
            [],
            "url string, freq long, simhash long, "
            "mh_bands array<long>, mh_sig array<long>",
        ),
    )
    inc = incremental_assign(spark, empty_state, batch, CFG)
    a = inc.assignments.toPandas()
    assert (a["via"] == "new").all()
    full = run_dedup_pipeline(spark, batch, CFG).clusters.toPandas()
    merged = a.merge(full[["url", "canonical_url"]], on="url", suffixes=("_inc", "_full"))
    assert len(merged) == len(a) == len(full)
    assert (merged["canonical_url_inc"] == merged["canonical_url_full"]).all()
