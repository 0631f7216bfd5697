from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from umi_collapse_rs_spark.session import get_spark

    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fixture_500(spark):
    """The seed-42 500-page corpus + its planted truth pairs."""
    from umi_collapse_rs_spark.fixtures import generate_pages, pages_spark_df

    pages = pages_spark_df(spark, 500)
    _, truth = generate_pages(500)
    return pages, truth


@pytest.fixture(scope="session")
def pipeline_500(spark, fixture_500):
    """One shared full-pipeline run on the 500-page corpus."""
    from umi_collapse_rs_spark.config import DedupConfig
    from umi_collapse_rs_spark.plans.pipeline import run_dedup_pipeline

    pages, truth = fixture_500
    res = run_dedup_pipeline(spark, pages, DedupConfig())
    clusters = res.clusters.toPandas()
    pairs = res.pairs.toPandas()
    return {"pages": pages, "truth": truth, "res": res, "clusters": clusters, "pairs": pairs}


@pytest.fixture(
    params=[(1, True), (7, True), (13, False)], ids=["sp1-aqe", "sp7-aqe", "sp13-noaqe"]
)
def shuffle_setting(spark, request):
    """Run one test at (spark.sql.shuffle.partitions, AQE on) =
    ``request.param`` on the shared session, restoring the previous
    values after it.  The default params: one task per exchange, an odd
    count that matches neither the cores nor the session default, and
    AQE off.  Tests may pick a subset with indirect parametrization."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = [spark.conf.get(k) for k in keys]
    try:
        for key, value in zip(keys, request.param):
            spark.conf.set(key, str(value).lower())
        yield request.param
    finally:
        for key, value in zip(keys, saved):
            spark.conf.set(key, value)
