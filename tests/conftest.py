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
