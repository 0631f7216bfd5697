"""Driver-side ANN helpers (functions/embeddings.py): plane-count
auto-scaling, multiprobe mask enumeration, and the fitted-IVF k-means —
all pure Python/numpy (no SparkSession), all deterministic because both
the Spark operators and the DuckDB oracle generators embed their
outputs as literals.

The file ends with the hyperplane-LSH top-k operator
(``multitable_lsh_topk``) held to its two contracts: the single-table
form behind ``embedding_lsh_ann`` returns exactly the rows of its
DuckDB oracle, and the auto-configured multi-table form keeps recall@3
>= 0.9 against brute-force cosine top-3 at n = 2000
(``tools/check_ann_recall.py`` runs the n = 500/2000/8000 sweep)."""

from __future__ import annotations

import hashlib
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from umi_collapse_rs_spark.functions.embeddings import (
    _probe_masks,
    auto_n_planes,
    fit_ivf_centroids,
    multitable_lsh_topk,
    parquet_num_rows,
)

SF001 = "/root/testdata/sf0.001/embeddings.parquet"
SF01 = "/root/testdata/sf0.01/embeddings.parquet"
SF1 = SF01.replace("sf0.01", "sf0.1")


def test_auto_n_planes_tracks_occupancy():
    # planes = ceil(log2(n / cap)), floored at 2: expected bucket
    # occupancy n / 2^planes always lands in (cap/2, cap]
    for n in (500, 2_000, 1_000_000, 10**9):
        p = auto_n_planes(n, 64)
        occ = n / (1 << p)
        assert occ <= 64
        assert occ > 32 or p == 2
    assert auto_n_planes(500, 64) == 3
    assert auto_n_planes(2_000, 64) == 5
    assert auto_n_planes(10, 64) == 2  # tiny corpora floor, never 0/negative
    assert auto_n_planes(10**9, 64) == 24


def test_probe_masks_distinct_and_sized():
    for p in (3, 5, 8):
        h1 = _probe_masks(p, 1)
        h2 = _probe_masks(p, 2)
        assert len(h1) == p
        assert len(h2) == p + p * (p - 1) // 2
        # all masks distinct and nonzero => probe buckets are pairwise
        # distinct => no (query, neighbor) pair arises twice
        assert len(set(h2)) == len(h2)
        assert 0 not in h2
        assert all(bin(m).count("1") <= 2 for m in h2)


def test_parquet_num_rows_matches_table():
    import pyarrow.parquet as pq

    assert parquet_num_rows(SF001) == pq.read_table(SF001).num_rows


def test_fit_ivf_centroids_deterministic_unit_norm():
    a = fit_ivf_centroids(SF01, n_centroids=8, iters=5)
    b = fit_ivf_centroids(SF01, n_centroids=8, iters=5)
    assert a.shape == (8, 64)
    np.testing.assert_array_equal(a, b)  # bit-identical across calls
    np.testing.assert_allclose(np.linalg.norm(a, axis=1), 1.0, atol=1e-12)


def test_fit_ivf_centroids_improves_quantization():
    """The fit must beat seed-random centroids at its own objective:
    mean max-dot (cosine to the assigned centroid) over the corpus."""
    import pyarrow.parquet as pq

    from umi_collapse_rs_spark.functions.embeddings import ivf_centroids

    emb = np.asarray(pq.read_table(SF01)["embedding"].to_pylist(), dtype=np.float64)
    X = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    fitted = fit_ivf_centroids(SF01, n_centroids=16)
    rand = ivf_centroids(16, 64, seed=7)
    assert (X @ fitted.T).max(axis=1).mean() > (X @ rand.T).max(axis=1).mean()


def test_fit_sample_cap_bounds_read(monkeypatch):
    # with a cap below the table size the fit still returns a valid
    # quantizer (stride sample is a pure function of the file)
    c = fit_ivf_centroids(SF01, n_centroids=4, sample_cap=100, iters=3)
    assert c.shape == (4, 64)
    d = fit_ivf_centroids(SF01, n_centroids=4, sample_cap=100, iters=3)
    np.testing.assert_array_equal(c, d)


def test_fit_never_materializes_full_column(monkeypatch):
    """ADVICE r3: the fit's I/O must be O(sample_cap), never a full-
    column read.  Pin it: ParquetFile.read (the materialize-everything
    API) must not be called, and only the strided rows may leave Arrow
    memory."""
    import pyarrow.parquet as pq

    import umi_collapse_rs_spark.functions.embeddings as E

    def forbidden_read(self, *a, **kw):  # pragma: no cover - must not run
        raise AssertionError("full-column ParquetFile.read in the fit path")

    rows_converted: list[int] = []

    class NPSpy:
        def __getattr__(self, name):
            return getattr(np, name)

        def asarray(self, obj, *a, **kw):
            if isinstance(obj, list):
                rows_converted.append(len(obj))
            return np.asarray(obj, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read", forbidden_read)
    monkeypatch.setattr(E, "np", NPSpy())
    cap = 100
    c = fit_ivf_centroids(SF01, n_centroids=4, sample_cap=cap, iters=2)
    assert c.shape == (4, 64)
    # exactly the strided sample left Arrow memory, never the column
    assert sum(rows_converted) == cap


def test_auto_planes_guardrail():
    # neither n_planes nor n_rows (ADVICE r3: the no-arg call used to
    # die as TypeError(None/64) inside auto_n_planes); the operator's
    # guard is checked in the multitable test below
    with pytest.raises(ValueError, match="n_planes|n_rows"):
        from umi_collapse_rs_spark.functions.embeddings import (
            hyperplane_lsh_topk_oracle_sql,
        )

        hyperplane_lsh_topk_oracle_sql()


def test_multitable_auto_planes_guardrail_and_lockstep():
    """The multi-table pair (operator + oracle generator) shares the
    occupancy auto-scaling contract (r4): both raise the explicit
    ValueError with neither n_planes nor n_rows, and the oracle's
    auto-derived plane count embeds the same literals as an explicit
    call at auto_n_planes(n_rows)."""
    from umi_collapse_rs_spark.functions.embeddings import (
        multitable_lsh_topk,
        multitable_lsh_topk_oracle_sql,
    )

    from umi_collapse_rs_spark.functions.embeddings import auto_n_tables

    with pytest.raises(ValueError, match="n_planes|n_rows"):
        multitable_lsh_topk(None, "id", "emb")
    with pytest.raises(ValueError, match="n_planes|n_rows"):
        multitable_lsh_topk_oracle_sql()
    # n_planes alone no longer suffices: n_tables auto-derives too (r4)
    with pytest.raises(ValueError, match="n_tables|n_rows"):
        multitable_lsh_topk_oracle_sql(n_planes=3)
    n = 500
    assert multitable_lsh_topk_oracle_sql(n_rows=n) == multitable_lsh_topk_oracle_sql(
        n_planes=auto_n_planes(n, 64), n_tables=auto_n_tables(n, 64)
    )


def test_auto_n_tables_scales_with_corpus():
    """r4 verdict item #2: the table count must RISE with corpus size
    (recall model L = ln(1-R)/ln(1-p^b), b occupancy-driven), stay
    clamped at max_tables, and floor at 4.  Pinned values keep the
    driver query + oracle + BENCH/ANN.md sweep in lockstep."""
    from umi_collapse_rs_spark.functions.embeddings import auto_n_tables

    # shipped h=1 multiprobe values (BENCH/ANN.md sweep runs these)
    assert auto_n_tables(500) == 3
    assert auto_n_tables(2000) == 7
    assert auto_n_tables(8000) == 17
    assert auto_n_tables(1_000_000) == 64  # clamp, frontier published
    # single-probe model (h=0) wants ~5x more tables at the same n
    assert auto_n_tables(500, probe_hamming=0) == 11
    assert auto_n_tables(2000, probe_hamming=0) == 34
    assert auto_n_tables(100, target_recall=0.5, probe_hamming=0) == 4
    ns = [200, 500, 2000, 8000, 50_000]
    ts = [auto_n_tables(n) for n in ns]
    assert ts == sorted(ts)
    assert all(2 <= t <= 64 for t in ts)
    # a higher target buys more tables at the same n
    assert auto_n_tables(2000, target_recall=0.95) > auto_n_tables(2000)


def test_spread_input_widens_non_file_narrow_plans(spark):
    """ADVICE r4: a localCheckpoint'd (non-file) frame keeps its 1-2
    original partitions and used to skip the spread because
    inputFiles() is empty — the O(n*planes) hash work serialized.  The
    fallback partition-count check must widen it; an already-wide
    frame and a wide file scan stay untouched (no gratuitous
    exchange)."""
    from umi_collapse_rs_spark.functions.embeddings import _spread_input

    spark_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    narrow = (
        spark.range(100)
        .select(F.col("id").cast("string").alias("doc_id"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    assert narrow.inputFiles() == []
    widened = _spread_input(narrow, spark_p, "doc_id")
    assert (
        widened._jdf.queryExecution().toRdd().getNumPartitions() == spark_p
    )
    wide = spark.range(1000).select(
        F.col("id").cast("string").alias("doc_id")
    ).repartition(spark_p, "doc_id").localCheckpoint(eager=True)
    assert _spread_input(wide, spark_p, "doc_id") is wide


def _sorted_rows_sha(pdf) -> str:
    rows = sorted(pdf[sorted(pdf.columns)].astype(str).apply("|".join, axis=1))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_embedding_lsh_ann_matches_duckdb_oracle(spark, monkeypatch):
    sf_dir = os.path.dirname(SF01)
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)
    got = entry.queries()["embedding_lsh_ann"](spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{SF01}'")
    want = con.sql(entry.oracle_sql()["embedding_lsh_ann"]).df()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want) == 3 * 500
    assert _sorted_rows_sha(got) == _sorted_rows_sha(want)


def test_multitable_recall_at_3_holds_at_n2000(spark):
    k = 3
    t = pq.read_table(SF1, columns=["vec_id", "embedding"])
    ids = np.asarray(t.column("vec_id").to_pylist())
    emb = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    n = len(ids)
    assert n == 2000
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    sims = unit @ unit.T
    np.fill_diagonal(sims, -np.inf)
    truth = {
        q: set(ids[row[:k]].tolist())
        for q, row in zip(ids.tolist(), np.argsort(-sims, axis=1))
    }
    got: dict = {}
    for r in multitable_lsh_topk(
        spark.read.parquet(SF1), "vec_id", "embedding", n_rows=n, k=k
    ).collect():
        got.setdefault(r["qid"], set()).add(r["neighbor_id"])
    recall = sum(len(truth[q] & got.get(q, set())) for q in truth) / (len(truth) * k)
    assert recall >= 0.9, recall
