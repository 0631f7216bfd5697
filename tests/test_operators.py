"""Unit tests for the relational operators: exact collapse, candidate
generation (banding completeness, skew capping), edge gating."""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pytest
from pyspark.sql import functions as F

from umi_collapse_rs_spark.functions import fingerprint_core as core
from umi_collapse_rs_spark.operators.candidates import (
    band_keys,
    bucket_pairs,
    combined_band_pairs,
)
from umi_collapse_rs_spark.operators.edges import combined_candidates_with_dist
from umi_collapse_rs_spark.operators.exact import exact_collapse, with_norm


def _ts(s):
    return datetime(2025, 1, 1, 0, 0, s, tzinfo=timezone.utc)


def test_exact_collapse_freq_and_representative(spark):
    rows = [
        ("u3", _ts(30), "Hello  World", "en"),
        ("u1", _ts(10), "hello world", "en"),   # earliest ts -> representative
        ("u2", _ts(10), "HELLO\tWORLD", "de"),  # same ts, 'u1' < 'u2'
        ("u4", _ts(5), "different", "en"),
    ]
    pages = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string, lang string")
    reps, members = exact_collapse(with_norm(pages))
    got = {r["url"]: r["freq"] for r in reps.collect()}
    assert got == {"u1": 3, "u4": 1}
    assert members.count() == 4


def test_normalization_collapses_whitespace_case(spark):
    pages = spark.createDataFrame(
        [("u1", _ts(1), "  A  b\t C ", "en")],
        "url string, warc_ts timestamp, text string, lang string",
    )
    row = with_norm(pages).select("text_norm", "text").collect()[0]
    assert row["text_norm"] == "a b c"
    assert row["text"] == "  A  b\t C "  # raw text untouched (invariant)
    assert row["text_norm"] == core.normalize_text_py(row["text"])


def test_simhash_banding_finds_all_close_pairs(spark):
    """Completeness: every pair with Hamming <= k shares a band piece
    (pigeonhole) — compare against a brute-force scan."""
    rng = np.random.default_rng(3)
    base = rng.integers(0, 2**64, dtype=np.uint64)
    vals = [base]
    for _ in range(30):
        v = base
        for b in rng.choice(64, size=int(rng.integers(1, 7)), replace=False):
            v ^= np.uint64(1) << np.uint64(b)
        vals.append(v)
    fp = spark.createDataFrame(
        [(f"d{i:02d}", int(np.int64(v)), []) for i, v in enumerate(vals)],
        "url string, simhash long, mh_bands array<long>",
    )
    cands = combined_candidates_with_dist(
        [combined_band_pairs(fp, 4, cap=64, chain_width=4)], fp, hamming_k=3
    )
    got = {(r["src"], r["dst"]) for r in cands.collect()}
    rows = fp.collect()
    want = set()
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            if core.hamming64(a["simhash"], b["simhash"]) <= 3:
                u, v = sorted((a["url"], b["url"]))
                want.add((u, v))
    assert got == want


def test_bucket_pairs_small_bucket_all_pairs(spark):
    df = spark.createDataFrame(
        [(1, f"x{i}", i) for i in range(4)], "b int, id string, o long"
    )
    got = {(r["src"], r["dst"]) for r in bucket_pairs(df, ["b"], "id", "o", cap=10, chain_width=2).collect()}
    assert len(got) == 6  # C(4,2)


def test_bucket_pairs_hot_bucket_chained(spark):
    n = 40
    df = spark.createDataFrame(
        [(1, f"x{i:02d}", i) for i in range(n)], "b int, id string, o long"
    )
    rows = bucket_pairs(df, ["b"], "id", "o", cap=10, chain_width=3).collect()
    assert all(r["_hot"] for r in rows)
    got = {(r["src"], r["dst"]) for r in rows}
    # chained: bounded pair count, but connectivity preserved
    assert len(got) == 3 * n - 6  # sum over j=1..3 of (n - j)
    # adjacency in sort order present -> the bucket stays connected
    for i in range(n - 1):
        assert (f"x{i:02d}", f"x{i+1:02d}") in got


def test_bucket_pairs_large_cap_self_join_path(spark):
    """cap above the lead fan-out bound takes the bucket self-join
    branch; small buckets get full all-pairs, hot buckets still chain."""
    rows = [(1, f"s{i}", i) for i in range(10)]          # bsz 10 <= cap: all pairs
    rows += [(2, f"h{i:02d}", i) for i in range(60)]     # bsz 60 > cap: chained
    df = spark.createDataFrame(rows, "b int, id string, o long")
    pairs = bucket_pairs(df, ["b"], "id", "o", cap=50, chain_width=3).dropDuplicates(["src", "dst"])
    got = {(r["src"], r["dst"]) for r in pairs.collect()}
    small = {p for p in got if p[0].startswith("s")}
    hot = {p for p in got if p[0].startswith("h")}
    assert len(small) == 45  # C(10,2)
    assert len(hot) == 3 * 60 - 6
    for i in range(59):
        assert (f"h{i:02d}", f"h{i+1:02d}") in hot


def test_singleton_buckets_produce_no_pairs(spark):
    df = spark.createDataFrame([(i, f"x{i}", i) for i in range(5)], "b int, id string, o long")
    assert bucket_pairs(df, ["b"], "id", "o", 10, 2).count() == 0


# sha256 of the sorted (src, dst, sources, dist) candidate rows on the
# seed-42 500-page fixture, recorded while the two-generator reference
# form (separate simhash and MinHash generators, privately
# Hamming-filtered) was still in the tree and proven equal to this path.
_CANDIDATE_EVIDENCE_SHA256 = {
    8: "98dd6ef5a7e6bd61a0309e3de1ba56f82f75acd055f6d4b5b2f911bd03810091",
    10_000: "b565f549ea584ccfe9184fe8724bf8805a69cceaa3ff1d62954e4b36326f8cd4",
}


def test_combined_candidate_evidence_is_pinned(spark, fixture_500):
    """Pair evidence (src, dst, sources, dist) of the single-exchange
    band expansion + union-stage Hamming gate, pinned under BOTH cap
    regimes: the lead() window path (cap=8, chain pairs included) and
    the bucket self-join path (cap=10_000)."""
    import hashlib

    from umi_collapse_rs_spark.config import DedupConfig
    from umi_collapse_rs_spark.functions.udfs import make_combined_fingerprint_udf

    cfg = DedupConfig()
    pages, _ = fixture_500
    reps, _ = exact_collapse(with_norm(pages))
    udf = make_combined_fingerprint_udf(
        cfg.shingle_k, cfg.minhash_perms, cfg.lsh_bands, cfg.hash_seed
    )
    fp = (
        reps.select("url", "freq", udf("text_norm").alias("_fp"))
        .select("url", "freq", "_fp.simhash", "_fp.mh_bands", "_fp.mh_sig")
        .localCheckpoint()
    )
    for cap, want in _CANDIDATE_EVIDENCE_SHA256.items():
        cands = combined_candidates_with_dist(
            [combined_band_pairs(fp, cfg.simhash_bands, cap, cfg.chain_width)],
            fp,
            cfg.hamming_k,
        )
        rows = sorted(
            (r["src"], r["dst"], tuple(r["sources"]), r["dist"]) for r in cands.collect()
        )
        blob = "".join(f"{s}\t{d}\t{','.join(src)}\t{dist}\n" for s, d, src, dist in rows)
        got = hashlib.sha256(blob.encode()).hexdigest()
        assert got == want, f"pair evidence changed at cap={cap}"


def test_band_keys_layout(spark):
    """Simhash pieces at idx 0..b-1, MinHash bands at idx 64+j, each
    tagged with its source; the pieces reassemble the fingerprint."""
    sh = -0x0123456789ABCDEF
    fp = spark.createDataFrame([("d", sh, [7, 9])], "url string, simhash long, mh_bands array<long>")
    rows = sorted((r["_bidx"], r["_bval"], r["source"]) for r in band_keys(fp, 4).collect())
    assert [(i, src) for i, _, src in rows] == [
        (0, "simhash"), (1, "simhash"), (2, "simhash"), (3, "simhash"),
        (64, "minhash"), (65, "minhash"),
    ]
    assert [v for i, v, _ in rows if i >= 64] == [7, 9]
    assert sum(v << (16 * i) for i, v, _ in rows if i < 64) == sh & (2**64 - 1)
