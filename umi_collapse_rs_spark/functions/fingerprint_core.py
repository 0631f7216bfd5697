"""Pure-numpy fingerprint math — no Spark dependency.

This module is the single source of truth for tokenization, shingling,
stable hashing, SimHash and banded MinHash.  The Spark pandas UDFs
(functions/udfs.py), the pure-Python reference-semantics oracle
(oracle.py) and the unit tests all import it, which is what makes
"dup-pair recall at identical shingle/signature config" well-defined.

Reference analog: the UMI fingerprint encoder at
``/root/reference/src/utils/mod.rs:63-83`` (string -> packed BitSet) and
its cached Java-style hash (``bitset.rs:130-147``).  Here the fingerprint
is a 64-bit SimHash (LongType column) plus a banded MinHash signature;
all hashing is fixed-seed (cf. the reference's fixed 31-multiplier hash,
``utils/mod.rs:17-21``) and never Python ``hash()``.

Everything is batch-vectorized: token hashing is ONE C-level
``pd.util.hash_array`` call per Arrow batch (factorized), shingle
folding is shifted numpy adds over the flat token-hash array, MinHash
is one-permutation hashing (one scatter-min + rotation densification),
window hashes come from prefix sums — the Python interpreter never
touches a row in the hot path.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

_U64 = np.uint64
_MASK64 = _U64(0xFFFFFFFFFFFFFFFF)
_HASH_KEY = "umi_collapse_spk"  # 16 bytes, fixed: stable across runs/processes

# splitmix64 constants (public-domain PRNG finalizer; Steele et al. 2014)
_SM_GAMMA = _U64(0x9E3779B97F4A7C15)
_SM_M1 = _U64(0xBF58476D1CE4E5B9)
_SM_M2 = _U64(0x94D049BB133111EB)


def splitmix64(x: np.ndarray, out: np.ndarray | None = None, tmp: np.ndarray | None = None) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 arrays.

    With ``out``/``tmp`` buffers every step runs in place — no fresh
    allocations.  This matters under executor concurrency: numpy frees
    multi-MB temporaries back to the OS (mmap/munmap per op), and 32
    workers re-faulting zeroed pages serialize in the kernel (measured
    ~4x slowdown on this box before buffering).
    """
    old = np.seterr(over="ignore")
    try:
        if out is None:
            out = np.empty_like(x)
        if tmp is None:
            tmp = np.empty_like(x)
        np.add(x, _SM_GAMMA, out=out)            # x + gamma
        np.right_shift(out, _U64(30), out=tmp)
        np.bitwise_xor(out, tmp, out=out)
        np.multiply(out, _SM_M1, out=out)
        np.right_shift(out, _U64(27), out=tmp)
        np.bitwise_xor(out, tmp, out=out)
        np.multiply(out, _SM_M2, out=out)
        np.right_shift(out, _U64(31), out=tmp)
        np.bitwise_xor(out, tmp, out=out)
        return out
    finally:
        np.seterr(**old)


def hash_strings(strings: list[str] | np.ndarray) -> np.ndarray:
    """Vectorized stable 64-bit hash of a string array (C-level).

    ``categorize=True`` factorizes first and hashes only the distinct
    strings — natural-language token streams repeat heavily, so this is
    ~2x faster on the flat-token hot path and produces IDENTICAL hashes
    (categorization is purely an execution strategy in pandas).
    """
    arr = np.asarray(strings, dtype=object)
    if arr.size == 0:
        return np.empty(0, dtype=_U64)
    return pd.util.hash_array(arr, hash_key=_HASH_KEY, categorize=True)


def tokenize(text: str) -> list[str]:
    """Whitespace tokenization of already-normalized text.

    ``str.split()`` (no argument) is exactly ``\\S+`` extraction —
    splits on whitespace runs, drops leading/trailing — and is C-level,
    measurably faster than the equivalent regex findall.
    """
    if not text:
        return []
    return text.split()


def batch_shingle_hashes(texts: list[str], k: int, seed: int = 42) -> list[np.ndarray]:
    """Distinct k-shingle hashes for a batch of documents.

    Returns one sorted uint64 array per document, always non-empty:
    documents shorter than ``k`` tokens contribute their whole text as a
    single shingle (FIXTURES.md §4 edge rows), so no row is ever dropped.

    A shingle's hash is an order-sensitive fold of its k token hashes
    (position-salted splitmix64 sum) re-finalized with the seed; the fold
    is computed for the entire batch with k shifted vector adds.
    """
    n = len(texts)
    if n == 0:
        return []
    toks_per_doc = [tokenize(t if isinstance(t, str) else "") for t in texts]
    lengths = np.array([len(t) for t in toks_per_doc], dtype=np.int64)
    is_short = lengths < k

    out: list[np.ndarray | None] = [None] * n
    seed64 = _U64(seed & 0xFFFFFFFFFFFFFFFF)

    # short docs: one shingle = the whole joined text
    short_idx = np.nonzero(is_short)[0]
    if short_idx.size:
        joined = [" ".join(toks_per_doc[i]) for i in short_idx]
        h = splitmix64(hash_strings(joined) ^ seed64)
        for pos, i in enumerate(short_idx):
            out[i] = h[pos : pos + 1].copy()

    long_idx = np.nonzero(~is_short)[0]
    if long_idx.size:
        flat_tokens: list[str] = []
        for i in long_idx:
            flat_tokens.extend(toks_per_doc[i])
        th = hash_strings(flat_tokens)  # ONE C call for the whole batch
        old = np.seterr(over="ignore")
        try:
            # m_j = splitmix64(token_hash ^ (j+1)); windowed sum via
            # shifted in-place adds (buffered: no mmap churn per op)
            L = len(th)
            n_out = L - k + 1
            acc = np.zeros(n_out, dtype=_U64)
            buf = np.empty(n_out, dtype=_U64)
            tmp = np.empty(n_out, dtype=_U64)
            for j in range(k):
                np.bitwise_xor(th[j : n_out + j], _U64(j + 1), out=buf)
                splitmix64(buf, out=buf, tmp=tmp)
                np.add(acc, buf, out=acc)
            np.bitwise_xor(acc, seed64, out=acc)
            acc = splitmix64(acc, out=acc, tmp=tmp)
        finally:
            np.seterr(**old)
        start = 0
        for i in long_idx:
            ln = int(lengths[i])
            # windows fully inside this doc: positions [start, start+ln-k]
            out[i] = np.unique(acc[start : start + ln - k + 1])
            start += ln
    return out  # type: ignore[return-value]


def shingle_hashes(text: str, k: int, seed: int = 42) -> np.ndarray:
    """Single-document convenience wrapper over :func:`batch_shingle_hashes`."""
    return batch_shingle_hashes([text], k, seed)[0]


def batch_window_hashes(
    texts: list[str], window: int, stride: int, seed: int = 42
) -> list[np.ndarray]:
    """Content-defined window fingerprints (the substring pass, stage 8).

    A window is a ``window``-token contiguous span whose start token's
    hash is 0 mod ``stride`` — content-defined anchoring, so a shared
    verbatim block yields identical window hashes in both documents
    regardless of its offset (a fixed grid would miss misaligned
    copies).  Documents shorter than ``window`` tokens return an empty
    array.  A window's hash is the sum of the per-token splitmix64 mixes
    over the window, computed for EVERY anchor at O(1) from one
    prefix-sum pass over the batch's flat token-hash array (the earlier
    position-salted fold cost ``window`` gathers per anchor — ~23 s
    single-core at 150k pages vs ~2 s for the prefix-sum form).  The
    sum is order-insensitive WITHIN a window; two 64-token spans that
    are permutations of each other collide, which for verbatim-overlap
    evidence (thresholded at min_shared_windows anchors) is harmless.
    """
    n = len(texts)
    if n == 0:
        return []
    toks_per_doc = [tokenize(t if isinstance(t, str) else "") for t in texts]
    lengths = np.array([len(t) for t in toks_per_doc], dtype=np.int64)
    out: list[np.ndarray] = [np.empty(0, dtype=np.int64)] * n
    long_idx = np.nonzero(lengths >= window)[0]
    if long_idx.size == 0:
        return out
    flat_tokens: list[str] = []
    for i in long_idx:
        flat_tokens.extend(toks_per_doc[i])
    th = hash_strings(flat_tokens)
    seed64 = _U64(seed & 0xFFFFFFFFFFFFFFFF)
    L = len(th)
    # valid window-start positions: anchor token (hash % stride == 0)
    # AND the window stays inside its document
    valid = np.zeros(L, dtype=bool)
    start = 0
    doc_bounds = np.empty((len(long_idx), 2), dtype=np.int64)
    for pos, i in enumerate(long_idx):
        ln = int(lengths[i])
        valid[start : start + ln - window + 1] = True
        doc_bounds[pos] = (start, start + ln - window + 1)
        start += ln
    old = np.seterr(over="ignore")
    try:
        anchors = np.nonzero(valid & ((th % _U64(stride)) == 0))[0]
        # one mix pass + prefix sums: window sum = csum[a+window] - csum[a]
        mixed = splitmix64(th)
        csum = np.empty(L + 1, dtype=_U64)
        csum[0] = 0
        np.cumsum(mixed, out=csum[1:])
        acc = csum[anchors + window] - csum[anchors]
        np.bitwise_xor(acc, seed64, out=acc)
        acc = splitmix64(acc, out=acc)
    finally:
        np.seterr(**old)
    los = np.searchsorted(anchors, doc_bounds[:, 0], side="left")
    his = np.searchsorted(anchors, doc_bounds[:, 1], side="left")
    for pos, i in enumerate(long_idx):
        out[i] = np.unique(acc[los[pos] : his[pos]]).view(np.int64)
    return out


def _flat_offsets(hash_arrays: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    lengths = np.array([len(a) for a in hash_arrays], dtype=np.int64)
    assert (lengths > 0).all(), "every document must have >=1 shingle hash"
    flat = np.concatenate(hash_arrays).astype(_U64, copy=False)
    offsets = np.zeros(len(hash_arrays), dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    return flat, offsets, lengths


def batch_simhash(hash_arrays: list[np.ndarray]) -> np.ndarray:
    """64-bit SimHash per document (signed int64), vectorized.

    Bit i is 1 when at least half the document's shingle hashes have bit
    i set (ties -> 1, deterministic).  Hamming distance between two
    documents is then ``bit_count(a XOR b)`` — the Spark-side analog of
    the reference's popcount ``umi_dist`` (utils/mod.rs:24-26,
    bitset.rs:77-91) without the 3-bit-encoding /2 correction.
    """
    if not hash_arrays:
        return np.empty(0, dtype=np.int64)
    flat, offsets, lengths = _flat_offsets(hash_arrays)
    out = np.zeros(len(hash_arrays), dtype=np.uint64)
    lengths_u = lengths.astype(np.uint64)
    buf = np.empty_like(flat)
    old = np.seterr(over="ignore")
    try:
        for i in range(64):
            np.right_shift(flat, _U64(i), out=buf)
            np.bitwise_and(buf, _U64(1), out=buf)
            counts = np.add.reduceat(buf, offsets)
            out |= (counts * _U64(2) >= lengths_u).astype(np.uint64) << _U64(i)
    finally:
        np.seterr(**old)
    return out.view(np.int64)


def simhash_from_hashes(hashes: np.ndarray) -> int:
    """Single-document SimHash (signed int64 scalar)."""
    return int(batch_simhash([np.asarray(hashes, dtype=_U64)])[0])


def batch_minhash_signature(
    hash_arrays: list[np.ndarray], perms: int, seed: int = 42
) -> np.ndarray:
    """MinHash signatures, shape (n_docs, perms), int64 — computed with
    ONE-PERMUTATION HASHING + rotation densification.

    Classic k-permutation MinHash mixes every shingle ``perms`` times
    (O(n * perms) — measured 22 s single-core for 128 perms over a 150k-
    page batch).  One-permutation hashing (Li, Owen & Zhang, NIPS 2012)
    mixes each shingle ONCE, buckets it into ``perms`` bins by its top
    bits, and takes the min per bin — O(n), statistically an unbiased
    Jaccard estimator per non-empty bin.  Empty bins (common for short
    documents) are filled by borrowing the next non-empty bin's value
    to the right (circular), re-mixed with the borrow distance — the
    rotation densification of Shrivastava & Li (ICML 2014), which keeps
    the collision probability of every bin pair at the Jaccard value.

    ``perms`` must be a power of two (bin index = top log2(perms) bits).
    """
    if not hash_arrays:
        return np.empty((0, perms), dtype=np.int64)
    if perms & (perms - 1):
        raise ValueError("perms must be a power of two for one-permutation hashing")
    flat, offsets, _ = _flat_offsets(hash_arrays)
    n_docs = len(hash_arrays)
    bin_bits = perms.bit_length() - 1
    shift = _U64(64 - bin_bits)
    seed64 = _U64(seed & 0xFFFFFFFFFFFFFFFF)

    old = np.seterr(over="ignore")
    try:
        mixed = splitmix64(flat ^ seed64)
        bins = (mixed >> shift).astype(np.int64)
        # per-(doc, bin) min via ONE scatter-min: key = doc*perms + bin
        doc_idx = np.repeat(
            np.arange(n_docs, dtype=np.int64), np.diff(np.append(offsets, len(flat)))
        )
        sig = np.full(n_docs * perms, _MASK64, dtype=_U64)
        np.minimum.at(sig, doc_idx * perms + bins, mixed)
        sig = sig.reshape(n_docs, perms)

        # rotation densification, vectorized: for each empty bin find
        # the nearest originally-non-empty bin to the RIGHT (circular)
        # via a suffix-min over doubled narrow (int16) position columns;
        # all wide gathers touch ONLY the empty positions (large
        # temporaries page-fault-stall this host)
        ne = sig != _MASK64
        if not ne.all():
            ne2 = np.concatenate([ne, ne], axis=1)
            pos = np.where(ne2, np.arange(2 * perms, dtype=np.int16), np.int16(2 * perms))
            posf = np.ascontiguousarray(pos[:, ::-1])
            np.minimum.accumulate(posf, axis=1, out=posf)
            nxt = posf[:, ::-1][:, :perms]
            e_rows, e_cols = np.nonzero(~ne)
            nxt_e = nxt[e_rows, e_cols].astype(np.int64)
            donor = sig[e_rows, nxt_e % perms]
            dist = (nxt_e - e_cols).astype(_U64)
            sig[e_rows, e_cols] = splitmix64(donor + dist)
    finally:
        np.seterr(**old)
    return sig.view(np.int64)


def bands_from_signature(sig: np.ndarray, bands: int) -> np.ndarray:
    """Fold a (n_docs, perms) signature into (n_docs, bands) bucket keys.

    Two documents share an LSH bucket iff some (band_index, value) pair
    matches — the distributed analog of the reference's neighbor-search
    index (data/naive.rs:26-40; the BK-tree/n-gram variants are
    advertised-unimplemented, cli.rs:41-44).
    """
    sig_u = sig.view(_U64) if sig.dtype == np.int64 else sig.astype(_U64)
    n_docs, perms = sig_u.shape
    r = perms // bands
    band_vals = np.zeros((n_docs, bands), dtype=_U64)
    old = np.seterr(over="ignore")
    try:
        for b in range(bands):
            acc = np.full(n_docs, _U64(0x243F6A8885A308D3))  # pi fractional bits
            for j in range(r):
                acc = splitmix64((acc ^ sig_u[:, b * r + j]) + _U64(b * r + j + 1))
            band_vals[:, b] = acc
    finally:
        np.seterr(**old)
    return band_vals.view(np.int64)


def hamming64(a: int, b: int) -> int:
    """Popcount Hamming distance between two signed-int64 simhashes."""
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def signature_similarity(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    """Fraction of equal MinHash positions (unbiased Jaccard estimate)."""
    sig_a = np.asarray(sig_a)
    sig_b = np.asarray(sig_b)
    return float((sig_a == sig_b).mean())


def normalize_text_py(text: str | None) -> str:
    """Pure-Python mirror of the Spark/DuckDB normalization expression:
    lower -> collapse whitespace -> trim.  Must stay in lock-step with
    functions/normalize.py and the oracle SQL in __spark_entry__.py."""
    if text is None:
        return ""
    return re.sub(r"\s+", " ", text.lower()).strip()
