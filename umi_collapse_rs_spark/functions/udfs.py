"""The text-fingerprint pandas UDF (Arrow-vectorized), per the
input_hint "no per-row Python": one pass per Arrow batch computes, from
one shingle-hash set per document,

- ``simhash``  — 64-bit SimHash (LongType), the Hamming-ball key;
- ``mh_bands`` — banded MinHash bucket keys (one value per band);
- ``mh_sig``   — the full MinHash signature, read only by the
                 signature-similarity verifier on *candidate pairs*;
- ``win_hashes`` (optional) — content-defined window fingerprints.

Everything else in the pipeline is Catalyst column expressions.

Reference analog: ``to_bitset`` string->fingerprint encoding
(``/root/reference/src/utils/mod.rs:63-83``) — a pure function of the
text, as required by the per-row invariant in BASELINE.json input_hint.

Scale note: each UDF call processes one Arrow batch (500 rows, see
session.py); the per-batch work is C-vectorized (see fingerprint_core),
so throughput is bounded by Arrow transfer + numpy, not the Python
interpreter.  What does cost is the Python *task*: each pays a fixed
~0.25 s of worker set-up whatever its row count, because
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, which makes every zipimporter of
pyspark.zip re-read its archive directory.  The stage's task count is
the session's shuffle partitions (plans/pipeline.fingerprints): one
per core (SPARK_GRAFT_CPUS) where inputs are small enough for that
set-up to outweigh a task's rows, more than cores for large inputs so
one long-text task cannot hold up the stage.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from umi_collapse_rs_spark.functions import fingerprint_core as core


def make_combined_fingerprint_udf(
    shingle_k: int,
    perms: int,
    bands: int,
    seed: int,
    window_tokens: int = 0,
    window_stride: int = 32,
):
    """ONE pandas UDF computing all fingerprints in a single pass:
    text_norm -> struct(simhash, mh_bands, mh_sig[, win_hashes]).

    Tokenization + shingling is the expensive part; computing all
    outputs from one shingle-hash set per batch does it once.  With
    ``window_tokens > 0`` the content-defined window fingerprints for
    the substring-overlap pass are included (empty array for docs
    shorter than the window).
    """
    fields = [
        T.StructField("simhash", T.LongType()),
        T.StructField("mh_bands", T.ArrayType(T.LongType())),
        T.StructField("mh_sig", T.ArrayType(T.LongType())),
    ]
    if window_tokens:
        fields.append(T.StructField("win_hashes", T.ArrayType(T.LongType())))
    out_type = T.StructType(fields)

    def _rect_list_series(mat) -> pd.Series:
        """(n, w) int64 matrix -> Arrow list<int64> Series, zero object
        churn (a plain Series of ndarrays costs seconds per batch in
        Arrow conversion; this is microseconds)."""
        import numpy as np
        import pyarrow as pa

        n, w = mat.shape
        offs = pa.array(np.arange(0, (n + 1) * w, w, dtype=np.int32))
        arr = pa.ListArray.from_arrays(offs, pa.array(mat.ravel()))
        return pd.Series(pd.arrays.ArrowExtensionArray(arr))

    def _ragged_list_series(arrays) -> pd.Series:
        import numpy as np
        import pyarrow as pa

        lens = np.fromiter((len(a) for a in arrays), dtype=np.int64, count=len(arrays))
        offs = np.zeros(len(arrays) + 1, dtype=np.int32)
        np.cumsum(lens, out=offs[1:])
        flat = np.concatenate(arrays) if offs[-1] else np.empty(0, dtype=np.int64)
        arr = pa.ListArray.from_arrays(pa.array(offs), pa.array(flat.view(np.int64)))
        return pd.Series(pd.arrays.ArrowExtensionArray(arr))

    @F.pandas_udf(out_type)
    def fingerprint(text: pd.Series) -> pd.DataFrame:
        texts = text.fillna("").tolist()
        hashes = core.batch_shingle_hashes(texts, shingle_k, seed)
        sim = core.batch_simhash(hashes)
        sig = core.batch_minhash_signature(hashes, perms, seed)
        bands_v = core.bands_from_signature(sig, bands)
        out = {
            "simhash": pd.Series(sim),
            "mh_bands": _rect_list_series(bands_v),
            "mh_sig": _rect_list_series(sig),
        }
        if window_tokens:
            out["win_hashes"] = _ragged_list_series(
                core.batch_window_hashes(texts, window_tokens, window_stride, seed)
            )
        return pd.DataFrame(out)

    return fingerprint

