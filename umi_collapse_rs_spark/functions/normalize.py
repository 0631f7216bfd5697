"""Text normalization as pure Catalyst column expressions (stage 1).

Reference analog: UMI extraction from the read name
(``/root/reference/src/read.rs:96-111`` — SIMD memchr + fixed-length
slice).  Web-text normalization is lower/collapse-whitespace/trim, kept
deliberately simple so it is expressible identically in Spark, DuckDB
(oracle SQL) and pure Python (fingerprint_core.normalize_text_py) — the
byte-identical-text-per-url invariant is asserted over the RAW ``text``
column, which is carried through the pipeline untouched.

Everything here is JVM-side / whole-stage-codegen — no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_text_col(text: Column | str) -> Column:
    """lower -> collapse whitespace -> trim (codegen'd, no UDF)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def text_sha_col(text_norm: Column | str) -> Column:
    """SHA-256 of normalized text — the exact-duplicate grouping key
    (stage 2).  Grouping by a 64-hex-char key instead of the full text
    keeps shuffle rows small at 100 TB scale; sha2 collisions are
    negligible (2^-128) and the representative row carries the real text.
    """
    c = F.col(text_norm) if isinstance(text_norm, str) else text_norm
    return F.sha2(c, 256)

