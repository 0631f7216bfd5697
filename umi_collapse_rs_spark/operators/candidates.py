"""Stage 4 — candidate-pair generation (the "join" of this engine).

Reference analog: the neighbor search ``remove_near`` over all live UMIs
in a group (``/root/reference/src/data/naive.rs:26-40``, O(n^2) scan;
the BK-tree/n-gram indexes are advertised-unimplemented, cli.rs:41-44;
``combo.rs`` Hamming-ball enumeration is known-buggy, combo.rs:15).

Here neighbor search is banded equi-self-joins — the idiomatic Spark
formulation (banding IS the n-gram index generalization):

- SimHash path: split the 64-bit fingerprint into ``k+1`` pieces; any
  pair within Hamming distance k agrees exactly on >=1 piece
  (pigeonhole).  Bucket on (piece_idx, piece_val); the Hamming check
  ``bit_count(a XOR b) <= k`` happens at the union stage
  (edges.combined_candidates_with_dist) — all JVM-side.
- MinHash-LSH path: bucket on (band_idx, band_val), verify by MinHash
  signature similarity (edges.verify_pairs, where signatures are joined).
- Window path (stage 8): content-defined 64-token window fingerprints
  catch long verbatim overlaps that whole-document LSH misses.

Both banded families come from ONE key builder (:func:`band_keys`:
simhash pieces at idx ``0..b-1``, MinHash bands at idx ``64+j``) and
every bucketed family — self-join, incremental cross-join, window pass,
driver queries — expands through ONE function, :func:`bucket_pairs`.

Skew (north_rule calls it out explicitly): template farms create
mega-buckets whose all-pairs expansion is O(n^2).  ``bucket_pairs``
caps it — buckets up to ``cap`` members do the full self-join; larger
buckets switch to sorted-neighbor chaining (members sorted by fingerprint
inside the bucket, each linked to the next ``chain_width``), which keeps
connectivity for clustering at O(n * chain_width) pairs and is computed
with window ``lead()`` — one shuffle, no join, no collect_list.

Both regimes are ONE window pass: a member's pair targets are its next
``j`` bucket neighbors in sorted order, with ``j`` ranging to bsz-1
(all pairs, each exactly once) for small buckets and to ``chain_width``
for capped ones — so the whole expansion is lead() columns + one
explode + a filter, entirely codegen.  The earlier collect_list +
nested-transform formulation allocated O(bucket^2) on-heap structs and
made candidate generation GC-bound (measured: 336 s of 525 s executor
time in GC at 150k pages).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Max lead() fan-out encoded directly in the plan; caps above this use a
# bucket self-join for the all-pairs regime instead (plan width stays
# bounded no matter what cap a caller passes).
_MAX_LEADS = 32


def _lead_expanded_pairs(
    bucketed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    order_col: str,
    cap: int,
    chain_width: int,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """The single-Exchange / single-WindowExec lead() pair expansion —
    the core of :func:`bucket_pairs` (plan invariant pinned in
    tests/test_plans.py).

    Returns (src, dst, _hot) with src < dst; ``_hot`` marks pairs that
    came from a bucket larger than ``cap`` (sorted-neighbor chain pairs,
    connectivity-only evidence).  A member's targets are its next ``j``
    sorted bucket neighbors: ``j`` up to bsz-1 for small buckets (all
    C(bsz,2) pairs, each exactly once) and up to ``chain_width`` for
    capped ones — lead() beyond the bucket end is NULL, which encodes
    the j <= bsz-1 bound for free.  The bucket-size count and every
    lead() share one window spec, so Spark evaluates them in a single
    WindowExec pass after a single exchange on bucket_cols.
    """
    wo = Window.partitionBy(*bucket_cols).orderBy(order_col, id_col)
    full = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    n_leads = max(cap - 1, chain_width)
    nbrs = F.array(
        *[
            F.struct(F.lit(j).alias("j"), F.lead(id_col, j).over(wo).alias("nbr"))
            for j in range(1, n_leads + 1)
        ]
    )
    keep = list(keep_cols or [])
    sized = bucketed.select(
        *keep,
        F.col(id_col).alias("_src0"),
        F.count(F.lit(1)).over(full).alias("_bsz"),
        nbrs.alias("_nbrs"),
    ).filter(F.col("_bsz") > 1)
    kept = sized.select(*keep, "_src0", "_bsz", F.explode("_nbrs").alias("_n")).filter(
        F.col("_n.nbr").isNotNull()
        & ((F.col("_bsz") <= cap) | (F.col("_n.j") <= chain_width))
    )
    return kept.select(
        F.least("_src0", F.col("_n.nbr")).alias("src"),
        F.greatest("_src0", F.col("_n.nbr")).alias("dst"),
        (F.col("_bsz") > cap).alias("_hot"),
        *keep,
    )


def bucket_pairs(
    bucketed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    order_col: str,
    cap: int,
    chain_width: int,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Candidate (src, dst, _hot[, *keep_cols]) pairs within buckets,
    skew-capped.

    ``bucketed`` must have ``bucket_cols + [id_col, order_col]``.
    Returns src < dst; a pair may appear once per shared bucket —
    callers that union several pair sources dedup ONCE at the union
    (one shuffle instead of one per source), callers that need distinct
    pairs call ``.dropDuplicates``.  ``_hot`` marks pairs chained
    inside a bucket larger than ``cap``.

    cap small enough for lead() plan width -> the single-pass window
    expansion: exactly ONE exchange on bucket_cols and one WindowExec.
    Essentially-uncapped caps (oracle / brute-force parity runs) -> a
    bucket equi-self-join for small buckets (quadratic per bucket —
    exactly what the caller asked for), with buckets beyond even that
    cap still chained via the lead path (_hot=True).

    ``keep_cols`` (columns constant per bucket) are carried through to
    the output — bucket provenance for callers that tag pair evidence
    by bucket kind.
    """
    keep = list(keep_cols or [])
    chain_width = max(1, min(chain_width, _MAX_LEADS))
    if cap - 1 > _MAX_LEADS:
        wq = Window.partitionBy(*bucket_cols)
        sized = bucketed.withColumn("_bsz", F.count(F.lit(1)).over(wq))
        small = sized.filter((F.col("_bsz") > 1) & (F.col("_bsz") <= cap))
        extra = [k for k in keep if k not in bucket_cols]
        a = small.select(*bucket_cols, *extra, F.col(id_col).alias("_ida"))
        b = small.select(*bucket_cols, F.col(id_col).alias("_idb"))
        small_pairs = (
            a.join(b, bucket_cols)
            .filter(F.col("_ida") < F.col("_idb"))
            .select(
                F.col("_ida").alias("src"),
                F.col("_idb").alias("dst"),
                F.lit(False).alias("_hot"),
                *keep,
            )
        )
        hot = sized.filter(F.col("_bsz") > cap).drop("_bsz")
        hot_pairs = _lead_expanded_pairs(
            hot, bucket_cols, id_col, order_col, chain_width + 1, chain_width,
            keep_cols=keep,
        ).select("src", "dst", F.lit(True).alias("_hot"), *keep)
        return small_pairs.unionByName(hot_pairs)
    return _lead_expanded_pairs(
        bucketed, bucket_cols, id_col, order_col, cap, chain_width, keep_cols=keep
    )


def band_keys(fp: DataFrame, sim_bands: int, id_col: str = "url") -> DataFrame:
    """Band-key rows (id_col, simhash, source, _bidx, _bval) of BOTH
    banded candidate families — THE bucket key builder of stage 4.

    ``fp`` needs (id_col, simhash, mh_bands).  SimHash pigeonhole
    pieces (the banding trick for Hamming<=k over 64 bits, SURVEY §2
    J2) sit at idx 0..sim_bands-1 tagged ``'simhash'``; MinHash bands
    at idx 64+j tagged ``'minhash'``.  The idx ranges are disjoint, so
    (_bidx, _bval) alone is the bucket key and ``source`` is constant
    per bucket.  A caller that needs one family filters on ``source``
    before expanding, so the other family never shuffles.
    """
    width = 64 // sim_bands
    mask = (1 << width) - 1
    pieces = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(F.lit(mask))
            for i in range(sim_bands)
        ]
    )
    sim = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.lit("simhash").alias("source"),
        F.posexplode(pieces).alias("_bidx", "_bval"),
    )
    mh = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.lit("minhash").alias("source"),
        F.posexplode("mh_bands").alias("_bidx0", "_bval"),
    ).select(
        id_col, "simhash", "source", (F.col("_bidx0") + 64).alias("_bidx"), "_bval"
    )
    return sim.unionByName(mh)


def combined_band_pairs(
    fp: DataFrame,
    sim_bands: int,
    cap: int,
    chain_width: int,
    id_col: str = "url",
) -> DataFrame:
    """SimHash-piece AND MinHash-band candidate pairs in ONE exchange.

    The kind-tagged band keys go through a single exchange + WindowExec;
    the downstream union stage (edges.combined_candidates_with_dist)
    joins fingerprints once for ALL pairs and applies the Hamming gate
    there, using the provenance tag carried by ``keep_cols``.

    Returns raw (src, dst, source) rows; a pair may appear once per
    shared bucket — the union stage dedups once.
    """
    # bucket key is (idx, val) only: the kind is implied by the idx and
    # the string tag stays OUT of the window sort key (measured: sorting
    # on the string column cost more than the exchange it saved); it
    # rides along as a keep column, constant per bucket.
    return bucket_pairs(
        band_keys(fp, sim_bands, id_col),
        ["_bidx", "_bval"],
        id_col,
        "simhash",
        cap,
        chain_width,
        keep_cols=["source"],
    ).select("src", "dst", "source")


def cross_banded_pairs(
    fp_probe: DataFrame,
    fp_index: DataFrame,
    simhash_bands: int,
    index_bucket_cap: int | None = None,
    id_col: str = "url",
) -> DataFrame:
    """Candidate pairs BETWEEN two fingerprint tables (incremental
    dedup: a new crawl batch probed against persisted canonical state;
    no reference analog — the reference is single-corpus).

    Both inputs need (id_col, simhash, mh_bands).  Returns distinct
    ``(probe_id, index_id)`` — every pair that shares a SimHash
    pigeonhole piece (Hamming-ball candidates) or a MinHash band value
    (Jaccard candidates).  One equi-join on the :func:`band_keys`
    bucket key (idx, val), one distinct; never a crossJoin.

    Scale shape: both sides shuffle on the bucket key.  At 10^12-doc
    state the index side is the big one — production keeps
    the state table bucketed on the band value (Iceberg bucket
    partitioning) so only the batch side moves.  ``index_bucket_cap``
    bounds skew the same way bucket_pair_cap does for self-joins: a
    boilerplate band bucket with millions of state canonicals would
    multiply every probe in it, so buckets keep only the ``cap``
    highest-priority (max freq, then min id) canonicals — the likeliest
    absorbers under the directional gate.  None = uncapped (the oracle
    configuration, exact by pigeonhole/banding).
    """
    def keyed(fp: DataFrame, side: str) -> DataFrame:
        return band_keys(fp, simhash_bands, id_col).select(
            F.col(id_col).alias(side), "_bidx", "_bval"
        )

    index_keyed = keyed(fp_index, "index_id")
    if index_bucket_cap is not None:
        w = Window.partitionBy("_bidx", "_bval").orderBy(
            F.desc("_freq"), F.asc("index_id")
        )
        index_keyed = (
            index_keyed.join(
                fp_index.select(
                    F.col(id_col).alias("index_id"), F.col("freq").alias("_freq")
                ),
                "index_id",
            )
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= index_bucket_cap)
            .drop("_rk", "_freq")
        )
    return (
        keyed(fp_probe, "probe_id")
        .join(index_keyed, ["_bidx", "_bval"])
        .select("probe_id", "index_id")
        .dropDuplicates(["probe_id", "index_id"])
    )


def window_overlap_pairs(
    docs: DataFrame,
    min_shared_windows: int,
    cap: int,
    chain_width: int,
    id_col: str = "url",
    win_col: str = "win_hashes",
) -> DataFrame:
    """Stage 8 — long-verbatim-overlap pairs via content-defined window
    fingerprints (the suffix-array substring pass of the north star,
    re-expressed scalably; no reference analog).

    ``docs`` carries ``win_col: array<long>`` — content-defined window
    hashes computed in the fingerprint UDF (fingerprint_core.
    batch_window_hashes): window start positions are token positions
    whose hash = 0 mod stride, so a shared >=512-token verbatim block
    yields identical window hashes in both documents regardless of its
    offset in each (a fixed stride grid would miss misaligned copies).

    A pair is emitted when the documents share >= min_shared_windows
    small-bucket windows (each shared window is 64 verbatim tokens of
    evidence), or when it was chained inside an oversized (> cap,
    boilerplate) window bucket — chain pairs keep connectivity without
    the quadratic expansion and skip the evidence threshold, exactly as
    the earlier two-branch formulation did.  Same single-WindowExec
    lead() expansion as :func:`bucket_pairs`.
    """
    exploded = docs.select(F.col(id_col), F.explode(win_col).alias("win_hash"))
    pairs = bucket_pairs(exploded, ["win_hash"], id_col, id_col, cap, chain_width)
    return (
        pairs.groupBy("src", "dst")
        .agg(
            F.count_if(~F.col("_hot")).alias("n_shared"),
            F.max("_hot").alias("any_hot"),
        )
        .filter((F.col("n_shared") >= min_shared_windows) | F.col("any_hot"))
        .select("src", "dst", F.lit(None).cast("int").alias("dist"), F.lit("window").alias("source"))
    )
