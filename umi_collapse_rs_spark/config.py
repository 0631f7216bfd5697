"""Pipeline configuration.

The reference configures one fixed pipeline through CLI flags
(``/root/reference/src/cli.rs:5-77``); its (algo x merge) trait matrix is
monomorphized at ``main.rs:52-92``.  Here the matrix collapses to plain
dataclass fields: ``algo`` picks the clustering rule, the merge rule is a
deterministic ordering spec (earliest ``warc_ts``, then smallest ``url``).

All hashing is fixed-seed (never Python ``hash()``) so that every run —
and the DuckDB/pure-Python oracles — reproduce bit-identical fingerprints.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class DedupConfig:
    # --- fingerprint config (the "identical shingle/signature config"
    #     that BASELINE.json's recall metric is measured at) ---
    shingle_k: int = 3          # word-level k-shingles
    hamming_k: int = 3          # ref: cli.rs:18-19 edit budget k (default 1; we use 3 for 64-bit simhash)
    simhash_bands: int = 4      # k+1 pieces => any pair with dist<=k shares >=1 piece
    minhash_perms: int = 128    # signature length
    lsh_bands: int = 32         # b bands of r = perms//b rows
    jaccard_threshold: float = 0.5   # signature-similarity verify threshold
    hash_seed: int = 42
    # 'numpy': pd.util.hash_array shingles + OPH MinHash via the pandas
    #          UDF — the production/bench path (fastest).
    # 'sql':   sha256-based fingerprints as pure Column expressions,
    #          bit-reproducible in DuckDB (functions/sqlfp.py) — the
    #          driver-oracle path.  Same fingerprint families, different
    #          stable hash.
    fingerprint: str = "numpy"

    # --- substring-overlap pass (stage 8; 0 disables the pass) ---
    window_tokens: int = 64     # fingerprint window width (tokens)
    window_stride: int = 32     # anchor density; a >=512-token verbatim overlap shares ~14 windows
    min_shared_windows: int = 3 # pair accepted when sharing this many window hashes
                                # (one shared window is already 64 verbatim tokens)

    # --- merge rule (ref: merge/mod.rs:6-51, mode defaults main.rs:33-39) ---
    # 'earliest' (mapqual analog) | 'quality' (avgqual analog: longest
    # raw text) | 'any' (deterministic first-wins: min url)
    merge: str = "earliest"

    # --- clustering ---
    algo: str = "dir"           # 'dir' | 'adj' | 'cc'   (ref: cli.rs:33-36)
    directional_p: float = 0.5  # ref: cli.rs:25-26; gate = f_child*2 <= f_parent+1 at p=0.5
    max_cc_iterations: int = 50

    # --- skew handling (north_rule: explicit skew handling) ---
    # Clustering needs CONNECTIVITY inside a bucket, not the full
    # clique: a sorted-neighbor chain links every member of the bucket,
    # so capping all-pairs expansion loses no components.  cap=8 keeps
    # all-pairs only for small buckets (<=28 pairs) where the clique is
    # cheaper than the chain bookkeeping; measured at 150k pages this
    # cuts raw candidate rows ~6x with identical cluster output.
    bucket_pair_cap: int = 8    # buckets larger than this switch to sorted-neighbor chaining
    chain_width: int = 4        # each member pairs with the next `chain_width` in sorted order

    # --- execution ---
    checkpoint_dir: str | None = None   # stage-checkpoint root (resumability)

    def output_config_token(self) -> str:
        """Short stable hash of every output-affecting field.

        Keys the stage-checkpoint directory so a rerun with a different
        merge rule / fingerprint mode / banding config can never resume
        stage outputs computed under the old config (it resolves to a
        different path and recomputes).  ``checkpoint_dir`` is excluded:
        it says where the outputs go, not what they are.
        """
        import hashlib

        skip = {"checkpoint_dir"}
        parts = [
            f"{name}={getattr(self, name)!r}"
            for name in sorted(self.__dataclass_fields__)
            if name not in skip
        ]
        return hashlib.sha256(";".join(parts).encode()).hexdigest()[:12]

    def __post_init__(self) -> None:
        if self.minhash_perms % self.lsh_bands:
            raise ValueError("minhash_perms must be divisible by lsh_bands")
        if 64 % self.simhash_bands:
            raise ValueError("64 (simhash bits) must be divisible by simhash_bands")
        if self.algo not in ("dir", "adj", "cc"):
            raise ValueError(f"unknown algo {self.algo!r}")
        if not 1 <= self.chain_width <= 32:
            raise ValueError("chain_width must be in [1, 32] (lead() plan-width bound)")
        if self.fingerprint not in ("numpy", "sql"):
            raise ValueError(f"unknown fingerprint mode {self.fingerprint!r}")
        if self.merge not in ("earliest", "quality", "any"):
            raise ValueError(f"unknown merge rule {self.merge!r}")
