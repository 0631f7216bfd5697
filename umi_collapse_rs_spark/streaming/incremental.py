"""Continuous dedup: Structured Streaming micro-batches absorbed into
the persisted incremental-dedup state.

``jobs/run_incremental.py`` absorbs one crawl snapshot per
spark-submit; this module is the always-on form — a file-source stream
of page drops where every micro-batch runs the SAME O(batch) assignment
plan (``plans/incremental.incremental_assign``: exact sha probe →
banded state probe with the directional gate → residual within-batch
clustering) inside ``foreachBatch`` and commits ONE O(batch) delta
segment to the log-structured store (``plans/state_store.py``).

Near-dup clustering against unbounded history cannot be expressed as a
built-in streaming aggregation (the state is a banded similarity index
probed by join, not a per-key fold), and ``applyInPandasWithState``
holds state on executors keyed by one column — the wrong shape for a
multi-key (sha + 20 band buckets) index over 10^12 docs.
``foreachBatch`` is the documented escape hatch: each micro-batch is a
batch DataFrame, so the whole existing plan — skew caps, broadcast
thresholds, oracle-checked semantics — applies unchanged.

Exactly-once: Structured Streaming re-runs a micro-batch after a
failure (at-least-once), so the sink must be idempotent.  Two halves:

1. assignments land under ``<output>/batch_id=<id>`` with
   mode=overwrite — a replay rewrites the same directory;
2. the state commit passes ``batch_id`` to
   ``StateStore.commit_delta``, which skips ids at or below the
   manifest's high-water mark (``last_batch_id``).

Assignments are written BEFORE the state commit (:func:`absorb_batch`,
shared with ``jobs/run_incremental.py --input``), so every crash point
replays into the same final state: before the write → clean rerun;
between write and commit → overwrite + commit; after commit (but
before the query checkpoint advances) → overwrite + skipped commit.

Micro-batch ids are monotone only WITHIN one checkpoint lineage — a
FRESH checkpoint restarts them at 0, so an id at or below the
high-water mark alone says nothing about whether the data was already
absorbed (a new input dir, a different ``--max-files``, or a second
query over the same state all produce low ids carrying genuinely NEW
pages).  The sink therefore
records the streaming query id (stable across restarts of the same
checkpoint, read from ``<checkpoint>/metadata``) and a per-batch
content fingerprint in the manifest, and gates replays on LINEAGE
(``StateStore.lineage_gate``):

- same query id, id at or below the mark → true replay, skip;
- different query id over a store with streaming history → decide by
  CONTENT: a batch whose fingerprint matches a committed batch is a
  byte-identical re-delivery (skip); anything else FAILS FAST unless
  the operator passes ``allow_new_stream=True`` (--allow-new-stream),
  which re-bases the lineage and absorbs the batch as new data.

So the guarantee is: exactly-once within a checkpoint lineage;
a LOST checkpoint recovers losslessly only when the rerun reproduces
the original batching byte-for-byte (same files, same --max-files) —
otherwise the job stops and tells the operator, rather than silently
double-counting or dropping pages.

Scale: per-micro-batch cost is O(batch) probes + O(batch) state bytes
(BENCH/INCREMENTAL.md measures both); the manifest log is bounded by
``compact_segments`` (compaction = one O(corpus) write amortized over
the batches it folds, and it carries the batch-id high-water mark
forward).  Backpressure comes from the source
(``maxFilesPerTrigger``), not the sink.

No reference analog: umi-collapse-rs is single-corpus per run — the
whole BAM is materialized before clustering
(deduplicate_sam.rs:194-196).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from umi_collapse_rs_spark.config import DedupConfig
from umi_collapse_rs_spark.plans.incremental import incremental_assign
from umi_collapse_rs_spark.plans.state_store import (
    OTHER_LINEAGE,
    REPLAY,
    StateStore,
    read_json,
)
from umi_collapse_rs_spark.streaming.ingest import stream_pages

# skew bound of the state probe: canonicals kept per band bucket
# (``incremental_assign``'s ``index_bucket_cap``)
INDEX_BUCKET_CAP = 64


def _checkpoint_query_id(spark: SparkSession, checkpoint_dir: str) -> str | None:
    """The streaming query id persisted in ``<checkpoint>/metadata`` —
    stable across restarts of the SAME checkpoint, different for a
    fresh one.  (The runId changes on every start; the id is the
    lineage identity we want.)  None until the query has started."""
    meta = read_json(spark, f"{checkpoint_dir.rstrip('/')}/metadata")
    return meta.get("id") if meta else None


def batch_fingerprint(batch_df: DataFrame) -> str:
    """Order-independent content fingerprint of a micro-batch: row
    count + SUM of per-row xxhash64 over (url, text) — url alone would
    call a re-crawl of the same urls with CHANGED text a "re-delivery".
    A sum, not an XOR: XOR cancels rows that repeat an even number of
    times ({A, A, B} and {C, C, B} would collide).  The sum runs over
    decimal(38,0), which cannot overflow (ANSI mode would raise on a
    long sum) below ~10^19 rows.  One O(batch) aggregate, O(1) driver
    bytes — never a collect of the batch itself."""
    row = batch_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("url", "text").cast("decimal(38,0)")).alias("x"),
    ).head()
    return f"{row['n']}:{row['x']}"


def absorb_batch(
    spark: SparkSession,
    store: StateStore,
    batch_df: DataFrame,
    cfg: DedupConfig,
    out_path: str,
    compact_segments: int = 16,
    batch_id: int | None = None,
    stream_id: str | None = None,
    batch_fp: str | None = None,
) -> tuple[dict, dict | None]:
    """Assign ``batch_df`` against the folded state, overwrite its
    assignments at ``out_path``, THEN commit the delta (the crash-point
    order of the module docstring; lineage args go to
    ``commit_delta``), and compact once the log holds
    ``compact_segments`` segments (0 = never).  Shared by the sink and
    ``jobs/run_incremental.py --input``.  Returns the commit's manifest
    and the compaction's, or None."""
    res = incremental_assign(
        spark, store.read(), batch_df, cfg, index_bucket_cap=INDEX_BUCKET_CAP
    )
    res.assignments.write.mode("overwrite").parquet(out_path)
    m = store.commit_delta(res.delta, batch_id=batch_id, stream_id=stream_id, batch_fp=batch_fp)
    full = compact_segments and len(m["segments"]) >= compact_segments
    return m, (store.compact() if full and not m.get("skipped_replay") else None)


def incremental_sink(
    spark: SparkSession,
    state_root: str,
    output_root: str,
    cfg: DedupConfig | None = None,
    compact_segments: int = 16,
    checkpoint_dir: str | None = None,
    allow_new_stream: bool = False,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function: absorb one micro-batch of
    pages into the state store and write its cluster assignments.

    The state under ``state_root`` must already be bootstrapped
    (``jobs/run_incremental.py --bootstrap``); the stream is the
    steady-state consumer, not the initial load.

    ``checkpoint_dir``: the query's checkpoint location, used to read
    the streaming query id that scopes the batch-id high-water mark to
    one checkpoint lineage (module docstring).  Callers without one
    (tests driving the sink directly) get the in-lineage gate only.

    ``allow_new_stream``: permit a NEW checkpoint lineage to absorb
    batches whose content does not match any committed batch of the
    old lineage.  Off by default — the safe failure mode for "fresh
    checkpoint over existing streaming state" is to stop, not to guess.
    """
    cfg = cfg or DedupConfig(window_tokens=0)
    store = StateStore(spark, state_root)
    if not store.exists():
        raise RuntimeError(
            f"no committed state under {state_root} — bootstrap first "
            "(jobs/run_incremental.py --bootstrap)"
        )
    sid_cache: dict[str, str | None] = {}

    def _stream_id() -> str | None:
        if checkpoint_dir is None:
            return None
        if "sid" not in sid_cache:
            sid_cache["sid"] = _checkpoint_query_id(spark, checkpoint_dir)
        return sid_cache["sid"]

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        m = store.manifest() or {}
        sid = _stream_id()
        gate = StateStore.lineage_gate(m, batch_id, sid)
        if gate == REPLAY:
            return  # true replay of a committed micro-batch
        fp = batch_fingerprint(batch_df)
        if fp.startswith("0:"):
            return  # row count 0: the trigger fired with no new files
        if gate == OTHER_LINEAGE:
            # fresh checkpoint over a store with streaming history: ids
            # restarted at 0, so the id proves nothing.  Decide by
            # content (module docstring).
            if fp in (m.get("batch_fps") or {}):
                return  # byte-identical re-delivery of a committed batch
            if not allow_new_stream:
                raise RuntimeError(
                    f"micro-batch {batch_id} arrived from a NEW checkpoint "
                    f"lineage (query id {sid!r} != committed {m['stream_id']!r}) "
                    f"and its content matches no committed batch — "
                    "absorbing it could double-count pages the old lineage "
                    "already committed if the batching merely shifted. "
                    "Resume with the ORIGINAL checkpoint dir, or pass "
                    "--allow-new-stream after verifying the input is "
                    "genuinely new data."
                )
        absorb_batch(
            spark, store, batch_df, cfg, f"{output_root}/batch_id={batch_id}",
            compact_segments=compact_segments,
            batch_id=batch_id, stream_id=sid, batch_fp=fp,
        )

    return absorb


def start_incremental_stream(
    spark: SparkSession,
    input_path: str,
    state_root: str,
    output_root: str,
    checkpoint_dir: str,
    cfg: DedupConfig | None = None,
    compact_segments: int = 16,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    allow_new_stream: bool = False,
):
    """Wire source → sink and start the query.

    ``available_now=True`` (default) drains everything currently under
    ``input_path`` in bounded micro-batches and stops — the "catch up
    on pending crawl drops" mode, and the testable one.  Pass False for
    an unbounded continuous query.  ``max_files_per_trigger`` bounds
    micro-batch size (source-side backpressure).
    ``allow_new_stream``: see :func:`incremental_sink`.
    """
    pages = stream_pages(spark, input_path, max_files_per_trigger)
    writer = (
        pages.writeStream.foreachBatch(
            incremental_sink(
                spark,
                state_root,
                output_root,
                cfg,
                compact_segments=compact_segments,
                checkpoint_dir=checkpoint_dir,
                allow_new_stream=allow_new_stream,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName("incremental_dedup")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
