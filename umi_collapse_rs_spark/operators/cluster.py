"""Stage 6 — clustering as iterative DataFrame algebra.

Reference analog: ``Algorithm::apply`` (``/root/reference/src/algo/
mod.rs:13-20``) with the three rules:

- ``dir``  directional greedy DFS (directional.rs:30-91)
- ``adj``  adjacency one-hop greedy (adjacency.rs:29-64)
- ``cc``   connected components (advertised-unimplemented in the
           reference, cli.rs:33-36 — but the native Spark formulation)

Greedy-fidelity (SURVEY §2.1 D1).  The reference processes nodes in
priority order p(n) = (freq desc, tiebreak) and DFS-absorbs gated
neighbors, deleting as it goes.  Because the directional gate is
edge-local (threshold depends only on the *visited* node's frequency,
directional.rs:38), one can prove:

    cluster(n) = argmin_{priority} { u : u == n, or u gated-reaches n }

(any absorbed would-be reacher is dominated by its own absorber, which
also reaches n — induction over priority order).  That is exactly
*minimum-label propagation* over the directed gated edge list, which is
what ``propagate_min_label`` computes, with pointer-jumping
(label <- label(label)) for O(log n) convergence.  The label key is
``struct(-freq, id)`` so min == the reference's processing order, with
the deterministic tie-break the reference lacks (D3).

Every iteration ends in ``localCheckpoint`` to truncate lineage —
without it the plan doubles each round and Catalyst analysis blows up
(the Spark equivalent of the reference's arena bulk-drop concern,
README.md:31-32).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Broadcast the gather frontier when its estimated size fits
# comfortably on every executor; above this it shuffles normally.
# The per-row estimate is derived from the frontier's OBSERVED average
# id length (the id string appears twice per row: _nid and label.lid),
# not a hardcoded constant — real crawl URLs run 100-300 B and a
# fixed guess would let a "64 MB" frontier materialize several hundred
# MB on every executor.
_BROADCAST_BYTES = 64 * 1024 * 1024
_ROW_OVERHEAD = 48  # long freq field + struct/row bookkeeping

# Rounds before the pointer jump engages.  Dedup graphs are star-like
# after the directional gate (typical depth 2-3), so the early
# full-frontier rounds would pay the label-table self-join for nothing;
# deep chains still get O(log depth) convergence once the jump engages.
# Exactness is unaffected: both the gather and the jump only ever lower
# labels toward the same fixpoint.
_JUMP_AFTER = 2


def priority_key(freq_col: str, id_col: str) -> Column:
    """``struct(-freq, id)``: its min is the greedy processing order
    (max freq, then lexicographically min id)."""
    return F.struct((-F.col(freq_col)).cast("long").alias("nf"), F.col(id_col).alias("lid"))


def propagate_min_label(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "url",
    max_iterations: int = 50,
) -> DataFrame:
    """Min-label propagation over directed edges (src -> dst).

    ``nodes``: (id_col, freq).  ``edges``: (src, dst) directed.
    Returns (id_col, root_id) — root_id is the id of the cluster's
    highest-priority node (max freq, then lexicographically min id).

    Per round: (1) each node takes the min of its own label and its
    in-neighbors' labels (one join + one groupBy); (2) from round
    ``_JUMP_AFTER`` on, pointer jump — each node also takes its current
    root's label (one self-join).
    Both steps preserve the invariant "label(n) reaches n", so the
    fixpoint is the true min over ancestors; pointer jumping makes deep
    chains converge in O(log depth) rounds.
    """
    # DELTA (frontier) propagation: labels only ever decrease, so an
    # in-neighbor whose label did NOT change last round contributed its
    # minimum in an earlier round already — gathering from CHANGED
    # sources only is exact, and after round 0 the frontier collapses
    # to a small fraction of the graph.  The per-round convergence
    # probe is a count on the changed set; when the frontier is small
    # the gather join gets an explicit broadcast hint (the driver KNOWS
    # the count — no reliance on stats AQE cannot see through a
    # localCheckpoint), so the big edge table stops shuffling entirely
    # for the tail rounds.  At cluster scale early rounds exceed the
    # hint threshold and run as ordinary shuffle joins.
    labels = nodes.select(
        F.col(id_col).alias("_nid"), priority_key("freq", id_col).alias("label")
    ).localCheckpoint(eager=True)
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    old_type = labels.schema["label"].dataType.simpleString()
    changed: DataFrame | None = None  # None => full gather (round 0)
    frontier_bytes = -1

    for it in range(max_iterations):
        frontier = labels if changed is None else changed
        if 0 <= frontier_bytes < _BROADCAST_BYTES:
            frontier = F.broadcast(frontier)
        incoming = edges.join(frontier, edges["src"] == frontier["_nid"]).select(
            F.col("dst").alias("_nid"),
            "label",
            F.lit(None).cast(old_type).alias("_old"),
        )
        self_rows = labels.select("_nid", "label", F.col("label").alias("_old"))
        combined = (
            self_rows.unionByName(incoming)
            .groupBy("_nid")
            .agg(F.min("label").alias("label"), F.max("_old").alias("_old"))
        )
        if it >= _JUMP_AFTER:
            # pointer jump (label <- label(label)) for O(log depth) rounds
            roots = combined.select(
                F.col("_nid").alias("_rid"), F.col("label").alias("_rlabel")
            )
            combined = combined.join(
                roots, combined["label"]["lid"] == roots["_rid"], "left"
            ).select(
                "_nid",
                F.least(
                    F.col("label"), F.coalesce(F.col("_rlabel"), F.col("label"))
                ).alias("label"),
                "_old",
            )
        # LAZY checkpoint: the stats agg below is the round's single
        # action — it materializes the checkpoint blocks AND computes
        # the convergence stats in one pass (the r2 shape ran an
        # eager-checkpoint job plus a separate stats job per round,
        # scanning the labels twice)
        jumped = combined.localCheckpoint(eager=False)
        changed = jumped.filter(F.col("label") != F.col("_old")).select("_nid", "label")
        # one action per round: convergence count + observed id width
        # (drives the broadcast decision for the NEXT round's gather)
        # cast: the operator is id-type generic; F.length on a numeric
        # id would trip ANSI implicit-cast rules
        is_changed = F.col("label") != F.col("_old")
        stats = jumped.agg(
            F.count_if(is_changed).alias("n"),
            F.avg(
                F.when(is_changed, F.length(F.col("_nid").cast("string")))
            ).alias("id_len"),
        ).first()
        n_changed = stats["n"]
        per_row = 2 * (stats["id_len"] or 0.0) + _ROW_OVERHEAD
        frontier_bytes = int(n_changed * per_row)
        labels = jumped.drop("_old")
        if n_changed == 0:
            break
    return labels.select(F.col("_nid").alias(id_col), F.col("label")["lid"].alias("root_id"))


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "url",
    max_iterations: int = 50,
) -> DataFrame:
    """Undirected connected components = min-label propagation over the
    symmetrized edge list.  This is the reference's advertised-but-absent
    ``cc`` rule (cli.rs:33-36) — and the upstream-Java semantics of
    ``adjacency`` without frequency gating."""
    sym = pairs.select("src", "dst").unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return propagate_min_label(nodes, sym, id_col, max_iterations)


def adjacency_assign(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "url",
    max_iterations: int = 50,
) -> DataFrame:
    """One-hop greedy adjacency (upstream-Java semantics; SURVEY §2 C2).

    Greedy order: nodes processed by (freq desc, id asc); a live node
    becomes a root and absorbs its still-live *direct* neighbors only
    (no recursion, adjacency.rs:29-64).  Resolved by frontier peeling:

    - frontier = live nodes with no higher-priority live neighbor
      (an adjacency antichain — frontier members never interact, so the
      round resolves them simultaneously without order effects);
    - a frontier node with a higher-priority *root* neighbor is absorbed
      by the first-processed (min-key) such root; otherwise it is a root.

    This reproduces the sequential greedy exactly: when a node's better
    neighbors are all resolved, the first adjacent live root in key
    order is precisely its greedy absorber.  Rounds are bounded by the
    longest key-decreasing path (typically tiny for dedup graphs).

    Round cap: an adversarial key-decreasing chain needs one round per
    node, so after ``max_iterations`` rounds any still-live residual is
    resolved deterministically by min-key label propagation over the
    live subgraph (each leftover node joins the component of its
    highest-priority live reachable node — O(log depth) pointer-jumping
    rounds, never unbounded).  The fallback preserves determinism and
    full assignment; it approximates greedy only for the residual,
    which is empty on real dedup graphs at the default cap.

    Note D2: the Rust reference's adj passes max_freq=0 (adjacency.rs:56)
    and therefore only absorbs exact-duplicate fingerprints — after our
    stage-2 exact collapse that is a no-op, so this implements the
    documented upstream semantics and records the divergence.
    """
    sym = (
        pairs.select("src", "dst")
        .unionByName(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True)
    )
    live = nodes.select(
        F.col(id_col).alias("_nid"), priority_key("freq", id_col).alias("key")
    ).localCheckpoint(eager=True)
    roots = live.limit(0).select("_nid", "key")  # accumulated root set
    assigned_parts: list[DataFrame] = []
    for _ in range(max_iterations):
        if live.isEmpty():
            break
        live_keyed_src = live.select(F.col("_nid").alias("src"), F.col("key").alias("src_key"))
        live_dst = live.select(F.col("_nid").alias("dst"), F.col("key").alias("dst_key"))
        # better-priority LIVE neighbors block resolution
        blocked = (
            sym.join(live_keyed_src, "src")
            .join(live_dst, "dst")
            .filter(F.col("src_key") < F.col("dst_key"))
            .select(F.col("dst").alias("_nid"))
            .distinct()
        )
        frontier = live.join(blocked, "_nid", "left_anti")
        # min-key higher-priority ROOT neighbor, if any -> absorber
        root_src = roots.select(F.col("_nid").alias("src"), F.col("key").alias("root_key"))
        absorber = (
            sym.join(root_src, "src")
            .join(frontier.select(F.col("_nid").alias("dst"), F.col("key").alias("dst_key")), "dst")
            .filter(F.col("root_key") < F.col("dst_key"))
            .groupBy("dst")
            .agg(F.min("root_key").alias("root_key"))
            .select(F.col("dst").alias("_nid"), F.col("root_key")["lid"].alias("root_id"))
        )
        new_roots = frontier.join(absorber.select("_nid"), "_nid", "left_anti").localCheckpoint(
            eager=True
        )
        done = new_roots.select("_nid", F.col("_nid").alias("root_id")).unionByName(
            absorber
        ).localCheckpoint(eager=True)
        assigned_parts.append(done)
        roots = roots.unionByName(new_roots).localCheckpoint(eager=True)
        live = live.join(done.select("_nid"), "_nid", "left_anti").localCheckpoint(eager=True)
    if not live.isEmpty():
        # round cap hit: deterministic residual resolution (see docstring)
        res_nodes = live.select(
            F.col("_nid").alias(id_col), (-F.col("key")["nf"]).alias("freq")
        )
        live_src = live.select(F.col("_nid").alias("src"))
        live_dst = live.select(F.col("_nid").alias("dst"))
        res_edges = sym.join(live_src, "src", "left_semi").join(live_dst, "dst", "left_semi")
        residual = propagate_min_label(res_nodes, res_edges, id_col, max_iterations).select(
            F.col(id_col).alias("_nid"), "root_id"
        )
        assigned_parts.append(residual)
    if not assigned_parts:
        return nodes.select(F.col(id_col), F.col(id_col).alias("root_id")).limit(0)
    out = assigned_parts[0]
    for p in assigned_parts[1:]:
        out = out.unionByName(p)
    return out.select(F.col("_nid").alias(id_col), "root_id")
