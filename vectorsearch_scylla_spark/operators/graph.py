"""Distributed connected components over a pair-edge DataFrame.

The final step of every training-data dedup pipeline: exact and
near-dup PAIRS (hash groups, SimHash/MinHash band joins, embedding
LSH) must be folded into CLUSTERS so one canonical document per
component survives.  The reference stops at pair retrieval (its ANN
index returns neighbor lists, docs/SCYLLADB_VECTOR_SEARCH_REFERENCE.md:49-58);
clustering the pair graph is the batch-pipeline completion of that.

Algorithm: iterative min-label propagation with pointer jumping.
Each round every node takes ``min(own label, labels of its neighbors,
label OF its label)``; the last term (pointer jumping / path halving)
contracts chains so convergence is O(log diameter) rounds rather than
O(diameter), and each round is one hash join + one groupBy (round 0
is join-free: initial labels are identities, so it folds to one
aggregation over the edge table) — no
driver-side graph state, edges never leave the cluster.  For dup
graphs specifically, components are near-cliques of bounded size
(duplicate groups), so rounds ≈ 2-3 in practice.

Scale notes (100 TB): the edge set of a dedup graph is orders of
magnitude smaller than the corpus (only candidate pairs survive the
band joins), so label propagation shuffles |E| rows per round on the
join key — uniformly hash-partitioned, no skew beyond what AQE
handles.  Lineage is truncated per round with ``localCheckpoint``
(single-node) — on a real cluster point ``spark.sparkContext
.setCheckpointDir`` at durable storage and swap to ``checkpoint``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectorsearch_scylla_spark.session import drop_inherited_stats


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Components of the undirected graph given by ``edges`` pairs.

    Returns ``(node, component)`` where ``component`` is the MINIMUM
    node id in the component — deterministic, so both the canonical-doc
    choice ("keep the smallest id") and the oracle comparison are
    stable.  Nodes are exactly the ids appearing in any edge.

    Raises if the propagation has not reached a fixpoint within
    ``max_iters`` rounds (pointer jumping makes that ~log2 of the
    largest component diameter; 25 covers any realistic dup graph).
    """
    # persist + truncate the EDGE lineage too: ``sym`` is joined in
    # every round and in the convergence check — without this, the
    # caller's whole pair-generation pipeline (band joins, signature
    # kernels) would re-execute once per round per job.  LAZY (r15):
    # round 0's convergence count computes and PERSISTS the RDD, so
    # the pipeline runs once and every later round reads the cached
    # blocks.  Precision (r15 ADVICE): with Spark's default
    # checkpointAllMarkedAncestors=false, a nested marked RDD like
    # this one is persisted but NOT lineage-truncated when a caller's
    # own checkpoint materializes above it — block eviction or
    # executor loss re-runs the upstream pipeline.  Contents are
    # deterministic, so results are unaffected either way.
    sym = drop_inherited_stats(
        (
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
            .distinct()
        ).localCheckpoint(eager=False)
    )
    # Round 0 FUSED into the label init (r15): with lbl(x) = x
    # initially, min(own, neighbors, lbl-of-lbl) degenerates to
    # least(u, min(v)) — one aggregation over sym, NO join and no
    # separate labels-init checkpoint.  The checkpoint is LAZY and the
    # convergence count is the materializing action, so the round is
    # ONE action instead of eager-checkpoint-job + 2-job limit-count
    # (a full count on the tiny per-partition agg output costs the
    # same scan the checkpoint needed anyway; limit(1) saved nothing
    # but its short-circuit, and paid an extra job for it).  Same
    # job-shape change applied to the loop rounds below: measured 26
    # jobs -> 18 per call at sf0.1, labels provably identical.
    r0 = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(
            F.col("u").alias("node"),
            F.least("u", "mn").alias("lbl"),
            (F.col("mn") < F.col("u")).alias("chg"),
        )
    )
    new_labels = drop_inherited_stats(r0.localCheckpoint(eager=False))
    changed = new_labels.filter(F.col("chg")).count()
    labels = new_labels.select("node", "lbl")
    if changed == 0:
        return labels.select("node", F.col("lbl").alias("component"))
    for _ in range(max_iters - 1):
        # Pointer jumping FUSED into the neighbor aggregation: the
        # adjacency for this round is the real edges plus one pointer
        # edge (u → lbl(u)) AND one self edge (u → u) per node.
        # Joining labels onto the far end then delivers, per node, the
        # labels of its neighbors, the label of its label, AND its own
        # label through the SAME shuffle — so the round is ONE join +
        # ONE aggregation (r15: the previous shape re-joined `labels`
        # a second time just to attach the node's own label for the
        # least()/changed computation, paying an extra exchange + join
        # per round; the self edge delivers the own label into the
        # aggregation instead, and a conditional min recovers it for
        # the changed flag).  The self/pointer edges also guarantee
        # every node appears in the aggregation (inner join, no
        # left-join/coalesce needed), and since lbl(lbl(u)) ≤ lbl(u)
        # (labels only ever decrease and lbl(x) ≤ x), the aggregate
        # min is already ≤ the node's own label.
        contact = sym.unionByName(
            labels.select(F.col("node").alias("u"), F.col("lbl").alias("v"))
        ).unionByName(
            labels.select(F.col("node").alias("u"), F.col("node").alias("v"))
        )
        new_labels = (
            contact.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy("u")
            .agg(
                F.min("lbl").alias("new_lbl"),
                # own label rides the self-edge row (v == u); the
                # pointer edge coincides with it only when lbl(u) = u,
                # where both deliver lbl(u) — min is unaffected
                F.min(F.when(F.col("v") == F.col("u"), F.col("lbl"))).alias(
                    "own_lbl"
                ),
            )
            .select(
                F.col("u").alias("node"),
                F.col("new_lbl").alias("lbl"),
                # changed flag rides the checkpointed frame, so the
                # fixpoint test below is a filter on materialized rows,
                # not another join against the previous round
                (F.col("new_lbl") < F.col("own_lbl")).alias("chg"),
            )
        ).localCheckpoint(eager=False)
        new_labels = drop_inherited_stats(new_labels)
        # the count IS the materializing action (lazy checkpoint): one
        # action per round instead of eager-ckpt job + limit-count jobs
        changed = new_labels.filter(F.col("chg")).count()
        labels = new_labels.select("node", "lbl")
        if changed == 0:
            return labels.select("node", F.col("lbl").alias("component"))
    raise RuntimeError(
        f"connected_components: no fixpoint within {max_iters} rounds"
    )


def incremental_components(
    prev: DataFrame,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Update ``(node, component)`` labels with a NEW batch of edges
    WITHOUT re-reading the old edge set — the cluster-maintenance half
    of the append-only dedup story (daily increments at 100 TB: the
    base corpus's billions of pair edges are never rescanned; only its
    label table, linear in nodes, and the increment's edges are).

    Edge compression: each old component is represented by its STAR
    (``component → member`` for every non-canonical member), which
    preserves that component's connectivity exactly and — because
    ``connected_components`` labels by MINIMUM id and the old
    canonical IS the component minimum — propagation over
    ``star ∪ new_edges`` reaches precisely the labels a batch
    recompute over ``old_edges ∪ new_edges`` would produce.

    Affected-subgraph pruning: a component none of whose members
    touches a new edge cannot change, so only the TOUCHED components'
    stars enter the propagation at all — the iterative part is
    O(affected members + new edges), independent of both the base
    corpus size and the base edge count.  Untouched rows (including
    old singletons) pass through label-unchanged.

    Returns labels for every node in ``prev`` plus every node
    appearing in ``new_edges``.

    The |increment|-bounded touched-node/component key sets broadcast
    statically into their probes against the corpus-sized
    ``prev``/star tables — the checkpointed edge frame carries default
    (huge) stats, so without the hint those probes SortMergeJoin and
    shuffle the corpus per increment (the planner trap
    ``operators/dedup.banded_pairs``' against= note describes).  An
    increment whose touched set cannot broadcast HARD-FAILS (Spark's
    8 GB broadcast-table cap, or a driver OOM while building the
    broadcast relation) rather than slowing down.
    """
    # Truncate the NEW-edge lineage once: this frame feeds the sym
    # checkpoint, the touched-component probe, and (via touched) the
    # untouched/singles arms — without this, the caller's whole
    # candidate-generation pipeline (band joins, Jaccard verification,
    # hyperplane LSH) re-executes per consumer.
    new_edges = drop_inherited_stats(
        new_edges.select(src, dst).localCheckpoint(eager=False)
    )
    star = prev.filter(F.col("node") != F.col("component")).select(
        F.col("component").alias(src), F.col("node").alias(dst)
    )
    # touched_nodes / touched_comps are |increment|-bounded but derive
    # from the checkpointed edge frame, whose DEFAULT (huge) stats
    # would otherwise make every probe against the corpus-sized prev /
    # star tables a SortMergeJoin that SHUFFLES THE CORPUS per
    # increment — the same planner trap the band joins' static
    # broadcast of the new side fixes (see operators/dedup.
    # banded_pairs).  The static broadcast hints below keep all three
    # probes corpus-shuffle-free: prev and star stream straight off
    # their scans.
    touched_nodes = F.broadcast(
        new_edges.select(F.col(src).alias("node"))
        .union(new_edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    touched_comps = F.broadcast(
        drop_inherited_stats(
            prev.join(touched_nodes, "node", "left_semi")
            .select("component")
            .distinct()
            .localCheckpoint()
        )
    )
    star_affected = star.join(
        touched_comps.withColumnRenamed("component", src), src, "left_semi"
    )
    merged = connected_components(
        star_affected.unionByName(new_edges.select(src, dst)),
        src=src,
        dst=dst,
        max_iters=max_iters,
    )
    untouched = prev.join(touched_comps, "component", "left_anti").select(
        "node", "component"
    )
    # a brand-new node that appears in prev nowhere and whose only new
    # edge is a self-loop-free edge is always in `merged`; the residual
    # singles are touched nodes whose edges were all filtered upstream
    # (defensive — empty in normal use)
    singles = (
        touched_nodes.join(merged, "node", "left_anti")
        .join(untouched, "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return merged.unionByName(untouched).unionByName(singles)
