"""Connected-components near-dup clustering (the transitive-closure
alternative to ``corpus_pipeline.near_dup_drop``'s pairwise semantics).

Iterative min-label propagation: every node starts labeled with its own
id; each round a node takes the min of its label and its neighbors'
labels; at the fixpoint every node holds its component's minimum id —
the standard crawl-dedup clustering (one survivor per transitive
near-dup cluster).

Scale notes:
- rounds needed = graph DIAMETER. Near-dup graphs are unions of small
  cliques/short chains (LSH candidates), so a handful of rounds; for
  adversarially long chains the alternating large-star/small-star
  contraction (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC '14) bounds rounds at O(log n) — this module keeps the
  simple propagation because the per-round plan is one shuffle join +
  one min-aggregate, both on (node, label) longs.
- per round the driver sees ONE scalar (the count of nodes whose label
  changed; zero = fixpoint); node/edge data never leaves the
  executors. Lives in ``plans/`` because that
  convergence probe is a driver-side action (operators stay
  action-free, enforced by tests/test_lint.py).
- each round's label table is ``localCheckpoint``ed (eager), which
  TRUNCATES the logical plan. This is load-bearing, not hygiene: the
  round-N plan references round N−1 in three places (union, join,
  convergence probe), so without truncation the plan tree doubles+
  per round — optimizer/explain cost grows exponentially and a
  diameter-7 chain already OOMs the driver on plan stringification.
  (On a real cluster, persist each round to a scratch table for the
  same effect plus fault tolerance; localCheckpoint is the local-mode
  equivalent.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_to_text_spark.core import sizing

MAX_ROUNDS = 25  # pointer jumping needs ~log(diameter): q52's 22 take 6


def connected_components(pairs: DataFrame, out_id: str = "doc_id") -> DataFrame:
    """Candidate-pair table (``id_a``, ``id_b``) → (out_id, component)
    where ``component`` is the minimum id in the node's connected
    component. Only ids that appear in ``pairs`` are emitted (isolated
    docs are their own trivial component and need no row).
    Deterministic under any partitioning — min is order-free.

    The per-round edges⋈labels join broadcasts the label side while the
    size probe puts the checkpointed seed labels at most
    ``BROADCAST_MAX_BYTES``: a round then costs one small aggregate
    instead of three shuffles (~2× on the q52 graph: 17k nodes / 101k
    directed edges). Above it the shuffle join stays; results match."""
    sym = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = (
        sym.unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .cache()
    )
    lab = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    n_bytes = sizing.plan_bytes(lab)
    use_bcast = n_bytes is not None and n_bytes <= sizing.BROADCAST_MAX_BYTES
    for _ in range(MAX_ROUNDS):
        lab_dst = lab.select(F.col("node").alias("dst"), "label")
        if use_bcast:
            lab_dst = F.broadcast(lab_dst)
        nbr = edges.join(lab_dst, "dst").select(
            F.col("src").alias("node"), "label", F.lit(False).alias("_own")
        )
        # pointer jumping (r6): ALSO propagate through the label links —
        # node n additionally adopts label(label(n)). label(n) is a
        # member of n's component (labels start as self-ids and only
        # ever take component members' mins), so the jump propagates
        # mins strictly within components; the fixpoint — no change
        # under neighbor+jump propagation — is the same per-component
        # minimum, reached in ~log(diameter) rounds instead of diameter
        # (the q52 LSH graph measured diameter 22: 22 rounds → 6).
        jump = (
            lab.join(
                lab_dst.select(F.col("dst").alias("label"), F.col("label").alias("_l2")),
                "label",
            )
            .select("node", F.col("_l2").alias("label"), F.lit(False).alias("_own"))
        )
        nbr = nbr.unionByName(jump)
        # r6: the convergence probe is FUSED into the round's aggregate —
        # the previous label rides along as min(label where _own), so
        # counting re-labeled nodes is a filter over the checkpointed
        # round output instead of an extra self-join + shuffle per round
        # (2 jobs/round instead of 3; measured ~25% off the per-round
        # wall). ``_old`` is never null: nbr nodes are edge sources,
        # which all seeded ``lab``.
        new = (
            lab.select("node", "label", F.lit(True).alias("_own"))
            .unionByName(nbr)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("_own"), F.col("label"))).alias("_old"),
            )
            # localCheckpoint (not cache): truncates lineage so the
            # per-round plan stays constant-size — see module docstring
            .localCheckpoint(eager=True)
        )
        # min-propagation only ever lowers labels, so zero changes =
        # fixpoint. One scalar crosses to the driver (type-agnostic —
        # ids may be strings/urls, so no numeric-sum shortcut).
        changed = new.filter(F.col("label") != F.col("_old")).count()
        lab = new.select("node", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in MAX_ROUNDS={MAX_ROUNDS} "
            "rounds — the component diameter exceeds it; raise it or switch "
            "to star-contraction for this graph"
        )
    edges.unpersist()
    return lab.select(F.col("node").alias(out_id), F.col("label").alias("component"))


def near_dup_drop_components(df: DataFrame, pairs: DataFrame, id_col: str = "url") -> DataFrame:
    """TRANSITIVE near-dup removal: keep each connected component's
    minimum id, drop every other member. Differs from the pairwise
    ``near_dup_drop`` on 'V' graphs — pairs (a,c),(b,c) with a<b<c:
    pairwise drops only c (a and b were never scored against each
    other and both survive); components merges {a,b,c} and keeps a
    alone. Components is the standard crawl-dedup semantics (one
    survivor per cluster); pairwise is cheaper (no iteration) and
    keeps more. Both are pinned by tests/test_corpus_pipeline.py."""
    comp = connected_components(pairs, out_id=id_col)
    drop = comp.filter(F.col(id_col) != F.col("component")).select(id_col)
    return df.join(drop, id_col, "left_anti")
