"""Connected components over a pair graph — duplicate-cluster
resolution for dedup pipelines.

Near-dup detection (operators/dedup.py) emits PAIRS, but a training
pipeline needs CLUSTERS: transitive closure of the pair relation, one
canonical document per cluster. The reference (samply/fhir2sql) has
nothing iterative at all — its closest analogue is the keyed diff map
(/root/reference/src/main.rs:49-75); this operator exists for the
LLM-pipeline surface.

Algorithm: distributed min-label propagation. Every node starts
labeled with itself; each round a node adopts the minimum label among
itself and its neighbors; fixpoint when no label changes. Rounds =
graph diameter. Duplicate clusters are near-cliques (diameter <= 2-3),
so propagation converges in a handful of rounds — the pathological
long-chain case where alternating large-star/small-star (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14) wins its
O(log n) bound does not arise from similarity graphs in practice.

Scale posture per round: ONE shuffle — the neighbor-min groupBy on the
receiving node id. r11 shape: the symmetrized edge set is read through
one SELF row per node (``(v, v)``), so the min-aggregate group for
``v`` contains v's own label alongside its neighbors' — the aggregate
IS ``least(own, min(neighbors))`` and the old per-round
``labels LEFT JOIN neigh_min`` rejoin disappears; a conditional min
over the self row recovers v's previous label for the convergence
test. All label arithmetic is integer min — bit-exact, no float
order concerns. Labels are localCheckpoint'ed so lineage (and the
replayed shuffle DAG) stays O(1) across rounds rather than
O(rounds). The convergence test is a distributed count of changed
labels — a scalar to the driver, never row data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fhir2sql_spark.operators.reuse import pin


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 25,
) -> DataFrame:
    """Resolve the undirected graph in ``edges`` to components.

    Returns (node, component_id) where component_id is the minimum
    node id reachable from ``node``. Only nodes incident to an edge
    appear (isolated nodes are their own trivial component and can be
    unioned in by the caller if needed).
    """
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    # Materialize the symmetrized edge set once: the upstream pair
    # derivation (e.g. an exact-Jaccard self-join) is far more
    # expensive than the propagation itself, and without a lineage
    # barrier every round's join would recompute it from scratch.
    sym = pin(sym.distinct())

    labels = pin(
        sym.select(F.col("a").alias("node")).distinct().withColumn("label", F.col("node"))
    )

    # Self rows, derived from the pinned node-sized labels frame (not
    # from sym — that would re-run a fact-sized distinct every round).
    # Real self-loop edges are dropped first: they contributed only the
    # node's own label to the min, which the self row now carries, and
    # the conditional own-label min below must see exactly one self row
    # per node.
    self_rows = labels.select(
        F.col("node").alias("a"), F.col("node").alias("b")
    )
    sym0 = sym.where(F.col("a") != F.col("b")).unionByName(self_rows)

    for _ in range(max_rounds):
        # One materialization per round: the convergence count fills
        # the pin, which IS the round's single evaluation, and the
        # next round reads the pinned (tiny) result instead of
        # re-running the join.
        # The self row makes the group total over nodes AND carries the
        # node's previous label (the a == b row joined its own label),
        # so min(lab) = least(own, neighbor-min) and the old left
        # rejoin is gone.
        joined = labels.join(sym0, labels["node"] == sym0["a"]).select(
            sym0["b"].alias("node2"),
            F.col("label").alias("lab"),
            (sym0["a"] == sym0["b"]).alias("own"),
        )
        staged = pin(
            joined.groupBy("node2")
            .agg(
                F.min("lab").alias("new_label"),
                F.min(F.when(F.col("own"), F.col("lab"))).alias("old_label"),
            )
            .select(
                F.col("node2").alias("node"),
                "new_label",
                (F.col("new_label") < F.col("old_label")).alias("chg"),
            )
        )
        changed = staged.where(F.col("chg")).count()
        labels = staged.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break

    return labels.select("node", F.col("label").alias("component_id"))
