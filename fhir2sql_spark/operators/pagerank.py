"""Distributed PageRank — graph centrality over a pair/edge relation.

Companion to connected_components (dup-cluster resolution): where
components answer "which documents are the same", PageRank answers
"which nodes matter" — canonical-document election weighted by link
structure, crawl-frontier prioritization, or influence scoring over an
interaction graph. The reference has no iterative computation at all;
this exists for the pipeline surface (BASELINE.json north star).

Algorithm: power iteration on the Google matrix with damping ``d``:
    rank'(v) = (1-d)/N + d * (sum_{u->v} rank(u)/outdeg(u) + D/N)
where D is the total rank mass on dangling nodes (no out-edges),
redistributed uniformly. Fixed iteration count (convergence is
geometric at rate d; 15 rounds ~ 1e-2..1e-3 L1 on web-like graphs).

Scale posture per round: ONE shuffle — the contribution groupBy on the
destination id. r11 shape: the adjacency (edges x outdeg) is augmented
with one NULL-degree SELF row per node, so the contribution aggregate
emits a row for EVERY node (sum() skips the NULL term — value-exact)
and the old per-round ``ranks LEFT JOIN contribs`` rejoin disappears
from the loop entirely. With no dangling mass, ``ranks`` is then
consumed ONCE per round, so the per-round pin (which exists to stop
the double-consumer lineage doubling) relaxes to a bounded-depth pin
every ``_PIN_EVERY`` rounds — the whole power iteration becomes one
plan chain materialized by the caller's action (r11 task audit:
92 -> 35 jobs, 131 -> 49 stages for q_graph_pagerank). Dangling
graphs keep the per-round pin: the dangling-mass aggregate is a
second consumer of ``ranks``. Ranks are
doubles (exactness is impossible: rank/outdeg is a non-terminating
rational); determinism is therefore within float merge-order jitter,
which tests bound against a numpy reference (1e-9 on the fixture) and
the oracle absorbs with 8-dp rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fhir2sql_spark.operators.reuse import pin

# without dangling mass, ``ranks`` is pinned every this many rounds
# (and after the last) only to bound plan depth
_PIN_EVERY = 5


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 15,
    damping: float = 0.85,
) -> DataFrame:
    """Rank every node incident to ``edges`` (directed). Returns
    (node, rank) with sum(rank) == 1 up to float error. Parallel
    edges are collapsed (each u->v counted once, standard adjacency
    semantics); self-loops participate like any edge."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).distinct()
    nodes = pin(
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("t").alias("node")))
        .distinct()
    )
    n = nodes.count()  # fills the pin
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))  # empty frame, right schema
    outdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    # Adjacency with out-degree attached plus one NULL-deg self row per
    # node, materialized once. The self rows make the per-round
    # contribution groupBy TOTAL over nodes: rank/NULL is NULL, sum()
    # drops it (identical csum values), but the group always exists,
    # so no rejoin against ranks is needed to resurrect
    # zero-contribution nodes.
    self_rows = nodes.select(
        F.col("node").alias("s"),
        F.col("node").alias("t"),
        F.lit(None).cast("long").alias("deg"),
    )
    adj = pin(
        e.join(outdeg, "s").select("s", "t", "deg").unionByName(self_rows)
    )

    # The dangling-node SET is static — compute it once; the per-round
    # dangling MASS is then a broadcast semi-join against that set,
    # and when the set is empty (most constructed graphs) the whole
    # term — one join + one crossJoin per round — vanishes from the
    # plan entirely, and with it the second per-round consumer of
    # ``ranks`` (see pin policy below).
    dangling_nodes = pin(
        nodes.join(outdeg, nodes.node == outdeg.s, "left_anti")
    )
    has_dangling = dangling_nodes.count() > 0

    ranks = pin(nodes.withColumn("rank", F.lit(1.0 / n)))
    for i in range(iters):
        contribs = (
            adj.join(ranks, adj.s == ranks.node)
            .select(F.col("t").alias("node2"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node2")
            .agg(F.coalesce(F.sum("c"), F.lit(0.0)).alias("csum"))
        )
        if has_dangling:
            dangling = (
                ranks.join(F.broadcast(dangling_nodes), "node", "left_semi")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
            )
            contribs = contribs.crossJoin(F.broadcast(dangling))
            dmass_per_node = F.col("dmass") / n
        else:
            dmass_per_node = F.lit(0.0)
        ranks = contribs.select(
            F.col("node2").alias("node"),
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * (F.col("csum") + dmass_per_node)
            ).alias("rank"),
        )
        # Pin policy: with dangling mass, ranks is consumed TWICE per
        # round (contribution join + dangling aggregate) and an
        # unpinned lineage doubles per round — a per-round pin is the
        # floor (pinning every 5th round was measured 2-4x slower under
        # double consumption). Without dangling, ranks is consumed
        # ONCE per round, so a pin every _PIN_EVERY rounds merely
        # bounds plan depth and the whole chain executes in the
        # caller's single action.
        if has_dangling or (i + 1) % _PIN_EVERY == 0 or i == iters - 1:
            ranks = pin(ranks)
    return ranks
