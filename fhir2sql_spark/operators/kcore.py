"""Distributed k-core decomposition (iterative peeling).

The k-core of an undirected graph is the maximal subgraph in which
every vertex has degree >= k — the standard dense-region /
community-backbone primitive (Seidman 1983; distributed peeling as in
Montresor et al.). The algorithm is the textbook fixpoint: repeatedly
delete every vertex of degree < k (with its edges) until none
remains. Deletion is monotone, so the fixpoint is unique and extra
rounds past convergence are no-ops — the property the unrolled SQL
oracle relies on.

Spark shape: each round is one degree aggregation plus two left-anti
equi-joins against the (shrinking) low-degree vertex set — all
shuffle-partitioned by vertex/edge key, no driver-side graph state.
Round count equals the peeling depth of the graph (10 on the sf0.01
co-purchase fixture), each round localCheckpointed so lineage stays
flat, same pattern as operators/pagerank.py and
operators/components.py.

The reference (samply/fhir2sql, src/main.rs — a sync daemon) has no
graph surface; this extends SURVEY.md §2.4 alongside
operators/triangles.py (triangles / edge Jaccard) and
operators/pagerank.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fhir2sql_spark.operators.reuse import pin


def _degrees(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def kcore(edges: DataFrame, k: int, max_rounds: int = 60) -> DataFrame:
    """Vertices of the k-core with their core-subgraph degrees.

    ``edges`` holds each undirected edge once as (src < dst), unique.
    Returns ``(node, deg long)`` for every vertex surviving the peel
    (deg is the degree WITHIN the k-core, >= k by construction; an
    empty result means the graph has no k-core).

    Each round pins the surviving edge set: the next round's degree
    aggregate, the convergence probe and the two anti-joins all re-read
    the pinned partitions instead of re-running the whole peeling
    lineage (which doubles per round otherwise)."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    cur = pin(edges.select("src", "dst"))
    for _ in range(max_rounds):
        # r11: pin DEG (node-sized, the per-round hot frame) instead of
        # the filtered bad list — bad becomes a free filter-scan of the
        # pin for its three consumers, the converged round returns the
        # pinned frame without re-running the degree aggregate, and the
        # two anti-joins broadcast the IDENTICAL bad subtree (join
        # conditions on the original column instead of renamed copies),
        # so ReuseExchange collapses the two per-round broadcast builds
        # into one.
        deg = pin(_degrees(cur))
        bad = deg.where(F.col("deg") < k).select("node")
        if bad.limit(1).count() == 0:  # fills the deg pin
            return deg
        kept = cur.join(bad, cur["src"] == bad["node"], "left_anti")
        cur = pin(kept.join(bad, kept["dst"] == bad["node"], "left_anti"))
    raise RuntimeError(
        f"k-core peeling did not converge within {max_rounds} rounds"
    )
