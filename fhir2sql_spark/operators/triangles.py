"""Distributed triangle counting (degree-ordered wedge join).

Triangle participation counts over an undirected graph — the classic
"mutual connections" / community-density primitive. The naive 3-way
self-join enumerates every wedge at every vertex: sum(deg^2), which a
single hub vertex turns quadratic. The standard distributed fix
(Cohen's MapReduce algorithm; also Suri & Vassilvitskii's "Counting
Triangles and the Curse of the Last Reducer", WWW'11) orients every
edge from the lower-(degree, id) endpoint to the higher one:

  - every triangle {a,b,c} keeps exactly ONE wedge — the one centered
    at its lowest-rank vertex — so nothing is double-counted;
  - each vertex's out-degree is bounded by O(sqrt(m)), so the wedge
    join is O(m^1.5) total regardless of hub skew — the property that
    makes the plan survive a power-law graph at 100 TB.

Both joins are plain equi-joins (shuffle on vertex id / edge pair), so
Catalyst/AQE handle physical strategy; no driver-side state.

The reference (samply/fhir2sql, src/main.rs — a sync daemon) has no
graph surface; this extends SURVEY.md §2.4 alongside
operators/pagerank.py and operators/components.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fhir2sql_spark.operators.reuse import pin

# rank = deg * 2^33 + node packs the (degree, node) orientation order
# into one comparable long: valid while node < 2^33 and deg < 2^30
# (fixture node ids are part keys, < 2^21 at sf100; degrees < |V|).
_RANK_SHIFT = 1 << 33


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_weight: int = 2,
) -> DataFrame:
    """Build an undirected co-occurrence graph: an edge (src < dst)
    between two items that appear in at least ``min_weight`` distinct
    groups together.

    Round-6 shape: ONE group-keyed exchange (collect_set with
    map-side partial aggregation), then pairs via two chained
    posexplodes of the per-group item set filtered to p2 > p1 — all
    whole-stage codegen, no self-join, no separate distinct pass. The
    previous rendering materialized a distinct (group, item) table
    and self-joined it on the group key: a second 600 M-row exchange
    plus the join, which dominated every sf100 graph query (~490 s
    for q_graph_degree_dist; edge derivation, not the graph math, was
    the cost). Per-group fan-out is C(items-per-group, 2) either way,
    bounded by the group size (<= 7 for order-like groups); carrying
    the set array through the first explode copies k arrays of k
    elements — bytes, at that bound. A group with a pathologically
    large item set would need the old join form back (the array copy
    goes quadratic); for basket/order-shaped groups this form strictly
    dominates."""
    sets = (
        df.select(F.col(group_col).alias("__g"), F.col(item_col).alias("__i"))
        .groupBy("__g")
        .agg(F.collect_set("__i").alias("__items"))
        .where(F.size("__items") >= 2)
    )
    pairs = (
        sets.select("__g", "__items", F.posexplode("__items").alias("__p1", "src"))
        .select("src", "__p1", F.posexplode("__items").alias("__p2", "dst"))
        .where(F.col("__p2") > F.col("__p1"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
    )
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
        .where(F.col("weight") >= min_weight)
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation counts.

    ``edges`` holds each undirected edge once as (src < dst), unique.
    Returns ``(node, triangles long)`` for every vertex in at least one
    triangle. Wedges are enumerated only at each triangle's
    lowest-(degree, id) vertex (see module docstring), then closed
    against the oriented edge set; each closed triangle credits all
    three corners via an explode — a config-free, fully distributed
    plan (two equi-joins + one aggregation).

    r11: ``edges`` is pinned once — it is consumed by the degree
    aggregate (twice), the orientation join and the wedge close, and
    each branch otherwise re-derives the full co-occurrence pipeline
    including its group-key exchange (operators/reuse.py)."""
    edges = pin(edges)
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(
            "node",
            (F.col("deg").cast("long") * F.lit(_RANK_SHIFT) + F.col("node"))
            .alias("rank"),
        )
    )
    ranked = (
        edges.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("rank", "rank_src")
        .join(deg.withColumnRenamed("node", "dst"), "dst")
        .withColumnRenamed("rank", "rank_dst")
    )
    lo_first = F.col("rank_src") < F.col("rank_dst")
    oriented = ranked.select(
        F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.when(lo_first, F.col("rank_dst"))
        .otherwise(F.col("rank_src"))
        .alias("rank_v"),
    )
    e1 = oriented.select(
        F.col("u"), F.col("v").alias("v1"), F.col("rank_v").alias("rv1")
    )
    e2 = oriented.select(
        F.col("u").alias("u2"), F.col("v").alias("v2"), F.col("rank_v").alias("rv2")
    )
    wedges = e1.join(
        e2, (e1["u"] == e2["u2"]) & (F.col("rv1") < F.col("rv2"))
    ).select("u", "v1", "v2")
    closer = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tri = wedges.join(closer, ["v1", "v2"])
    return (
        tri.select(
            F.explode(F.array(F.col("u"), F.col("v1"), F.col("v2"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def edge_jaccard(edges: DataFrame) -> DataFrame:
    """Neighborhood Jaccard similarity per EDGE — the classic
    link-strength feature (|N(a) ∩ N(b)| / |N(a) ∪ N(b)| for each
    existing edge; endpoints stay in the union, standard
    common-neighbors convention).

    ``edges`` holds each undirected edge once as (src < dst), unique.
    Returns ``(src, dst, common long, jaccard double)`` for EVERY
    input edge (zero-common edges included via a left join).

    |N(a) ∩ N(b)| for an edge is exactly the number of triangles
    through it, so the plan reuses the degree-ordered wedge
    enumeration above — every triangle found once at its lowest-rank
    corner, out-degrees bounded O(sqrt(m)) — then credits each
    triangle to its three edges (canonicalized src < dst) and joins
    degree counts for the union size. Same scale posture as
    triangle_counts: equi-joins + aggregations only, hub-skew-proof.
    The division common/(deg_a + deg_b - common) is one IEEE double
    op over exact longs — bit-identical in any engine.

    r11: same edge-materialization barrier as triangle_counts (the
    edge list is referenced by degrees, orientation, close and the
    final left join — measured 19.8 s executor CPU of re-derivation
    at sf0.1 without it)."""
    edges = pin(edges)
    deg_raw = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    deg = deg_raw.select(
        "node",
        "deg",
        (F.col("deg").cast("long") * F.lit(_RANK_SHIFT) + F.col("node"))
        .alias("rank"),
    )
    ranked = (
        edges.join(
            deg.select(F.col("node").alias("src"), F.col("rank").alias("rank_src")),
            "src",
        ).join(
            deg.select(F.col("node").alias("dst"), F.col("rank").alias("rank_dst")),
            "dst",
        )
    )
    lo_first = F.col("rank_src") < F.col("rank_dst")
    oriented = ranked.select(
        F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.when(lo_first, F.col("rank_dst"))
        .otherwise(F.col("rank_src"))
        .alias("rank_v"),
    )
    e1 = oriented.select(
        F.col("u"), F.col("v").alias("v1"), F.col("rank_v").alias("rv1")
    )
    e2 = oriented.select(
        F.col("u").alias("u2"), F.col("v").alias("v2"), F.col("rank_v").alias("rv2")
    )
    wedges = e1.join(
        e2, (e1["u"] == e2["u2"]) & (F.col("rv1") < F.col("rv2"))
    ).select("u", "v1", "v2")
    closer = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = wedges.join(closer, ["v1", "v2"])
    # each triangle contributes one common neighbor to each of its
    # three edges; canonicalize to (min, max) = the input edge form
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v1").alias("src"),
                    F.greatest("u", "v1").alias("dst"),
                ),
                F.struct(
                    F.least("u", "v2").alias("src"),
                    F.greatest("u", "v2").alias("dst"),
                ),
                F.struct(
                    F.least("v1", "v2").alias("src"),
                    F.greatest("v1", "v2").alias("dst"),
                ),
            )
        ).alias("__e")
    ).select("__e.src", "__e.dst")
    common = tri_edges.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("common")
    )
    out = (
        edges.join(common, ["src", "dst"], "left")
        .join(
            deg_raw.select(
                F.col("node").alias("src"), F.col("deg").alias("deg_src")
            ),
            "src",
        )
        .join(
            deg_raw.select(
                F.col("node").alias("dst"), F.col("deg").alias("deg_dst")
            ),
            "dst",
        )
    )
    c = F.coalesce(F.col("common"), F.lit(0)).cast("long")
    return out.select(
        "src",
        "dst",
        c.alias("common"),
        (
            c.cast("double")
            / (F.col("deg_src") + F.col("deg_dst") - c).cast("double")
        ).alias("jaccard"),
    )
