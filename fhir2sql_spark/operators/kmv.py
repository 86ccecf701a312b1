"""KMV (k-minimum-values) distinct sketches — SET-OPERATION estimates.

Completes the engine's mergeable-sketch family: HLL answers "how many
distinct" (q_agg_hll_merge), count-min answers "how often does x
occur" (q_tokens_cms); KMV answers what neither can — INTERSECTION /
Jaccard between audiences, because two KMV sketches over the same
hash function are comparable element-wise (Beyer et al., "On synopses
for distinct-value estimation under multiset operations", SIGMOD'07).

A sketch is the k smallest normalized hash values of a key set:
  - distinct estimate: (k-1) / h_(k)  (h_(k) = k-th smallest, U(0,1))
  - union sketch: k smallest of the concatenation (mergeable);
  - Jaccard: |A_sketch ∩ B_sketch ∩ union_k| / k;
  - intersection estimate: Jaccard x union_estimate.

Everything is DataFrame ops: per-group top-k by hash plans a
WindowGroupLimit (per-partition heads, never a global sort), sketches
are k rows per group and broadcast. xxhash64 is fixed/seeded, so for
given data the estimates are DETERMINISTIC — the error is frozen at
sketch-build time, which is what lets the query contract emit
tolerance flags an exact oracle can hash-check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fhir2sql_spark.operators.reuse import pin

# xxhash64 → U(0,1): signed long / 2^64 + 0.5 (dyadic-exact double)
_TWO64 = float(1 << 64)


def kmv_sketch(df: DataFrame, key: str, group: str, k: int = 64) -> DataFrame:
    """k smallest hash values of the distinct ``key``s per ``group``:
    (group, h) rows, |rows| <= k per group. Parallelism = #groups
    (window partitioned on the group key); Spark ≥3.5 plans the
    rn <= k filter as a WindowGroupLimit, so each task keeps a k-head
    per group rather than sorting its whole partition."""
    h = (F.xxhash64(F.col(key)) / F.lit(_TWO64) + F.lit(0.5)).alias("h")
    hashed = df.select(F.col(group).alias("g"), h).distinct()
    w = Window.partitionBy("g").orderBy("h")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("g", "h")
    )


def kmv_sketch_single(df: DataFrame, key: str, k: int = 64) -> DataFrame:
    """Sketch of ONE key set (columns: h) — uses orderBy+limit, which
    plans TakeOrderedAndProject: per-partition k-heads merged on the
    driver, so a single giant set never funnels through one task (the
    grouped form's window would)."""
    h = (F.xxhash64(F.col(key)) / F.lit(_TWO64) + F.lit(0.5)).alias("h")
    return df.select(h).distinct().orderBy("h").limit(k)


def kmv_distinct_estimate(sketch: DataFrame, k: int = 64) -> DataFrame:
    """(g, est) from each group's sketch: (k-1)/h_(k); if the group
    holds fewer than k distinct keys the sketch is exhaustive and the
    count is exact (= row count)."""
    agg = sketch.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.max("h").alias("hk")
    )
    return agg.select(
        "g",
        F.when(F.col("n") < k, F.col("n").cast("double"))
        .otherwise((F.lit(float(k - 1)) / F.col("hk")))
        .alias("est"),
    )


def kmv_distinct_estimate_value(sketch: DataFrame, k: int = 64) -> float:
    """Driver-side distinct estimate for ONE sketch (columns: h):
    (k-1)/h_(k), exact row count below k, 0.0 for an empty sketch.
    The single shared implementation of the estimator — the grouped
    form above and q_agg_kmv_jaccard both defer to this formula."""
    row = sketch.agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("hk")).collect()[0]
    if row.n == 0:
        return 0.0
    return float(row.n) if row.n < k else (k - 1) / row.hk


def kmv_estimates_from_values(
    ha: list[float], hb: list[float], k: int = 64
) -> tuple[float, float, float, float]:
    """Driver-side (est_a, est_b, jaccard_est, intersection_est) from
    two COLLECTED single-set sketches (<= k hash values each — the
    same bounded-collect class as a codebook). The arithmetic is the
    identical IEEE double sequence the distributed forms run —
    (k-1)/h_(k), |A ∩ B ∩ union_k| / k, jaccard x union_est — so the
    two paths agree bit-exactly (pinned by test_round3_ops.py's
    parity test). r11: q_agg_kmv_jaccard previously ran ~7 driver
    actions over these <= 64-row frames (two estimate aggregates, a
    union checkpoint, two membership counts, a max); one collect per
    sketch plus this function replaces them all."""

    def _est(hs: list[float]) -> float:
        if not hs:
            return 0.0
        return float(len(hs)) if len(hs) < k else (k - 1) / max(hs)

    est_a, est_b = _est(ha), _est(hb)
    set_a, set_b = set(ha), set(hb)
    union_k = sorted(set_a | set_b)[:k]
    n_union = len(union_k)
    if n_union == 0:
        return est_a, est_b, 0.0, 0.0
    in_both = sum(1 for h in union_k if h in set_a and h in set_b)
    exhaustive = n_union < k
    union_est = float(n_union) if exhaustive else (k - 1) / union_k[-1]
    jaccard = in_both / float(n_union if exhaustive else k)
    return est_a, est_b, jaccard, jaccard * union_est


def kmv_intersection_estimate(
    sketch_a: DataFrame, sketch_b: DataFrame, k: int = 64
) -> DataFrame:
    """1-row (jaccard_est, intersection_est) for two single-group
    sketches (columns: h). Exhaustive sketches (< k values in the
    union) degrade gracefully to exact; two empty sketches estimate
    jaccard 0 / intersection 0 (not a division error)."""
    a = sketch_a.select("h")
    b = sketch_b.select("h")
    union_k = pin(  # tiny; pins one evaluation
        a.union(b).distinct().orderBy("h").limit(k)
    )
    n_union = union_k.count()
    import pandas as pd  # session-local 1-row frame

    if n_union == 0:
        return sketch_a.sparkSession.createDataFrame(
            pd.DataFrame({"jaccard_est": [0.0], "intersection_est": [0.0]})
        )
    in_both = (
        union_k.join(F.broadcast(a), "h", "left_semi")
        .join(F.broadcast(b), "h", "left_semi")
        .count()
    )
    exhaustive = n_union < k
    hk = union_k.agg(F.max("h")).collect()[0][0]
    union_est = float(n_union) if exhaustive else (k - 1) / hk
    jaccard = in_both / float(n_union if exhaustive else k)
    return sketch_a.sparkSession.createDataFrame(
        pd.DataFrame(
            {"jaccard_est": [jaccard], "intersection_est": [jaccard * union_est]}
        )
    )
