"""Pipeline-operations diagnostics (round 8): the queries an operator
of a 100 TB Spark pipeline runs BEFORE and BETWEEN the heavy jobs —
shuffle-key skew profiling (pick broadcast/salt strategy from data,
not folklore) and semantic-index staleness (decide when the frozen
SemDeDup/IVF codebook must be retrained).

Both are exact-oracle queries like everything else in the registry:
the skew profile is pure integer counting with single-IEEE-op ratios;
the drift monitor rides the integer-lattice codebook machinery
(operators/lattice.py) whose train -> freeze -> assign pipeline
replays bit-exactly in DuckDB.

The reference (samply/fhir2sql, /root/reference/src/main.rs) has no
diagnostics surface at all — its only observability is log lines and
the row-count reconciliation check (src/main.rs:299-316, covered by
q_count_reconcile); these queries extend that reconciliation idea to
the two failure modes that actually take down large Spark jobs:
skewed shuffle keys and stale learned partitioners.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir2sql_spark.operators.reuse import pin
from fhir2sql_spark.registry import query
from fhir2sql_spark.tables import load


@query(
    "q_diag_skew",
    oracle="""
    WITH c AS (
        SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ),
    t AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_keys
        FROM c
    ),
    top AS (
        SELECT user_id, cnt FROM c ORDER BY cnt DESC, user_id LIMIT 10
    )
    SELECT top.user_id, top.cnt,
           round(CAST(top.cnt AS DOUBLE) / t.total, 6) AS share,
           round(CAST(top.cnt * t.n_keys AS DOUBLE) / t.total, 6) AS skew_x,
           top.cnt * t.n_keys >= 4 * t.total AS needs_salt
    FROM top, t
    """,
)
def q_diag_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profile: the top-10 heaviest values of a
    prospective join/aggregation key (events.user_id) with each key's
    row share and its load factor vs a perfectly uniform key
    (skew_x = cnt * n_keys / total — the straggler multiplier a
    hash-partitioned shuffle on this key would hand one task), plus a
    salting recommendation as the pure-integer predicate
    cnt * n_keys >= 4 * total. This is the measurement behind every
    "salt or broadcast?" decision in SCALE.md: at 100 TB you profile
    the key BEFORE the 6-hour join, on the same engine, as one
    map-side-combined count + a 10-row TakeOrdered — no second system
    and nothing driver-side but the 10-row result. The ratios are one
    IEEE division each over exact integer counts, so the profile is
    bit-deterministic; ties at the cut line break by key.
    """
    ev = load(spark, sf_dir, "events")
    # counts is referenced twice (totals rollup + top-10); without a
    # lineage barrier each reference re-scans and re-aggregates the
    # fact table — on the 100 TB events table this diagnostic exists
    # for, that doubles its cost (ADVICE r8). The pin holds
    # O(distinct keys) rows of (key, cnt) on executor disk.
    counts = pin(ev.groupBy("user_id").agg(F.count("*").alias("cnt")))
    tot = counts.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n_keys")
    )
    top = counts.orderBy(F.desc("cnt"), "user_id").limit(10)
    return top.crossJoin(F.broadcast(tot)).select(
        "user_id",
        "cnt",
        F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
        F.round(F.col("cnt") * F.col("n_keys") / F.col("total"), 6).alias(
            "skew_x"
        ),
        (F.col("cnt") * F.col("n_keys") >= 4 * F.col("total")).alias(
            "needs_salt"
        ),
    )


def _drift_oracle(rounds: int = 2) -> str:
    """Frozen-codebook drift replay: train on the base shard
    (vec_id % 3 <> 0) with the shared lattice prologue, assign BOTH
    shards against the FINAL codebook, then per-cell share comparison
    in exact arithmetic."""
    from fhir2sql_spark.queries.llm import (
        _LATTICE_SCALE,
        _d2i,
        _lattice_prologue,
    )

    pro, cb = _lattice_prologue(
        "16", rounds, src_where=" WHERE vec_id % 3 <> 0"
    )
    return f"""WITH {pro},
qn AS MATERIALIZED (
  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(ROUND(x * {_LATTICE_SCALE}) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id % 3 = 0
),
asg_base AS MATERIALIZED (
  SELECT vec_id, cent_id FROM (
    SELECT t.vec_id, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY {_d2i('t.qv', 'c.cv')}, c.cent_id) AS rn
    FROM q t CROSS JOIN {cb} c) z
  WHERE rn = 1
),
asg_new AS MATERIALIZED (
  SELECT vec_id, cent_id FROM (
    SELECT t.vec_id, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY {_d2i('t.qv', 'c.cv')}, c.cent_id) AS rn
    FROM qn t CROSS JOIN {cb} c) z
  WHERE rn = 1
),
j AS (
  SELECT c.cent_id,
         CAST(COALESCE(b.n_base, 0) AS BIGINT) AS n_base,
         CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new
  FROM {cb} c
  LEFT JOIN (SELECT cent_id, COUNT(*) AS n_base FROM asg_base GROUP BY 1) b
    USING (cent_id)
  LEFT JOIN (SELECT cent_id, COUNT(*) AS n_new FROM asg_new GROUP BY 1) n
    USING (cent_id)
),
t AS (
  SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
         CAST(SUM(n_new) AS BIGINT) AS tn
  FROM j
)
SELECT CAST(j.cent_id AS INTEGER) AS cell, j.n_base, j.n_new,
       round(CAST(j.n_base AS DOUBLE) / t.tb, 6) AS share_base,
       round(CAST(j.n_new AS DOUBLE) / t.tn, 6) AS share_new,
       round(abs(CAST(j.n_new AS DOUBLE) / t.tn
                 - CAST(j.n_base AS DOUBLE) / t.tb) / 2, 6) AS tvd_contrib,
       (j.n_new * t.tb > 2 * j.n_base * t.tn
        OR j.n_base * t.tn > 2 * j.n_new * t.tb) AS drifted
FROM j, t"""


@query("q_diag_codebook_drift", oracle=_drift_oracle())
def q_diag_codebook_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-index staleness monitor: is the FROZEN codebook that
    q_dedup_semantic_inc / q_embed_ivf_trained keep probing still
    representative of what the pipeline now ingests? Train the
    16-cell lattice codebook on the base shard (vec_id % 3 <> 0, the
    q_dedup_incremental convention), assign base AND the new batch
    against it, and compare per-cell occupancy shares: the per-cell
    total-variation contribution |share_new - share_base| / 2 plus an
    exact-integer 2x-share drift flag
    (n_new * tb > 2 * n_base * tn, and symmetrically) — when cells
    drift, re-train before the incremental dedup's cell pruning stops
    matching where new vectors actually land. Scale shape: the
    codebook broadcasts, both assignment passes are fused Arrow
    map-side work (operators/lattice.py lattice_assign — the corpus
    never shuffles), and everything after is a 16-row rollup; per
    ingest this costs one pass over the BATCH plus one over the base's
    stored assignments (in production the base side is a stored
    (vec_id, cell) table, so only the batch is scanned). Every count
    is an integer, shares are one IEEE division each, and training is
    the bit-exact lattice replay — the full monitor hash-matches the
    DuckDB oracle."""
    from fhir2sql_spark.operators import lattice

    emb = load(spark, sf_dir, "embeddings")
    qv = pin(lattice.quantize(emb))
    base = qv.where(F.col("vid") % 3 != 0)
    new = qv.where(F.col("vid") % 3 == 0)
    cents = lattice.lattice_kmeans(base, k=16, iters=2)
    nb = (
        lattice.lattice_assign(base, cents)
        .groupBy("cell")
        .agg(F.count("*").alias("n_base"))
    )
    nn = (
        lattice.lattice_assign(new, cents)
        .groupBy("cell")
        .agg(F.count("*").alias("n_new"))
    )
    spine = cents.select(F.col("cent_id").alias("cell"))
    # pin the k-row per-cell table: the totals row below re-reads
    # it, and without the barrier BOTH corpus assignment passes
    # would re-execute for the second reference (4 scans -> 2)
    j = pin(
        spine.join(nb, "cell", "left")
        .join(nn, "cell", "left")
        .fillna(0, ["n_base", "n_new"])
    )
    t = j.agg(F.sum("n_base").alias("tb"), F.sum("n_new").alias("tn"))
    return j.crossJoin(F.broadcast(t)).select(
        "cell",
        "n_base",
        "n_new",
        F.round(F.col("n_base") / F.col("tb"), 6).alias("share_base"),
        F.round(F.col("n_new") / F.col("tn"), 6).alias("share_new"),
        F.round(
            F.abs(
                F.col("n_new") / F.col("tn") - F.col("n_base") / F.col("tb")
            )
            / 2,
            6,
        ).alias("tvd_contrib"),
        (
            (F.col("n_new") * F.col("tb") > 2 * F.col("n_base") * F.col("tn"))
            | (
                F.col("n_base") * F.col("tn")
                > 2 * F.col("n_new") * F.col("tb")
            )
        ).alias("drifted"),
    )


@query(
    "q_diag_token_drift",
    oracle="""
    WITH c AS (
        SELECT w,
               CAST(SUM(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_base,
               CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents) t
        WHERE w <> '' GROUP BY w
    ),
    t AS (
        SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
               CAST(SUM(n_new) AS BIGINT) AS tn
        FROM c
    ),
    top AS (
        SELECT c.w, c.n_base, c.n_new,
               abs(c.n_new * t.tb - c.n_base * t.tn) AS d
        FROM c, t
        ORDER BY d DESC, c.w LIMIT 10
    )
    SELECT top.w AS token, top.n_base, top.n_new,
           round(CAST(top.n_base AS DOUBLE) / t.tb, 6) AS share_base,
           round(CAST(top.n_new AS DOUBLE) / t.tn, 6) AS share_new,
           round(abs(CAST(top.n_new AS DOUBLE) / t.tn
                     - CAST(top.n_base AS DOUBLE) / t.tb) / 2, 6)
               AS tvd_contrib,
           (top.n_new * t.tb > 2 * top.n_base * t.tn
            OR top.n_base * t.tn > 2 * top.n_new * t.tb) AS drifted
    FROM top, t
    """,
)
def q_diag_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution ingest drift: the TEXT-side staleness
    monitor next to q_diag_codebook_drift's embedding-side one — is
    the new batch (doc_id % 3 = 0, the incremental family's
    convention) still the language the frozen artifacts were built
    on? Emits the top-10 DRIFTING tokens: largest per-token
    total-variation movers between the base and batch token
    distributions, with each side's count and share, the TV
    contribution |share_new − share_base| / 2, and the same
    exact-integer 2×-share drift flag the codebook monitor uses
    (n_new·tb > 2·n_base·tn, symmetrically). A token surging here is
    new boilerplate (re-run the dedup tiers before it floods a band
    bucket); a whole shifted head is domain drift (retrain the
    frozen rarity order / bigram LM / BPE merges before the next
    incremental pass trusts them).

    Determinism: the mover ORDER is the integer
    d = |n_new·tb − n_base·tn| (share difference cross-multiplied by
    the constant tb·tn — same order, no float), ties broken by
    token; shares and the TV contribution are one IEEE division each
    over exact counts, 6-dp rounded. At 100 TB the d product needs
    DECIMAL headroom (two ~10¹¹ counts multiply); at every fixture
    decade it sits far inside int64.

    Scale shape: ONE documents scan (both sides' counts are
    conditional sums in the same map-side-combined aggregate — never
    two scans), one vocabulary-sized exchange, the (token, n_base,
    n_new) table pinned for its two consumers (totals
    + movers — the q_diag_skew ADVICE r8 rule), totals a 1-row
    broadcast, top-10 a TakeOrderedAndProject. Per ingest the base
    side is a stored token-count table in production, so only the
    batch is scanned and the counts MERGE by addition (the same
    mergeability contract as the Bloom/CMS/HLL tiers).

    The reference (samply/fhir2sql, src/main.rs:299-316) reconciles
    row COUNTS between source and mirror; this extends that idea to
    distribution drift over content."""
    d = load(spark, sf_dir, "documents")
    c = pin(
        d.select(
            (F.col("doc_id") % 3 == 0).alias("__new"),
            F.explode(F.split("text", " ")).alias("token"),
        )
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.sum(F.when(~F.col("__new"), 1).otherwise(0))
            .cast("long")
            .alias("n_base"),
            F.sum(F.when(F.col("__new"), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
        )
    )
    t = c.agg(
        F.sum("n_base").cast("long").alias("tb"),
        F.sum("n_new").cast("long").alias("tn"),
    )
    top = (
        c.crossJoin(F.broadcast(t))
        .withColumn(
            "__d",
            F.abs(
                F.col("n_new") * F.col("tb") - F.col("n_base") * F.col("tn")
            ),
        )
        .orderBy(F.desc("__d"), "token")
        .limit(10)
    )
    return top.select(
        "token",
        "n_base",
        "n_new",
        F.round(F.col("n_base") / F.col("tb"), 6).alias("share_base"),
        F.round(F.col("n_new") / F.col("tn"), 6).alias("share_new"),
        F.round(
            F.abs(
                F.col("n_new") / F.col("tn") - F.col("n_base") / F.col("tb")
            )
            / 2,
            6,
        ).alias("tvd_contrib"),
        (
            (F.col("n_new") * F.col("tb") > 2 * F.col("n_base") * F.col("tn"))
            | (
                F.col("n_base") * F.col("tn")
                > 2 * F.col("n_new") * F.col("tb")
            )
        ).alias("drifted"),
    )


_BOOT_R = 16


@query(
    "q_diag_bootstrap_se",
    # _BOOT_R is interpolated (ADVICE r10 #4) so the replicate count
    # has a single source of truth — changing the constant can no
    # longer silently desynchronize the two engines. The rendered SQL
    # is byte-identical to the previous literal form at _BOOT_R=16.
    oracle=f"""
    WITH d AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        FROM documents
    ),
    g AS (
        SELECT d.doc_id, d.nt, r.r,
               substring(sha256('boot|' || r.r || '|' || d.doc_id), 1, 2)
                   AS b
        FROM d, (SELECT unnest(generate_series(0, {_BOOT_R - 1})) AS r) r
    ),
    k AS (
        SELECT r, nt,
               CASE WHEN b < '5e' THEN 0
                    WHEN b < 'bc' THEN 1
                    WHEN b < 'eb' THEN 2
                    ELSE 3 END AS k
        FROM g
    ),
    reps AS (
        SELECT r,
               ROUND(CAST(SUM(k * nt) AS DOUBLE)
                     / CAST(SUM(k) AS DOUBLE), 6) AS m
        FROM k GROUP BY r
    ),
    arr AS (SELECT list(m ORDER BY r) AS ms FROM reps),
    pt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(CAST(SUM(nt) AS DOUBLE) / COUNT(*), 6) AS point_mean
        FROM d
    )
    SELECT pt.n_docs,
           CAST({_BOOT_R} AS BIGINT) AS n_replicates,
           pt.point_mean,
           ROUND(list_sum(arr.ms) / {_BOOT_R}, 6) AS boot_mean,
           ROUND(sqrt(list_sum(list_transform(arr.ms,
                 x -> (x - list_sum(arr.ms) / {_BOOT_R})
                      * (x - list_sum(arr.ms) / {_BOOT_R}))) / {_BOOT_R - 1}), 6) AS boot_se
    FROM pt, arr
    """,
)
def q_diag_bootstrap_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap standard error of a corpus statistic (mean tokens
    per document) with NO rand(): the Poisson bootstrap (Chamandy et
    al., Google 2012 — the classic map-reduce bootstrap) draws each
    doc's replicate multiplicity k ~ Poisson(1), approximated here by
    DETERMINISTIC hex-prefix thresholds on sha2('boot|r|doc_id')
    (k ∈ {0,1,2,3} with P ≈ .367/.367/.184/.082 — the q_sample_hash
    discipline extended to a distribution), so the 16 replicates are
    reproducible across engines, partitionings, and reruns. The
    answer every data-mix report needs next to its point estimate:
    is a shift in mean doc length signal or resampling noise?

    Determinism: per-replicate means are one IEEE division over exact
    integer sums, 6-dp rounded BEFORE the across-replicate fold; the
    bootstrap mean/SE fold over the 16 rounded means runs in FIXED r
    order on both engines (array_sort + sequential HOF fold here,
    list(ORDER BY r) + list_sum/list_transform there — the
    neyman/doremi ordered-fold lesson), and sqrt is correctly-rounded
    IEEE on both.

    Precondition (ADVICE r10 #3): the corpus must be large enough that
    no replicate draws SUM(k)=0 — P ≈ 0.367^n_docs per replicate, zero
    in practice above ~30 docs (the sf0.001 fixture already has 600).
    In that degenerate case the replicate mean is NULL and the engines
    diverge (Spark's HOF fold propagates NULL; DuckDB's list_sum skips
    it) — a documented minimum-corpus contract rather than a
    NULL-guard, because any guard value (0? point mean?) would be a
    statistical lie the caller should see as an error, and changing
    the declared query's algebra is out of scope for an optimization
    round.

    Scale shape: ONE documents scan exploded ×16 replicates map-side
    (the multiplier is a constant, not a shuffle; sha2+CASE ride the
    scan stage), one 16-group aggregate with map-side combine, then
    O(1) algebra over a 16-element array. At 100 TB this is exactly
    one pass more expensive than the point estimate itself — the
    whole point of the Poisson bootstrap construction.

    The reference (samply/fhir2sql, src/main.rs:299-316) reconciles
    exact counts; this adds the uncertainty bar those reconciliation
    deltas need before anyone pages on them."""
    from fhir2sql_spark.operators.text import token_count_ws

    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", token_count_ws(F.col("text")).cast("long").alias("nt")
    )
    g = d.select(
        "doc_id",
        "nt",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R - 1))).alias("r"),
    ).select(
        "r",
        "nt",
        F.substring(
            F.sha2(
                F.concat(
                    F.lit("boot|"),
                    F.col("r").cast("string"),
                    F.lit("|"),
                    F.col("doc_id").cast("string"),
                ),
                256,
            ),
            1,
            2,
        ).alias("b"),
    )
    k = g.select(
        "r",
        "nt",
        F.when(F.col("b") < "5e", 0)
        .when(F.col("b") < "bc", 1)
        .when(F.col("b") < "eb", 2)
        .otherwise(3)
        .alias("k"),
    )
    reps = k.groupBy("r").agg(
        F.round(
            F.sum(F.col("k") * F.col("nt")).cast("double")
            / F.sum("k").cast("double"),
            6,
        ).alias("m")
    )
    ms = F.transform(
        F.array_sort(F.collect_list(F.struct("r", "m"))), lambda x: x["m"]
    )
    arr = reps.agg(ms.alias("ms"))
    mu = F.aggregate(
        F.col("ms"), F.lit(0.0), lambda a, x: a + x
    ) / F.lit(float(_BOOT_R))
    se = F.sqrt(
        F.aggregate(
            F.transform(F.col("ms"), lambda x: (x - mu) * (x - mu)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        / F.lit(float(_BOOT_R - 1))
    )
    pt = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.sum("nt").cast("double") / F.count(F.lit(1)), 6).alias(
            "point_mean"
        ),
    )
    return pt.crossJoin(F.broadcast(arr)).select(
        "n_docs",
        F.lit(_BOOT_R).cast("long").alias("n_replicates"),
        "point_mean",
        F.round(mu, 6).alias("boot_mean"),
        F.round(se, 6).alias("boot_se"),
    )
