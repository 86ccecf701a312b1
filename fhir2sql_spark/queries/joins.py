"""Join suite (SURVEY.md §2.3 q_join_*).

The reference's single join is the CDC diff (full-outer by key,
/root/reference/src/main.rs:227-248) realized as a driver-side map
probe; this module declares the full join surface the engine supports.

Physical-strategy notes (verified via .explain at sf0.1):
  - dimension joins (nation/region/part/supplier) are broadcast —
    no shuffle of the fact side; at 100 TB the fact table streams
    through map-side BroadcastHashJoin.
  - fact-fact equi joins (orders x customer, lineitem x orders)
    sort-merge-shuffle on the key; AQE converts to broadcast when a
    filtered side fits under the threshold.
  - the theta join is a BroadcastNestedLoopJoin on deliberately tiny
    inputs (10x10) — the only strategy for arbitrary inequalities.
  - the as-of join is the composed operator in operators/asof.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir2sql_spark.operators.asof import asof_join, asof_join_sorted
from fhir2sql_spark.operators.skew import banded_inequality_join
from fhir2sql_spark.operators.reuse import pin
from fhir2sql_spark.registry import query
from fhir2sql_spark.tables import load
from fhir2sql_spark.queries.util import dec


@query(
    "q_join_inner",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way inner join + agg, planned with EAGER AGGREGATION: orders
    pre-aggregates per custkey before the join (a rewrite OSS Catalyst
    does not perform), so the join input shrinks from |orders| rows to
    |customers| rows and the join-side sort works on the reduced set;
    nation broadcasts. Decimal partial sums re-sum exactly, so the
    result is bit-identical to the direct 3-way join (A/B at sf100:
    2.4 s vs 8.1 s, same 25 rows — SCALE.md round 4). Sound here
    because the join key is the grouping key's determinant and the
    join is key-preserving (c_custkey unique); the oracle keeps the
    canonical un-rewritten SQL as the contract."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    po = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice", 2)).alias("sp"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        po.join(c, po.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum("sp").cast("double").alias("sum_price"),
            F.sum("n").alias("n_orders"),
        )
    )


@query(
    "q_join_left",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (count = 0),
    planned with eager aggregation: the group key IS the join key and
    customer keys are unique, so counting per custkey BEFORE the join
    shrinks the joined fact side from |orders| to |customers| rows and
    removes the post-join aggregate entirely (the q_join_inner rewrite
    in its purest form — A/B at sf100 in SCALE.md round 4). Missing
    matches surface as NULL counts and coalesce to the oracle's
    COUNT(o_orderkey)=0."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    po = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    return c.join(po, c.c_custkey == po.o_custkey, "left").select(
        "c_custkey", F.coalesce("n", F.lit(0)).alias("n_orders")
    )


@query(
    "q_join_full",
    oracle="""
    WITH src AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 10 <> 3),
         mir AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 10 <> 7)
    SELECT COALESCE(s.k, m.k) AS res_key,
           s.k IS NOT NULL AS in_src,
           m.k IS NOT NULL AS in_mir
    FROM src s FULL OUTER JOIN mir m ON s.k = m.k
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare full-outer join on the derived key sets (the q_sync_diff
    shape without the CDC tag)."""
    o = load(spark, sf_dir, "orders")
    src = o.where(F.col("o_orderkey") % 10 != 3).select(
        F.col("o_orderkey").alias("s_k")
    )
    mir = o.where(F.col("o_orderkey") % 10 != 7).select(
        F.col("o_orderkey").alias("m_k")
    )
    return src.join(mir, src.s_k == mir.m_k, "full_outer").select(
        F.coalesce("s_k", "m_k").alias("res_key"),
        F.col("s_k").isNotNull().alias("in_src"),
        F.col("m_k").isNotNull().alias("in_mir"),
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers having >=1 order; no row multiplication."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
    )
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti — the reference's insert/delete derivation pattern
    (src/main.rs:243-247, 279-282). The date filter on the right side
    keeps the result non-trivial (customers with no 1999+ orders)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= "1999-01-01 00:00:00"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_broadcast",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand IN ('Brand#12', 'Brand#21')
    GROUP BY p_brand
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join: the filtered part dim ships to
    every task; lineitem never shuffles (map-side join + partial agg).
    The same result as a shuffle join — physical-only difference."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(
        F.col("p_brand").isin("Brand#12", "Brand#21")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


@query(
    "q_join_theta",
    oracle="""
    SELECT a.s_suppkey AS a_suppkey, b.s_suppkey AS b_suppkey,
           CAST(CAST(a.s_acctbal AS DECIMAL(18,2))
                - CAST(b.s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal_gap
    FROM supplier a JOIN supplier b ON a.s_acctbal > b.s_acctbal
    WHERE a.s_suppkey < 10 AND b.s_suppkey < 10
    """,
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality (theta) self-join on a bounded 10x10 slice —
    BroadcastNestedLoopJoin, the only strategy for arbitrary theta.
    At scale, theta joins need banding/binning to become equi-joins;
    q_join_range shows the equi+residual form."""
    s = load(spark, sf_dir, "supplier").where(F.col("s_suppkey") < 10)
    a = s.select(
        F.col("s_suppkey").alias("a_suppkey"), F.col("s_acctbal").alias("a_bal")
    )
    b = s.select(
        F.col("s_suppkey").alias("b_suppkey"), F.col("s_acctbal").alias("b_bal")
    )
    return a.join(b, F.col("a_bal") > F.col("b_bal")).select(
        "a_suppkey",
        "b_suppkey",
        (dec("a_bal", 2) - dec("b_bal", 2)).cast("double").alias("bal_gap"),
    )


@query(
    "q_join_theta_banded",
    oracle="""
    SELECT a.s_suppkey AS a_suppkey, b.s_suppkey AS b_suppkey,
           CAST(CAST(a.s_acctbal AS DECIMAL(18,2))
                - CAST(b.s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal_gap
    FROM supplier a JOIN supplier b
      ON a.s_acctbal > b.s_acctbal
     AND CAST(a.s_acctbal AS DECIMAL(18,2))
         - CAST(b.s_acctbal AS DECIMAL(18,2)) <= 100
    """,
)
def q_join_theta_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale form of the theta join (VERDICT r2 item 6): bounded
    gap 0 < a.bal - b.bal <= 100 over the FULL supplier table,
    rewritten by operators/skew.py banded_inequality_join into an
    equi-join on floor(bal/100) bands with the inequality as a
    residual — plan-audited to contain no BroadcastNestedLoopJoin.
    The oracle runs the plain inequality join; equality of results is
    the proof the banding loses and invents nothing."""
    s = load(spark, sf_dir, "supplier")
    a = s.select(
        F.col("s_suppkey").alias("a_suppkey"), F.col("s_acctbal").alias("a_bal")
    )
    b = s.select(
        F.col("s_suppkey").alias("b_suppkey"), F.col("s_acctbal").alias("b_bal")
    )
    joined = banded_inequality_join(a, b, "a_bal", "b_bal", max_gap=100)
    return joined.select(
        "a_suppkey",
        "b_suppkey",
        (dec("a_bal", 2) - dec("b_bal", 2)).cast("double").alias("bal_gap"),
    )


@query(
    "q_join_range",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_shipdate AS ship_date,
           o_orderdate AS order_date
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join as equi-join + range residual: Catalyst keys the
    shuffle on l_orderkey = o_orderkey and evaluates the interval
    predicate post-match — the scalable plan (no nested loop)."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_shipdate").alias("ship_date"),
            F.col("o_orderdate").alias("order_date"),
        )
    )


@query(
    "q_join_asof",
    oracle="""
    WITH probes AS (
        SELECT o_orderkey,
               o_custkey % 150 AS user_id,
               TIMESTAMP '2024-01-01 00:00:00'
                 + INTERVAL (o_orderkey % 720) HOUR AS probe_ts
        FROM orders
    ), cand AS (
        SELECT p.o_orderkey, p.user_id, p.probe_ts, e.event_id,
               e.ts AS event_ts,
               ROW_NUMBER() OVER (PARTITION BY p.o_orderkey
                                  ORDER BY e.ts DESC, e.event_id DESC) AS rn
        FROM probes p
        JOIN events e ON e.user_id = p.user_id AND e.ts <= p.probe_ts
    )
    SELECT o_orderkey, user_id,
           strftime(probe_ts, '%Y-%m-%d %H:%M:%S') AS probe_time,
           event_id,
           strftime(event_ts, '%Y-%m-%d %H:%M:%S.%f') AS event_time
    FROM cand WHERE rn = 1
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest event per user at-or-before each probe time
    (tie-break: max event_id). Probe times are derived
    deterministically from orders onto the events calendar. Spark has
    no native as-of; operators/asof.py composes it (merge-sorted
    form: one shuffle on the key, |left|+|right| intermediate — the
    candidate-join form is kept as the contract reference and tested
    equal)."""
    o = load(spark, sf_dir, "orders")
    e = load(spark, sf_dir, "events")
    probes = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 150).alias("user_id"),
        F.expr(
            "timestamp '2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, cast(o_orderkey % 720 as int), 0, 0)"
        ).alias("probe_ts"),
    )
    events = e.select("user_id", "event_id", F.col("ts").alias("event_ts"))
    matched = asof_join_sorted(
        probes,
        events,
        on="user_id",
        left_ts="probe_ts",
        right_ts="event_ts",
        probe_key="o_orderkey",
        tie_break="event_id",
    )
    return matched.select(
        "o_orderkey",
        "user_id",
        F.date_format("probe_ts", "yyyy-MM-dd HH:mm:ss").alias("probe_time"),
        "event_id",
        F.date_format("event_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("event_time"),
    )


@query(
    "q_join_asof_tol",
    oracle="""
    WITH probes AS (
        SELECT o_orderkey,
               o_custkey % 150 AS user_id,
               TIMESTAMP '2024-01-01 00:00:00'
                 + INTERVAL (o_orderkey % 720) HOUR AS probe_ts
        FROM orders
    ), cand AS (
        SELECT p.o_orderkey, p.user_id, p.probe_ts, e.event_id,
               e.ts AS event_ts,
               ROW_NUMBER() OVER (PARTITION BY p.o_orderkey
                                  ORDER BY e.ts DESC, e.event_id DESC) AS rn
        FROM probes p
        JOIN events e ON e.user_id = p.user_id AND e.ts <= p.probe_ts
         AND e.ts >= p.probe_ts - INTERVAL 12 HOUR
    )
    SELECT o_orderkey, user_id,
           strftime(probe_ts, '%Y-%m-%d %H:%M:%S') AS probe_time,
           event_id,
           strftime(event_ts, '%Y-%m-%d %H:%M:%S.%f') AS event_time
    FROM cand WHERE rn = 1
    """,
)
def q_join_asof_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-staleness as-of join (the feature-store contract):
    latest event at-or-before each probe, but only if it is at most
    12 hours stale — probes with no fresh-enough event drop out.
    Same one-shuffle merge-sorted plan as q_join_asof; the tolerance
    is a post-filter on the carried match (operators/asof.py)."""
    o = load(spark, sf_dir, "orders")
    e = load(spark, sf_dir, "events")
    probes = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 150).alias("user_id"),
        F.expr(
            "timestamp '2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, cast(o_orderkey % 720 as int), 0, 0)"
        ).alias("probe_ts"),
    )
    events = e.select("user_id", "event_id", F.col("ts").alias("event_ts"))
    matched = asof_join_sorted(
        probes,
        events,
        on="user_id",
        left_ts="probe_ts",
        right_ts="event_ts",
        probe_key="o_orderkey",
        tie_break="event_id",
        tolerance="12 hours",
    )
    return matched.select(
        "o_orderkey",
        "user_id",
        F.date_format("probe_ts", "yyyy-MM-dd HH:mm:ss").alias("probe_time"),
        "event_id",
        F.date_format("event_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("event_time"),
    )


@query(
    "q_join_salted",
    oracle="""
    SELECT e.user_id, e.event_id, c.c_name AS name
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated equi join (operators/skew.py:salted_join, 8-way
    scatter): events carry ~20 hot user keys (10k rows over 20 users —
    the celebrity-key shape), the customer dim side is replicated per
    salt so every (key, salt) pair matches. The oracle is the PLAIN
    join — salting must change only the physical distribution, never
    the result rows."""
    from fhir2sql_spark.operators.skew import salted_join

    e = load(spark, sf_dir, "events").select("user_id", "event_id")
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_name").alias("name")
    )
    return salted_join(e, dim, key="user_id", salt=8, how="inner").select(
        "user_id", "event_id", "name"
    )


@query(
    "q_join_asof_fwd",
    oracle="""
    WITH probes AS (
        SELECT o_orderkey,
               o_custkey % 150 AS user_id,
               TIMESTAMP '2024-01-01 00:00:00'
                 + INTERVAL (o_orderkey % 720) HOUR AS probe_ts
        FROM orders
    ), cand AS (
        SELECT p.o_orderkey, p.user_id, p.probe_ts, e.event_id,
               e.ts AS event_ts,
               ROW_NUMBER() OVER (PARTITION BY p.o_orderkey
                                  ORDER BY e.ts ASC, e.event_id ASC) AS rn
        FROM probes p
        JOIN events e ON e.user_id = p.user_id AND e.ts >= p.probe_ts
    )
    SELECT o_orderkey, user_id,
           strftime(probe_ts, '%Y-%m-%d %H:%M:%S') AS probe_time,
           event_id,
           strftime(event_ts, '%Y-%m-%d %H:%M:%S.%f') AS event_time
    FROM cand WHERE rn = 1
    """,
)
def q_join_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: EARLIEST event at-or-after each probe
    (direction='forward' of operators/asof.py — same merge-sorted
    single-shuffle plan, frame looking ahead instead of behind). The
    backward twin is q_join_asof."""
    o = load(spark, sf_dir, "orders")
    e = load(spark, sf_dir, "events")
    probes = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 150).alias("user_id"),
        F.expr(
            "timestamp '2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, cast(o_orderkey % 720 as int), 0, 0)"
        ).alias("probe_ts"),
    )
    events = e.select("user_id", "event_id", F.col("ts").alias("event_ts"))
    matched = asof_join_sorted(
        probes,
        events,
        on="user_id",
        left_ts="probe_ts",
        right_ts="event_ts",
        probe_key="o_orderkey",
        tie_break="event_id",
        direction="forward",
    )
    return matched.select(
        "o_orderkey",
        "user_id",
        F.date_format("probe_ts", "yyyy-MM-dd HH:mm:ss").alias("probe_time"),
        "event_id",
        F.date_format("event_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("event_time"),
    )


@query(
    "q_join_bloom",
    oracle="""
    SELECT l.l_returnflag,
           COUNT(*) AS n_items,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    """,
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning: a selective dim-side filter
    (urgent orders) is turned into a `might_contain` predicate pushed
    onto the FACT side's scan stage by Catalyst's InjectRuntimeFilter
    — semi-join reduction without shuffling the big side, the shape
    that matters when the fact side is 100 TB and the filtered keys
    are 1/5 of orders. The fact rows that would be dropped by the join
    die in their own scan stage, before the exchange.

    Injection requires the join to be a shuffle join (Catalyst skips
    joins it would broadcast), so the confs are set for THIS plan's
    execution and restored immediately after: the plan is pinned under
    them — pinning plans the frame and, under AQE, runs its join and
    bloom-filter stages — so the returned DataFrame reads the pinned
    (tiny) aggregate and NO conf mutation leaks to the caller's
    session — the driver's other queries keep their broadcast plans. tests/test_bloom_join.py asserts `might_contain`
    lands in the fact scan's filter and that the result matches the
    conf-default plan.

    At real scale none of the conf juggling is needed: a 100 TB fact
    ⋈ multi-GB filtered dim is already a shuffle join over the
    default thresholds, and injection is on by default.
    """
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "65536",
        )
        l = load(spark, sf_dir, "lineitem")
        o = load(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        agg = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(dec("l_extendedprice"))
                .cast("decimal(18,4)")
                .cast("double")
                .alias("sum_price"),
            )
        )
        return pin(agg)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@query(
    "q_join_interval",
    oracle="""
    WITH a AS (
        SELECT o_orderkey AS promo_id,
               CAST(o_orderdate AS DATE) AS promo_start,
               CAST(o_orderdate AS DATE) + 14 AS promo_end
        FROM orders WHERE o_orderkey % 97 = 0
    ), b AS (
        SELECT o_orderkey AS camp_id,
               CAST(o_orderdate AS DATE) AS camp_start,
               CAST(o_orderdate AS DATE) + 7 AS camp_end
        FROM orders WHERE o_orderkey % 89 = 0
    )
    SELECT a.promo_id, b.camp_id,
           CAST(date_diff('day',
                          greatest(a.promo_start, b.camp_start),
                          least(a.promo_end, b.camp_end)) + 1 AS INT)
             AS overlap_days
    FROM a JOIN b ON a.promo_start <= b.camp_end
                 AND b.camp_start <= a.promo_end
    """,
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (round 3): 14-day promo windows x 7-day
    campaign windows, both derived deterministically from orders, paired
    whenever the closed date intervals intersect, with the overlap
    length in days. The naive plan is a cartesian BNLJ; this runs
    operators/interval.py interval_overlap_join — bounded bucket
    explode -> equi-join on the bucket long -> residual + canonical-
    bucket pin (exactly-once without a distinct). The oracle runs the
    plain inequality join, so result equality proves the bucketing
    loses and invents nothing. Plan-audited: no BroadcastNestedLoop,
    no CartesianProduct (tools/explain_audit.py)."""
    from fhir2sql_spark.operators.interval import interval_overlap_join

    o = load(spark, sf_dir, "orders")
    promos = o.where(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("promo_id"),
        F.col("o_orderdate").cast("date").alias("promo_start"),
        F.date_add(F.col("o_orderdate").cast("date"), 14).alias("promo_end"),
    )
    camps = o.where(F.col("o_orderkey") % 89 == 0).select(
        F.col("o_orderkey").alias("camp_id"),
        F.col("o_orderdate").cast("date").alias("camp_start"),
        F.date_add(F.col("o_orderdate").cast("date"), 7).alias("camp_end"),
    )
    paired = interval_overlap_join(
        promos, camps, "promo_start", "promo_end", "camp_start", "camp_end",
        bucket_days=16,
    )
    return paired.select(
        "promo_id",
        "camp_id",
        (
            F.datediff(
                F.least("promo_end", "camp_end"),
                F.greatest("promo_start", "camp_start"),
            )
            + 1
        ).cast("int").alias("overlap_days"),
    )


@query(
    "q_join_fuzzy",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM names a JOIN names b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def q_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string self-join (round 3) — entity resolution over the
    part-name catalog: pairs of distinct names within Levenshtein
    distance 2. The naive plan is a cartesian levenshtein scan (BNLJ);
    operators/fuzzy.py rewrites it as a q-gram inverted-index
    EQUI-join (candidates = names sharing a character bigram, length-
    pruned) with the exact edit distance as a candidates-only
    residual — the Gravano et al. VLDB'01 count-filter argument makes
    the candidate set provably complete at this corpus' name lengths
    (runtime-asserted). The oracle runs the naive all-pairs join, so
    result equality proves the filter missed nothing. Plan-audited:
    no BNLJ, no cartesian."""
    from fhir2sql_spark.operators.fuzzy import fuzzy_self_pairs

    p = load(spark, sf_dir, "part").select("p_name")
    # completeness is enforced INSIDE the operator (ValueError below
    # the count-filter length floor), so no caller-side check needed
    return fuzzy_self_pairs(p, "p_name", max_dist=2, q=2)


@query(
    "q_join_spatial",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS id,
               c_custkey % 1000 AS x,
               (c_custkey * 7) % 1000 AS y
        FROM customer
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                AS BIGINT) AS dist_sq
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 25
    """,
)
def q_join_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial distance self-join (round 3): customer points on a
    deterministic integer plane, all pairs within radius 5. The naive
    plan is a cartesian distance scan; operators/spatial.py runs the
    classic r x r grid-cell rewrite — 3x3 neighborhood explode on one
    side, home cell on the other, equi-join on a packed long cell id,
    exact INTEGER dx^2+dy^2 residual (no sqrt, no float) — exactly
    once per pair with no distinct. The oracle runs the naive
    quadratic join; equality proves the cell cover misses nothing.
    Plan-audited: no BNLJ, no cartesian."""
    from fhir2sql_spark.operators.spatial import distance_self_join

    c = load(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (F.col("c_custkey") % 1000).alias("x"),
        ((F.col("c_custkey") * 7) % 1000).alias("y"),
    )
    return distance_self_join(pts, "id", "x", "y", radius=5)
