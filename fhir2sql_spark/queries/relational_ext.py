"""Relational-surface extensions beyond SURVEY.md §2.3 (registered as
§2.4 additions): pivot/unpivot reshaping, exact percentiles,
hash-stable moment statistics, conditional/ordered aggregates,
distribution window functions, value windows, string aggregation,
deterministic hash sampling, right/cross joins, and scalar/correlated
subqueries.

The reference (samply/fhir2sql) has none of these — its only aggregate
is COUNT(*) (/root/reference/src/main.rs:141-148) — but a user
switching a general analytics workload onto this engine expects the
full relational surface, so each is declared with a DuckDB oracle
under the same determinism rules as §2.3 (DECIMAL sums, unique-key tie
breaks, explicit scales, structurally-identical double expressions on
both sides).

Scale notes (100 TB posture):
  - pivot compiles to a single hash aggregate with one output column
    per pivoted value — no extra shuffle vs the plain groupBy;
  - unpivot is a generator projection (no shuffle at all);
  - percentile is a sort-based aggregate per group; at extreme group
    sizes prefer approx_percentile (t-digest, mergeable partials);
  - the moment statistics are computed from EXACT decimal power sums
    (sum x, sum x^2, sum xy): single-pass, mergeable, and immune to
    float summation-order nondeterminism that plagues naive
    stddev/corr across partition orders;
  - hash sampling pushes the sha2-prefix predicate into the scan's
    filter (deterministic, reproducible samples — the discipline a
    training-data pipeline needs for held-out splits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fhir2sql_spark.operators.reuse import pin
from fhir2sql_spark.registry import query
from fhir2sql_spark.tables import load
from fhir2sql_spark.queries.util import DEC2, dec, exact_div

_STATUSES = ("F", "O", "P")


@query(
    "q_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                FILTER (WHERE o_orderstatus = 'F'), 0) AS DOUBLE) AS f_total,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                FILTER (WHERE o_orderstatus = 'O'), 0) AS DOUBLE) AS o_total,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                FILTER (WHERE o_orderstatus = 'P'), 0) AS DOUBLE) AS p_total
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot orders to one row per priority x one column pair per
    status. Explicit pivot values avoid the value-discovery job an
    unlisted pivot runs; the plan is a (priority,status) pre-aggregate
    whose exchange carries one row per group, then a pivotfirst
    aggregate on priority — input-size-independent shuffle volume."""
    o = load(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(_STATUSES))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(dec("o_totalprice")).alias("total"),
        )
    )
    cols = [F.col("o_orderpriority")]
    for s in _STATUSES:
        lo = s.lower()
        cols.append(
            F.coalesce(F.col(f"{s}_cnt"), F.lit(0)).cast("long").alias(f"{lo}_cnt")
        )
        cols.append(
            F.coalesce(F.col(f"{s}_total"), F.lit(0)).cast(DEC2).cast("double").alias(f"{lo}_total")
        )
    return piv.select(*cols)


@query(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
           CAST(l_quantity AS DOUBLE) AS val FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice',
           CAST(l_extendedprice AS DOUBLE) FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount',
           CAST(l_discount AS DOUBLE) FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax',
           CAST(l_tax AS DOUBLE) FROM lineitem
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) four lineitem measures into long form — a pure
    generator projection: zero shuffles, pipelined into any consumer."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("quantity"),
        F.col("l_extendedprice").cast("double").alias("extendedprice"),
        F.col("l_discount").cast("double").alias("discount"),
        F.col("l_tax").cast("double").alias("tax"),
    )
    return l.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "extendedprice", "discount", "tax"],
        "metric",
        "val",
    )


@query(
    "q_agg_percentile",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 4) AS p75
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated quartiles of o_totalprice per
    priority (percentile == DuckDB quantile_cont; both use
    pos = p*(n-1) interpolation — rounded 4dp to absorb ulp-level
    association differences). Scale path: approx_percentile's
    mergeable t-digest when per-group sorts get too large."""
    o = load(spark, sf_dir, "orders")
    q = o.groupBy("o_orderpriority").agg(
        F.expr(
            "percentile(o_totalprice, array(0.25D, 0.50D, 0.75D))"
        ).alias("qs")
    )
    return q.select(
        "o_orderpriority",
        F.round(F.element_at("qs", 1), 4).alias("p25"),
        F.round(F.element_at("qs", 2), 4).alias("p50"),
        F.round(F.element_at("qs", 3), 4).alias("p75"),
    )


@query(
    "q_agg_stats",
    oracle="""
    WITH s AS (
        SELECT o_orderstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sx,
               -- DECIMAL(19,...) products: DuckDB keeps DECIMAL(18)
               -- multiplication in int64 (overflows); 19 digits force
               -- the int128 path. Values stay exact either way.
               CAST(SUM(CAST(o_totalprice AS DECIMAL(19,4))
                        * CAST(o_totalprice AS DECIMAL(19,4))) AS DOUBLE) AS sx2,
               CAST(SUM(CAST(o_custkey AS DECIMAL(19,0))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(o_custkey AS DECIMAL(19,0))
                        * CAST(o_custkey AS DECIMAL(19,0))) AS DOUBLE) AS sy2,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(19,4))
                        * CAST(o_custkey AS DECIMAL(19,0))) AS DOUBLE) AS sxy
        FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, n,
           CAST(sx / CAST(n AS DOUBLE) AS DOUBLE) AS mean_price,
           round(sx2 / n - (sx / n) * (sx / n), 2) AS var_pop_price,
           round(sqrt(sx2 / n - (sx / n) * (sx / n)), 4) AS stddev_pop_price,
           round((sxy / n - (sx / n) * (sy / n))
                 / (sqrt(sx2 / n - (sx / n) * (sx / n))
                    * sqrt(sy2 / n - (sy / n) * (sy / n))), 6) AS corr_price_cust
    FROM s
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment statistics (mean, population variance/stddev, Pearson
    corr) derived from EXACT decimal power sums, then identical double
    expressions on both engines. Single-pass and mergeable — unlike
    naive float stddev/corr whose partition merge order makes results
    nondeterministic at cluster scale."""
    o = load(spark, sf_dir, "orders")
    x = dec("o_totalprice")
    y = F.col("o_custkey").cast("decimal(18,0)")
    s = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(x * x).cast("double").alias("sx2"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(y * y).cast("double").alias("sy2"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sx2 = F.col("sx"), F.col("sx2")
    sy, sy2, sxy = F.col("sy"), F.col("sy2"), F.col("sxy")
    var_x = sx2 / n - (sx / n) * (sx / n)
    var_y = sy2 / n - (sy / n) * (sy / n)
    cov = sxy / n - (sx / n) * (sy / n)
    return s.select(
        "o_orderstatus",
        "n",
        (sx / n).cast("double").alias("mean_price"),
        F.round(var_x, 2).alias("var_pop_price"),
        F.round(F.sqrt(var_x), 4).alias("stddev_pop_price"),
        F.round(cov / (F.sqrt(var_x) * F.sqrt(var_y)), 6).alias("corr_price_cust"),
    )


@query(
    "q_agg_conditional",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_totalprice > 300000) AS n_high,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                FILTER (WHERE o_orderstatus = 'F'), 0) AS DOUBLE) AS f_total,
           min_by(o_orderstatus, o_orderkey) AS first_status,
           max_by(o_orderstatus, o_orderkey) AS last_status,
           bool_or(o_totalprice > 450000) AS any_jumbo
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional + ordered aggregates: filtered count, filtered
    decimal sum, min_by/max_by keyed on the UNIQUE o_orderkey (ordered
    aggregates over non-unique keys are nondeterministic — never
    declare them), and bool_or. All single hash-aggregate shapes."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_totalprice") > 300000, 1)).alias("n_high"),
        F.coalesce(
            F.sum(F.when(F.col("o_orderstatus") == "F", dec("o_totalprice"))),
            F.lit(0),
        )
        .cast(DEC2)
        .cast("double")
        .alias("f_total"),
        F.min_by("o_orderstatus", "o_orderkey").alias("first_status"),
        F.max_by("o_orderstatus", "o_orderkey").alias("last_status"),
        F.bool_or(F.col("o_totalprice") > 450000).alias("any_jumbo"),
    )


@query(
    "q_window_ntile",
    oracle="""
    SELECT o_orderkey,
           ntile(10) OVER w AS decile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile/percent_rank/cume_dist)
    over a unique-keyed order — rank-derived ratios of exact integers,
    so both engines emit identical doubles."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        F.ntile(10).over(w).alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "q_window_firstlast",
    oracle="""
    SELECT o_orderkey,
           first_value(o_orderkey) OVER w AS top_key,
           last_value(o_orderkey) OVER w AS bottom_key,
           nth_value(o_orderkey, 2) OVER w AS second_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value window functions over an explicit full-partition row frame
    (the default RANGE..CURRENT ROW frame makes last_value a footgun —
    always pin the frame)."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("top_key"),
        F.last("o_orderkey").over(w).alias("bottom_key"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
    )


@query(
    "q_string_agg",
    oracle="""
    SELECT c_nationkey,
           array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',')
               AS segments,
           COUNT(*) AS n_cust
    FROM customer GROUP BY c_nationkey
    """,
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: distinct market segments per nation,
    sorted then joined — the deterministic form of LISTAGG/string_agg
    (unordered listagg output is partition-order-dependent)."""
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias(
            "segments"
        ),
        F.count(F.lit(1)).alias("n_cust"),
    )


@query(
    "q_sample_hash",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           substr(sha256(CAST(o_orderkey AS VARCHAR)), 1, 2) AS bucket
    FROM orders
    WHERE substr(sha256(CAST(o_orderkey AS VARCHAR)), 1, 2) <= '19'
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample: keep rows whose sha2(key) hex prefix
    falls in a fixed range. Unlike TABLESAMPLE/rand(), the sample is
    reproducible across runs, engines, and repartitions — the
    correct way to carve held-out splits in a training-data pipeline.
    The predicate is evaluated inside the scan stage (computed
    expression, so no row-group pruning) and pipelines into the
    projection: zero shuffles, scales linearly."""
    o = load(spark, sf_dir, "orders")
    bucket = F.substring(F.sha2(F.col("o_orderkey").cast("string"), 256), 1, 2)
    return (
        o.withColumn("bucket", bucket)
        .where(F.col("bucket") <= "19")
        .select("o_orderkey", "o_orderstatus", "bucket")
    )


@query(
    "q_join_right",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0)
                AS DOUBLE) AS total_spent
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT outer join (customers preserved, zero-order customers
    count 0). Catalyst canonicalizes right to left outer with swapped
    sides — declared so the surface covers the full join-type set."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"], "right")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(dec("o_totalprice")), F.lit(0))
            .cast(DEC2)
            .cast("double")
            .alias("total_spent"),
        )
    )


@query(
    "q_join_cross",
    oracle="""
    SELECT r_regionkey, r_name, s.o_orderstatus,
           concat(r_name, ':', s.o_orderstatus) AS cell
    FROM region
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two deliberately tiny inputs (5 regions x
    3 statuses). Cross joins are only ever declared over bounded
    dimension sets; unbounded cross joins are a plan error at scale."""
    r = load(spark, sf_dir, "region")
    s = load(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s).select(
        "r_regionkey",
        "r_name",
        "o_orderstatus",
        F.concat_ws(":", "r_name", "o_orderstatus").alias("cell"),
    )


@query(
    "q_subquery_scalar",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_above
    FROM orders
    WHERE o_totalprice >
          (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  / COUNT(*) FROM orders)
    GROUP BY o_orderstatus
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: orders above the global mean
    price. The threshold is the exact-decimal mean (float AVG's
    summation order would make the filter boundary nondeterministic).
    Catalyst plans the subquery as an independent stage whose scalar
    result is broadcast into the filter."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n_above
        FROM orders_sq
        WHERE o_totalprice >
              (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                      / COUNT(*) FROM orders_sq)
        GROUP BY o_orderstatus
        """
    )


@query(
    "q_subquery_correlated",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer c
    WHERE c_acctbal * 50 <
          (SELECT COALESCE(MAX(o_totalprice), 0) FROM orders o
           WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (per-customer max order value).
    Catalyst de-correlates it into an aggregate + left outer join —
    the same distributed shape a hand-written join would produce, so
    the SQL sugar costs nothing at scale. MAX over doubles is
    order-insensitive (unlike SUM/AVG), so no decimal cast is needed."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq2")
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal
        FROM customer_sq c
        WHERE c_acctbal * 50 <
              (SELECT COALESCE(MAX(o_totalprice), 0) FROM orders_sq2 o
               WHERE o.o_custkey = c.c_custkey)
        """
    )


@query(
    "q_agg_approx_percentile",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.25), 4) AS exact_p25,
           ROUND(quantile_cont(o_totalprice, 0.50), 4) AS exact_p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 4) AS exact_p75,
           TRUE AS p25_within_tol,
           TRUE AS p50_within_tol,
           TRUE AS p75_within_tol
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) — the mergeable
    constant-memory quantile path that replaces q_agg_percentile's
    exact per-group sort at 100 TB. Round-6 graduation from rows-only
    via the q_agg_hll_merge constant-TRUE-flag pattern: the EXACT
    quartiles (percentile == DuckDB quantile_cont, both the
    p*(n-1)-interpolated definition, 4-dp rounded) are hash-oracled
    directly, and each approx quartile is emitted as a <=5%%-tolerance
    flag the oracle pins to constant TRUE. The GK sketch itself stays
    engine-specific AND task-completion-order-dependent (partial
    sketch merges are not exactly associative), which is exactly why
    the raw approx values cannot be columns: the 5%% flag is chosen
    3.8x above the measured worst case (1.31%% across sf0.001-0.1 at
    accuracy=1000; the dedicated test in tests/test_llm_ops.py pins
    the tighter 2%% bound on a fixed plan).

    The quartile arrays are flattened to scalar columns: the driver's
    result hasher treats array cells as Python lists (unhashable), so
    an array-typed output crashes even the rows-only check
    (CORRECTNESS_r04 recorded exactly that)."""
    o = load(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.expr(
            "approx_percentile(o_totalprice, array(0.25D, 0.5D, 0.75D), 1000)"
        ).alias("approx_qs"),
        F.expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D))").alias(
            "exact_qs"
        ),
    )
    tol = [
        (
            F.abs(F.col("approx_qs")[i] - F.col("exact_qs")[i])
            <= 0.05 * F.abs(F.col("exact_qs")[i])
        ).alias(f"p{q}_within_tol")
        for i, q in enumerate((25, 50, 75))
    ]
    return agg.select(
        "o_orderpriority",
        F.round(F.col("exact_qs")[0], 4).alias("exact_p25"),
        F.round(F.col("exact_qs")[1], 4).alias("exact_p50"),
        F.round(F.col("exact_qs")[2], 4).alias("exact_p75"),
        *tol,
    )


@query(
    "q_event_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS view_ts
      FROM events GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS click_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.view_ts
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS purchase_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
      GROUP BY e.user_id
    )
    SELECT v.user_id,
           strftime(v.view_ts, '%Y-%m-%d %H:%M:%S.%f') AS view_time,
           strftime(c.click_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_time,
           strftime(p.purchase_ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_time,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                     WHEN c.user_id IS NOT NULL THEN 2
                     WHEN v.view_ts IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS stage
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern funnel: first view -> earliest click strictly
    after it -> earliest purchase strictly after that, per user, with
    the stage reached. The staged-aggregate form (three grouped mins +
    left joins) instead of a row-pattern engine: each stage is one
    hash aggregate re-using the same user_id partitioning, so the
    whole funnel is shuffle-aligned on one key — the shape that scales
    to event streams sharded by user."""
    e = load(spark, sf_dir, "events")
    _FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    v = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("view_ts")
    )
    c = (
        e.join(v, "user_id")
        .where((F.col("event_type") == "click") & (F.col("ts") > F.col("view_ts")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        e.join(c, "user_id")
        .where((F.col("event_type") == "purchase") & (F.col("ts") > F.col("click_ts")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.date_format("view_ts", _FMT).alias("view_time"),
            F.date_format("click_ts", _FMT).alias("click_time"),
            F.date_format("purchase_ts", _FMT).alias("purchase_time"),
            F.when(F.col("purchase_ts").isNotNull(), 3)
            .when(F.col("click_ts").isNotNull(), 2)
            .when(F.col("view_ts").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("stage"),
        )
    )


@query(
    "q_cohort_retention",
    oracle="""
    WITH firstw AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
    )
    SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.act_week) // 7 AS INT)
             AS week_offset,
           COUNT(*) AS n_active
    FROM firstw f JOIN act a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity ISO
    week, distinct-active counts per week offset. Week truncation is
    ISO-Monday in both engines; offsets are exact day-diffs div 7
    (both week starts are aligned so the division is exact). Two
    aggregates and a join all partitioned on user_id — one shuffle
    key end-to-end until the final (tiny) matrix rollup."""
    e = load(spark, sf_dir, "events")
    firstw = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    return (
        firstw.join(act, "user_id")
        .select(
            F.col("cohort_week"),
            F.expr("datediff(act_week, cohort_week) div 7")
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "q_agg_mode",
    oracle="""
    WITH c AS (
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
        FROM orders GROUP BY 1, 2
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                     ORDER BY cnt DESC, o_orderstatus) AS rn
        FROM c
    )
    SELECT o_orderpriority, o_orderstatus AS mode_status, cnt AS n_rows
    FROM r WHERE rn = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal value per group (most frequent o_orderstatus per
    priority), tie-broken by status ascending — count-then-rank, the
    distributed MODE() form: the count aggregate shrinks the data to
    (#priorities x #statuses) rows BEFORE the window, so the rank
    window sorts a handful of rows however large the input."""
    o = load(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("cnt"), F.asc("o_orderstatus")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("mode_status"),
            F.col("cnt").alias("n_rows"),
        )
    )


@query(
    "q_anomaly_zscore",
    oracle="""
    WITH s AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(19,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value AS DECIMAL(19,6))
                        * CAST(value AS DECIMAL(19,6))) AS DOUBLE) AS sx2
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.sx / s.n)
                 / sqrt(s.sx2 / s.n - (s.sx / s.n) * (s.sx / s.n)), 4) AS z
    FROM events e JOIN s USING (event_type)
    WHERE s.sx2 / s.n - (s.sx / s.n) * (s.sx / s.n) > 0
      AND abs((e.value - s.sx / s.n)
              / sqrt(s.sx2 / s.n - (s.sx / s.n) * (s.sx / s.n))) > 3
    """,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection: events whose value sits
    more than 3 population-stddevs from their event_type's mean.

    Determinism discipline (the q_agg_stats convention): the moments
    are EXACT decimal power sums cast to double at the end, so mean
    and variance are bit-identical to the oracle regardless of
    partition count or merge order — which makes the |z| > 3
    MEMBERSHIP itself deterministic (a float-summed variance could
    flip rows sitting on the boundary).

    Scale shape: one partial+final hash agg over event_type (the
    5-row stats side), broadcast back onto the event stream — the
    fact table never shuffles; flagging is map-side. At 100 TB this
    is a scan + broadcast join, embarrassingly partition-parallel."""
    e = load(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(19,6)")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("sx"),
        F.sum(v * v).cast("double").alias("sx2"),
    )
    mean = F.col("sx") / F.col("n")
    var = F.col("sx2") / F.col("n") - mean * mean
    std = F.sqrt(var)
    z = (F.col("value") - mean) / std
    # var > 0 guard (identical expression in the oracle): a constant-
    # valued group has std = 0 -> z = NaN, and Spark's NaN-is-greater
    # ordering would pass NaN through |z| > 3; double rounding can
    # also push a zero variance epsilon-negative, where sqrt gives NaN
    # here but errors in DuckDB. Same exact doubles both sides, so the
    # filter keeps membership engine-identical.
    return (
        e.join(F.broadcast(s), "event_type")
        .where((var > 0) & (F.abs(z) > 3))
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 4).alias("z"),
        )
    )


@query(
    "q_skyline",
    oracle="""
    WITH p AS (
        SELECT p_partkey, CAST(p_retailprice AS DECIMAL(18,2)) AS price, p_size
        FROM part
    )
    SELECT a.p_partkey, CAST(a.price AS DOUBLE) AS price, a.p_size
    FROM p a
    WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE b.price <= a.price AND b.p_size >= a.p_size
          AND (b.price < a.price OR b.p_size > a.p_size)
    )
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier (round 3): parts not dominated
    on (minimize retail price, maximize size) — the multi-objective
    shortlist the oracle answers with a quadratic NOT EXISTS
    anti-join. operators/skyline.py computes it as a SORT property
    instead: range-repartition on price cents, parallel per-partition
    prefix-max windows, broadcast cross-partition carry — ONE shuffle,
    no row-pair comparison, any corpus size. Result equality against
    the NOT EXISTS oracle proves the decomposition exact (including
    equal-price and duplicate-point tie handling)."""
    from fhir2sql_spark.operators.skyline import skyline_2d

    p = load(spark, sf_dir, "part").select(
        "p_partkey", dec("p_retailprice", 2).alias("price"), "p_size"
    )
    cents = (F.col("price") * 100).cast("long")
    sky = skyline_2d(p, cents, F.col("p_size"))
    return sky.select(
        "p_partkey", F.col("price").cast("double").alias("price"), "p_size"
    )


@query(
    "q_basket_pairs",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ic AS (SELECT l_partkey, COUNT(*) AS ni FROM b GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS total FROM b),
    p AS (
      SELECT a.l_partkey AS part_a, b2.l_partkey AS part_b,
             COUNT(*) AS n_orders
      FROM b a JOIN b b2
        ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
    )
    SELECT p.part_a, p.part_b, p.n_orders,
           CAST(CAST(p.n_orders * n.total AS DOUBLE)
                / CAST(ia.ni * ib.ni AS DOUBLE) AS DOUBLE) AS lift
    FROM p
    JOIN ic ia ON p.part_a = ia.l_partkey
    JOIN ic ib ON p.part_b = ib.l_partkey
    CROSS JOIN n
    """,
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity (round 3; round-10 second-block
    rewrite): part pairs co-purchased in >= 3 orders, with
    lift = P(a,b)/(P(a)P(b)) as an exact two-integer ratio
    (Agrawal & Srikant, VLDB'94 workload).

    Round-10 rewrite, driven by the query's FIRST decade
    measurement: the round-3 form held a per-order SELF-JOIN plus
    three references to the distinct basket, and Spark reuses none
    of them (7 lineitem scans in the executed plan — ReuseExchange
    needs identical exchange subtrees and every consumer re-keys).
    An eager localCheckpoint fixed the re-reads at sf0.1 (2.2 →
    1.6 s) and then OOMed the 24 g heap at sf100 — a 600 M-row
    deserialized block pin is a SCALE-KILLER, the exact failure mode
    the decade discipline exists to catch. The shipped form applies
    the round-7 winnow_pairs lesson instead: ONE l_orderkey exchange
    builds per-order sorted part sets (collect_set dedupes — the
    distinct pre-pass is gone), pairs come from two chained
    posexplodes over the array (i < j; baskets are <= 7 lines, so
    the fan-out is trivially bounded and the a-priori semi-join
    prune bought nothing), and the one fact-sized shared frame is
    pinned for its three consumers (item counts, order total, pair
    explode) — serialized blocks on disk instead of a heap pin, so
    the reuse survives the decade where the eager checkpoint died.
    Item stats broadcast back onto the vocabulary-sized pair table.
    The pin is a local checkpoint, not a ``persist``: a persisted
    frame is registered in the CacheManager and never released, so
    every later run in the session read the first run's basket table
    (its plan showed an ``InMemoryRelation``) instead of computing
    its own."""
    l = load(spark, sf_dir, "lineitem")
    g = pin(
        l.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("__ps"))
    )
    ic = g.select(
        F.explode("__ps").alias("l_partkey")
    ).groupBy("l_partkey").agg(F.count(F.lit(1)).alias("ni"))
    pairs = (
        g.select(F.posexplode("__ps").alias("__i", "part_a"), "__ps")
        .select(
            "part_a",
            F.explode(
                F.slice(
                    "__ps", F.col("__i") + 2, F.size("__ps") - F.col("__i") - 1
                )
            ).alias("part_b"),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 3)
    )
    total = g.agg(F.count(F.lit(1)).alias("total"))
    ia = ic.select(F.col("l_partkey").alias("part_a"), F.col("ni").alias("ni_a"))
    ib = ic.select(F.col("l_partkey").alias("part_b"), F.col("ni").alias("ni_b"))
    # ia/ib are the distinct-part catalog — unbounded at the 100 TB
    # north star (billions of parts), so no forced broadcast: AQE
    # elects broadcast while the catalog is small and falls back to a
    # shuffled join when it is not (VERDICT r10 #2, the same fix the
    # r9 minhash-inc join got). The 1-row total stays broadcast.
    return (
        pairs.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(total))
        .select(
            "part_a",
            "part_b",
            "n_orders",
            exact_div(
                F.col("n_orders") * F.col("total"), F.col("ni_a") * F.col("ni_b")
            ).alias("lift"),
        )
    )


@query(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    ),
    t AS (
        SELECT from_type, to_type, COUNT(*) AS n
        FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, SUM(n) AS n_from FROM t GROUP BY 1)
    SELECT t.from_type, t.to_type, t.n,
           CAST(CAST(t.n AS DOUBLE) / CAST(tot.n_from AS DOUBLE) AS DOUBLE)
             AS prob
    FROM t JOIN tot ON t.from_type = tot.from_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix (round 3) — first-order Markov
    behavior model over per-user event streams: for each ordered
    (from_type, to_type) pair, the transition count and conditional
    probability P(to|from) as an exact integer ratio. One user_id
    shuffle feeds the lead() window; the 25-cell transition table
    aggregates from the windowed stream and row-normalizes against
    its own marginal (derived from the reduced table, never a second
    pass). The per-user chain order is (ts, event_id) — fully
    tie-broken, so the matrix is deterministic."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    t = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    tot = t.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        t.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            exact_div(F.col("n"), F.col("n_from")).alias("prob"),
        )
    )


@query(
    "q_agg_time_weighted",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
               FLOOR(epoch(ts)) AS s,
               FLOOR(epoch(LEAD(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id))) AS s_next
        FROM events
    ),
    d AS (
        SELECT user_id, cents, CAST(s_next - s AS BIGINT) AS dur
        FROM seq WHERE s_next IS NOT NULL
    )
    SELECT user_id,
           CAST(SUM(dur) AS BIGINT) AS total_secs,
           CAST(CAST(SUM(cents * dur) AS DOUBLE)
                / CAST(SUM(dur) * 100 AS DOUBLE) AS DOUBLE) AS twa_value
    FROM d GROUP BY user_id HAVING SUM(dur) > 0
    """,
)
def q_agg_time_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (round 3) — the state-duration mean a
    feature store / metering pipeline needs (TimescaleDB
    time_weight): each event's value holds until the user's next
    event; the mean weights by held seconds, not by sample count.
    Exactness: durations are integer seconds (both engines FLOOR the
    epoch — the q_stream_join convention), values integer cents, so
    the weighted mean is one IEEE divide of exact integers. Shape:
    one user_id shuffle feeds the lead() window and the same
    partitioning serves the final per-user agg — Catalyst reuses the
    exchange."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        (dec("value", 2) * 100).cast("long").alias("cents"),
        F.unix_timestamp("ts").alias("s"),
        F.unix_timestamp(F.lead("ts").over(w)).alias("s_next"),
    ).where(F.col("s_next").isNotNull())
    d = seq.select(
        "user_id", "cents", (F.col("s_next") - F.col("s")).alias("dur")
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.sum("dur").alias("total_secs"),
            F.sum(F.col("cents") * F.col("dur")).alias("wsum"),
        )
        .where(F.col("total_secs") > 0)
        .select(
            "user_id",
            "total_secs",
            exact_div(F.col("wsum"), F.col("total_secs") * 100).alias("twa_value"),
        )
    )


@query(
    "q_agg_histogram",
    oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events
    )
    SELECT event_type,
           CAST(least(cents // 50, 19) AS INT) AS bin,
           COUNT(*) AS n
    FROM c GROUP BY 1, 2
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (round 3): 20 bins of 0.50 over the
    event value distribution per type, with the top bin open-ended.
    Binning is integer arithmetic on exact cents (floor-divide both
    engines), so bin membership never sits on a float boundary. One
    partial+final hash agg; the histogram is mergeable by construction
    (bin counts add), making it the exact companion to the
    approx_percentile sketch family for distribution profiling."""
    e = load(spark, sf_dir, "events")
    cents = (dec("value", 2) * 100).cast("long")
    bin_ = F.least(F.floor(cents / 50), F.lit(19)).cast("int")
    return (
        e.select("event_type", bin_.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
