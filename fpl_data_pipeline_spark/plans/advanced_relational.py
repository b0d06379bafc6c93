"""Advanced relational operators beyond the reference's SQL surface: as-of
join, range join, rollup/cube/grouping sets, set operations, exact
percentiles, and a salted two-phase aggregate for skewed keys.

The reference delegates all relational work to Postgres (SURVEY.md §3); none
of these shapes appear there, but they are table stakes for an analytics
engine feeding a 100 TB training-data pipeline (sessionized event streams,
time-aligned feature joins, skew-resistant rollups). Each operator is
expressed with built-in DataFrame ops so Catalyst plans the physical
strategy; scale notes are inline per operator.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from fpl_data_pipeline_spark.operators.dedup import (
    PACKED_PAIR_KEY,
    _capped_key_groups,
    _expand_member_pairs_streaming,
    _pair_pack_ok,
    unpack_pair_key,
)
from fpl_data_pipeline_spark.registry import register
from fpl_data_pipeline_spark.tables import table, views


# --- as-of join: latest click at-or-before each purchase --------------------
ASOF_ORACLE = """
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    j AS (
      SELECT p.event_id, p.user_id, p.ts,
             c.event_id AS click_event_id, c.ts AS click_ts,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id AND c.ts <= p.ts
    )
    SELECT event_id, user_id, ts, click_event_id, click_ts
    FROM j WHERE rn = 1 OR rn IS NULL
    """


def _purchases_clicks(spark: SparkSession, sf_dir: str):
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    return p, c


@register("asof_join_purchase_click", ASOF_ORACLE)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left as-of join (backward): for every purchase event, the latest click
    by the same user at-or-before the purchase timestamp.

    Plan: equi-join on user_id + range predicate, then keep the max-ts match
    per left row (row_number with a deterministic tiebreak). The fan-out is
    bounded by per-user click counts; at 100 TB both sides are bucketed by
    user_id so the join is a co-located sort-merge with no shuffle, and the
    per-key fan-out stays distributed. See asof_join_cogrouped for the
    merge_asof formulation that avoids the fan-out entirely.
    """
    p, c = _purchases_clicks(spark, sf_dir)
    j = p.join(c, (F.col("c_user_id") == F.col("user_id")) & (F.col("click_ts") <= F.col("ts")), "left")
    w = Window.partitionBy("event_id").orderBy(
        F.col("click_ts").desc_nulls_last(), F.col("click_event_id").desc_nulls_last()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "ts", "click_event_id", "click_ts")
    )


@register("asof_join_cogrouped", ASOF_ORACLE)
def asof_join_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same as-of join as a cogrouped ``applyInPandas`` merge_asof — the
    scale path when per-key fan-out would explode: each user's purchases and
    clicks meet in one Arrow batch, pandas does the sorted backward search in
    O(n+m) per key, and no join fan-out ever materializes. One shuffle per
    side (on user_id); keys are the natural partitioning so skew follows user
    activity (salt-able if one user dominates)."""
    p, c = _purchases_clicks(spark, sf_dir)
    c = c.withColumnRenamed("c_user_id", "user_id")

    # Round-11 (guide §4.5): cogrouping directly on user_id called the
    # pandas merge once per user — tens of thousands of ~100 µs Python
    # invocations on near-empty frames dominated the query (9.4 s at
    # sf0.1). Cogroup instead on a deterministic hash BUCKET of user_id
    # (~8 groups per core) and do the per-user backward search inside one
    # vectorized pd.merge_asof(by="user_id") per bucket: same exactly-one-
    # Arrow-batch-per-key semantics for every user (a user's rows land in
    # exactly one bucket), identical output, and the Python call count is
    # fixed at the bucket count instead of growing with the user
    # population — the right amortization at any scale.
    n_buckets = 8 * spark.sparkContext.defaultParallelism
    pb = p.withColumn("bk", F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)))
    cb = c.withColumn("bk", F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)))

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left.sort_values(["ts", "event_id"], kind="mergesort")
        # sort clicks so that among equal ts the highest event_id is last —
        # merge_asof backward takes the last row <= key, matching the
        # (ts DESC, event_id DESC) tiebreak of the join formulation
        right = right.sort_values(["click_ts", "click_event_id"], kind="mergesort")
        if right.empty or left.empty:
            out = left.copy()
            out["click_event_id"] = pd.Series(dtype="Int64")
            out["click_ts"] = pd.Series(dtype="datetime64[us]")
            return out[["event_id", "user_id", "ts", "click_event_id", "click_ts"]]
        out = pd.merge_asof(
            left,
            right,
            left_on="ts",
            right_on="click_ts",
            by="user_id",
            direction="backward",
        )
        return out[["event_id", "user_id", "ts", "click_event_id", "click_ts"]]

    schema = (
        "event_id bigint, user_id bigint, ts timestamp, "
        "click_event_id bigint, click_ts timestamp"
    )
    return pb.groupBy("bk").cogroup(cb.groupBy("bk")).applyInPandas(merge, schema)


# --- range (interval) join: activity burst after signup ---------------------
@register(
    "range_join_signup_activity",
    """
    SELECT s.event_id, s.user_id,
           COUNT(e.event_id) AS events_within_1h,
           COALESCE(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS value_within_1h
    FROM events s
    LEFT JOIN events e
      ON e.user_id = s.user_id
     AND e.ts > s.ts
     AND e.ts <= s.ts + INTERVAL 1 HOUR
    WHERE s.event_type = 'signup'
    GROUP BY s.event_id, s.user_id
    """,
)
def range_join_signup_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: events landing in (signup_ts, signup_ts + 1h] for the
    same user, aggregated per signup. Equi on user_id + band predicate —
    Catalyst plans the equi part as the join key and evaluates the band as a
    join filter, so cost is per-user fan-out, not a cartesian. At scale the
    canonical trick is bucketing both sides on the key + coarse time-bucket
    equi keys (floor(ts/1h)) joined on adjacency to bound the fan-out."""
    e = table(spark, sf_dir, "events")
    s = e.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", F.col("ts").alias("s_ts")
    )
    o = e.select(
        F.col("user_id").alias("o_user_id"),
        F.col("ts").alias("o_ts"),
        F.col("value").alias("o_value"),
    )
    j = s.join(
        o,
        (F.col("o_user_id") == F.col("user_id"))
        & (F.col("o_ts") > F.col("s_ts"))
        & (F.col("o_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return j.groupBy("event_id", "user_id").agg(
        F.count("o_ts").alias("events_within_1h"),
        F.coalesce(
            F.sum(F.col("o_value").cast("decimal(18,2)")).cast("double"), F.lit(0.0)
        ).alias("value_within_1h"),
    )


# --- rollup / cube / grouping sets ------------------------------------------
@register(
    "rollup_lineitem_status",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: (flag,status) -> (flag) -> () subtotals in one pass. Spark
    executes this as an Expand (one input row emitted per grouping set) + a
    single hash aggregate — the partial-agg/shuffle structure is identical to
    a plain groupBy, so it scales the same way."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
    )


@register(
    "cube_order_priority_status",
    """
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY CUBE(o_orderpriority, o_orderstatus)
    """,
)
def cube_order_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all four grouping sets of (priority, status) in one Expand+agg."""
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping("o_orderpriority").cast("int").alias("g_pri"),
        F.grouping("o_orderstatus").cast("int").alias("g_st"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_total"),
    )


@register(
    "grouping_sets_lineitem",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via spark.sql (the DataFrame API exposes only
    rollup/cube; SQL is the idiomatic spelling — SURVEY.md §7.0 allows
    spark.sql at the edges). Same Expand+single-agg physical plan."""
    views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# --- set operations ---------------------------------------------------------
@register(
    "intersect_repeat_customers",
    """
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def intersect_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics): customers active in both 1995 and 1996.
    Plans as an aggregate + join on the full row — one shuffle each side."""
    o = table(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96)


@register(
    "except_lapsed_customers",
    """
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    EXCEPT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def except_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): customers active in 1995 but not 1996 —
    the left-anti counterpart of the intersect above. ``subtract`` is
    EXCEPT DISTINCT (``exceptAll`` would keep multiplicity: a customer with
    3 orders in '95 and 1 in '96 must still be excluded)."""
    o = table(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.subtract(y96)


# --- lateral explode / unnest ----------------------------------------------
@register(
    "explode_part_words",
    """
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
    WHERE word <> ''
    GROUP BY word
    ORDER BY n DESC, word ASC
    LIMIT 20
    """,
)
def explode_part_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNNEST/LATERAL VIEW: explode the words of p_name, top-20 by frequency.
    Generate (explode) runs inside whole-stage codegen; the count is a
    partial-agg + one shuffle on the word key."""
    p = table(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split("p_name", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(20)
    )


# --- exact percentiles ------------------------------------------------------
@register(
    "percentile_prices_by_flag",
    """
    SELECT l_returnflag,
           round(CAST(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS DOUBLE), 3) AS p25,
           round(CAST(percentile_cont(0.50) WITHIN GROUP (ORDER BY l_extendedprice) AS DOUBLE), 3) AS p50,
           round(CAST(percentile_cont(0.75) WITHIN GROUP (ORDER BY l_extendedprice) AS DOUBLE), 3) AS p75
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentile_prices_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the exact counterpart of the
    approx_quantiles_price sketch query). Exact percentile requires a
    per-group sort — fine at dashboard granularity (3 groups); the 100 TB
    path is approx_percentile (KLL-style mergeable sketch, no global sort),
    registered separately. Rounded to 3 dp on both sides: the linear
    interpolation arithmetic differs in the last float bit between engines."""
    li = table(spark, sf_dir, "lineitem")
    # Round-11: one array-percentile per group instead of three separate
    # percentile() aggregates — each buffered the group's values again in
    # ObjectHashAggregate state for identical per-q results (the
    # histogram_quantile_sketch fix, per-group edition).
    qs = (0.25, 0.50, 0.75)
    ps = F.percentile("l_extendedprice", F.array(*[F.lit(q) for q in qs]))
    return (
        li.groupBy("l_returnflag")
        .agg(ps.alias("ps"))
        .select(
            "l_returnflag",
            *[
                F.round(F.element_at("ps", i + 1), 3).alias(f"p{int(q * 100)}")
                for i, q in enumerate(qs)
            ],
        )
    )


# --- skew-resistant two-phase (salted) aggregate ----------------------------
N_SALTS = 16


@register(
    "salted_agg_user_activity",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def salted_agg_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation: phase 1 groups by (user_id, salt) so a
    hot user's rows spread over N_SALTS reducers; phase 2 merges the partial
    sums per user. Result is identical to the plain groupBy (the oracle IS
    the plain groupBy) — only the shuffle distribution changes. This is the
    manual fallback when AQE skew handling can't help (single giant group,
    not a skewed join). Decimal partials keep the two-phase sum exact."""
    e = table(spark, sf_dir, "events")
    salted = e.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS)))
    partial = salted.groupBy("user_id", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("pv"),
    )
    return partial.groupBy("user_id").agg(
        F.sum("pn").alias("n_events"),
        F.sum("pv").cast("double").alias("total_value"),
    )


# --- time-series gap fill: month spine x status -----------------------------
@register(
    "gap_fill_monthly_revenue",
    """
    WITH bounds AS (
      SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
             date_trunc('month', MAX(o_orderdate)) AS hi
      FROM orders
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month FROM bounds
    ),
    statuses AS (SELECT DISTINCT o_orderstatus FROM orders),
    actual AS (
      SELECT date_trunc('month', o_orderdate) AS month, o_orderstatus,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1, 2
    )
    SELECT s.month, st.o_orderstatus,
           COALESCE(a.revenue, 0.0) AS revenue,
           COALESCE(a.n_orders, 0) AS n_orders
    FROM spine s CROSS JOIN statuses st
    LEFT JOIN actual a ON a.month = s.month AND a.o_orderstatus = st.o_orderstatus
    """,
)
def gap_fill_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a complete month spine x status grid with
    zero-filled holes — the densification step before any trend model or
    window function that assumes contiguous periods. The spine comes from
    one global agg (2 scalars) exploded via sequence(); the grid is a
    broadcast cross join (months x statuses is tiny by construction even
    when the fact table is 100 TB), then one left join against the
    aggregated actuals."""
    o = table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))).alias("month")
    )
    statuses = o.select("o_orderstatus").distinct()
    actual = (
        o.groupBy(
            F.date_trunc("month", "o_orderdate").alias("month"),
            "o_orderstatus",
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    grid = spine.crossJoin(F.broadcast(statuses))
    return (
        grid.join(actual, ["month", "o_orderstatus"], "left")
        .select(
            "month",
            "o_orderstatus",
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


# --- correlated EXISTS (Catalyst decorrelation) ------------------------------
EXISTS_SQL = """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """


@register("exists_high_value_customers", EXISTS_SQL)
def exists_high_value_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery, submitted as SQL so Catalyst's
    decorrelation rewrites it — the physical plan is the same left-semi hash
    join the DataFrame `left_semi` spelling produces (verify with
    .explain()): one filter pushed to the orders scan, one shuffle per side."""
    views(spark, sf_dir)
    return spark.sql(EXISTS_SQL)


# --- deterministic array aggregation -----------------------------------------
@register(
    "collect_sorted_orderkeys",
    """
    SELECT o_custkey,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS orderkeys_csv
    FROM orders
    WHERE o_custkey < 50
    GROUP BY o_custkey
    """,
)
def collect_sorted_orderkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation made deterministic: collect_list's element order is
    partition-arrival order (nondeterministic under any parallel plan), so
    the engine's convention is sort_array(collect_list(...)) — stable on any
    cluster layout. Surfaced as a canonical CSV string so the value-hash
    comparison is representation-independent across engines."""
    o = table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_custkey") < 50)
        .groupBy("o_custkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("o_orderkey"))).alias(
                "orderkeys_csv"
            )
        )
    )


# --- salted skew join: hot-key fact x dim without a straggler ----------------
@register(
    "salted_join_user_spend",
    """
    WITH dim AS (
      SELECT user_id, MIN(ts) AS first_seen FROM events GROUP BY user_id
    )
    SELECT e.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           MIN(d.first_seen) AS first_seen
    FROM events e JOIN dim d ON e.user_id = d.user_id
    GROUP BY e.user_id
    """,
)
def salted_join_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted JOIN (the companion to salted_agg_user_activity's salted
    aggregation): the probe side tags every row with a deterministic salt in
    [0, N_SALTS), the build side is EXPLODED once per salt value, and the
    join key becomes (user_id, salt) — a hot user's rows now land on
    N_SALTS reducers instead of one straggler. The aggregate result is
    identical to the plain join (the oracle IS the plain join); only the
    shuffle distribution changes. Manual fallback for when AQE's skew-join
    splitting can't apply (e.g. the skewed side feeds a co-grouped op).
    Cost: build side replicated N_SALTS x — cheap for dims, which is
    exactly the side you salt."""
    e = table(spark, sf_dir, "events")
    dim = e.groupBy("user_id").agg(F.min("ts").alias("first_seen"))
    salted_fact = e.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS)).cast("int")
    )
    salted_dim = dim.select(
        "user_id",
        "first_seen",
        F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1))).alias("salt"),
    )
    joined = salted_fact.join(salted_dim, ["user_id", "salt"])
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        F.min("first_seen").alias("first_seen"),
    )


# --- LTV cohort curve: cumulative revenue by signup cohort -------------------
@register(
    "ltv_cohort_revenue",
    f"""
    WITH firsts AS (
      SELECT o_custkey,
             MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
      FROM orders GROUP BY o_custkey
    ),
    rev AS (
      SELECT f.cohort_m,
             (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cohort_m
               AS month_offset,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS m_rev
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    )
    SELECT CAST(cohort_m AS INT) AS cohort_m,
           CAST(month_offset AS INT) AS month_offset,
           CAST(m_rev AS DOUBLE) AS month_revenue,
           CAST(SUM(m_rev) OVER (PARTITION BY cohort_m ORDER BY month_offset
                                 ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             AS cumulative_revenue
    FROM rev
    WHERE month_offset <= 6
    """,
)
def ltv_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value curve: customers grouped by first-order month
    (cohort), revenue summed per months-since-acquisition, and the running
    cumulative per cohort — the chart behind every acquisition-payback
    decision. First-order table is customer-cardinality (one aggregate),
    the fact joins it on its own key, and the cumulative window runs over
    cohort-x-offset cardinality (tiny at any scale). Decimal-exact sums
    make the cumulative window order-independent across partials."""
    o = table(spark, sf_dir, "orders")
    month = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    firsts = o.groupBy("o_custkey").agg(F.min(month).alias("cohort_m"))
    rev = (
        o.join(firsts, "o_custkey")
        .select(
            "cohort_m",
            (month - F.col("cohort_m")).alias("month_offset"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
        .groupBy("cohort_m", "month_offset")
        .agg(F.sum("p").alias("m_rev"))
    )
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.filter(F.col("month_offset") <= 6)
        .select(
            F.col("cohort_m").cast("int").alias("cohort_m"),
            F.col("month_offset").cast("int").alias("month_offset"),
            F.col("m_rev").cast("double").alias("month_revenue"),
            F.sum("m_rev").over(w).cast("double").alias("cumulative_revenue"),
        )
    )


# --- market-basket co-occurrence: parts ordered together ---------------------
@register(
    "basket_part_pairs",
    """
    WITH lines AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_orders_together
    FROM lines a JOIN lines b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders_together DESC, part_a ASC, part_b ASC
    LIMIT 25
    """,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs co-occurring in the same order,
    top-25 by support — the recommendation-seed query. Pairs are keyed on
    the ORDER (bounded basket size, ~7 lines), so pair fan-out is
    sum-of-baskets-squared — linear in orders, never corpus n². Built with
    the map-side array expansion (ARCHITECTURE.md §7): ONE groupBy
    collapses each order's distinct parts into a sorted array (collect_set
    both dedups — a part twice in one order must not double-count support
    — and partial-aggregates map-side), the part_a < part_b pairs are
    generated inside codegen, and only pair partial counts shuffle. The
    self-join shape this replaces shuffled the LINEITEM FACT three times
    (distinct + both join sides) — at 100 TB that is two extra full fact
    exchanges."""
    li = table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    return (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(items, (x, i) -> "
                    "transform(slice(items, i + 2, size(items)), "
                    "y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders_together"))
        .orderBy(
            F.col("n_orders_together").desc(), F.col("part_a").asc(), F.col("part_b").asc()
        )
        .limit(25)
    )


# --- as-of join, FORWARD direction with tolerance (pandas merge_asof parity)
ASOF_TOL_MINUTES = 60


@register(
    "asof_join_forward_tolerance",
    f"""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    j AS (
      SELECT p.event_id, p.user_id, p.ts,
             c.event_id AS click_event_id, c.ts AS click_ts,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY c.ts ASC, c.event_id ASC) AS rn
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id
       AND c.ts >= p.ts
       AND c.ts <= p.ts + INTERVAL {ASOF_TOL_MINUTES} MINUTE
    )
    SELECT event_id, user_id, ts, click_event_id, click_ts
    FROM j WHERE rn = 1 OR rn IS NULL
    """,
)
def asof_join_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, FORWARD direction with a bounded tolerance — the other
    half of pandas merge_asof semantics (asof_join_purchase_click is
    backward/unbounded): for each purchase, the EARLIEST click by the same
    user within the following {ASOF_TOL_MINUTES} minutes, or NULL if none.
    The post-conversion attribution shape ("what did they click right
    after buying") and, symmetrically, the sensor-alignment shape
    (nearest-after reading within tolerance).

    The tolerance bound matters at scale beyond semantics: it caps the
    range-join fan-out per left row by the per-user event rate x window,
    where the unbounded backward join's fan-out grows with history length.
    Same keyed equi-join + range predicate + rank-1 prune as the backward
    variant; bucketed-by-user storage co-locates it."""
    p, c = _purchases_clicks(spark, sf_dir)
    j = p.join(
        c,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("ts"))
        & (
            F.col("click_ts")
            <= F.col("ts") + F.expr(f"INTERVAL {ASOF_TOL_MINUTES} MINUTE")
        ),
        "left",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("click_ts").asc_nulls_last(), F.col("click_event_id").asc_nulls_last()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "ts", "click_event_id", "click_ts")
    )


# --- item-item collaborative filtering: cosine over co-occurrence ------------
# basket_part_pairs above gives raw support; a recommender needs it
# NORMALIZED, or popular items dominate every list. The classic item-item
# CF similarity (Sarwar et al. WWW'01, Amazon's item-to-item) is cosine
# over the binary customer-item matrix: sim(i,j) = |U_i ∩ U_j| /
# sqrt(|U_i| |U_j|). Baskets here are CUSTOMERS (cross-order affinity, the
# recommendation signal), not single orders. Pair fan-out is bounded by
# per-customer basket size exactly like the basket query; popularity
# decoration is a broadcast of the per-item counts. Cosine is one IEEE
# division of exact integers (sqrt correctly rounded), 6-dp-quantized;
# support floor >= 3 keeps noise pairs out of the top list.
#
# Prolific-user guard (round 7 — the last uncapped group collect in the
# engine): a bot/reseller account with b distinct items contributes
# C(b, 2) co-occurrence pairs and buffers its whole basket in one
# aggregation buffer, and its co-occurrences are noise for an item-item
# recommender anyway (every standard item-CF deployment drops or
# downweights prolific users). Customers over the cap are excluded from
# the matrix on BOTH engines via a count-agg PRE-pass, the same shape as
# every dedup-family cap. The cap is far above any basket this corpus
# produces (~40 items at sf0.1, ~400 at the 10x blowup), so results here
# are unchanged; candidate_cap_audit reports when it fires.
CF_BASKET_CAP = 10_000


def _cf_capped_baskets(li: DataFrame, o: DataFrame) -> DataFrame:
    """(cust, members): sorted distinct-item basket arrays for customers
    within CF_BASKET_CAP — split out of cf_item_similarity so the cap-guard
    plan-shape test sees the pre-localCheckpoint tree (the
    _capped_key_groups precedent). collect_list suffices: the input is
    (cust, item)-distinct."""
    inter = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("item"))
        # round-11: ONE exchange for the whole basket phase. Hash
        # partitioning on cust alone satisfies every downstream clustering
        # requirement by the subset rule — the (cust, item) distinct, the
        # cap pre-pass groupBy(cust), the alive-customer join, and the
        # basket collect_list all execute without further exchanges,
        # where the previous shape (distinct on (cust, item), then
        # regroup by cust) paid three. collect_list's order is partition-
        # dependent either way; array_sort pins the output.
        .repartition("cust")
        .distinct()
        # round-11 pin: the distinct (cust, item) relation feeds BOTH the
        # cap pre-pass and the basket collect below; without pinning the
        # scan + broadcast-join + distinct subtree compiled and ran twice
        # (no ReusedExchange bridges separate consumers). Narrow 2-long
        # rows — the cheapest point in this pipeline to materialize.
        .localCheckpoint(eager=False)
    )
    # lo=1: single-item baskets still count towards item popularity
    return _capped_key_groups(inter, ["cust"], F.collect_list("item"), CF_BASKET_CAP, lo=1)


def _cf_pair_counts(pairs: DataFrame, li: DataFrame, a: str, b: str,
                    n: str) -> DataFrame:
    """(a, b, n): co-occurrence count per unordered item pair of the
    expanded baskets, shared by both CF queries.

    Round-12 (guide §2.3, the dedup pair engine's packed-key fast path):
    when every item id provably fits 31 bits (one pruned-single-column
    min/max over the item FK column itself — no reliance on a catalog
    table being present), the count groups on ONE packed long instead of
    two — narrower shuffle rows and a single-word hash key for the
    C(basket, 2) pair stream, the queries' dominant stage. Out-of-range
    catalogs fall back to the exact two-column aggregation. Unlike
    _set_overlap_stats' raw-shuffle sum, this keeps the map-side partial
    count: OPTIMIZATION_r12 measured that it pays off for CF."""
    if _pair_pack_ok(li, "l_partkey"):
        return (
            pairs.select(F.expr(PACKED_PAIR_KEY).alias("ab"))
            .groupBy("ab")
            .agg(F.count(F.lit(1)).alias(n))
            .select(*unpack_pair_key("ab", a, b), n)
        )
    return pairs.groupBy(F.col("a").alias(a), F.col("b").alias(b)).agg(
        F.count(F.lit(1)).alias(n)
    )


@register(
    "cf_item_similarity",
    f"""
    WITH baskets0 AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    ok_cust AS (
      SELECT cust FROM baskets0 GROUP BY cust
      HAVING COUNT(*) <= {CF_BASKET_CAP}
    ),
    baskets AS (SELECT b.* FROM baskets0 b JOIN ok_cust USING (cust)),
    pop AS (SELECT item, COUNT(*) AS n_users FROM baskets GROUP BY item),
    co AS (
      SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_common
      FROM baskets a JOIN baskets b
        ON a.cust = b.cust AND a.item < b.item
      GROUP BY 1, 2
    )
    SELECT item_a, item_b, n_common,
           FLOOR(CAST(n_common AS DOUBLE)
                 / sqrt(CAST(pa.n_users AS DOUBLE) * pb.n_users)
                 * 1000000 + 0.5) / 1000000 AS cosine_sim
    FROM co
    JOIN pop pa ON pa.item = item_a
    JOIN pop pb ON pb.item = item_b
    WHERE n_common >= 3
    ORDER BY cosine_sim DESC, item_a ASC, item_b ASC
    LIMIT 25
    """,
)
def cf_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 item-item cosine similarities over the binary customer-item
    matrix — the item-to-item collaborative-filtering primitive, with
    support floor 3 and popularity normalization."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # The per-customer basket is built as a SORTED ARRAY so the unordered
    # pairs are generated MAP-SIDE from each array (sorted, so x precedes y
    # exactly once) and only the (item_a, item_b) partial counts shuffle —
    # the keyed-pair-generation-without-self-join shape. The CF_BASKET_CAP
    # count-agg PRE-pass (see the constant's comment) drops prolific
    # accounts BEFORE the collect, bounding both the aggregation buffer and
    # the C(s, 2) fan-out; the distinct (cust, item) relation it needs also
    # replaces collect_set with the cheaper collect_list.
    # feeds both the pair explode and the popularity counts; Catalyst
    # does not reuse the scan+join+agg subtree across the two consumers
    baskets_arr = _cf_capped_baskets(li, o).localCheckpoint()
    pop = (
        baskets_arr.select(F.explode("members").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_users"))
        # round-11 pin: pop feeds BOTH popularity join sides (pa on item_a,
        # pb on item_b); unpinned, the explode + partial agg over the
        # basket checkpoint compiled and ran twice (before-plan exchanges
        # 19 and 31). One row per distinct item — tiny at any scale
        # relative to the pair stream it decorates.
        .localCheckpoint(eager=False)
    )
    # streaming two-Generate expansion (round 7): a power-buyer basket under
    # the one-Generate shape materializes its whole C(s, 2) struct array in
    # one row; the chained posexplode+slice streams pairs at O(s) per-row
    # memory for identical output (equality pinned by the expansion
    # property test).
    pairs = _expand_member_pairs_streaming(baskets_arr)
    co = _cf_pair_counts(pairs, li, "item_a", "item_b", "n_common").filter(
        F.col("n_common") >= 3
    )
    pa = pop.select(F.col("item").alias("item_a"), F.col("n_users").alias("na"))
    pb = pop.select(F.col("item").alias("item_b"), F.col("n_users").alias("nb"))
    sim = F.floor(
        F.col("n_common").cast("double")
        / F.sqrt(F.col("na").cast("double") * F.col("nb"))
        * 1000000
        + F.lit(0.5)
    ) / 1000000
    return (
        co.join(pa, "item_a")
        .join(pb, "item_b")
        .select("item_a", "item_b", "n_common", sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("item_a").asc(), F.col("item_b").asc())
        .limit(25)
    )


# --- RFM customer segmentation ----------------------------------------------
# The marketing-analytics classic: score every customer by Recency (days
# since last order), Frequency (order count) and Monetary (total spend),
# cut each into quintiles, and read the segment grid (R5F5M5 = champions,
# R1F5M5 = at-risk big spenders...). One per-customer agg, three ntile
# windows over the 1-row-per-customer frame (tiny vs the fact scan), one
# grid agg. Determinism: ntile needs a TOTAL order, so every ORDER BY
# carries the custkey tiebreak (SURVEY §4.3.2); monetary goes through the
# exact-decimal sum so the rank order itself is engine-identical.
@register(
    "customer_rfm_segments",
    """
    WITH maxd AS (
      SELECT MAX(epoch_us(o_orderdate) // 86400000000) AS max_day FROM orders
    ),
    per_cust AS (
      SELECT o_custkey,
             CAST((SELECT max_day FROM maxd)
                  - MAX(epoch_us(o_orderdate) // 86400000000) AS BIGINT)
               AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, recency_days, frequency, monetary,
             NTILE(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r,
             NTILE(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f,
             NTILE(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m
      FROM per_cust
    )
    SELECT r, f, m,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS segment_revenue
    FROM scored
    GROUP BY r, f, m
    ORDER BY r, f, m
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile grid: customer counts and revenue per (R,F,M) cell —
    the segmentation every retention campaign starts from. Quintile 1 is
    best on each axis (most recent, most frequent, highest spend).

    Scale note: the quintile cuts run over the PER-CUSTOMER frame (one row
    per customer — already 4-6 orders collapsed), but a builtin ntile would
    still be a single-partition sort of every customer.  Each axis instead
    takes the range-partitioned global numbering (``global_row_numbers``,
    one range exchange per axis — the three sorts a cluster must pay anyway)
    and ``ntile_from_rank`` turns (rank, count) into the exact SQL-ntile
    bucket, so the oracle keeps NTILE(5) and no plan stage ever holds the
    whole customer set in one partition."""
    o = table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(day).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    maxd = per_cust.agg(F.max("last_day").alias("max_day"))
    per_cust = per_cust.crossJoin(F.broadcast(maxd)).select(
        "o_custkey",
        (F.col("max_day") - F.col("last_day")).cast("long").alias("recency_days"),
        "frequency",
        "monetary",
    )
    from fpl_data_pipeline_spark.plans.scale_primitives import (
        global_row_numbers,
        ntile_from_rank,
    )

    nbr = global_row_numbers(
        per_cust, [F.col("recency_days").asc(), F.col("o_custkey").asc()]
    ).withColumnRenamed("global_rn", "rn_r")
    nbr = global_row_numbers(
        nbr, [F.col("frequency").desc(), F.col("o_custkey").asc()]
    ).withColumnRenamed("global_rn", "rn_f")
    nbr = global_row_numbers(
        nbr, [F.col("monetary").desc(), F.col("o_custkey").asc()]
    ).withColumnRenamed("global_rn", "rn_m")
    n = nbr.agg(F.count(F.lit(1)).alias("n_all"))
    scored = nbr.crossJoin(F.broadcast(n)).select(
        "o_custkey",
        "monetary",
        ntile_from_rank("rn_r", "n_all", 5).alias("r"),
        ntile_from_rank("rn_f", "n_all", 5).alias("f"),
        ntile_from_rank("rn_m", "n_all", 5).alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("monetary").cast("decimal(18,2)"))
            .cast("double")
            .alias("segment_revenue"),
        )
        .orderBy("r", "f", "m")
    )


# --- supplier concentration (HHI) per part ----------------------------------
# Supply-chain risk analytics: the Herfindahl-Hirschman index of each
# part's supplier shares (sum of squared quantity shares, 0..1; 1 = single
# sourced). Shares come from exact integer quantity sums, the square and
# sum are integer-exact (cents-free), and the final ratio is one IEEE
# division, 6-dp-quantized. Two hash aggs on (part, supplier) then (part);
# top-20 most concentrated HIGH-VOLUME parts (volume floor filters the
# trivially single-sourced tail).
@register(
    "part_supply_hhi",
    """
    WITH per AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS q
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    tot AS (
      SELECT l_partkey,
             CAST(SUM(q) AS BIGINT) AS qt,
             CAST(SUM(CAST(q AS DECIMAL(38,0)) * q) AS DOUBLE) AS sq,
             COUNT(*) AS n_suppliers
      FROM per GROUP BY l_partkey
    )
    SELECT l_partkey,
           CAST(n_suppliers AS BIGINT) AS n_suppliers, qt AS total_qty_cents,
           FLOOR(sq / (CAST(qt AS DOUBLE) * qt) * 1000000 + 0.5) / 1000000
             AS hhi
    FROM tot
    WHERE qt >= 10000
    ORDER BY hhi DESC, l_partkey ASC
    LIMIT 20
    """,
)
def part_supply_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most supplier-concentrated high-volume parts by HHI over
    quantity shares — the single-sourcing risk screen."""
    li = table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("q")
    )
    tot = per.groupBy("l_partkey").agg(
        F.sum("q").cast("bigint").alias("qt"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q"))
        .cast("double")
        .alias("sq"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    hhi = F.floor(
        F.col("sq") / (F.col("qt").cast("double") * F.col("qt")) * 1000000
        + F.lit(0.5)
    ) / 1000000
    return (
        tot.filter(F.col("qt") >= 10000)
        .select(
            "l_partkey",
            F.col("n_suppliers").cast("long").alias("n_suppliers"),
            F.col("qt").alias("total_qty_cents"),
            hhi.alias("hhi"),
        )
        .orderBy(F.col("hhi").desc(), F.col("l_partkey").asc())
        .limit(20)
    )


# --- weekday seasonality index ----------------------------------------------
# The seasonal-adjustment primitive behind the forecast-eval query's
# seasonal-naive baseline: an index per day-of-week = that weekday's mean
# daily revenue / the overall mean daily day revenue (index > 1 = above-
# trend weekday). Deseasonalizing by this index is the first step of any
# classical decomposition (X-11 style). All means are ratios of exact
# decimal sums over integer day counts; the index is one IEEE division,
# 6-dp-quantized. Day-of-week from integer epoch-day arithmetic
# ((day + 4) % 7: epoch day 0 = Thursday), identical on both engines —
# no locale-dependent DAYNAME anywhere.
@register(
    "revenue_seasonality_index",
    """
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(20,2))
               AS rev
      FROM orders GROUP BY 1
    ),
    by_dow AS (
      SELECT CAST((day + 4) % 7 AS BIGINT) AS dow,
             COUNT(*) AS n_days,
             CAST(SUM(rev) AS DOUBLE) AS rev_sum
      FROM daily GROUP BY 1
    ),
    overall AS (
      SELECT CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS mean_daily FROM daily
    )
    SELECT dow, n_days,
           FLOOR(rev_sum / n_days * 100 + 0.5) / 100 AS mean_revenue,
           FLOOR(rev_sum / n_days / (SELECT mean_daily FROM overall)
                 * 1000000 + 0.5) / 1000000 AS seasonality_index
    FROM by_dow
    ORDER BY dow
    """,
)
def revenue_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week revenue seasonality indices (0 = Monday ... 6 = Sunday
    under the (epoch_day + 4) % 7 convention): the deseasonalization
    factors the forecast baseline divides by."""
    o = table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    daily = o.groupBy(day.alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(20,2)")
        .alias("rev")
    )
    by_dow = daily.groupBy(((F.col("day") + 4) % 7).cast("long").alias("dow")).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("rev").cast("double").alias("rev_sum"),
    )
    overall = daily.agg(
        (F.sum("rev").cast("double") / F.count(F.lit(1))).alias("mean_daily")
    )
    q = lambda c, m: F.floor(c * m + F.lit(0.5)) / m  # noqa: E731
    return (
        by_dow.crossJoin(F.broadcast(overall))
        .select(
            "dow",
            "n_days",
            q(F.col("rev_sum") / F.col("n_days"), 100).alias("mean_revenue"),
            q(
                F.col("rev_sum") / F.col("n_days") / F.col("mean_daily"), 1000000
            ).alias("seasonality_index"),
        )
        .orderBy("dow")
    )


# --- recommender eval: leave-last-order-out hit rate ------------------------
# cf_item_similarity builds the model; this is its OFFLINE EVAL — the
# protocol every recsys paper uses (leave-one-out): hide each customer's
# LAST order, train co-occurrence on the earlier orders only, recommend
# top-K items their training basket co-occurs with (summed support,
# owned items excluded), and score a hit if any hidden-order item appears
# in the top-K. No leakage: test interactions never enter the training
# counts (the temporal split is per customer by order date with orderkey
# tiebreak). Shapes: per-customer window for the split, basket-bounded
# co-occurrence join on the train half, per-customer top-K window over
# candidate scores.
#
# The co-occurrence model is TRUNCATED to each item's top-NEIGH_M
# neighbors before scoring (the item-kNN convention every production
# recsys serves from): without it the candidate expansion joins every
# train interaction against every co-occurring item — an unbounded
# fan-out that grows quadratically with basket overlap (measured: the
# untruncated oracle spilled >80 GB in DuckDB at sf0.1). Truncation
# bounds candidates at |train| x NEIGH_M on any engine.
REC_K = 10
NEIGH_M = 20
# Broadcast guard for the truncated co-model (round-12, guide §3.1): the
# item-kNN truncation bounds ``co`` at n_items x NEIGH_M rows of three
# longs, so up to this many ROWS it broadcasts (removing the shuffle of
# the |train|-sized candidate side); past it the plan falls back to the
# shuffle join unchanged. 5M rows ~ 120 MB built — comfortably inside the
# 8 GB / 512M-row broadcast cap and the driver heap. n_items is bounded
# by the part table's row count (items are l_partkey FKs), a
# footer-metadata count.
CF_CO_BROADCAST_ROWS = 5_000_000


def _co_broadcast_ok(n_items_bound: int) -> bool:
    """True when the truncated co-model's row bound fits the broadcast
    budget — split out so the boundary is unit-testable."""
    return n_items_bound * NEIGH_M <= CF_CO_BROADCAST_ROWS


@register(
    "cf_holdout_hitrate",
    f"""
    WITH interactions AS (
      SELECT DISTINCT o.o_custkey AS cust, o.o_orderkey AS ok,
             o.o_orderdate AS od, l.l_partkey AS item
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    last_order AS (
      SELECT cust, ok AS test_ok FROM (
        SELECT cust, ok,
               ROW_NUMBER() OVER (PARTITION BY cust
                                  ORDER BY od DESC, ok DESC) AS rn
        FROM (SELECT DISTINCT cust, ok, od FROM interactions)
      ) WHERE rn = 1
    ),
    eligible AS (
      SELECT cust FROM (SELECT DISTINCT cust, ok FROM interactions)
      GROUP BY cust HAVING COUNT(*) >= 2
    ),
    train AS (
      SELECT DISTINCT i.cust, i.item
      FROM interactions i
      JOIN last_order lo ON lo.cust = i.cust
      JOIN eligible e ON e.cust = i.cust
      WHERE i.ok <> lo.test_ok
    ),
    test AS (
      SELECT DISTINCT i.cust, i.item
      FROM interactions i
      JOIN last_order lo ON lo.cust = i.cust AND lo.test_ok = i.ok
      JOIN eligible e ON e.cust = i.cust
    ),
    co_full AS (
      SELECT a.item AS ia, b.item AS ib, COUNT(*) AS s
      FROM train a JOIN train b ON a.cust = b.cust AND a.item <> b.item
      GROUP BY 1, 2
    ),
    co AS (
      SELECT ia, ib, s FROM (
        SELECT ia, ib, s,
               ROW_NUMBER() OVER (PARTITION BY ia
                                  ORDER BY s DESC, ib ASC) AS rn
        FROM co_full
      ) WHERE rn <= {NEIGH_M}
    ),
    cand AS (
      SELECT t.cust, c.ib AS rec_item, SUM(c.s) AS score
      FROM train t JOIN co c ON c.ia = t.item
      WHERE NOT EXISTS (
        SELECT 1 FROM train t2 WHERE t2.cust = t.cust AND t2.item = c.ib
      )
      GROUP BY t.cust, c.ib
    ),
    topk AS (
      SELECT cust, rec_item FROM (
        SELECT cust, rec_item,
               ROW_NUMBER() OVER (PARTITION BY cust
                                  ORDER BY score DESC, rec_item ASC) AS rn
        FROM cand
      ) WHERE rn <= {REC_K}
    ),
    hits AS (
      SELECT DISTINCT t.cust
      FROM test t JOIN topk k ON k.cust = t.cust AND k.rec_item = t.item
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM eligible) AS n_eval_customers,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
           FLOOR((SELECT CAST(COUNT(*) AS DOUBLE) FROM hits)
                 / (SELECT COUNT(*) FROM eligible) * 1000000 + 0.5)
             / 1000000 AS hit_rate_at_{REC_K}
    """,
)
def cf_holdout_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-last-order-out evaluation of co-occurrence recommendations:
    hit-rate@10 over customers with >= 2 orders, leakage-free temporal
    split."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    inter = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("o_orderkey").alias("ok"),
            F.col("o_orderdate").alias("od"),
            F.col("l_partkey").alias("item"),
        )
        .distinct()
        # feeds the order list AND the split base; lazy since round 12 —
        # the query is now ONE DataFrame action, so the pin materializes
        # on first use instead of at construction time
        .localCheckpoint(eager=False)
    )
    orders_per_cust = inter.select("cust", "ok", "od").distinct()
    w = Window.partitionBy("cust").orderBy(F.col("od").desc(), F.col("ok").desc())
    last_order = (
        orders_per_cust.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cust", F.col("ok").alias("test_ok"))
    )
    eligible = (
        orders_per_cust.groupBy("cust")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("cust")
    )
    base = inter.join(last_order, "cust").join(eligible, "cust")
    # train feeds FOUR consumers (both co-occurrence join sides, the
    # candidate expansion, the owned-item anti-join); pin it once instead
    # of re-running the interaction join + split per consumer
    train = (
        base.filter(F.col("ok") != F.col("test_ok"))
        .select("cust", "item")
        .distinct()
        .localCheckpoint(eager=False)
        # Round-12: keyed fan-out of the pinned train relation. The
        # distinct's output is byte-small, so AQE coalesces it (the
        # checkpoint materializes into ~1 partition) and the broadcast
        # candidate join below — having no exchange of its own any more —
        # inherited that layout: a 10 s single-task stage in the profile.
        # Partitioning by cust at session parallelism fixes that AND is
        # the distribution every downstream consumer needs: the basket
        # groupBy(cust), the candidate groupBy(cust, ib) (subset rule),
        # the owned-item anti-join on (cust, ib) (both sides ride it) and
        # the per-cust top-K window all reuse this ONE exchange instead
        # of exchanging again.
        .repartition(spark.sparkContext.defaultParallelism, "cust")
    )
    test = (
        base.filter(F.col("ok") == F.col("test_ok")).select("cust", "item").distinct()
    )
    # ordered co-occurrence pairs via the map-side array expansion
    # (ARCHITECTURE.md §7): one groupBy collapses each customer's train
    # basket to a sorted array, the (ia != ib) ordered pairs are generated
    # inside codegen, and only the pair partial counts shuffle — the
    # basket self-join this replaces shuffled train twice more.
    train_arr = train.groupBy("cust").agg(
        F.array_sort(F.collect_set("item")).alias("members")
    )
    # Round-11 (guide §2.3 "aggregate before you shuffle"): co-occurrence
    # counts are SYMMETRIC — s(ia, ib) == s(ib, ia) — so the ordered
    # s(s-1) expansion computed every count twice AND did it through the
    # one-Generate flatten shape that materializes the full pair array per
    # basket row (the GC hazard _expand_member_pairs_streaming exists to
    # avoid). Generate each unordered pair ONCE (i < j over the sorted
    # basket, streaming two-Generate shape), aggregate, then mirror the
    # aggregated counts: half the generated rows and half the
    # pre-aggregation hash work; the union doubles only the already-tiny
    # (ia, ib, s) relation.
    half_pairs = _expand_member_pairs_streaming(train_arr)
    co_half = _cf_pair_counts(half_pairs, li, "ia", "ib", "s")
    co_full = co_half.unionByName(
        co_half.select(
            F.col("ib").alias("ia"), F.col("ia").alias("ib"), F.col("s")
        )
    )
    # item-kNN truncation: keep each item's top-NEIGH_M neighbors (per-item
    # window — partitioned by ia, never global) so the candidate join below
    # is bounded at |train| x NEIGH_M rows
    wn = Window.partitionBy("ia").orderBy(F.col("s").desc(), F.col("ib").asc())
    co = (
        co_full.withColumn("nrn", F.row_number().over(wn))
        .filter(F.col("nrn") <= NEIGH_M)
        .drop("nrn")
    )
    # Round-12 (guide §3.1): the candidate expansion shuffled BOTH the
    # |train| relation and co on the item key. co is bounded at
    # n_items x NEIGH_M rows by the truncation — broadcast it (with the
    # explicit row-bound guard; size ESTIMATES after two aggs + a window
    # are unreliable, so auto-broadcast never fired) and the train side is
    # not shuffled for this join at all. Past the bound the original
    # shuffle plan stands.
    if _co_broadcast_ok(table(spark, sf_dir, "part").count()):
        co = F.broadcast(co)
    cand = (
        train.join(co, train.item == co.ia)
        .groupBy("cust", "ib")
        .agg(F.sum("s").alias("score"))
        .join(
            train.select(F.col("cust").alias("cust"), F.col("item").alias("ib")),
            ["cust", "ib"],
            "left_anti",
        )
        .select("cust", F.col("ib").alias("rec_item"), "score")
    )
    wk = Window.partitionBy("cust").orderBy(F.col("score").desc(), F.col("rec_item").asc())
    topk = (
        cand.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= REC_K)
        .select("cust", "rec_item")
    )
    # aliased join keys: test and topk both descend from the pinned train
    # lineage, so test.cust/topk.cust can resolve to the SAME attribute id
    # (Spark warns "trivially true predicate") — renaming makes the join
    # keys unambiguous
    hits = (
        test.join(
            topk.select(
                F.col("cust").alias("k_cust"), F.col("rec_item").alias("k_item")
            ),
            (F.col("cust") == F.col("k_cust")) & (F.col("item") == F.col("k_item")),
        )
        .select("cust")
        .distinct()
    )
    # Round-12 (guide §5 "the driver should do no data work"): the two
    # driver-side .count() actions are now 1-row aggregates crossJoined in
    # the SAME DataFrame — identical counts, identical IEEE double ratio
    # arithmetic (cast-to-double division == the float literals it
    # replaces), but the whole pipeline lives in ONE lazily-executed plan:
    # the bench times it as a unit and the committed explain dump shows
    # the join strategy (the broadcast above) instead of two literals.
    n_eligible = eligible.agg(F.count(F.lit(1)).alias("n_eval_customers"))
    n_hits = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    q6 = F.floor(
        F.col("n_hits").cast("double")
        / F.col("n_eval_customers").cast("double")
        * 1000000
        + F.lit(0.5)
    ) / 1000000
    return n_eligible.crossJoin(n_hits).select(
        F.col("n_eval_customers").cast("long").alias("n_eval_customers"),
        F.col("n_hits").cast("long").alias("n_hits"),
        q6.alias(f"hit_rate_at_{REC_K}"),
    )


# --- mix-shift decomposition (period-over-period bridge) ---------------------
# "Revenue moved -4%: was it volume, per-order value, or segment mix?" —
# the FP&A bridge every period close produces. Split the order history
# into two halves at the median day; per segment, decompose the revenue
# delta into: volume effect (order-count change at old value), value
# effect (per-order value change at old volume), and the cross term
# (delta x delta) — an exact additive bridge: the three effects sum to the
# segment's revenue delta to the cent. All inputs are exact-decimal sums
# and integer counts; the effects are quantized to cents so the additivity
# is exact on both engines.
@register(
    "revenue_mix_shift",
    """
    WITH days AS (
      SELECT o_custkey, o_totalprice,
             epoch_us(o_orderdate) // 86400000000 AS day
      FROM orders
    ),
    cut AS (
      SELECT CAST((MIN(day) + MAX(day)) // 2 AS BIGINT) AS mid FROM days
    ),
    seg AS (
      SELECT c.c_mktsegment,
             CASE WHEN d.day < (SELECT mid FROM cut) THEN 'p1' ELSE 'p2' END
               AS period,
             d.o_totalprice
      FROM days d JOIN customer c ON c.c_custkey = d.o_custkey
    ),
    agg AS (
      SELECT c_mktsegment, period,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM seg GROUP BY c_mktsegment, period
    ),
    wide AS (
      SELECT c_mktsegment,
             MAX(CASE WHEN period = 'p1' THEN n END) AS n1,
             MAX(CASE WHEN period = 'p2' THEN n END) AS n2,
             MAX(CASE WHEN period = 'p1' THEN rev END) AS r1,
             MAX(CASE WHEN period = 'p2' THEN rev END) AS r2
      FROM agg GROUP BY c_mktsegment
    )
    SELECT c_mktsegment,
           CAST(n1 AS BIGINT) AS n_orders_p1,
           CAST(n2 AS BIGINT) AS n_orders_p2,
           FLOOR((r2 - r1) * 100 + 0.5) / 100 AS revenue_delta,
           FLOOR((n2 - n1) * (r1 / n1) * 100 + 0.5) / 100 AS volume_effect,
           FLOOR(n1 * (r2 / n2 - r1 / n1) * 100 + 0.5) / 100 AS value_effect,
           FLOOR(((r2 - r1) - (n2 - n1) * (r1 / n1)
                  - n1 * (r2 / n2 - r1 / n1)) * 100 + 0.5) / 100
             AS cross_effect
    FROM wide
    ORDER BY c_mktsegment
    """,
)
def revenue_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period revenue bridge per segment: volume, per-order
    value, and cross effects (cent-quantized, additive to the delta up to
    the three rounding cents)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    day = F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    days = o.select("o_custkey", "o_totalprice", day.alias("day"))
    cut = days.agg(
        F.expr("cast((min(day) + max(day)) div 2 as bigint)").alias("mid")
    )
    seg = (
        days.crossJoin(F.broadcast(cut))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_mktsegment",
            F.when(F.col("day") < F.col("mid"), "p1").otherwise("p2").alias("period"),
            "o_totalprice",
        )
    )
    agg = seg.groupBy("c_mktsegment", "period").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("rev"),
    )
    pick = lambda p, col: F.max(F.when(F.col("period") == p, F.col(col)))  # noqa: E731
    wide = agg.groupBy("c_mktsegment").agg(
        pick("p1", "n").alias("n1"),
        pick("p2", "n").alias("n2"),
        pick("p1", "rev").alias("r1"),
        pick("p2", "rev").alias("r2"),
    )
    q2 = lambda col: F.floor(col * 100 + F.lit(0.5)) / 100  # noqa: E731
    v1 = F.col("r1") / F.col("n1")
    v2 = F.col("r2") / F.col("n2")
    vol = (F.col("n2") - F.col("n1")) * v1
    val = F.col("n1") * (v2 - v1)
    return wide.select(
        "c_mktsegment",
        F.col("n1").cast("long").alias("n_orders_p1"),
        F.col("n2").cast("long").alias("n_orders_p2"),
        q2(F.col("r2") - F.col("r1")).alias("revenue_delta"),
        q2(vol).alias("volume_effect"),
        q2(val).alias("value_effect"),
        q2((F.col("r2") - F.col("r1")) - vol - val).alias("cross_effect"),
    ).orderBy("c_mktsegment")
