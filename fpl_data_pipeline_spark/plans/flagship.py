"""Flagship query: the reference's `detailed_ply_data_per_week` shape
(reference sql_queries.py:118-188) re-targeted at the driver star schema.

Reference CTE pipeline -> our mapping (player->customer, team->nation,
player_week_ft->orders, round_gw->order month):

  ct_gen              dim decorate: customer LEFT JOIN nation (broadcast)   [J1]
  last_3_wk_numb      distinct round_gw DESC LIMIT 3 ->
                      latest distinct order months, ranked rn 1..4          [A5,T6]
  ct_stats_totals     sum(points),sum(bps) per player ->
                      sum(totalprice), count(orders) per customer           [A1]
  ct_last_weeks_3_f   filtered-max pivot of rn 1..3 -> gw_1/2/3             [W1,A3]
  ct_avg_points_4     sum over last-4 weeks / 4 (constant divisor!)         [A2]
  final               LEFT JOIN + coalesce(total,0) + top-15                [J2,P6,T3]

The three per-customer CTEs are ONE aggregate keyed on o_custkey over the
fact LEFT JOINed to the broadcast last-4 rank, which attaches rn to the
last-4 rows only: the lifetime sums see every row, the rn-conditional
aggregates see the recent ones.

Scale notes (100 TB): the period-rank table is <=O(#months) rows and is
broadcast to the fact side, so the fact costs one shuffle (the groupBy on
its key); the dim decorate broadcasts nation; the final top-15 is
TakeOrderedAndProject (no global sort). The oracle below keeps the
reference's separate CTEs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from fpl_data_pipeline_spark.registry import register
from fpl_data_pipeline_spark.tables import table

# Exact-sum convention: double -> DECIMAL(18,2) (exact, order-independent sum)
# -> DOUBLE at the end. Mirrored in the oracle SQL below.
_DEC = "decimal(18,2)"

def period_col():
    """yyyymm integer period key — the engine's `round_gw` analogue."""
    return (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("period")


def customer_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", period_col()
    )

    # ct_gen — decorate customer with its nation name (broadcast: 25 rows).
    ct_gen = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left"
    ).select(
        "c_custkey",
        F.col("c_name").alias("cust_name"),
        F.col("n_name").alias("nation_name"),
        "c_acctbal",
    )

    # Rank the distinct periods once (tiny: <= #months rows), broadcast it.
    periods = (
        orders.select("period")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy(F.col("period").desc())))
    )
    last4 = F.broadcast(periods.filter(F.col("rn") <= 4))

    # Lifetime totals AND the last-4 pivot in ONE pass over the fact
    # (round-11, guide §2.4: two aggregations keyed on o_custkey shared one
    # exchange's worth of work but ran as two shuffles + an extra join).
    # LEFT-joining the broadcast rank attaches rn only to last-4 rows
    # (NULL elsewhere), so the lifetime sums see every row while the
    # rn-conditional aggregates reproduce the old inner-join semantics
    # exactly: a customer with no last-4 orders gets NULL gw_*/avg_4 — the
    # same NULLs the old left join produced for a missing recent_agg row.
    # Pivot rn 1..3 via filtered max (reference A3) and the reference's
    # constant ÷4 last-4 average.
    fact = orders.join(last4, "period", "left")
    merged = fact.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("total_spend"),
        F.count(F.lit(1)).alias("order_cnt"),
        F.max(F.when(F.col("rn") == 1, F.col("o_totalprice"))).alias("gw_1"),
        F.max(F.when(F.col("rn") == 2, F.col("o_totalprice"))).alias("gw_2"),
        F.max(F.when(F.col("rn") == 3, F.col("o_totalprice"))).alias("gw_3"),
        (
            F.sum(
                F.when(F.col("rn").isNotNull(), F.col("o_totalprice").cast(_DEC))
            ).cast("double")
            / F.lit(4.0)
        ).alias("avg_4"),
    )

    # Final left join + coalesce + deterministic top-15.
    out = (
        ct_gen.join(merged, ct_gen.c_custkey == merged.o_custkey, "left")
        .drop("o_custkey")
        .select(
            "c_custkey",
            "cust_name",
            "nation_name",
            "c_acctbal",
            F.coalesce(F.col("total_spend"), F.lit(0.0)).alias("total_spend"),
            F.coalesce(F.col("order_cnt"), F.lit(0)).alias("order_cnt"),
            "gw_1",
            "gw_2",
            "gw_3",
            "avg_4",
        )
        .orderBy(F.col("total_spend").desc(), F.col("c_custkey").asc())
        .limit(15)
    )
    return out


FLAGSHIP_ORACLE = """
WITH ct_gen AS (
  SELECT c_custkey, c_name AS cust_name, n_name AS nation_name, c_acctbal
  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
),
fact AS (
  SELECT o_custkey, o_totalprice,
         year(o_orderdate) * 100 + month(o_orderdate) AS period
  FROM orders
),
totals AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
         COUNT(*) AS order_cnt
  FROM fact GROUP BY o_custkey
),
ranked_periods AS (
  SELECT period, row_number() OVER (ORDER BY period DESC) AS rn
  FROM (SELECT DISTINCT period FROM fact)
),
recent AS (
  SELECT f.*, rp.rn FROM fact f JOIN ranked_periods rp USING (period)
  WHERE rp.rn <= 4
),
recent_agg AS (
  SELECT o_custkey,
         MAX(CASE WHEN rn = 1 THEN o_totalprice END) AS gw_1,
         MAX(CASE WHEN rn = 2 THEN o_totalprice END) AS gw_2,
         MAX(CASE WHEN rn = 3 THEN o_totalprice END) AS gw_3,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / 4.0 AS avg_4
  FROM recent GROUP BY o_custkey
)
SELECT g.c_custkey, g.cust_name, g.nation_name, g.c_acctbal,
       COALESCE(t.total_spend, 0.0) AS total_spend,
       COALESCE(t.order_cnt, 0) AS order_cnt,
       r.gw_1, r.gw_2, r.gw_3, r.avg_4
FROM ct_gen g
LEFT JOIN totals t ON g.c_custkey = t.o_custkey
LEFT JOIN recent_agg r ON g.c_custkey = r.o_custkey
ORDER BY total_spend DESC, g.c_custkey ASC
LIMIT 15
"""

register("flagship_customer_activity", FLAGSHIP_ORACLE)(customer_activity)


def flagship_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-front-end parity: the flagship as ONE ANSI SQL text executed
    verbatim by spark.sql(...) — the IDENTICAL string is the DuckDB oracle,
    so this query proves a reference user can bring their SQL unchanged and
    Catalyst plans it (broadcast joins + TakeOrderedAndProject, same as the
    DataFrame build — both front-ends converge to one logical plan)."""
    for t in ("customer", "nation", "orders"):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(FLAGSHIP_ORACLE)


register("flagship_sql", FLAGSHIP_ORACLE)(flagship_sql)
