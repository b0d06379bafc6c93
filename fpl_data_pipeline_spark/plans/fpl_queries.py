"""The five analytical dashboard queries on the FPL star schema
(SURVEY.md §2.11) — exact reference semantics, each one ``spark.sql``
statement.

Every query is a single SQL text that reads like the reference's
(sql_queries.py:111-256) and takes its tables as DataFrame arguments
(``spark.sql(text, p=player_dm, ...)``): PySpark registers them as
temporary views for the one analysis and drops them when the call returns,
so building a query analyzes it once, runs no Spark job and leaves the
catalog as it found it. ``k`` is bound through ``int(k)`` so it can only
ever be a number in the text.

These run on the engine's canonical FPL tables (sources/schemas.py) and are
verified in tests/test_fpl_queries.py against hand-computed fixtures, the
DuckDB oracle text on degenerate stars, plus the two reference data-quality
checks (known-entity lookup, join integrity). Deterministic id tiebreakers
are appended to every top-k (the reference relies on Postgres's arbitrary
tie order; we pin it — SURVEY.md §4.3.2).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def basic_ply_data(player_dm: DataFrame, k: int = 9) -> DataFrame:
    """Top-k players by form (reference sql_queries.py:111)."""
    return player_dm.sparkSession.sql(
        """
        SELECT name, surname, form
        FROM {p}
        ORDER BY form DESC, id ASC
        LIMIT {k}
        """,
        p=player_dm,
        k=int(k),
    )


def value_per_points(player_dm: DataFrame, k: int = 9) -> DataFrame:
    """Top-k by total_points with point_value = total_points/now_costs*10
    cast to decimal(12,2) (reference sql_queries.py:113-116). Decimal-first
    division for Postgres-compatible precision (SURVEY.md §4.3.3)."""
    return player_dm.sparkSession.sql(
        """
        SELECT name, surname, total_points,
               CAST(CAST(total_points AS DECIMAL(18,2)) / now_costs * 10
                    AS DECIMAL(12,2)) AS point_value
        FROM {p}
        ORDER BY total_points DESC, id ASC
        LIMIT {k}
        """,
        p=player_dm,
        k=int(k),
    )


def detailed_ply_data_per_week(
    player_dm: DataFrame,
    team_dm: DataFrame,
    player_week_ft: DataFrame,
    k: int = 15,
) -> DataFrame:
    """The flagship (reference sql_queries.py:118-188):

    ct_gen: decorate player with team short_name (broadcast — 20 teams);
    last_4_wk: the 4 latest DISTINCT gameweeks across the whole fact table
      (NOT per player), ranked rn 1..4 — at most 38 rounds, broadcast;
    ct_stats: ONE aggregation keyed on element_ over the fact LEFT JOINed to
      last_4_wk, which attaches rn only to the last-4 rows (NULL elsewhere).
      It folds the reference's three CTEs:
      - ct_stats_totals: sum(total_points), sum(bps) over every row;
      - ct_last_weeks_3_final: rn 1/2/3 pivoted to gw_1/2/3 via filtered
        max — players missing a week get NULL (only total_points gets
        coalesce, reference sql_queries.py:174 — SURVEY.md §7.3.4);
      - ct_avg_points_last_4: sum(points::decimal)/4 over the rn rows —
        constant divisor even for players active in fewer weeks, NULL for
        players with no last-4 row, as the reference's left join gives;
    final: left join, coalesce, top-k by total points.
    """
    return player_dm.sparkSession.sql(
        """
        WITH ct_gen AS (
          SELECT /*+ BROADCAST(t) */
                 p.id, concat(p.name, ' ', p.surname) AS ply_name,
                 t.short_name, p.position
          FROM {p} p LEFT JOIN {t} t ON p.team_id = t.id
        ),
        last_4_wk AS (
          SELECT round_gw, rn
          FROM (SELECT round_gw, row_number() OVER (ORDER BY round_gw DESC) AS rn
                FROM (SELECT DISTINCT round_gw FROM {f}))
          WHERE rn <= 4
        ),
        ct_stats AS (
          SELECT /*+ BROADCAST(w) */
                 f.element_,
                 SUM(f.total_points) AS sum_points,
                 SUM(f.bps) AS sum_bps,
                 MAX(CASE WHEN w.rn = 1 THEN f.total_points END) AS gw_1,
                 MAX(CASE WHEN w.rn = 2 THEN f.total_points END) AS gw_2,
                 MAX(CASE WHEN w.rn = 3 THEN f.total_points END) AS gw_3,
                 round(SUM(CASE WHEN w.rn IS NOT NULL
                                THEN CAST(f.total_points AS DECIMAL(18,2)) END) / 4,
                       2) AS avg_4_weeks
          FROM {f} f LEFT JOIN last_4_wk w ON f.round_gw = w.round_gw
          GROUP BY f.element_
        )
        SELECT g.id, g.ply_name, g.short_name, g.position,
               coalesce(s.sum_points, 0) AS total_points,
               s.sum_bps, s.gw_1, s.gw_2, s.gw_3, s.avg_4_weeks
        FROM ct_gen g LEFT JOIN ct_stats s ON g.id = s.element_
        ORDER BY total_points DESC, g.id ASC
        LIMIT {k}
        """,
        p=player_dm,
        t=team_dm,
        f=player_week_ft,
        k=int(k),
    )


def _top_summed_stats(player_stats_dm: DataFrame, order_col: str, k: int) -> DataFrame:
    """ct_summed_stats and its top-k (reference sql_queries.py:220-237,
    repeated at :239-251 with another ORDER BY): each stats query runs its
    own aggregation. ``order_col`` is one of this module's two literals."""
    return player_stats_dm.sparkSession.sql(
        f"""
        WITH ct_summed_stats AS (
          SELECT full_name,
                 SUM(min_played) AS min_played,
                 SUM(key_passes) AS key_pass,
                 SUM(assists) AS assists,
                 SUM(shots) AS shots,
                 SUM(xg) AS xg,
                 SUM(xa) AS xa,
                 SUM(xg) + SUM(xa) AS total_xi
          FROM {{s}}
          GROUP BY full_name
        )
        SELECT * FROM ct_summed_stats
        ORDER BY {order_col} DESC, full_name ASC
        LIMIT {{k}}
        """,
        s=player_stats_dm,
        k=int(k),
    )


def sql_stats_key_pass(player_stats_dm: DataFrame, k: int = 15) -> DataFrame:
    """Top-k by summed key passes (reference sql_queries.py:220-237)."""
    return _top_summed_stats(player_stats_dm, "key_pass", k)


def sql_stats_shots(player_stats_dm: DataFrame, k: int = 15) -> DataFrame:
    """Top-k by summed shots (reference sql_queries.py:239-256)."""
    return _top_summed_stats(player_stats_dm, "shots", k)


# --- reference data-quality checks (SURVEY.md §5.1) -------------------------


def get_player_id(player_dm: DataFrame, surname: str) -> int | None:
    """Known-entity lookup (reference sql_queries.py:190-192 /
    includes.py:447-458): SELECT id WHERE surname = X."""
    row = player_dm.filter(F.col("surname") == surname).select("id").first()
    return None if row is None else int(row["id"])


def orphan_fact_rows(player_week_ft: DataFrame, player_dm: DataFrame) -> int:
    """Join-integrity check, *intended* semantics of the reference's
    sql_control_of_joins (sql_queries.py:194-198 — which as written tests
    a fact column instead of the join key; SURVEY.md J4): count fact rows
    with no matching player. Must be 0 on clean data."""
    return (
        player_week_ft.join(
            player_dm.select(F.col("id").alias("element_")), "element_", "left_anti"
        ).count()
    )


def dashboard_payload(
    player_dm: DataFrame, team_dm: DataFrame, player_week_ft: DataFrame
) -> dict:
    """Presentation shim proving API-surface parity with the Flask routes
    (reference routes.py:34-50): chart arrays from queries 1-2 + the detail
    table from query 3, as plain dicts/lists."""
    basic = basic_ply_data(player_dm).toPandas()
    value = value_per_points(player_dm).toPandas()
    detail = detailed_ply_data_per_week(player_dm, team_dm, player_week_ft).toPandas()
    return {
        "graph_lab": [f"{r.name} {r.surname}" for r in basic.itertuples()],
        "graph_val": [float(r.form) for r in basic.itertuples()],
        "graph_lab_val": [f"{r.name} {r.surname}" for r in value.itertuples()],
        "graph_val_val": [float(r.point_value) for r in value.itertuples()],
        "ply_data_detail": detail.to_dict("records"),
    }


# --- oracle-registered §2.11 queries over the committed fixture parquet ------
# The driver's DuckDB views cover only the TPC-H-ish tables, so these oracles
# read the deterministic fixture parquet (tools/make_fixtures.py, seed 42)
# by absolute path on both engines. Output decimals are surfaced as DOUBLE
# (pandas object-Decimal vs DuckDB float64 would dtype-mismatch otherwise);
# the decimal-native API path stays covered by tests/test_fpl_queries.py.

import os as _os

from fpl_data_pipeline_spark.registry import register
from fpl_data_pipeline_spark.sources import schemas as S
from pyspark.sql import SparkSession

FIXTURES_DIR = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "fixtures",
)


# declared, not inferred: a schema-inference read runs a footer job per call
_FX_SCHEMAS = {
    "player_dm": S.PLAYER_DM,
    "team_dm": S.TEAM_DM,
    "player_week_ft": S.PLAYER_WEEK_FT,
    "player_stats_dm": S.PLAYER_STATS_DM,
}


def _fx(spark: SparkSession, name: str) -> DataFrame:
    return spark.read.schema(_FX_SCHEMAS[name]).parquet(_os.path.join(FIXTURES_DIR, name))


def _fx_sql(name: str) -> str:
    return f"'{FIXTURES_DIR}/{name}/*.parquet'"


@register(
    "fpl_basic_ply_data",
    f"""
    SELECT name, surname, CAST(form AS DOUBLE) AS form
    FROM {_fx_sql('player_dm')}
    ORDER BY form DESC, id ASC
    LIMIT 9
    """,
)
def fpl_basic_ply_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 (reference sql_queries.py:111) on the fixture star schema."""
    out = basic_ply_data(_fx(spark, "player_dm"))
    return out.withColumn("form", F.col("form").cast("double"))


@register(
    "fpl_value_per_points",
    f"""
    SELECT name, surname, total_points,
           round(CAST(total_points AS DOUBLE) / CAST(now_costs AS DOUBLE) * 10, 2)
             AS point_value
    FROM {_fx_sql('player_dm')}
    ORDER BY total_points DESC, id ASC
    LIMIT 9
    """,
)
def fpl_value_per_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 (reference sql_queries.py:113-116); point_value computed in double
    on both engines (tp/now_costs*10 is never a dyadic rational, so 2-dp
    rounding can't tie-break differently)."""
    p = _fx(spark, "player_dm")
    pv = F.round(
        F.col("total_points").cast("double") / F.col("now_costs").cast("double") * 10, 2
    )
    return (
        p.select("name", "surname", "total_points", pv.alias("point_value"), "id")
        .orderBy(F.col("total_points").desc(), F.col("id").asc())
        .limit(9)
        .drop("id")
    )


@register(
    "fpl_detailed_week",
    f"""
    WITH ct_gen AS (
      SELECT p.id, p.name || ' ' || p.surname AS ply_name, t.short_name,
             p.position
      FROM {_fx_sql('player_dm')} p
      LEFT JOIN {_fx_sql('team_dm')} t ON p.team_id = t.id
    ),
    totals AS (
      SELECT element_, CAST(SUM(total_points) AS BIGINT) AS sum_points,
             CAST(SUM(bps) AS BIGINT) AS sum_bps
      FROM {_fx_sql('player_week_ft')}
      GROUP BY element_
    ),
    ranked_weeks AS (
      SELECT round_gw, row_number() OVER (ORDER BY round_gw DESC) AS rn
      FROM (SELECT DISTINCT round_gw FROM {_fx_sql('player_week_ft')})
    ),
    recent AS (
      SELECT f.*, r.rn
      FROM {_fx_sql('player_week_ft')} f JOIN ranked_weeks r USING (round_gw)
    ),
    last3 AS (
      SELECT element_,
             MAX(CASE WHEN rn = 1 THEN total_points END) AS gw_1,
             MAX(CASE WHEN rn = 2 THEN total_points END) AS gw_2,
             MAX(CASE WHEN rn = 3 THEN total_points END) AS gw_3
      FROM recent WHERE rn <= 3
      GROUP BY element_
    ),
    avg4 AS (
      SELECT element_,
             round(CAST(SUM(total_points) AS DOUBLE) / 4, 2) AS avg_4_weeks
      FROM recent WHERE rn <= 4
      GROUP BY element_
    )
    SELECT g.id, g.ply_name, g.short_name, g.position,
           COALESCE(t.sum_points, 0) AS total_points,
           t.sum_bps, l.gw_1, l.gw_2, l.gw_3, a.avg_4_weeks
    FROM ct_gen g
    LEFT JOIN totals t ON g.id = t.element_
    LEFT JOIN last3 l ON g.id = l.element_
    LEFT JOIN avg4 a ON g.id = a.element_
    ORDER BY total_points DESC, g.id ASC
    LIMIT 15
    """,
)
def fpl_detailed_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3, the flagship dashboard CTE pipeline (reference sql_queries.py:
    118-188), on the fixture star schema; avg_4_weeks surfaced as double
    (sums of ints / 4 = exact quarters on both engines)."""
    out = detailed_ply_data_per_week(
        _fx(spark, "player_dm"),
        _fx(spark, "team_dm"),
        _fx(spark, "player_week_ft"),
    )
    return out.withColumn(
        "avg_4_weeks", F.col("avg_4_weeks").cast("double")
    )


def _stats_oracle(order_col: str) -> str:
    return f"""
    SELECT full_name,
           CAST(SUM(min_played) AS BIGINT) AS min_played,
           CAST(SUM(key_passes) AS BIGINT) AS key_pass,
           CAST(SUM(assists) AS BIGINT) AS assists,
           CAST(SUM(shots) AS BIGINT) AS shots,
           CAST(SUM(xg) AS DOUBLE) AS xg,
           CAST(SUM(xa) AS DOUBLE) AS xa,
           CAST(SUM(xg) + SUM(xa) AS DOUBLE) AS total_xi
    FROM {_fx_sql('player_stats_dm')}
    GROUP BY full_name
    ORDER BY {order_col} DESC, full_name ASC
    LIMIT 15
    """


def _stats_double(df: DataFrame) -> DataFrame:
    return (
        df.withColumn("xg", F.col("xg").cast("double"))
        .withColumn("xa", F.col("xa").cast("double"))
        .withColumn("total_xi", F.col("total_xi").cast("double"))
    )


@register("fpl_stats_key_pass", _stats_oracle("key_pass"))
def fpl_stats_key_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 (reference sql_queries.py:220-237) on the fixture understat table."""
    return _stats_double(sql_stats_key_pass(_fx(spark, "player_stats_dm")))


@register("fpl_stats_shots", _stats_oracle("shots"))
def fpl_stats_shots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 (reference sql_queries.py:239-256) on the fixture understat table."""
    return _stats_double(sql_stats_shots(_fx(spark, "player_stats_dm")))


@register(
    "fpl_fuzzy_name_candidates",
    f"""
    WITH fpl AS (
      SELECT id, lower(name || ' ' || surname) AS full_name
      FROM {_fx_sql('player_dm')}
    ),
    scraped AS (
      SELECT DISTINCT lower(full_name) AS scraped_name
      FROM {_fx_sql('player_stats_dm')}
      WHERE regexp_matches(lower(full_name), '^[ -~]*$')
    )
    SELECT s.scraped_name, f.full_name AS fpl_name, f.id AS fpl_id,
           CAST(levenshtein(s.scraped_name, f.full_name) AS INT) AS edit_distance
    FROM scraped s JOIN fpl f
      ON substr(s.scraped_name, 1, 1) = substr(f.full_name, 1, 1)
    WHERE levenshtein(s.scraped_name, f.full_name) BETWEEN 1 AND 3
    ORDER BY edit_distance ASC, s.scraped_name ASC, f.id ASC
    LIMIT 15
    """,
)
def fpl_fuzzy_name_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy name-join's candidate/scoring core (reference M4: understat
    names vs FPL name+surname) with a value-level oracle: first-letter
    blocking keeps the comparison an equi-join, Levenshtein is the same
    edit-distance definition on both engines, and near-matches (distance
    1-3 — the misspelling band the full fuzzy_name_join resolves) rank
    deterministically. The production operator adds accent folding, soundex
    blocking and manual overrides (operators/fuzzy_join.py, planted-pair
    tests)."""
    fpl = _fx(spark, "player_dm").select(
        "id", F.lower(F.concat("name", F.lit(" "), "surname")).alias("full_name")
    )
    # ASCII-only: Spark's levenshtein counts codepoints while DuckDB's
    # counts bytes, so accented variants (which the production operator
    # folds before scoring) are excluded from this oracle-checked slice
    scraped = (
        _fx(spark, "player_stats_dm")
        .select(F.lower("full_name").alias("scraped_name"))
        .filter(F.col("scraped_name").rlike("^[ -~]*$"))
        .distinct()
    )
    j = scraped.join(
        fpl,
        F.substring("scraped_name", 1, 1) == F.substring("full_name", 1, 1),
    )
    dist = F.levenshtein("scraped_name", "full_name")
    return (
        j.filter(dist.between(1, 3))
        .select(
            "scraped_name",
            F.col("full_name").alias("fpl_name"),
            F.col("id").alias("fpl_id"),
            dist.cast("int").alias("edit_distance"),
        )
        .orderBy(
            F.col("edit_distance").asc(), F.col("scraped_name").asc(), F.col("fpl_id").asc()
        )
        .limit(15)
    )


@register(
    "typed_fact_view",
    f"""
    SELECT element_,
           COUNT(*) AS n_weeks,
           CAST(SUM(CAST(influence  AS DECIMAL(18,2))) AS DOUBLE) AS influence_total,
           CAST(SUM(CAST(creativity AS DECIMAL(18,2))) AS DOUBLE) AS creativity_total,
           CAST(SUM(CAST(threat     AS DECIMAL(18,2))) AS DOUBLE) AS threat_total,
           CAST(SUM(CAST(ict_index  AS DECIMAL(18,2))) AS DOUBLE) AS ict_total
    FROM {_fx_sql('player_week_ft')}
    GROUP BY element_
    ORDER BY ict_total DESC, element_ ASC
    LIMIT 10
    """,
)
def typed_fact_view_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed accessors over the numeric-as-string ICT columns (SURVEY §7.3.6,
    reference includes.py fact schema: influence/creativity/threat/ict_index
    land as VARCHAR). sources/ingest.py::typed_fact_view casts them to exact
    decimals; this query proves the accessor end-to-end — per-player season
    ICT totals, decimal-exact sums surfaced as DOUBLE, deterministic top-10."""
    from fpl_data_pipeline_spark.sources.ingest import typed_fact_view

    ft = typed_fact_view(_fx(spark, "player_week_ft"))
    return (
        ft.groupBy("element_")
        .agg(
            F.count(F.lit(1)).alias("n_weeks"),
            F.sum("influence_num").cast("double").alias("influence_total"),
            F.sum("creativity_num").cast("double").alias("creativity_total"),
            F.sum("threat_num").cast("double").alias("threat_total"),
            F.sum("ict_index_num").cast("double").alias("ict_total"),
        )
        .orderBy(F.col("ict_total").desc(), F.col("element_").asc())
        .limit(10)
    )
