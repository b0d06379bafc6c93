"""JSON->star-schema ingestion: set-based re-expression of the reference's
row-at-a-time loaders (SURVEY.md §2.1 S1-S9, §4.1).

Reference loop -> engine transform:
- fpl_general_data_postgre (includes.py:118-146): elements[] -> player_dm,
  with first_name->name, second_name->surname, now_cost->now_costs,
  team->team_id and the element_type {1:gk,2:def,3:mid,4:fwd} decode
  (includes.py:36,129).
- fpl_team_data_postgre (includes.py:228-256): teams[] -> team_dm with
  strength_attack_home->strength_att_home etc.
- week_info_data_postgre (includes.py:398-423): events[] -> week_info_dm with
  average_entry_score->avg_score.
- fpl_week_data_postgre (includes.py:149-210): per-player element-summary
  history[] -> player_week_ft with element->element_, opponent_team->opp_team,
  round->round_gw, yellow_cards->yellow_card, red_cards->red_card,
  saves->save, value->value_ply. The reference's IndexError guard for players
  missing weeks (includes.py:186-190) vanishes: explode emits only existing
  rows.
- ply_stats_data_postgre (includes.py:355-395): scraped understat CSV ->
  player_stats_dm (positional columns, header skip, zero-byte-file skip —
  all handled by the csv reader).

Every loader lands as one DataFrame write (or upsert) instead of ~24k INSERT
round-trips. At 100 TB the landing zone is a partitioned parquet directory;
all transforms below are narrow (no shuffles) except the explode fan-out.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from fpl_data_pipeline_spark.sources import schemas as S

POSITION_DECODE = {1: "gk", 2: "def", 3: "mid", 4: "fwd"}


def read_bootstrap(spark: SparkSession, path: str) -> DataFrame:
    """Land bootstrap-static JSON (one doc per file) with a declared schema."""
    return spark.read.schema(S.BOOTSTRAP_STATIC).option("multiLine", True).json(path)


def read_element_summaries(spark: SparkSession, path_glob: str) -> DataFrame:
    """Land per-player element-summary JSON docs (S2 fan-out target)."""
    return spark.read.schema(S.ELEMENT_SUMMARY).option("multiLine", True).json(path_glob)


def position_col(element_type):
    """The {1:'gk',2:'def',3:'mid',4:'fwd'} decode (includes.py:36)."""
    m = F.create_map(*[F.lit(x) for kv in POSITION_DECODE.items() for x in kv])
    return F.element_at(m, element_type)


def build_player_dm(bootstrap: DataFrame) -> DataFrame:
    e = bootstrap.select(F.explode("elements").alias("e")).select("e.*")
    return e.select(
        F.col("id").cast("int").alias("id"),
        F.col("first_name").alias("name"),
        F.col("second_name").alias("surname"),
        F.col("form").cast("decimal(18,2)").alias("form"),
        F.col("total_points").cast("int").alias("total_points"),
        F.col("now_cost").cast("decimal(18,2)").alias("now_costs"),
        F.col("team").cast("int").alias("team_id"),
        position_col(F.col("element_type")).alias("position"),
    )


def build_team_dm(bootstrap: DataFrame) -> DataFrame:
    t = bootstrap.select(F.explode("teams").alias("t")).select("t.*")
    return t.select(
        "id",
        "name",
        "short_name",
        F.col("strength_attack_home").alias("strength_att_home"),
        F.col("strength_defence_home").alias("strength_def_home"),
        F.col("strength_attack_away").alias("strength_att_away"),
        F.col("strength_defence_away").alias("strength_def_away"),
        "code",
    )


def build_week_info_dm(bootstrap: DataFrame) -> DataFrame:
    w = bootstrap.select(F.explode("events").alias("w")).select("w.*")
    return w.select(
        "id",
        "name",
        F.col("average_entry_score").alias("avg_score"),
        "finished",
        "data_checked",
    )


def build_player_week_ft(summaries: DataFrame) -> DataFrame:
    h = summaries.select(F.explode("history").alias("h")).select("h.*")
    return h.select(
        F.col("element").alias("element_"),
        "fixture",
        "total_points",
        F.col("opponent_team").alias("opp_team"),
        "was_home",
        "team_h_score",
        "team_a_score",
        F.col("round").alias("round_gw"),
        "minutes",
        "goals_scored",
        "assists",
        "clean_sheets",
        "goals_conceded",
        "own_goals",
        "penalties_saved",
        "penalties_missed",
        F.col("yellow_cards").alias("yellow_card"),
        F.col("red_cards").alias("red_card"),
        F.col("saves").alias("save"),
        "bonus",
        "bps",
        "influence",
        "creativity",
        "threat",
        "ict_index",
        F.col("value").cast("decimal(18,2)").alias("value_ply"),
    )


def read_understat_csv(spark: SparkSession, path_glob: str) -> DataFrame:
    """Understat scrape CSVs (S9): header row, pandas index col first,
    columns ,player_id,player,time,key_passes,assists,shots,xG,xA,match_id.
    Zero-byte files are skipped by the reader automatically."""
    df = spark.read.option("header", True).csv(path_glob)
    return df.select(
        F.col("player_id").cast("int").alias("id"),
        F.col("player").alias("full_name"),
        F.col("time").cast("int").alias("min_played"),
        F.col("key_passes").cast("int").alias("key_passes"),
        F.col("assists").cast("int").alias("assists"),
        F.col("shots").cast("int").alias("shots"),
        F.col("xG").cast("decimal(18,2)").alias("xg"),
        F.col("xA").cast("decimal(18,2)").alias("xa"),
        F.col("match_id").cast("int").alias("match_id"),
    )


def max_id(df: DataFrame, id_col: str = "id") -> int:
    """S3 dynamic-cardinality discovery (includes.py:213-225): the fan-out
    bound, as an aggregate instead of elements[-1] indexing."""
    row = df.agg(F.coalesce(F.max(id_col), F.lit(0)).alias("m")).first()
    return int(row["m"])


def typed_fact_view(fact: DataFrame) -> DataFrame:
    """Typed accessor view over the numeric-as-string ICT columns
    (SURVEY.md §7.3.6): storage stays string for parity, analytics get
    decimals."""
    return fact.withColumns(
        {
            "influence_num": F.col("influence").cast("decimal(18,2)"),
            "creativity_num": F.col("creativity").cast("decimal(18,2)"),
            "threat_num": F.col("threat").cast("decimal(18,2)"),
            "ict_index_num": F.col("ict_index").cast("decimal(18,2)"),
        }
    )


# --- corrupt-record dead-letter routing --------------------------------------
# At-scale ingestion MUST route malformed records to a dead-letter set
# instead of failing the job (the reference's row loops just crash on bad
# JSON; includes.py has no malformed-payload path). Spark's JSON reader
# has PERMISSIVE mode built in: from_json yields NULL on parse failure, so
# routing is a null-split — one scan, two outputs. The registered query
# plants malformed payloads deterministically (doc_id-keyed, the injection
# protocol) in an otherwise-valid JSON stream and accounts both routes;
# the planted population is the oracle's ground truth.
from pyspark.sql import SparkSession as _SparkSession
from fpl_data_pipeline_spark.registry import register as _register
from fpl_data_pipeline_spark.tables import table as _table


@_register(
    "json_dead_letter_summary",
    """
    WITH payloads AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 13 = 0 THEN '{"n_chars": '
                  WHEN doc_id % 17 = 0 THEN 'not json at all'
                  ELSE '{"n_chars": ' || CAST(n_chars AS VARCHAR) || '}'
             END AS payload
      FROM documents
    ),
    parsed AS (
      SELECT source,
             CASE WHEN json_valid(payload)
                       AND json_type(payload) = 'OBJECT'
                  THEN CAST(json_extract(payload, '$.n_chars') AS BIGINT)
             END AS n_chars_parsed
      FROM payloads
    )
    SELECT source,
           COUNT(*) AS n_records,
           CAST(SUM(CASE WHEN n_chars_parsed IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dead_lettered,
           CAST(SUM(COALESCE(n_chars_parsed, 0)) AS BIGINT) AS chars_ingested
    FROM parsed
    GROUP BY source
    ORDER BY source
    """,
)
def json_dead_letter_summary(spark: _SparkSession, sf_dir: str) -> "DataFrame":
    """Per-source ingest accounting over a JSON stream with planted
    malformed payloads: records parsed vs dead-lettered, and the ingested
    measure total — the PERMISSIVE-mode split every 100 TB landing zone
    runs. On clean input the dead-letter side is empty."""
    d = _table(spark, sf_dir, "documents")
    payload = (
        F.when(F.col("doc_id") % 13 == 0, F.lit('{"n_chars": '))
        .when(F.col("doc_id") % 17 == 0, F.lit("not json at all"))
        .otherwise(
            F.concat(
                F.lit('{"n_chars": '), F.col("n_chars").cast("string"), F.lit("}")
            )
        )
    )
    parsed = d.select(
        "source",
        F.from_json(payload, "n_chars long").alias("p"),
    ).select("source", F.col("p.n_chars").alias("n_chars_parsed"))
    return (
        parsed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum(F.col("n_chars_parsed").isNull().cast("long")).alias(
                "n_dead_lettered"
            ),
            F.sum(F.coalesce(F.col("n_chars_parsed"), F.lit(0)))
            .cast("long")
            .alias("chars_ingested"),
        )
        .orderBy("source")
    )
