"""End-to-end pipeline runner: the engine's equivalent of the reference DAG.

Reference task chain (pull_fpl_data_s3_postgre.py:85-87):

    create_db_schema_tables >> get_id_data >> pul_data_s3
      >> insert_team_data_postgre >> insert_gen_data_postgre
      >> insert_week_data_postgre >> insert_player_stats_postgre
      >> insert_week_inf_postgre

Engine mapping, in the same order:

1. DDL            -> warehouse directory layout (io.register_table optional)
2. get_id_data    -> ingest.max_id discovery over the landed bootstrap (S3)
3. pul_data_s3    -> spark.read of the landing zone (bootstrap + summaries +
                     understat CSVs) — landing IS the s3 bucket equivalent
4. team data      -> build_team_dm, keyed upsert on id
5. general data   -> build_player_dm, keyed upsert on id
6. week data      -> build_player_week_ft + incremental_load (high-water mark
                     + ``data_flow`` override protocol, upsert on
                     (element_, round_gw))
7. player stats   -> read_understat_csv, upsert on (id, match_id)
8. week info LAST -> build_week_info_dm, upsert on id — the reference loads
                     week_info after the fact so the next run's high-water
                     mark only advances once the week's fact rows landed

Every table publish is atomic (stage + rename, crash-recoverable) and every
load is an idempotent keyed merge, so run_pipeline(run_pipeline(X)) == X —
the reference gets the same property from per-row ON CONFLICT loops.

At 100 TB: each stage is one distributed job; the fact merge shuffles on its
key once; dims broadcast. Swap the parquet directory for a table format and
``_publish`` for its transactional commit and nothing else changes.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from fpl_data_pipeline_spark.operators.upsert import upsert
from fpl_data_pipeline_spark.sources import ingest
from fpl_data_pipeline_spark.sources.incremental_load import incremental_load

TABLES = ("team_dm", "player_dm", "player_week_ft", "player_stats_dm", "week_info_dm")


def recover(path: str) -> None:
    """Crash-recovery preamble, REQUIRED before any read of ``path``:
    if a previous publish crashed between its two renames (table renamed to
    .bak, stage never promoted), the table path is missing and .bak holds
    the only copy — restore it FIRST, then clean leftovers. Reading the
    table before this restore would treat it as absent and silently rebuild
    from the current batch alone, dropping all previously merged history."""
    stage, backup = path + ".stage", path + ".bak"
    if not os.path.exists(path) and os.path.exists(backup):
        os.rename(backup, path)
    for leftover in (stage, backup):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)


def _write_stage(df: DataFrame, path: str) -> str:
    """Materialize fully into the staging dir (runs the Spark job); the
    table itself is untouched until :func:`_promote`."""
    recover(path)
    stage = path + ".stage"
    df.write.mode("overwrite").parquet(stage)
    return stage


def _promote(path: str) -> None:
    """Atomic swap: table -> .bak, stage -> table, drop .bak."""
    stage, backup = path + ".stage", path + ".bak"
    if os.path.exists(path):
        os.rename(path, backup)
    os.rename(stage, path)
    if os.path.exists(backup):
        shutil.rmtree(backup)


def _publish(df: DataFrame, path: str) -> None:
    """Materialize fully into a staging dir, publish by atomic rename;
    ``recover`` restores a crash between the two renames."""
    _write_stage(df, path)
    _promote(path)


def _read_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    recover(path)
    return spark.read.parquet(path) if os.path.exists(path) else None


def _merge_publish(
    spark: SparkSession, batch: DataFrame, path: str, keys: list[str]
) -> DataFrame:
    base = _read_or_none(spark, path)  # _read_or_none runs recovery first
    merged = upsert(base, batch, keys) if base is not None else batch
    _publish(merged, path)
    return spark.read.parquet(path)


def run_pipeline(
    spark: SparkSession,
    landing_dir: str,
    warehouse_dir: str,
    data_flow: str | int | None = None,
) -> dict[str, DataFrame]:
    """One full pipeline run over a landed snapshot; returns the post-run
    table state. Safe to re-run (idempotent merges) and to point at a
    partially-landed zone (missing understat CSVs -> stats stage skipped)."""
    os.makedirs(warehouse_dir, exist_ok=True)
    p = lambda t: os.path.join(warehouse_dir, t)  # noqa: E731

    # land (pul_data_s3) + discovery (get_id_data)
    bootstrap = ingest.read_bootstrap(
        spark, os.path.join(landing_dir, "bootstrap_static.json")
    )
    players = ingest.build_player_dm(bootstrap)
    n_players = ingest.max_id(players)  # S3 fan-out bound; also sanity-gates landing
    if n_players == 0:
        raise ValueError(f"landing zone {landing_dir} has no players — aborting run")

    # 4. team_dm
    team_dm = _merge_publish(spark, ingest.build_team_dm(bootstrap), p("team_dm"), ["id"])
    # 5. player_dm
    player_dm = _merge_publish(spark, players, p("player_dm"), ["id"])

    # 6. player_week_ft (incremental protocol against the PREVIOUS week_info)
    summaries = ingest.read_element_summaries(
        spark, os.path.join(landing_dir, "summaries", "*.json")
    )
    fact_source = ingest.build_player_week_ft(summaries)
    base_fact = _read_or_none(spark, p("player_week_ft"))
    prev_week_info = _read_or_none(spark, p("week_info_dm"))
    if prev_week_info is None:
        prev_week_info = ingest.build_week_info_dm(bootstrap).limit(0)  # hwm = 0
    if base_fact is None:
        base_fact = fact_source.limit(0)
    merged_fact = incremental_load(base_fact, fact_source, prev_week_info, data_flow)
    # observe(): data-quality counters ride the publish job itself — no
    # second scan. The reference runs its checks as separate queries after
    # load; at 100 TB a free-rider metric is the difference between "checked"
    # and "re-read the table to check".
    obs = Observation("fact_publish")
    merged_fact = merged_fact.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("element_").isNull().cast("int")).alias("null_keys"),
        F.approx_count_distinct("round_gw").alias("n_weeks"),  # DISTINCT aggs are banned in observe(); the HLL sketch is the sanctioned form
    )
    # gate BEFORE promote: the stage write runs the job (observe() metrics
    # ride it for free), the quality check reads them, and only a passing
    # check swaps the table — a failing gate aborts with the previous table
    # intact instead of leaving a corrupt table live with its backup deleted
    stage = _write_stage(merged_fact, p("player_week_ft"))
    metrics = obs.get
    if metrics["null_keys"] not in (0, None):
        shutil.rmtree(stage)
        raise ValueError(f"fact publish wrote {metrics['null_keys']} NULL-keyed rows")
    _promote(p("player_week_ft"))
    player_week_ft = spark.read.parquet(p("player_week_ft"))

    # 7. player_stats_dm (understat scrape CSVs; optional in a landing zone)
    csv_glob = os.path.join(landing_dir, "scrapp_stat_data", "*.csv")
    if os.path.isdir(os.path.join(landing_dir, "scrapp_stat_data")):
        stats = ingest.read_understat_csv(spark, csv_glob)
        player_stats_dm = _merge_publish(
            spark, stats, p("player_stats_dm"), ["id", "match_id"]
        )
    else:
        player_stats_dm = _read_or_none(spark, p("player_stats_dm"))

    # 8. week_info_dm LAST: advances the high-water mark for the next run
    week_info_dm = _merge_publish(
        spark, ingest.build_week_info_dm(bootstrap), p("week_info_dm"), ["id"]
    )

    return {
        "team_dm": team_dm,
        "player_dm": player_dm,
        "player_week_ft": player_week_ft,
        "player_stats_dm": player_stats_dm,
        "week_info_dm": week_info_dm,
        "__metrics__": dict(metrics),
    }
