"""Scrape extraction (S4/P13), incremental week loader protocol, catalog DDL
and layout writers (S12/M5)."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from fpl_data_pipeline_spark.sources import incremental_load as IL
from fpl_data_pipeline_spark.sources import io as EIO
from fpl_data_pipeline_spark.sources.scrape import extract_embedded_json, shots_to_stats


@pytest.fixture(scope="module")
def scraped_pages(spark):
    shots = [
        {"id": "1", "player": "Mo Salah", "player_id": "501", "minute": "12",
         "xG": "0.76", "result": "Goal", "h_a": "h"},
        {"id": "2", "player": "Mo Salah", "player_id": "501", "minute": "55",
         "xG": "0.12", "result": "Miss", "h_a": "h"},
        {"id": "3", "player": "Luis Díaz", "player_id": "502", "minute": "70",
         "xG": "0.33", "result": "Goal", "h_a": "a"},
    ]
    # payload as understat embeds it: ASCII JSON with \uNNNN escapes inside
    # JSON.parse('...') — json.dumps(ensure_ascii=True) produces exactly that
    payload = json.dumps(shots)
    html = (
        "<html><script>var x=1</script>"
        f"<script>var shotsData = JSON.parse('{payload}');</script></html>"
    )
    return spark.createDataFrame([(100, html)], ["match_id", "html"])


def test_extract_embedded_json(scraped_pages):
    out = extract_embedded_json(scraped_pages).collect()
    assert len(out) == 3
    diaz = next(r for r in out if r["player_id"] == "502")
    assert diaz["player"] == "Luis Díaz"  # \\u00ed unescaped by the UDF
    assert diaz["xG"] == "0.33"


def test_shots_to_stats(scraped_pages):
    stats = shots_to_stats(extract_embedded_json(scraped_pages)).collect()
    salah = next(r for r in stats if r["id"] == 501)
    assert salah["shots"] == 2
    assert abs(float(salah["xg"]) - 0.88) < 1e-9
    assert salah["last_shot_minute"] == 55


def test_high_water_mark(week_info_dm, spark):
    from tests.conftest import N_WEEKS

    assert IL.high_water_mark(week_info_dm) == N_WEEKS - 1  # last checked week
    empty = week_info_dm.limit(0)
    assert IL.high_water_mark(empty) == 0


def test_select_weeks_protocol(player_week_ft):
    total = player_week_ft.count()
    hwm = 6
    inc = IL.select_weeks(player_week_ft, hwm)
    assert inc.select(F.min("round_gw")).first()[0] == 7
    assert IL.select_weeks(player_week_ft, hwm, "All").count() == total
    assert IL.select_weeks(player_week_ft, hwm, "Skip").count() == 0
    only3 = IL.select_weeks(player_week_ft, hwm, 3)
    assert only3.select("round_gw").distinct().collect() == [
        type(only3.first())(round_gw=3)
    ] or only3.select("round_gw").distinct().first()[0] == 3


def test_incremental_load_idempotent(player_week_ft, week_info_dm):
    base = player_week_ft.filter(F.col("round_gw") <= 7)
    once = IL.incremental_load(base, player_week_ft, week_info_dm)
    twice = IL.incremental_load(once, player_week_ft, week_info_dm)
    assert once.count() == player_week_ft.count()
    assert twice.count() == player_week_ft.count()


def test_partitioned_write_and_pruning(spark, player_week_ft, tmp_path):
    path = str(tmp_path / "fact")
    EIO.write_partitioned(player_week_ft, path, ["round_gw"])
    back = spark.read.parquet(path)
    assert back.count() == player_week_ft.count()
    # partition pruning: the week filter must reach the scan as a
    # PartitionFilters entry, not a post-scan Filter
    plan = back.filter(F.col("round_gw") == 3)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(round_gw" in plan

    # dynamic overwrite of one week leaves others intact
    week3 = player_week_ft.filter(F.col("round_gw") == 3).withColumn(
        "total_points", F.lit(0)
    )
    EIO.write_partitioned(week3, path, ["round_gw"])
    back2 = spark.read.parquet(path)
    assert back2.count() == player_week_ft.count()
    assert back2.filter("round_gw = 3").agg(F.max("total_points")).first()[0] == 0
    assert back2.filter("round_gw = 4").agg(F.max("total_points")).first()[0] > 0


def test_catalog_ddl(spark, player_dm, tmp_path):
    EIO.create_schema(spark, "mylo")
    EIO.create_schema(spark, "mylo")  # idempotent
    path = str(tmp_path / "player_dm")
    player_dm.write.parquet(path)
    EIO.register_table(spark, "mylo.player_dm", path)
    EIO.register_table(spark, "mylo.player_dm", path)  # idempotent
    assert spark.sql("SELECT COUNT(*) FROM mylo.player_dm").first()[0] == player_dm.count()
    spark.sql("DROP TABLE mylo.player_dm")
    spark.sql("DROP DATABASE mylo")


def test_bucketed_join_avoids_exchange(spark, player_week_ft, tmp_path):
    """Two tables bucketed on the same key must sort-merge join with NO
    Exchange on either side (sources/bucketing.py::write_bucketed) — the
    structural proof of the co-located-join claim in ARCHITECTURE.md §1.6."""
    from fpl_data_pipeline_spark.sources.bucketing import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = player_week_ft.select("element_", "round_gw", "total_points")
        right = player_week_ft.select("element_", "round_gw", "minutes")
        write_bucketed(left, "bkt_left", ["element_"], 8, str(tmp_path / "bkt_left"))
        write_bucketed(right, "bkt_right", ["element_"], 8, str(tmp_path / "bkt_right"))
        l, r = spark.table("bkt_left"), spark.table("bkt_right")
        joined = l.join(r.withColumnRenamed("round_gw", "rg2"), "element_")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_json_corrupt_record_handling(spark, tmp_path):
    """Schema-on-read resilience (S7): malformed JSON docs land in
    _corrupt_record under PERMISSIVE mode instead of failing the job, and
    DROPMALFORMED keeps only the clean rows — the landing-zone contract for
    third-party feeds at scale."""
    import pyspark.sql.types as T

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "v": "ok"}\n'
        '{"id": 2, "v": "also ok"}\n'
        '{"id": 3, "v": broken!!}\n'
        'not json at all\n'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
        .cache()
    )
    good = df.filter("_corrupt_record IS NULL")
    bad = df.filter("_corrupt_record IS NOT NULL")
    assert good.count() == 2 and bad.count() == 2
    assert {r["id"] for r in good.collect()} == {1, 2}

    dropped = (
        spark.read.schema(T.StructType(schema.fields[:2]))
        .option("mode", "DROPMALFORMED")
        .json(str(p))
    )
    assert {r["id"] for r in dropped.collect()} == {1, 2}


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    """sources/io.py::compact — many tiny files rewritten into few, bytes
    and rows identical, publish atomic."""
    import glob

    from fpl_data_pipeline_spark.sources.io import compact

    p = str(tmp_path / "tiny")
    spark.range(10_000).selectExpr("id", "id * 2 AS v").repartition(64).write.parquet(p)
    before_files = glob.glob(f"{p}/*.parquet")
    assert len(before_files) == 64
    before = spark.read.parquet(p).selectExpr("sum(id)", "sum(v)", "count(*)").first()

    n = compact(spark, p, target_bytes_per_file=10 * 1024 * 1024)
    after_files = glob.glob(f"{p}/*.parquet")
    assert len(after_files) == n and n < 64
    after = spark.read.parquet(p).selectExpr("sum(id)", "sum(v)", "count(*)").first()
    assert before == after
    import os
    assert not os.path.exists(p + ".stage") and not os.path.exists(p + ".bak")


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Landing zones evolve: later batches add columns. mergeSchema unions
    the footers so old rows read as NULL in new columns — the append-only
    evolution contract (an incompatible type change still fails loudly)."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.mode("append").parquet(p)

    df = spark.read.option("mergeSchema", True).parquet(p)
    assert set(df.columns) == {"id", "v", "score"}
    rows = {r["id"]: (r["v"], r["score"]) for r in df.collect()}
    assert rows[1] == ("a", None) and rows[2] == ("b", 9.5)


def test_python_datasource_bootstrap(spark, tmp_path):
    """Spark 4 Python DataSource: the bootstrap feed as an engine-native
    format (sources/python_datasource.py) — partitioned read, declared
    schema, rows match the landed-file flattener."""
    import json

    from fpl_data_pipeline_spark.sources.python_datasource import (
        register_bootstrap_source,
    )

    doc = {"elements": [
        {"id": 1, "first_name": "Mo", "second_name": "Salah", "form": "8.5",
         "total_points": 200, "now_cost": 130, "team": 1, "element_type": 3},
        {"id": 2, "first_name": "Alisson", "second_name": "Becker", "form": "5.0",
         "total_points": 90, "now_cost": 55, "team": 1, "element_type": 1},
        {"id": 3, "first_name": "Virgil", "second_name": "VanDijk", "form": "6.1",
         "total_points": 120, "now_cost": 65, "team": 2, "element_type": 2},
    ]}
    path = tmp_path / "bootstrap_static.json"
    path.write_text(json.dumps(doc))

    register_bootstrap_source(spark)
    df = (
        spark.read.format("fpl_bootstrap")
        .option("path", str(path))
        .load()
    )
    assert df.rdd.getNumPartitions() == 4  # planned input partitions
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["second_name"] == "Salah" and rows[1]["element_type"] == 3
    # engine-native source feeds the same downstream flatteners
    assert df.filter("team = 1").count() == 2


def test_xml_scrape_surface(spark):
    """S4 scrape analog for XML feeds: from_xml with a declared schema —
    the same schema-on-read contract as the JSON landing path."""
    import pyspark.sql.functions as F

    x = spark.createDataFrame(
        [
            (1, "<player><name>Mo Salah</name><goals>12</goals></player>"),
            (2, "<player><name>Son</name><goals>9</goals></player>"),
        ],
        "id long, payload string",
    )
    parsed = x.select(
        "id", F.from_xml("payload", "name STRING, goals INT").alias("p")
    ).select("id", "p.name", "p.goals")
    rows = {r["id"]: (r["name"], r["goals"]) for r in parsed.collect()}
    assert rows == {1: ("Mo Salah", 12), 2: ("Son", 9)}


def test_file_provenance_metadata_column(spark, tmp_path):
    """Ingestion provenance via the hidden _metadata column: every row knows
    which landed file produced it — the lineage hook a 100 TB landing zone
    uses for quarantining a bad feed file without re-deriving anything."""
    import pyspark.sql.functions as F

    p = str(tmp_path / "multi")
    spark.range(0, 10).withColumn("part", F.lit("a")).coalesce(1).write.parquet(p)
    spark.range(10, 30).withColumn("part", F.lit("b")).coalesce(1).write.mode(
        "append"
    ).parquet(p)

    df = spark.read.parquet(p).select(
        "id", F.col("_metadata.file_name").alias("src_file")
    )
    per_file = {
        r["src_file"]: r["n"]
        for r in df.groupBy("src_file").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sorted(per_file.values()) == [10, 20]  # rows attributed per file
    assert all(f.endswith(".parquet") for f in per_file)
    # quarantine pattern: drop one file's rows by name, others untouched
    bad = max(per_file, key=per_file.get)
    kept = df.filter(F.col("src_file") != bad)
    assert kept.count() == min(per_file.values())
