"""Engine-native REST-shaped source via the Spark 4 Python DataSource API.

The reference's S1 ingestion is a driver-side ``requests.get`` that dumps
JSON to a bucket (includes.py bootstrap pull). This module makes that feed a
FIRST-CLASS Spark source instead: ``spark.read.format("fpl_bootstrap")``
plans real input partitions, each executor's reader pulls and flattens only
its shard, and the result is an ordinary DataFrame — no driver-side
collection, no pre-landing step in the hot path.

The reader here consumes the landed bootstrap JSON file (the test fixture /
offline contract). Swapping ``_load_doc`` for an HTTP GET with per-shard
pagination turns it into the live source with the identical partition and
schema contract — which is exactly the point of the DataSource API: the
engine-facing surface (schema, partitions, read) is independent of where
the bytes come from.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)

N_SHARDS = 4

BOOTSTRAP_PLAYER_SCHEMA = (
    "id INT, first_name STRING, second_name STRING, form STRING, "
    "total_points INT, now_cost INT, team INT, element_type INT"
)


POLITENESS_S = 0.2  # the reference sleeps 200 ms between pulls (includes.py:81)


def _http_get_json(url: str) -> dict:
    """The live transport: one HTTP GET returning a parsed JSON document —
    what the reference's requests.get(...)+json.loads does (includes.py:79-80),
    stdlib-only."""
    import json
    import urllib.request

    with urllib.request.urlopen(url) as r:
        return json.loads(r.read().decode("utf-8"))


def _load_doc(source: str) -> dict:
    """One fetch of a JSON document. Scheme-dispatched: http(s):// URLs go
    through the HTTP transport, anything else is a landed file — the SAME
    reader code serves the offline fixture contract and the live feed."""
    if source.startswith(("http://", "https://")):
        return _http_get_json(source)
    import json

    with open(source) as f:
        return json.load(f)


class BootstrapDataSource(DataSource):
    """spark.read.format("fpl_bootstrap").option("path", ...) source."""

    @classmethod
    def name(cls) -> str:
        return "fpl_bootstrap"

    def schema(self) -> str:
        return BOOTSTRAP_PLAYER_SCHEMA

    def reader(self, schema) -> "BootstrapReader":
        return BootstrapReader(self.options)


class BootstrapReader(DataSourceReader):
    def __init__(self, options, fetch=None):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("fpl_bootstrap source requires .option('path', ...)")
        # Injectable transport (tests pass a fake; None -> scheme-dispatched
        # file/HTTP). Stored on the instance so it is pickled out to the
        # executor-side Python workers with the reader.
        self.fetch = fetch or _load_doc

    def partitions(self):
        # Shard the element list by id so the flatten parallelizes; a live
        # HTTP source would map shards to page ranges instead.
        return [InputPartition(i) for i in range(N_SHARDS)]

    def read(self, partition):
        doc = self.fetch(self.path)
        shard = partition.value
        for e in doc.get("elements", []):
            if e["id"] % N_SHARDS != shard:
                continue
            yield (
                e.get("id"),
                e.get("first_name"),
                e.get("second_name"),
                e.get("form"),
                e.get("total_points"),
                e.get("now_cost"),
                e.get("team"),
                e.get("element_type"),
            )


def register_bootstrap_source(spark) -> None:
    """Idempotent registration of the custom source."""
    spark.dataSource.register(BootstrapDataSource)


# --- oracle-checked query through the custom source --------------------------
import os as _os

from pyspark.sql import DataFrame, SparkSession

from fpl_data_pipeline_spark.registry import register

_FIXTURE_BOOTSTRAP = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "fixtures",
    "bootstrap_static.json",
)


@register(
    "datasource_bootstrap_top_scorers",
    f"""
    WITH flat AS (
      SELECT u.id AS id, u.second_name AS surname,
             u.total_points AS total_points, u.team AS team
      FROM (SELECT unnest(elements) AS u FROM read_json_auto('{_FIXTURE_BOOTSTRAP}'))
    )
    SELECT id, surname, total_points, team
    FROM flat
    ORDER BY total_points DESC, id ASC
    LIMIT 10
    """,
)
def datasource_bootstrap_top_scorers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end through the CUSTOM Python DataSource: top-10 scorers read
    via spark.read.format('fpl_bootstrap') over the committed fixture feed —
    the oracle reads the same JSON document with DuckDB's JSON reader, so
    the source's partitioned flatten is value-checked, not just smoked."""
    import pyspark.sql.functions as F

    register_bootstrap_source(spark)
    df = (
        spark.read.format("fpl_bootstrap")
        .option("path", _FIXTURE_BOOTSTRAP)
        .load()
    )
    return (
        df.select(
            "id", F.col("second_name").alias("surname"), "total_points", "team"
        )
        .orderBy(F.col("total_points").desc(), F.col("id").asc())
        .limit(10)
    )


# --- per-key fan-out source (S2): one fetch per player id --------------------
# The reference's per-player pull is a driver-side loop: for each id,
# GET element-summary/{id}/, sleep 0.2 s, land the JSON (includes.py:77-86).
# Here that protocol is a first-class batch source: partitions() splits the
# id range round-robin across shards, each executor's reader performs ITS
# ids' fetches with the politeness delay between consecutive fetches
# (per-worker rate limiting — the reference's single loop serializes all of
# them), and the history[] flatten happens as the rows are yielded.

ELEMENT_WEEK_SCHEMA = (
    "element INT, fixture INT, round INT, total_points INT, minutes INT, value INT"
)
ELEMENT_SHARDS = 4


class ElementSummaryDataSource(DataSource):
    """spark.read.format('fpl_element_summary')
    .option('url_template', '.../element-summary/{id}/' or '<dir>/{id}.json')
    .option('num_players', N) — one fetch per id in 1..N."""

    @classmethod
    def name(cls) -> str:
        return "fpl_element_summary"

    def schema(self) -> str:
        return ELEMENT_WEEK_SCHEMA

    def reader(self, schema) -> "ElementSummaryReader":
        return ElementSummaryReader(self.options)


class ElementSummaryReader(DataSourceReader):
    def __init__(self, options, fetch=None, sleep=None):
        self.url_template = options.get("url_template")
        if not self.url_template or "{id}" not in self.url_template:
            raise ValueError(
                "fpl_element_summary requires .option('url_template', ...) "
                "containing '{id}'"
            )
        self.num_players = int(options.get("num_players", 0))
        if self.num_players <= 0:
            raise ValueError("fpl_element_summary requires .option('num_players', N > 0)")
        self.politeness_s = float(options.get("politeness_s", POLITENESS_S))
        self.shards = int(options.get("shards", ELEMENT_SHARDS))
        # Injectable transport + sleeper (pickled with the reader; tests pass
        # fakes, production leaves the scheme-dispatched fetch + time.sleep).
        self.fetch = fetch or _load_doc
        self.sleep = sleep

    def partitions(self):
        return [InputPartition(s) for s in range(self.shards)]

    def read(self, partition):
        import time

        sleep = self.sleep or time.sleep
        shard = partition.value
        first = True
        for pid in range(1, self.num_players + 1):
            if pid % self.shards != shard:
                continue
            if not first:
                # politeness delay BETWEEN consecutive fetches of this worker
                # (includes.py:81 — 0.2 s after every pull)
                sleep(self.politeness_s)
            first = False
            doc = self.fetch(self.url_template.format(id=pid))
            for h in doc.get("history", []):
                yield (
                    h.get("element"),
                    h.get("fixture"),
                    h.get("round"),
                    h.get("total_points"),
                    h.get("minutes"),
                    h.get("value"),
                )


def register_element_summary_source(spark) -> None:
    """Idempotent registration of the per-key fan-out source."""
    spark.dataSource.register(ElementSummaryDataSource)


# --- oracle-checked query through the per-key source -------------------------
_FIXTURE_SUMMARIES = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "fixtures",
    "element_summaries",
)
N_FIXTURE_SUMMARY_PLAYERS = 25


@register(
    "datasource_element_week_totals",
    f"""
    WITH hist AS (
      SELECT unnest(history) AS h
      FROM read_json_auto('{_FIXTURE_SUMMARIES}/*.json')
    )
    SELECT CAST(h.element AS INT) AS element,
           CAST(COUNT(*) AS BIGINT) AS n_weeks,
           CAST(SUM(h.total_points) AS BIGINT) AS total_points,
           CAST(SUM(h.minutes) AS BIGINT) AS total_minutes
    FROM hist
    GROUP BY 1
    ORDER BY total_points DESC, element ASC
    LIMIT 15
    """,
)
def datasource_element_week_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end through the CUSTOM per-key Python DataSource: per-player
    season totals read via spark.read.format('fpl_element_summary') fanning
    out over the committed per-player fixture docs (one fetch per id, the
    reference's element-summary pull protocol) — the oracle reads the same
    JSON documents with DuckDB's JSON reader, so the source's sharded
    per-key flatten is value-checked, not just smoked."""
    import pyspark.sql.functions as F

    register_element_summary_source(spark)
    df = (
        spark.read.format("fpl_element_summary")
        .option("url_template", _FIXTURE_SUMMARIES + "/{id}.json")
        .option("num_players", N_FIXTURE_SUMMARY_PLAYERS)
        .option("politeness_s", 0.0)
        .load()
    )
    return (
        df.groupBy("element")
        .agg(
            F.count(F.lit(1)).alias("n_weeks"),
            F.sum("total_points").alias("total_points"),
            F.sum("minutes").alias("total_minutes"),
        )
        .orderBy(F.col("total_points").desc(), F.col("element").asc())
        .limit(15)
    )
