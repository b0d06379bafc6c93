"""The five dashboard queries (SURVEY.md §2.11) + the two ported reference
data-quality tests (§5.2.2) on FIXTURES.md synthetic tables, the detailed
query against its DuckDB oracle on degenerate stars, and the queries' plan
and construction shape."""

from __future__ import annotations

import glob
import math
import os
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from fpl_data_pipeline_spark.plans import fpl_queries as Q
from fpl_data_pipeline_spark.registry import ORACLE_SQL, QUERIES, load_all
from tests.conftest import SALAH_ID, N_WEEKS


def test_basic_ply_data_topk(player_dm):
    out = Q.basic_ply_data(player_dm).collect()
    assert len(out) == 9
    forms = [float(r["form"]) for r in out]
    assert forms == sorted(forms, reverse=True)
    # must equal the global top-9 by form (set-wise, ties broken by id)
    top = player_dm.orderBy(F.col("form").desc(), F.col("id").asc()).limit(9).collect()
    assert [r["surname"] for r in out] == [r["surname"] for r in top]


def test_value_per_points_derived_column(player_dm):
    out = Q.value_per_points(player_dm).collect()
    assert len(out) == 9
    for r in out:
        # point_value = total_points / now_costs * 10 at decimal(12,2)
        row = player_dm.filter(
            (F.col("name") == r["name"]) & (F.col("surname") == r["surname"])
        ).first()
        expected = float(row["total_points"]) / float(row["now_costs"]) * 10
        assert abs(float(r["point_value"]) - expected) < 0.01


def test_detailed_flagship_semantics(player_dm, team_dm, player_week_ft):
    out = Q.detailed_ply_data_per_week(player_dm, team_dm, player_week_ft)
    rows = out.collect()
    assert len(rows) == 15
    # gw_1/2/3 are the 3 latest DISTINCT weeks globally; spot-check one player
    r0 = rows[0]
    ply_id = r0["id"]
    fact = player_week_ft.filter(F.col("element_") == ply_id)
    latest = fact.filter(F.col("round_gw") == N_WEEKS).select("total_points").first()
    if latest is None:
        assert r0["gw_1"] is None  # player missed the latest week -> NULL not 0
    else:
        assert r0["gw_1"] == latest["total_points"]
    # total_points = coalesced lifetime sum
    total = fact.agg(F.sum("total_points")).first()[0] or 0
    assert r0["total_points"] == total
    # avg_4_weeks = sum(last-4-week points)/4 (constant divisor)
    last4 = (
        fact.filter(F.col("round_gw") > N_WEEKS - 4).agg(F.sum("total_points")).first()[0]
        or 0
    )
    assert abs(float(r0["avg_4_weeks"]) - last4 / 4) < 0.01


def test_detailed_missing_week_null_semantics(spark, player_dm, team_dm, player_week_ft):
    # A player present in old weeks but absent from the 3 latest must show
    # NULL gw_1/2/3 (not 0) — SURVEY.md §7.3.4.
    only_old = player_week_ft.filter(F.col("round_gw") <= N_WEEKS - 3)
    some_id = only_old.select("element_").first()["element_"]
    capped = player_week_ft.filter(
        (F.col("element_") != some_id) | (F.col("round_gw") <= N_WEEKS - 3)
    )
    out = Q.detailed_ply_data_per_week(player_dm, team_dm, capped, k=10_000)
    row = out.filter(F.col("id") == some_id).first()
    assert row["gw_1"] is None and row["gw_2"] is None and row["gw_3"] is None
    assert row["total_points"] is not None  # coalesced, never NULL


def test_stats_queries_shared_cte(player_stats_dm):
    kp = Q.sql_stats_key_pass(player_stats_dm).collect()
    sh = Q.sql_stats_shots(player_stats_dm).collect()
    assert len(kp) == 15 and len(sh) == 15
    kps = [r["key_pass"] for r in kp]
    assert kps == sorted(kps, reverse=True)
    shots = [r["shots"] for r in sh]
    assert shots == sorted(shots, reverse=True)
    # total_xi = xg + xa (A4 derived sum-of-sums)
    for r in kp:
        assert abs(float(r["total_xi"]) - (float(r["xg"]) + float(r["xa"]))) < 1e-9


def test_known_entity_lookup(player_dm):
    # reference test_includes.py:4-6 — Salah must resolve to id 283
    assert Q.get_player_id(player_dm, "Salah") == SALAH_ID


def test_join_integrity_clean(player_week_ft, player_dm):
    # reference test_includes.py:9-12 (intended anti-join semantics)
    assert Q.orphan_fact_rows(player_week_ft, player_dm) == 0


def test_join_integrity_detects_orphans(player_week_ft_dirty, player_dm):
    assert Q.orphan_fact_rows(player_week_ft_dirty, player_dm) == 3


def test_dashboard_payload_shape(player_dm, team_dm, player_week_ft):
    # Flask routes.py:40-45 output-shape parity
    p = Q.dashboard_payload(player_dm, team_dm, player_week_ft)
    assert len(p["graph_lab"]) == 9 and len(p["graph_val"]) == 9
    assert all(isinstance(v, float) for v in p["graph_val"])
    assert len(p["ply_data_detail"]) == 15


# --- the detailed query on degenerate stars, against its DuckDB oracle -------
# The registered fpl_detailed_week oracle keeps the reference's three
# separate aggregations (totals, last-3 pivot, last-4 average); the engine
# folds them into one. These stars hit the cases the 8-week fixture never
# does: no weeks at all, fewer than 3 or 4 distinct weeks, players with no
# fact rows or without the latest week, tied totals, and k past the roster.

N_STAR_PLAYERS = 6  # player 6 plays for a team that is not in team_dm


def _fact_row(pid: int, wk: int, points: int) -> dict:
    return {"element_": pid, "fixture": wk * 10 + pid, "total_points": points,
            "round_gw": wk, "bps": pid + 2 * wk, "minutes": 90}


def _degenerate_star(weeks, absent=(), skip=(), tied=False) -> dict:
    """A 6-player star: one fact row per player per week in ``weeks``,
    except players in ``absent`` (no rows) and the (player, week) pairs in
    ``skip``; ``tied`` gives every row the same points."""
    teams = [{"id": i, "name": f"Team {i}", "short_name": f"T{i}"} for i in (1, 2)]
    players = [
        {"id": i, "name": f"N{i}", "surname": f"S{i}", "form": Decimal("1.50"),
         "total_points": 0, "now_costs": Decimal("5.00"),
         "team_id": 99 if i == N_STAR_PLAYERS else 1 + i % 2, "position": "mid"}
        for i in range(1, N_STAR_PLAYERS + 1)
    ]
    fact = [
        _fact_row(pid, wk, 2 if tied else (pid * 7 + wk * 3) % 11)
        for pid in range(1, N_STAR_PLAYERS + 1) if pid not in absent
        for wk in weeks if (pid, wk) not in skip
    ]
    return {"player_dm": players, "team_dm": teams, "player_week_ft": fact}


DEGENERATE_STARS = {
    "empty_fact": _degenerate_star([]),
    "one_week": _degenerate_star([5]),
    "three_weeks": _degenerate_star([2, 5, 9]),
    "four_weeks": _degenerate_star([1, 2, 3, 4]),
    "no_rows_and_missing_latest": _degenerate_star(range(1, 7), absent={2}, skip={(3, 6)}),
    "tied_totals": _degenerate_star(range(1, 6), tied=True),
}


def _write_star(root: str, tables: dict) -> str:
    for name, rows in tables.items():
        os.makedirs(os.path.join(root, name))
        schema = to_arrow_schema(Q._FX_SCHEMAS[name])
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       os.path.join(root, name, "part-0.parquet"))
    return root


def _plain(df) -> list[tuple]:
    """Rows as tuples with numbers as float and NULL/NaN as None."""
    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        return v if isinstance(v, str) else float(v)
    return [tuple(cell(v) for v in r) for r in df.itertuples(index=False)]


@pytest.mark.parametrize("k", [2, 15, 100])
@pytest.mark.parametrize("case", sorted(DEGENERATE_STARS))
def test_detailed_matches_oracle_on_degenerate_stars(spark, tmp_path, case, k):
    star = _write_star(str(tmp_path / "star"), DEGENERATE_STARS[case])
    t = {n: spark.read.schema(Q._FX_SCHEMAS[n]).parquet(os.path.join(star, n))
         for n in DEGENERATE_STARS[case]}
    got = Q.detailed_ply_data_per_week(t["player_dm"], t["team_dm"], t["player_week_ft"], k=k)
    oracle = ORACLE_SQL["fpl_detailed_week"].replace(Q.FIXTURES_DIR, star)
    want = duckdb.connect().execute(oracle).fetchdf()
    assert len(want) == N_STAR_PLAYERS  # the oracle's LIMIT 15 keeps everyone
    got_pdf = got.toPandas()
    assert list(got_pdf.columns) == list(want.columns)
    assert _plain(got_pdf) == _plain(want.head(k))


# --- plan and construction shape ---------------------------------------------


def _job_count(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _fixture_star(spark) -> dict:
    return {n: Q._fx(spark, n) for n in ("player_dm", "team_dm", "player_week_ft", "player_stats_dm")}


def test_query_construction_runs_no_jobs_and_leaves_no_views(spark):
    t = _fixture_star(spark)
    views_before = {x.name for x in spark.catalog.listTables()}
    before = _job_count(spark)
    dfs = [
        Q.basic_ply_data(t["player_dm"]),
        Q.value_per_points(t["player_dm"]),
        Q.detailed_ply_data_per_week(t["player_dm"], t["team_dm"], t["player_week_ft"]),
        Q.sql_stats_key_pass(t["player_stats_dm"]),
        Q.sql_stats_shots(t["player_stats_dm"]),
    ]
    assert _job_count(spark) - before == 0
    # the DataFrame arguments' temporary views are gone once each call
    # returns: a long-lived server must not grow its catalog per page
    assert {x.name for x in spark.catalog.listTables()} == views_before
    assert all(df.schema.fieldNames() for df in dfs)


def test_registered_fpl_queries_read_fixtures_without_inference_jobs(spark):
    load_all()
    names = sorted(n for n in QUERIES if n.startswith("fpl_")) + ["typed_fact_view"]
    assert len(names) == 7
    for name in names:
        before = _job_count(spark)
        QUERIES[name](spark, "")
        assert _job_count(spark) - before == 0, name


@pytest.mark.parametrize("table", sorted(Q._FX_SCHEMAS))
def test_declared_schemas_match_fixture_footers(table):
    (path,) = glob.glob(os.path.join(Q.FIXTURES_DIR, table, "*.parquet"))
    footer = pq.read_schema(path)
    declared = to_arrow_schema(Q._FX_SCHEMAS[table])
    assert footer.names == declared.names
    assert footer.types == declared.types


def _subtree(lines: list[str], i: int) -> list[str]:
    """The plan-tree lines under node line ``i``: those that follow it and
    start deeper, up to the first that does not."""
    def depth(line):
        return len(line) - len(line.lstrip(" :|+-"))
    out = []
    for x in lines[i + 1:]:
        if x.startswith("==") or depth(x) <= depth(lines[i]):
            break
        out.append(x)
    return out


def test_detailed_query_plans_one_fact_aggregate(spark):
    t = _fixture_star(spark)
    df = Q.detailed_ply_data_per_week(t["player_dm"], t["team_dm"], t["player_week_ft"])
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    final_aggs = [
        i for i, x in enumerate(lines)
        if "HashAggregate(keys=[element_#" in x and "partial_" not in x
    ]
    assert len(final_aggs) == 1, "\n".join(lines)
    under = _subtree(lines, final_aggs[0])
    assert any("FileScan parquet" in x and "player_week_ft" in x for x in under)
    # the last-4 selector is a top-4 head over the distinct rounds
    assert any("TakeOrderedAndProject(limit=4" in x for x in under)
