"""``dashboard``: the reference Flask route, one page at a time.

A page reads the four star tables, calls ``dashboard_payload`` (which
collects ``basic_ply_data``, ``value_per_points`` and
``detailed_ply_data_per_week``) and collects ``sql_stats_key_pass`` and
``sql_stats_shots`` with ``toPandas``: a closed loop with one client, as a
Flask worker waits on Spark. The traced run also times the weekly load that
refreshes such a star (``etl.py``), layer by layer.
"""

from __future__ import annotations

import os
import time

import duckdb
import pandas as pd

from fpl_data_pipeline_spark.plans import fpl_queries as Q

import etl
import gen
import probe
from frames import frames_match

TABLES = ("player_dm", "team_dm", "player_week_ft", "player_stats_dm")
QUERY_NAMES = ("basic_ply_data", "value_per_points", "detailed_ply_data_per_week",
               "sql_stats_key_pass", "sql_stats_shots")
# the registered oracle of each page query (written against the committed
# fixture star; pointed at the generated star by path substitution)
ORACLES = {
    "basic_ply_data": "fpl_basic_ply_data",
    "value_per_points": "fpl_value_per_points",
    "detailed_ply_data_per_week": "fpl_detailed_week",
    "sql_stats_key_pass": "fpl_stats_key_pass",
    "sql_stats_shots": "fpl_stats_shots",
}
WARMUP_PAGES = 10  # untimed pages after set-up, the checked one included


def read_star(spark, star: str) -> dict:
    return {t: spark.read.parquet(os.path.join(star, t)) for t in TABLES}


def _query_args(q: str, t: dict) -> tuple:
    if q == "detailed_ply_data_per_week":
        return t["player_dm"], t["team_dm"], t["player_week_ft"]
    if q.startswith("sql_stats"):
        return (t["player_stats_dm"],)
    return (t["player_dm"],)


def page(spark, star: str) -> tuple:
    t = read_star(spark, star)
    payload = Q.dashboard_payload(t["player_dm"], t["team_dm"], t["player_week_ft"])
    return (payload, Q.sql_stats_key_pass(t["player_stats_dm"]).toPandas(),
            Q.sql_stats_shots(t["player_stats_dm"]).toPandas())


def traced_page(spark, star: str, rec: dict) -> None:
    """The same page, query by query, with each query's layers timed:
    construct (the query-function call, and the jobs it runs), plan
    (forcing the executed plan) and collect (``toPandas``)."""
    j0 = probe.next_job_id(spark)
    t, dt = probe.timed(read_star, spark, star)
    rec.setdefault("read_s", []).append(dt)
    rec.setdefault("read_jobs", []).append(probe.next_job_id(spark) - j0)
    for q in QUERY_NAMES:
        fn = getattr(Q, q)
        j0 = probe.next_job_id(spark)
        df, c = probe.timed(fn, *_query_args(q, t))
        jobs = probe.next_job_id(spark) - j0
        _, p = probe.timed(lambda: df._jdf.queryExecution().executedPlan())
        _, x = probe.timed(df.toPandas)
        for k, v in (("construct_s", c), ("construct_jobs", jobs), ("plan_s", p), ("collect_s", x)):
            rec.setdefault(f"{q}.{k}", []).append(v)


def check_page(out: tuple, star: str) -> dict[str, bool]:
    """Compare one page against the registered fpl_* oracle SQL run by
    DuckDB over the generated star."""
    payload, key_pass, shots = out
    con = duckdb.connect()
    try:
        ref = {q: con.execute(_oracle_sql(o, star)).fetchdf() for q, o in ORACLES.items()}
    finally:
        con.close()
    basic, value = ref["basic_ply_data"], ref["value_per_points"]
    detail = pd.DataFrame(payload["ply_data_detail"])
    return {
        "basic_ply_data": payload["graph_lab"] == [f"{a} {b}" for a, b in zip(basic.name, basic.surname)]
        and _close(payload["graph_val"], basic.form),
        "value_per_points": payload["graph_lab_val"] == [f"{a} {b}" for a, b in zip(value.name, value.surname)]
        and _close(payload["graph_val_val"], value.point_value),
        "detailed_ply_data_per_week": list(detail.id) == list(ref["detailed_ply_data_per_week"].id)
        and frames_match(detail, ref["detailed_ply_data_per_week"]),
        "sql_stats_key_pass": frames_match(key_pass, ref["sql_stats_key_pass"]),
        "sql_stats_shots": frames_match(shots, ref["sql_stats_shots"]),
    }


def _oracle_sql(name: str, star: str) -> str:
    from fpl_data_pipeline_spark.registry import ORACLE_SQL

    return ORACLE_SQL[name].replace(Q.FIXTURES_DIR, star)


def _close(got: list, want) -> bool:
    want = [float(w) for w in want]
    return len(got) == len(want) and all(abs(float(a) - b) < 1e-9 for a, b in zip(got, want))


def run(h, ctx) -> dict:
    """Set up, check, measure. Returns the workload's readings."""
    star = ""
    # drawn once: each set-up writes the same season (benchmark-side Python
    # work, about 2 s, stays out of setup_s)
    season = gen.Season(ctx.seed, n_players=ctx.size["players"],
                        n_understat=ctx.size["understat"], n_weeks=ctx.size["weeks"])

    def setup(i: int) -> dict:
        nonlocal star
        star = os.path.join(ctx.workdir, f"star{i}")
        rows = season.write_star(star)
        for tname in TABLES:  # warm-up: the first read of every table
            h.spark.read.parquet(os.path.join(star, tname)).count()
        return {"rows": rows, "bytes": gen.tree_bytes(star)}

    readings = ctx.setup(setup)

    # the first warm-up page is checked outside the timed region; the rest
    # keep the JIT warm-up out of the measured pages: the first pages after
    # set-up are 20-40% slower, with a step down around the ninth, and a
    # median over pages on either side of it moved with where it fell
    out, _ = h.op("page (check)", page, h.spark, star)
    if out is not None:
        for q, ok in check_page(out, star).items():
            h.attempt(ok, f"dashboard check {q}")
    for _ in range(WARMUP_PAGES - 1):
        h.op("page (warm-up)", page, h.spark, star)

    pages: list[float] = []
    rec: dict[str, list] = {}
    if ctx.trace:
        # the traced run's pages are its measured pages, from the same warmed
        # state as an untraced run's; the tracing overhead is their
        # page_p50_s minus an untraced run's for the same seed
        for _ in range(ctx.traced_ops):
            _, dt = h.op("page (traced)", traced_page, h.spark, star, rec)
            pages.append(dt)
    else:
        deadline = time.perf_counter() + ctx.seconds
        while not pages or time.perf_counter() < deadline:
            _, dt = h.op("page", page, h.spark, star)
            pages.append(dt)
    tail, label = probe.tail(pages)
    readings["e2e"] = {"op_p50_s": probe.median(pages)}
    readings["workload"] = {"page_p50_s": probe.median(pages), "page_tail_s": tail,
                            "page_tail_percentile": label, "pages": len(pages),
                            "page_samples_s": [round(p, 4) for p in pages]}

    if ctx.trace:
        layers = {f"dashboard.{k}": probe.median(v) for k, v in rec.items()}
        load = etl.traced_layers(h, ctx, ctx.size)
        layers.update(load["layers"])
        readings["layers"] = layers
        readings["inputs"]["weekly_load"] = load["inputs"]
        readings["event_spans"] = ("etl.week",)
        readings["traced_week_runs"] = load["week_runs"]
    return readings
