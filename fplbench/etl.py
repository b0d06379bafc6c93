"""The weekly load behind the dashboard, timed layer by layer in the
dashboard workload's traced run.

It lands one snapshot per gameweek (bootstrap JSON, one element-summary
JSON per player, understat CSVs) and writes the warehouse as it stood
after the base gameweek. A cycle restores that warehouse, replays the next
gameweeks as one ``run_pipeline`` call each (the high-water-mark path:
each run upserts one new week into the growing fact table on
``(element_, round_gw)``) and ends with one ``data_flow="All"`` reload of
the last snapshot, where every fact key conflicts.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pyarrow.parquet as pq

from fpl_data_pipeline_spark.operators.upsert import upsert
from fpl_data_pipeline_spark.pipeline import run_pipeline
from fpl_data_pipeline_spark.sources import ingest

import gen
import probe
from harness import fresh_dir

KEYS = ["element_", "round_gw"]


def _files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (inode, size): a rewritten file has a new inode."""
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_ino, st.st_size)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present after that were not present before."""
    new = [v for p, v in after.items() if before.get(p) != v]
    return len(new), sum(size for _, size in new)


def fact_frame(wh: str):
    return pq.read_table(os.path.join(wh, "player_week_ft")).to_pandas()


def digest(df) -> str:
    body = df.sort_values(KEYS, ignore_index=True).to_csv(index=False).encode()
    return hashlib.sha1(body).hexdigest()


def cycle(h, land: dict[int, str], weeks: list[int], base_wh: str, wh: str, rec: dict) -> str:
    """Restore the base warehouse, replay ``weeks`` (their jobs tagged
    ``etl.week`` for the event log), then reload all. Appends per-run
    readings to ``rec``; returns the fact digest taken just before the
    reload, which must leave it unchanged."""
    shutil.rmtree(wh, ignore_errors=True)
    shutil.copytree(base_wh, wh)
    total = 0
    for g in weeks:
        before, j0 = _files(wh), probe.next_job_id(h.spark)
        with probe.span(h.spark, "etl.week"):
            _, dt = h.op(f"pipeline run gw{g}", run_pipeline, h.spark, land[g], wh)
        files, nbytes = written(before, _files(wh))
        total += nbytes
        for k, v in (("week_run_s", dt), ("run_jobs", probe.next_job_id(h.spark) - j0),
                     ("files_written", files), ("bytes_written_mb", nbytes / 1e6)):
            rec.setdefault(k, []).append(v)
    pre = digest(fact_frame(wh))
    before = _files(wh)
    _, dt = h.op("pipeline run All", run_pipeline, h.spark, land[weeks[-1]], wh, data_flow="All")
    total += written(before, _files(wh))[1]
    rec.setdefault("full_reload_s", []).append(dt)
    rec.setdefault("write_amp", []).append(total / max(gen.tree_bytes(wh), 1))
    return pre


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def layer_probes(h, landing: str, wh: str, batch_path: str, reps: int = 2) -> dict:
    """Time the ingest and upsert layers alone, each to the noop sink."""
    spark, out = h.spark, {}

    def fact():
        noop(ingest.build_player_week_ft(
            ingest.read_element_summaries(spark, os.path.join(landing, "summaries", "*.json"))))

    def bootstrap():
        b = ingest.read_bootstrap(spark, os.path.join(landing, "bootstrap_static.json"))
        for build in (ingest.build_player_dm, ingest.build_team_dm, ingest.build_week_info_dm):
            noop(build(b))

    def merge():
        noop(upsert(spark.read.parquet(os.path.join(wh, "player_week_ft")),
                    spark.read.parquet(batch_path), KEYS))

    for name, fn in (("etl.ingest.fact_s", fact), ("etl.ingest.bootstrap_s", bootstrap),
                     ("etl.upsert_s", merge)):
        out[name] = probe.median([h.op(name, fn)[1] for _ in range(reps)])
    return out


def traced_layers(h, ctx, sz: dict) -> dict:
    """Land the snapshots, write the base warehouse, run one cycle with
    the event log tagging its weekly runs, check the result, then time
    the ingest and upsert layers alone. Returns per-layer readings."""
    base_gw, n_replay = sz["base_gw"], sz["replay_weeks"]
    weeks = list(range(base_gw + 1, base_gw + n_replay + 1))
    season = gen.Season(ctx.seed, n_players=sz["players"], n_understat=sz["understat"],
                        n_weeks=sz["weeks"])
    root = fresh_dir(os.path.join(ctx.workdir, "landing"))
    land = {g: os.path.join(root, f"gw{g:02d}") for g in [base_gw] + weeks}
    inputs = {f"gw{g:02d}": season.write_landing(d, g) for g, d in land.items()}
    base_wh = os.path.join(ctx.workdir, "warehouse_base")
    wh = os.path.join(ctx.workdir, "warehouse")
    inputs["base_warehouse_rows"] = season.write_star(base_wh, base_gw)

    rec: dict[str, list] = {}
    pre = cycle(h, land, weeks, base_wh, wh, rec)
    fact = fact_frame(wh)
    want = {(x["element"], x["round"]) for x in season.history_upto(weeks[-1])}
    got = set(zip(fact.element_.tolist(), fact.round_gw.tolist()))
    h.attempt(not fact.duplicated(KEYS).any(), "etl check: fact keys unique")
    h.attempt(not fact[KEYS].isna().any().any(), "etl check: no NULL fact keys")
    h.attempt(len(fact) == len(want), f"etl check: fact rows {len(fact)} == generated {len(want)}")
    h.attempt(got == want, "etl check: fact keys equal the generated keys")
    h.attempt(digest(fact) == pre, "etl check: All reload leaves the fact table identical")
    inputs["final_warehouse_bytes"] = gen.tree_bytes(wh)

    lay = {f"etl.{k}": probe.median(rec[k]) for k in
           ("week_run_s", "full_reload_s", "write_amp", "run_jobs", "files_written", "bytes_written_mb")}
    batch_path = os.path.join(ctx.workdir, "one_week_batch")
    h.spark.read.parquet(os.path.join(wh, "player_week_ft")).filter(
        f"round_gw = {weeks[-1]}").write.mode("overwrite").parquet(batch_path)
    lay.update(layer_probes(h, land[weeks[-1]], base_wh, batch_path))
    return {"layers": lay, "inputs": inputs, "week_runs": len(weeks)}
