"""The repo benchmark: FPL dashboard pages and analytics query passes,
measured end to end and layer by layer (the weekly ETL load layer by layer).

    python3 fplbench/run.py --workload {dashboard,analytics} --seed N \
        --seconds S --trace {0,1}
    python3 fplbench/run.py --smoke        # every workload, tiny inputs

Run from the repository root. Each run launches one Spark session on all
visible cores, builds its inputs from ``--seed`` inside ``.fplbench_work/``
(removed on exit), sets up three times (session start, writing the
inputs -- analytics also generates them there -- and a warm-up read) and
reports the median as ``setup_s``, then measures whole operations in a
closed loop with one client, and checks outputs outside the timed region. A dashboard run times pages, after ten untimed warm-up
pages, until ``--seconds`` have passed (always at least one); an analytics
run times exactly one pass, however long it takes.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones, shared by every workload:

* ``setup_s`` -- median of the three set-ups;
* ``op_p50_s`` -- median seconds of the workload's operation: a dashboard
  page, or the seconds of the one analytics pass.

Tail latency (the highest percentile with ten samples beyond it, or the
maximum when a run has too few samples) is printed on the line before, not
bounded: a run of this length holds too few operations for a steady tail.

With ``--trace 1`` the metrics are the per-layer ones (``catalog()``); the
event log is on for the whole run, only the jobs of the traced segment are
aggregated from it, and a per-layer metric of the other workload reads 0
(that layer did no work in this run). The line
before the last carries the workload's own readings (``page_p50_s``,
``pass_s``, ``relational_s``, ``corpus_s``, per-query seconds ...),
``error_rate``, ``peak_rss_mb``, input sizes, the pinned environment and
contention (steal%, load, other JVMs, Spark ERROR log lines).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "analytics")
SETUPS = 3
DEADLINE_S = 165  # a run must end within 180 s, shutdown included

SIZES = {
    "full": {
        "dashboard": {"players": 700, "understat": 40, "weeks": 38, "base_gw": 20, "replay_weeks": 1},
        "analytics": {"sf": 0.01},
    },
    "tiny": {
        "dashboard": {"players": 40, "understat": 5, "weeks": 6, "base_gw": 3, "replay_weeks": 1},
        "analytics": {"sf": 0.001},
    },
}

E2E = {"setup_s": "s", "op_p50_s": "s"}


def catalog() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    from analytics import CORPUS, RELATIONAL, TRACED_ONLY
    from dashboard import QUERY_NAMES

    out = {"session.start_s": "s", "dashboard.read_s": "s", "dashboard.read_jobs": "count"}
    for q in QUERY_NAMES:
        out.update({f"dashboard.{q}.construct_s": "s", f"dashboard.{q}.construct_jobs": "count",
                    f"dashboard.{q}.plan_s": "s", f"dashboard.{q}.collect_s": "s"})
    for q in RELATIONAL + CORPUS + TRACED_ONLY:
        out.update({f"analytics.{q}.construct_s": "s", f"analytics.{q}.construct_jobs": "count",
                    f"analytics.{q}.exec_s": "s"})
    for fam in ("relational", "corpus"):
        out[f"analytics.{fam}_s"] = "s"
        out.update({f"analytics.{fam}.plan_s": "s", f"analytics.{fam}.task_s": "s",
                    f"analytics.{fam}.shuffle_write_mb": "MB", f"analytics.{fam}.spill_mb": "MB",
                    f"analytics.{fam}.gc_s": "s", f"analytics.{fam}.peak_tasks": "count"})
    out["analytics.traced_pass_s"] = "s"
    out.update({"etl.week_run_s": "s", "etl.full_reload_s": "s", "etl.write_amp": "ratio",
                "etl.ingest.fact_s": "s", "etl.ingest.bootstrap_s": "s", "etl.upsert_s": "s",
                "etl.run_jobs": "count", "etl.bytes_written_mb": "MB", "etl.files_written": "count",
                "etl.task_s": "s", "etl.gc_s": "s"})
    return out


class Context:
    """What a workload needs from the run: its arguments, sizes and the
    repeated set-up."""

    def __init__(self, h, args, workdir: str) -> None:
        self.h = h
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.workdir = workdir
        self.size = SIZES[args.size][args.workload]
        self.traced_ops = 3

    def setup(self, fn) -> dict:
        """Set up ``SETUPS`` times -- (re)start the session, write the
        inputs, warm up -- and keep the median; the last set-up's inputs
        are the ones measured."""
        totals, starts, inputs = [], [], {}
        for i in range(SETUPS):
            s = self.h.start()
            t0 = time.perf_counter()
            inputs = fn(i)
            totals.append(s + time.perf_counter() - t0)
            starts.append(s)
        return {"setup_s": statistics.median(totals), "session_start_s": statistics.median(starts),
                "setup_samples_s": [round(x, 4) for x in totals], "inputs": inputs}


def run_workload(args) -> int:
    sys.path[:0] = [HERE, ROOT]
    import importlib
    import importlib.util

    for needed in ("fpl_data_pipeline_spark", "tools.parity"):
        if importlib.util.find_spec(needed) is None:
            print(f"fplbench: {needed} not found under {ROOT}; run from the repo root",
                  file=sys.stderr)
            return 2
    import probe
    from harness import Harness, Overrun, fresh_dir, pin_environment

    workdir = fresh_dir(os.path.join(ROOT, ".fplbench_work", f"{args.workload}-{os.getpid()}"))
    env = pin_environment(ROOT, workdir, bool(args.trace))
    mod = importlib.import_module(args.workload)
    h = Harness(workdir, bool(args.trace))
    contention = probe.Contention()

    overran = []

    def overrun(*_):
        overran.append(True)
        raise Overrun(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, overrun)
    signal.alarm(DEADLINE_S)
    try:
        ctx = Context(h, args, workdir)
        try:
            readings = mod.run(h, ctx)
        except BaseException as e:
            # a library may turn the interrupt into its own error
            if not overran:
                raise
            h.attempt(False, f"run exceeded {DEADLINE_S} s: {type(e).__name__}")
            print(json.dumps({"fplbench": {"problems": h.problems[-10:]}}))
            print(json.dumps({"correct": False, "attempted": h.attempted, "failed": h.failed,
                              "metrics": {}}))
            return 1
        finally:
            signal.alarm(0)
        rss = probe.peak_rss_mb(h.pids())
        cont = contention.report(set(h.pids()), h.log_path)
        h.close()
        spans = probe.event_log_by_span(h.event_dir) if args.trace else {}
    finally:
        h.close()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass

    if args.trace:
        layers = {name: 0.0 for name in catalog()}
        layers["session.start_s"] = readings["session_start_s"]
        layers.update(readings.get("layers", {}))
        for label in readings.get("event_spans", ()):
            agg = spans.get(label, {})
            if label == "etl.week":
                n = readings["traced_week_runs"]
                layers["etl.task_s"] = agg.get("task_s", 0.0) / n
                layers["etl.gc_s"] = agg.get("gc_s", 0.0) / n
            else:
                for k in ("task_s", "shuffle_write_mb", "spill_mb", "gc_s", "peak_tasks"):
                    layers[f"{label}.{k}"] = agg.get(k, 0.0)
        units = catalog()
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layers.items()}
    else:
        e2e = dict(readings["e2e"], setup_s=readings["setup_s"])
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E.items()}

    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "env": env,
        "inputs": readings["inputs"], "setup_samples_s": readings["setup_samples_s"],
        "readings": readings["workload"],
        "error_rate": h.failed / max(h.attempted, 1), "peak_rss_mb": rss,
        "contention": cont, "problems": h.problems[:10],
    }
    print(json.dumps({"fplbench": info}, default=str))
    print(json.dumps({"correct": h.failed == 0, "attempted": h.attempted, "failed": h.failed,
                      "metrics": metrics}))
    return 0


def smoke() -> int:
    """Run every workload at tiny size, untraced and traced, and assert
    that each named metric prints with its unit and every check passes."""
    sys.path[:0] = [HERE, ROOT]
    want = {0: E2E, 1: catalog()}
    bad = []
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", "7",
                   "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                bad.append(f"{w} trace={trace}: exit {p.returncode}, no result\n{p.stderr[-2000:]}")
                continue
            metrics = res.get("metrics", {})
            missing = [k for k, u in want[trace].items() if metrics.get(k, {}).get("unit") != u]
            if p.returncode or not res["correct"] or res["failed"] or missing:
                bad.append(f"{w} trace={trace}: rc={p.returncode} result={lines[-2:]} missing={missing}")
            else:
                print(f"smoke ok: {w} trace={trace} ({res['attempted']} ops, {len(metrics)} metrics)")
    for b in bad:
        print("smoke FAIL:", b)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
