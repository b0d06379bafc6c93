"""Per-stage empirical profile of one registered query (guide §1.1/§7.1).

Runs the query with the Spark event log enabled, then parses the log into a
stage table: wall time, task-time sum, GC, shuffle read/write bytes, input
bytes — the UI's Stages tab, terminal edition (get_spark disables
spark.ui). Each rep prints its construction seconds and jobs (the DAG
scheduler's job-id delta around building the DataFrame) apart from its
execution seconds; rep0 carries JIT warm-up, so the summary line is the
median of reps 1 and on. The session is the engine's own get_spark(), so
plans match the bench; the event log is switched on by a run-owned
spark-defaults.conf found through SPARK_CONF_DIR, set before the JVM
starts.

Usage: python tools/profile_stages.py <query> [reps]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def enable_event_log(run_dir: str) -> str:
    """Write a spark-defaults.conf that turns the event log on into
    ``run_dir/events`` and point SPARK_CONF_DIR at it; returns the event
    directory. Must run before the session's JVM is launched."""
    evdir = os.path.join(run_dir, "events")
    os.makedirs(evdir)
    with open(os.path.join(run_dir, "spark-defaults.conf"), "w") as f:
        f.write("spark.eventLog.enabled true\n")
        f.write("spark.eventLog.compress false\n")
        f.write("spark.eventLog.rolling.enabled false\n")
        f.write(f"spark.eventLog.dir file://{evdir}\n")
    os.environ["SPARK_CONF_DIR"] = run_dir
    return evdir


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    run_dir = tempfile.mkdtemp(prefix="profile_stages_")
    evdir = enable_event_log(run_dir)

    os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]

    from fpl_data_pipeline_spark import get_spark
    from fpl_data_pipeline_spark.registry import QUERIES, load_all
    from fplbench.probe import median, next_job_id

    load_all()
    spark = get_spark(f"profile_{name}")
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["topk_basic"](spark, sf_dir).count()  # warm-up
    warm_end_job = next_job_id(spark)

    construct_s, construct_jobs, exec_s = [], [], []
    for i in range(reps):
        spark.sparkContext.setJobDescription(f"profile {name} rep{i}")
        j0 = next_job_id(spark)
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        construct_jobs.append(next_job_id(spark) - j0)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        construct_s.append(t1 - t0)
        exec_s.append(t2 - t1)
        print(
            f"rep{i}{' (warm-up)' if i == 0 else ''}: construct {t1 - t0:.3f}s"
            f" ({construct_jobs[-1]} jobs), exec {t2 - t1:.3f}s, total {t2 - t0:.3f}s"
        )
    if reps > 1:
        print(
            f"median of reps 1-{reps - 1}: construct {median(construct_s[1:]):.3f}s"
            f" ({median(construct_jobs[1:]):g} jobs), exec {median(exec_s[1:]):.3f}s,"
            f" total {median([c + e for c, e in zip(construct_s[1:], exec_s[1:])]):.3f}s"
        )
    spark.stop()

    # parse the event log (all post-warm-up stages); one application with
    # rolling off writes one file
    stages: dict = {}
    warm_stages: set = set()
    for path in glob.glob(os.path.join(evdir, "*")):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if ev.get("Job ID", 0) < warm_end_job:
                        for si in ev.get("Stage Infos", []):
                            warm_stages.add(si["Stage ID"])
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sid = si["Stage ID"]
                    if sid in warm_stages:
                        continue
                    sub, com = si.get("Submission Time"), si.get("Completion Time")
                    stages.setdefault(sid, {})
                    stages[sid].update(
                        {
                            "wall_s": (com - sub) / 1000.0 if sub and com else 0.0,
                            "tasks": si.get("Number of Tasks"),
                            "name": (si.get("Stage Name") or "").split("\n")[0][:80],
                        }
                    )
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    if sid in warm_stages:
                        continue
                    st = stages.setdefault(sid, {})
                    m = ev.get("Task Metrics") or {}
                    st["task_ms"] = st.get("task_ms", 0) + (
                        m.get("Executor Run Time", 0) or 0
                    )
                    st["gc_ms"] = st.get("gc_ms", 0) + (m.get("JVM GC Time", 0) or 0)
                    srm = m.get("Shuffle Read Metrics") or {}
                    st["sh_read"] = (
                        st.get("sh_read", 0)
                        + (srm.get("Remote Bytes Read", 0) or 0)
                        + (srm.get("Local Bytes Read", 0) or 0)
                    )
                    st["fetch_ms"] = st.get("fetch_ms", 0) + (
                        srm.get("Fetch Wait Time", 0) or 0
                    )
                    swm = m.get("Shuffle Write Metrics") or {}
                    st["sh_write"] = st.get("sh_write", 0) + (
                        swm.get("Shuffle Bytes Written", 0) or 0
                    )
                    im = m.get("Input Metrics") or {}
                    st["input"] = st.get("input", 0) + (im.get("Bytes Read", 0) or 0)

    shutil.rmtree(run_dir)

    rows = sorted(
        ((sid, st) for sid, st in stages.items() if st.get("task_ms")),
        key=lambda kv: -kv[1].get("task_ms", 0),
    )
    print(
        f"{'stage':>6} {'wall_s':>7} {'task_s':>8} {'gc_s':>6} {'tasks':>5} {'in_MB':>8}"
        f" {'shR_MB':>8} {'shW_MB':>8} {'fetch_s':>8}  name"
    )
    for sid, st in rows[:40]:
        print(
            f"{sid:>6} {st.get('wall_s') or 0:>7.2f} {st.get('task_ms', 0) / 1000:>8.2f}"
            f" {st.get('gc_ms', 0) / 1000:>6.2f} {st.get('tasks', 0):>5}"
            f" {st.get('input', 0) / 1048576:>8.1f}"
            f" {st.get('sh_read', 0) / 1048576:>8.1f} {st.get('sh_write', 0) / 1048576:>8.1f}"
            f" {st.get('fetch_ms', 0) / 1000:>8.2f}  {st.get('name', '')}"
        )


if __name__ == "__main__":
    main()
