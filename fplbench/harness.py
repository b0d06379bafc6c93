"""One benchmark process: pinned environment, the Spark session's whole
life (launch, restarts, shutdown), and the tally of attempted and failed
operations."""

from __future__ import annotations

import os
import shutil
import sys
import time

PINNED_DRIVER_MEMORY = "4g"


def pin_environment(root: str, workdir: str, trace: bool) -> dict[str, str]:
    """Set, before pyspark is imported, every variable the engine's
    ``get_spark`` reads, so each run uses the same session shape: all
    visible cores, local dirs inside the checkout, and a 4g JVM heap, well
    below the physical RAM of a small host. Returns what was set."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "SPARK_DRIVER_MEMORY": PINNED_DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    }
    if trace:
        # the event log is on for the whole traced run, through a
        # benchmark-owned spark-defaults.conf, so get_spark stays untouched
        conf_dir = os.path.join(workdir, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        os.makedirs(os.path.join(workdir, "eventlog"), exist_ok=True)
        with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
            f.write("spark.eventLog.enabled true\n")
            f.write("spark.eventLog.compress false\n")
            f.write("spark.eventLog.rolling.enabled false\n")
            f.write(f"spark.eventLog.dir file://{os.path.join(workdir, 'eventlog')}\n")
        env["SPARK_CONF_DIR"] = conf_dir
    for k in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS"):
        os.environ.pop(k, None)
    os.environ.update(env)
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    return env


class Overrun(BaseException):
    """The run passed its deadline. Not an ``Exception``, so the per-op
    handlers below let it through and it ends the run."""


class Harness:
    """Owns the Spark session and the operation tally of one run."""

    def __init__(self, workdir: str, trace: bool) -> None:
        self.workdir = workdir
        self.trace = trace
        self.event_dir = os.path.join(workdir, "eventlog")
        self.log_path = os.path.join(workdir, "spark.log")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    # -- session ------------------------------------------------------------

    def start(self) -> float:
        """(Re)start the engine's session; return the seconds it took. The
        first start launches the JVM with its stderr sent to spark.log, so
        Spark's ERROR lines can be counted afterwards."""
        from fpl_data_pipeline_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        if self.spark is None:
            saved = os.dup(2)
            log_fd = os.open(self.log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
            try:
                os.dup2(log_fd, 2)
                self.spark = get_spark("fplbench")
            finally:
                os.dup2(saved, 2)
                os.close(saved)
                os.close(log_fd)
        else:
            self.spark = get_spark("fplbench")
        return time.perf_counter() - t0

    def pids(self) -> list[int]:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return [os.getpid()] + ([proc.pid] if proc is not None else [])

    def close(self) -> None:
        """Stop the session, end the JVM and wait until it has exited (its
        Python workers exit with it)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- tally ----------------------------------------------------------------

    def attempt(self, ok: bool, what: str) -> bool:
        """Count one operation; a failed or wrong one counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    def op(self, what: str, fn, *args, **kw):
        """Run and count one operation; an exception counts as a failure.
        Returns (result or None, seconds)."""
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kw)
        except Exception as e:  # noqa: BLE001 - a failed operation is data
            self.attempt(False, f"{what}: {type(e).__name__}: {str(e)[:300]}")
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        self.attempt(True, what)
        return out, dt

    def check(self, what: str, fn, *args, **kw) -> bool:
        """Run one output check (a callable returning True when the output
        is right) and count it; an exception counts as a wrong output."""
        try:
            ok = bool(fn(*args, **kw))
        except Exception as e:  # noqa: BLE001 - a failed check is data
            return self.attempt(False, f"{what}: {type(e).__name__}: {str(e)[:300]}")
        return self.attempt(ok, what)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
