"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE COMPACT JSON line (last line of stdout, < 2 KB so the driver's
tail capture never truncates it — BENCH_r04.json recorded "parsed": null
because the old line carried per-query spread + a full sf1-equivalent block
and overflowed the capture):

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "reps": R, "load": {...}, "contended": bool[, "quiet_ref": {...}]}

"contended" is true when the run's steal%% exceeded the per-rep gate or
suspect reps stood at the retry bound; a contended artifact embeds the last
quiet run's reference numbers (BENCH_QUIET.json, refreshed by every quiet
default-scale run) so it carries its own cross-check.

Everything non-essential (per-query spread, the optional 10x sf1-equivalent
pass, raw per-rep timings) goes to BENCH_DETAIL.json next to this file.

Each query is executed to completion (count() forces the full plan, including
exchanges and final projection) after a warm-up that loads the JVM + parquet
footers so we measure query execution, not session startup.

Round-2 verdict asked for n>=3 with per-query variance; reps run as
interleaved full passes so JVM warmth is spread evenly; "queries" reports the
per-query MEDIAN, "value" the sum of medians.  Round-4 verdict asked for
verifiable noise attribution: "load" records os.getloadavg() before/after and
the count of concurrent JVMs, so contention claims are checkable from the
artifact itself.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fpl_data_pipeline_spark import get_spark
from fpl_data_pipeline_spark.registry import QUERIES, load_all

# Headline set: the flagship CTE pipeline, the heavy scan-agg, the 5-way join,
# the join+agg top-k, a fact-sized window, and the scale-track extension ops.
HEADLINE = [
    "flagship_customer_activity",
    "agg_pricing_summary",
    "join_multiway_revenue",
    "topk_order_revenue",
    "window_moving_sum",
    "agg_supplier_stats",
    "dedup_minhash_pairs",
    "text_quality_scores",
    "ann_cosine_topk",
    "dedup_winnowing_pairs",
    "quality_repetition_signals",
    "emb_neardup_pairs",
    "source_token_divergence",
    "pii_scrub_summary",
    "hybrid_search_topk",
    # round-4 late additions: the provable-recall similarity join and the
    # iterative graph op — the two heaviest new plan shapes
    "dedup_prefix_filter_pairs",
    "pagerank_dupgraph",
    # round-4 continuation additions: the pandas-UDF tokenizer encode
    # (vocab-first collapse) and the largest new pair join (CF co-occur)
    "wordpiece_encode_stats",
    "cf_item_similarity",
]


def _cpu_canary_ms() -> float:
    """Fixed single-thread CPU workload (integer hashing loop), wall ms.

    A machine-speed calibration constant for cross-round comparison: the
    same VM class can differ run-to-run (burstable credits, thermal
    throttle, noisy neighbors), and round-6 observed code-identical
    queries drifting 1.5-2.4x between sessions. The canary makes that
    visible inside the artifact itself — if canary_ms grew 1.8x vs the
    previous round's artifact, a 1.8x query drift is the machine, not a
    plan regression."""
    t0 = time.perf_counter()
    h = 0
    for i in range(2_000_000):
        h = (h * 1315423911 + i) & 0xFFFFFFFFFFFFFFFF
    return round((time.perf_counter() - t0) * 1000, 1)


def _short_canary_ms() -> float:
    """1/4-size canary (~60 ms idle) cheap enough to run around EVERY
    query rep. Round-7 verdict task #4: the box takes external load
    bursts MID-run (minhash [4.7, 19.5, 7.8] in one session), so gating
    only the run start lets a burst land inside a rep and skew the
    committed median. The inline canary runs on the driver thread while
    our own executors are idle (before/after the rep, never during), so
    a slow reading means EXTERNAL contention, not self-load."""
    t0 = time.perf_counter()
    h = 0
    for i in range(500_000):
        h = (h * 1315423911 + i) & 0xFFFFFFFFFFFFFFFF
    return (time.perf_counter() - t0) * 1000


def _gated_rep(fn, base_ms: float, budget: list, max_attempts: int = 3):
    """(seconds, discarded, suspect): time one rep, discarding and
    re-running it when the surrounding inline canaries exceed 1.2x the
    run-start baseline (an external burst overlapped the rep) OR when the
    hypervisor steal%% measured ACROSS the rep exceeds
    SPARK_GRAFT_BENCH_MAX_STEAL_PCT (default 1.0) — the round-9 failure
    mode the canary cannot see: single-thread speed fine, the 32-thread
    workload starved (BENCH_r09 carried steal 5.15%% and an unattributed
    sf1-equiv x1.7; the gate moves that discard decision into the rep
    loop instead of leaving it to the report). Bounded twice over:
    max_attempts per rep, and ``budget`` (a mutable [n] re-run allowance
    shared across the whole run) so a permanently busy host costs at most
    budget[0] extra reps total, never attempts x reps — the driver's
    bench timeout is unknown and must not be consumed by retries. When
    either bound trips, the last timing stands flagged suspect, and the
    artifact self-reports."""
    max_steal = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_STEAL_PCT", "1.0"))
    discarded = 0
    for attempt in range(max_attempts):
        pre = _short_canary_ms()
        steal0, jiff0 = _cpu_jiffies()
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        steal1, jiff1 = _cpu_jiffies()
        rep_steal = 100.0 * (steal1 - steal0) / max(jiff1 - jiff0, 1)
        post = _short_canary_ms()
        if pre <= 1.2 * base_ms and post <= 1.2 * base_ms and rep_steal <= max_steal:
            return dt, discarded, False
        # only spend budget when another attempt will actually run:
        # the final attempt's timing stands (flagged suspect) either way,
        # so decrementing for it would deplete the allowance faster than
        # the re-runs it is documented to bound (round-8 ADVICE).
        if attempt == max_attempts - 1 or budget[0] <= 0:
            return dt, discarded, True
        budget[0] -= 1
        discarded += 1


class _TaskSampler:
    """Polls the Spark status tracker on a side thread while a rep runs and
    records the PEAK number of concurrently-active tasks (sum of
    numActiveTasks over active stages).

    Round-11 verdict task #2: the driver's low-core scaling probe read all
    ratios ~1 and flagged ``suspect_cpus_ignored`` — the $SPARK_GRAFT_CPUS
    env IS honored (session.py builds local[$SPARK_GRAFT_CPUS]), but
    nothing in the artifact could PROVE task-level parallelism. The per-
    query peak makes core usage visible inside the artifact itself: a
    32-core run shows peaks near 32 on the parallel queries, an 8-core run
    caps at 8. Polling is a couple of py4j calls every ~10 ms from a
    thread that sleeps otherwise — negligible next to 32 task slots, and
    identical overhead across rounds/core-counts so comparisons hold.

    peak_tasks is a best-effort upper-bound indicator, not an exact count:
    watch()/pause() are not synchronized with the sampling loop, so
    straggler tasks of the previous rep can be credited to the next
    query, peaks accumulate across discarded gated retries, and a stage
    shorter than one poll can be missed."""

    def __init__(self, sc) -> None:
        self._tracker = sc.statusTracker()
        self._lock = threading.Lock()
        self.peaks: dict = {}
        self._stop = threading.Event()
        self._name: str | None = None
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            name = self._name
            if name is not None:
                try:
                    active = 0
                    for sid in self._tracker.getActiveStageIds():
                        info = self._tracker.getStageInfo(sid)
                        if info is not None:
                            active += info.numActiveTasks
                    if active:
                        with self._lock:
                            if active > self.peaks.get(name, 0):
                                self.peaks[name] = active
                except Exception:
                    pass  # tracker races with stage completion; skip sample
            time.sleep(0.01)

    def watch(self, name: str) -> None:
        self._name = name

    def pause(self) -> None:
        self._name = None

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=1)


def _cpu_jiffies() -> tuple:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line — the
    hypervisor-contention counter the single-thread canary cannot see.
    Round-9 motivation: a session recorded canaries FASTER than the prior
    round (230-250 ms vs 264.8) while every 32-thread query read 15-30%
    slower — single-thread speed was fine, the parallel workload was
    starved (steal / memory bandwidth). Reporting the run's steal% makes
    that machine state visible inside the artifact."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def _run_steal_pct(steal0: int, jiff0: int) -> float:
    """Whole-run steal%% from a run-start snapshot and ONE end snapshot —
    two _cpu_jiffies() calls at report time would take the steal and total
    deltas from different /proc/stat reads (round-9 ADVICE low)."""
    steal1, jiff1 = _cpu_jiffies()
    return round(100.0 * (steal1 - steal0) / max(jiff1 - jiff0, 1), 2)


def _jvm_count() -> int:
    """Concurrent JVMs on the host (contention evidence for the bench JSON)."""
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    n += 1
        except OSError:
            continue
    return n


def _prime_page_cache(path: str) -> float:
    """Read every byte under ``path`` into the OS page cache; returns MB
    read. The sf1-equivalent section's always-warm protocol: timing starts
    only after the 10x parquet is resident, so the committed figure no
    longer depends on whether the scratch dir was rebuilt this session
    (the 72-148 s round-6 spread)."""
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            fp = os.path.join(root, fn)
            try:
                with open(fp, "rb") as f:
                    while chunk := f.read(1 << 23):
                        total += len(chunk)
            except OSError:
                continue
    return round(total / 1048576, 1)


def _wait_for_idle(threshold: float, max_wait_s: float) -> int:
    """Block until the 1-min loadavg drops under ``threshold`` (bounded by
    ``max_wait_s``); returns the number of 30 s waits taken.

    Rounds 2-5 each needed a 'captured under contention' footnote because
    the committed gate number was snapshotted while another JVM held the
    box (round-5 verdict #4: BENCH_r05 recorded loadavg 6.4 vs the quiet
    10-minutes-later number). Waiting is cheaper than explaining: the
    driver-visible number should BE the quiet-window number. Bounded so a
    permanently busy host still produces an artifact — the load block then
    records the contention it could not avoid."""
    waits = 0
    deadline = time.monotonic() + max_wait_s
    while time.monotonic() < deadline:
        one, five, _ = os.getloadavg()
        # the 5-min average catches the just-finished-a-big-run drain state
        # where the 1-min has already decayed but caches/GC are still hot
        # (the first round-6 gate pass at 1-min 1.2 / 5-min 6.0 measured
        # flagship 3x its quiet cost)
        if one <= threshold and five <= threshold * 1.75:
            break
        time.sleep(30)
        waits += 1
    return waits


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    load_all()
    # max wait defaults to 5 min: enough for a just-finished run's 5-min
    # loadavg to halve, short enough that the driver's own bench timeout
    # (unknown to us) is never consumed by sleeping — a timed-out artifact
    # would regress the parsed-null gate failure round 5 fixed. A truly
    # busy host proceeds after the bound and self-reports via the load
    # block (idle_waits at the cap + loadavg_before still high).
    idle_waits = _wait_for_idle(
        threshold=float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0")),
        max_wait_s=float(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT_S", "300")),
    )
    load_before = os.getloadavg()
    jvms_before = _jvm_count()
    steal0, jiff0 = _cpu_jiffies()
    spark = get_spark("bench")
    # Keep stdout clean for the driver's tail capture: no stage-progress
    # carriage-return bars, no WARN chatter after session start.
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up: JVM codegen + parquet footer reads, cheapest registered query.
    QUERIES["topk_basic"](spark, sf_dir).count()

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    runs: dict[str, list[float]] = {n: [] for n in HEADLINE if n in QUERIES}
    # run-start baseline for the per-rep canary gate: best of 3 (the MIN is
    # the machine's true idle speed; any mean would bake a burst into the
    # baseline and blind the gate)
    base_ms = min(_short_canary_ms() for _ in range(3))
    discarded: dict[str, int] = {n: 0 for n in runs}
    suspect: dict[str, int] = {n: 0 for n in runs}
    # global re-run allowance: at most ~60% extra reps across the run
    retry_budget = [max(10, (reps * len(runs)) * 6 // 10)]
    sampler = _TaskSampler(spark.sparkContext)
    for _ in range(reps):
        for name in runs:
            sampler.watch(name)
            dt, disc, sus = _gated_rep(
                lambda n=name: QUERIES[n](spark, sf_dir).count(),
                base_ms,
                retry_budget,
            )
            sampler.pause()
            runs[name].append(dt)
            discarded[name] += disc
            suspect[name] += int(sus)
    sampler.close()

    timings = {n: round(statistics.median(ts), 3) for n, ts in runs.items()}
    total = round(sum(timings.values()), 3)
    load_after = os.getloadavg()
    run_steal = _run_steal_pct(steal0, jiff0)
    max_steal = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_STEAL_PCT", "1.0"))
    n_suspect = sum(suspect.values())
    # round-10 verdict task #4: a contended window must say so IN the
    # committed artifact, with the quiet-window cross-reference attached —
    # not in a side note. "Contended" = the whole-run steal exceeded the
    # per-rep gate's bound, or suspect reps stood because the retry budget
    # exhausted. A quiet run refreshes BENCH_QUIET.json (committed), so
    # the next contended artifact can carry the quiet numbers itself.
    contended = run_steal > max_steal or n_suspect > 0
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "reps": reps,
        # contention evidence: 1-min loadavg before/after and concurrent JVM
        # count (this bench's own JVM is +1 in jvms_after)
        "load": {
            "loadavg_before": round(load_before[0], 1),
            "loadavg_after": round(load_after[0], 1),
            "jvms_before": jvms_before,
            "jvms_after": _jvm_count(),
            # 30 s sleeps taken by the wait-for-idle gate before starting;
            # loadavg_before is measured AFTER the wait, so a high value
            # here means the bounded wait expired on a busy host
            "idle_waits": idle_waits,
            # single-thread CPU calibration (see _cpu_canary_ms): compare
            # across rounds before attributing query drift to plans
            "cpu_canary_ms": _cpu_canary_ms(),
            # per-rep canary gate (round-8): reps whose surrounding inline
            # canaries read >1.2x the run-start baseline were discarded and
            # re-run (external burst overlapped the rep); suspect = reps
            # that stood despite failing the gate at the retry bound
            "reps_discarded": sum(discarded.values()),
            "reps_suspect": sum(suspect.values()),
            # hypervisor steal% over the whole run (see _cpu_jiffies),
            # both deltas from ONE end snapshot (round-9 ADVICE): >~1%
            # explains slow-parallel/fast-canary sessions; reps whose own
            # steal exceeded the bound were already discarded in-loop
            "steal_pct": run_steal,
        },
        "contended": contended,
        # round-11 verdict task #2: prove the core-count contract from the
        # artifact itself — the session's defaultParallelism (local[N] => N)
        # and the per-query PEAK concurrently-active task count sampled
        # while each rep ran (see _TaskSampler). An 8-core driver probe
        # shows peaks capped at 8 here; 32-core runs reach ~32 on the
        # parallel queries (overhead-bound sub-second queries legitimately
        # peak lower at sf0.1 — few input splits, AQE-coalesced shuffles).
        "parallelism": {
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "peak_tasks": {n: sampler.peaks.get(n, 0) for n in runs},
        },
    }

    detail: dict = {
        "peak_tasks": dict(sampler.peaks),
        "raw_runs": {n: [round(t, 3) for t in ts] for n, ts in runs.items()},
        "spread": {n: round(max(ts) - min(ts), 3) for n, ts in runs.items()},
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "rep_gate": {
            "base_short_canary_ms": round(base_ms, 1),
            "retry_budget_left": retry_budget[0],
            "discarded_by_query": {n: c for n, c in discarded.items() if c},
            "suspect_by_query": {n: c for n, c in suspect.items() if c},
        },
    }

    # sf1-equivalent pass (round-3 verdict #7): when the 10x FK-consistent
    # blowup of sf0.1 is on disk (tools/make_blowup.py, gitignored scratch)
    # and we're benching the default sf0.1, run the same headline over it
    # so the per-round record carries both scales. Goes to
    # BENCH_DETAIL.json only (never the driver line). Skipped when absent.
    #
    # Protocol (round-7, verdict task #5): ALWAYS-WARM. The old min-of-2
    # figure swung 72-148 s round-to-round purely with OS page-cache state
    # (a freshly rebuilt .scale10 is cold; a reused one is warm), which
    # made the number useless as a gate. Now every byte of the blowup dir
    # is read into the page cache BEFORE timing (the data is ~1/30 of this
    # box's RAM, and a steady-state cluster's hot working set is the
    # analogous condition), then 3 timed reps are summarized by per-query
    # MEDIAN. The artifact carries the protocol tag, the primed volume and
    # the across-rep total spread so a drifting number self-reports.
    blown = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scale10")
    if sf_dir == "/root/testdata/sf0.1" and os.path.isdir(blown):
        # pagerank_dupgraph is excluded HERE (kept in the sf0.1 headline):
        # on the blowup corpus its cost is output-bound — every copy-family
        # is a true 10-clique, so it would measure the planted duplicate
        # population (~35 s), not engine overhead. tools/scale_probe.py
        # records its growth honestly (pair ratio vs time ratio) at both
        # scales. dedup_prefix_filter_pairs was excluded for the same
        # reason at ~75 s; the round-5 xxhash64 keying brought it to ~7 s
        # warm (cheaper than the included winnowing), so it is back in.
        primed_mb = _prime_page_cache(blown)
        sf1_skip = {"pagerank_dupgraph"}
        t10: dict[str, list[float]] = {n: [] for n in runs if n not in sf1_skip}
        # one UNTIMED warm-up pass: the page cache alone is not the whole
        # one-off cost — the first execution of each 10x plan pays JIT /
        # codegen / shuffle-file creation (measured rep totals 109 -> 93 ->
        # 74 s without it, cf_item_similarity alone swinging 35 s), and a
        # steady-state cluster never re-pays those either.
        for name in t10:
            QUERIES[name](spark, blown).count()
        # the sf1 reps go through the same canary+steal gate as the
        # headline loop (round-10: the unattributed r9 sf1_equiv x1.7 —
        # cf_item_similarity 23.8->51.5 s on an untouched plan — rode a
        # steal_pct-5.15 session that only the report, not the reps, saw)
        sf1_budget = [max(10, (3 * len(t10)) * 6 // 10)]
        sf1_discarded = sf1_suspect = 0
        for _ in range(3):
            for name in t10:
                dt, disc, sus = _gated_rep(
                    lambda n=name: QUERIES[n](spark, blown).count(),
                    base_ms,
                    sf1_budget,
                )
                t10[name].append(dt)
                sf1_discarded += disc
                sf1_suspect += int(sus)
        warm = {n: round(statistics.median(ts), 3) for n, ts in t10.items()}
        rep_totals = [round(sum(ts[i] for ts in t10.values()), 3) for i in range(3)]
        detail["sf1_equiv"] = {
            "value": round(sum(warm.values()), 3),
            "unit": "sec",
            "queries": warm,
            "factor_vs_sf0_1": 10,
            "reps": 3,
            "stat": "median_of_3",
            "protocol": (
                "page-warm: all parquet bytes primed + one untimed "
                "warm-up pass before timing"
            ),
            "primed_mb": primed_mb,
            "reps_discarded": sf1_discarded,
            "reps_suspect": sf1_suspect,
            "rep_totals": rep_totals,
            "rep_total_spread_frac": round(
                (max(rep_totals) - min(rep_totals)) / max(min(rep_totals), 1e-9), 3
            ),
            "spread": {n: round(max(ts) - min(ts), 3) for n, ts in t10.items()},
        }
        out["sf1_equiv_total"] = detail["sf1_equiv"]["value"]

    # quiet-reference protocol (round-10 task #4): only the DEFAULT-scale
    # run maintains/uses the reference, so sf0.01 iteration loops never
    # overwrite it. A quiet run rewrites BENCH_QUIET.json; a contended run
    # embeds the reference in the driver line so the committed artifact
    # carries its own cross-check.
    quiet_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_QUIET.json"
    )
    if sf_dir == "/root/testdata/sf0.1":
        if not contended:
            quiet_ref = {
                "value": total,
                "steal_pct": run_steal,
                "reps_suspect": 0,
            }
            if "sf1_equiv_total" in out:
                quiet_ref["sf1_equiv_total"] = out["sf1_equiv_total"]
            with open(quiet_path, "w") as f:
                json.dump(quiet_ref, f, indent=1)
        elif os.path.exists(quiet_path):
            with open(quiet_path) as f:
                out["quiet_ref"] = json.load(f)

    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)

    line = json.dumps(out, separators=(",", ":"))
    # Hard guarantee for the driver's tail capture: if the compact line ever
    # exceeds 2 KB, shed the per-query maps (value + load still parse).
    if len(line) > 2048:
        slim = {k: v for k, v in out.items() if k != "queries"}
        slim["queries_in"] = detail_path
        slim["parallelism"] = {
            "default_parallelism": out["parallelism"]["default_parallelism"]
        }
        line = json.dumps(slim, separators=(",", ":"))
    sys.stdout.flush()
    print(line)


if __name__ == "__main__":
    main()
