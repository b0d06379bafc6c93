"""Measure the persisted band-state deployment loop at two scales — the
round-10 scale probe for the delta/fold path
(operators/incremental_state.py): does probe/publish/fold stay linear in
state size, and does the fold really collapse to one file per bucket?

Deterministic synthetic long-form keys (no LSH — the loop's cost is the
join/rewrite machinery, not key derivation): state of N rows over a
key space sized so bucket membership stays under the probe cap, D deltas
of B rows each, one probe batch of B rows with planted 50% hits.

    python tools/fold_scale_probe.py [n_state] [factor]

Defaults: n_state 100_000, factor 10. One JSON line; recorded in
BENCH_NOTES.md. Headline cross-round metrics: probe_ns_per_state_row and
fold_ns_per_row at each scale, and their base->blown ratios (linear
machinery => ratio ~1 on per-row cost).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from bench import _short_canary_ms  # noqa: E402
from fpl_data_pipeline_spark import get_spark  # noqa: E402
from fpl_data_pipeline_spark.operators.incremental_state import (  # noqa: E402
    STATE_BUCKETS,
    fold_band_deltas,
    probe_band_state,
    publish_band_delta,
    read_band_state,
    write_band_state,
)

SCRATCH = ".fold_probe"
N_DELTAS = 5
CAP = 64


def _keys(spark, n: int, id_off: int, key_space: int):
    """n long-form (vec_id, band, k) rows, 2 bands per item, deterministic.
    key_space scales with n so bucket membership (~2n/key_space per band
    pair) stays flat across scales — the alive-cap never trips."""
    return (
        spark.range(n // 2)
        .select((F.col("id") + id_off).alias("vec_id"))
        .select(
            "vec_id",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).alias("band"),
                        F.pmod(F.xxhash64("vec_id"), F.lit(key_space))
                        .cast("int").alias("k"),
                    ),
                    F.struct(
                        F.lit(1).alias("band"),
                        F.pmod(F.xxhash64("vec_id", F.lit(7)), F.lit(key_space))
                        .cast("int").alias("k"),
                    ),
                )
            ).alias("bk"),
        )
        .select("vec_id", "bk.band", "bk.k")
    )


def _gated_median(fn, base_ms: float, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        for _attempt in range(3):
            pre = _short_canary_ms()
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            post = _short_canary_ms()
            if pre <= 1.2 * base_ms and post <= 1.2 * base_ms:
                break
        times.append(dt)
    return statistics.median(times)


def _run_scale(spark, tag: str, n_state: int, base_ms: float) -> dict:
    tbl = f"fold_probe_{tag}_t"
    root = os.path.abspath(f"{SCRATCH}/{tag}")
    shutil.rmtree(root, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}__folding")
    key_space = max(n_state // 16, 64)  # flat per-bucket membership
    droot = os.path.join(root, "deltas")
    write_band_state(_keys(spark, n_state, 0, key_space), tbl,
                     os.path.join(root, "state"))

    b = max(n_state // 20, 1000)
    for d in range(N_DELTAS):
        publish_band_delta(
            _keys(spark, b, 10_000_000 + d * b, key_space), droot, d
        )

    # probe: half the batch ids collide with state key derivation (planted
    # hits), half land in fresh key space
    batch = _keys(spark, b, 0, key_space).limit(b // 2).unionByName(
        _keys(spark, b // 2, 20_000_000, key_space)
    )
    batch = batch.localCheckpoint()  # pin the batch, time the probe only
    state_view = read_band_state(spark, tbl, droot)
    probe_sec = _gated_median(
        lambda: probe_band_state(state_view, batch, CAP).count(), base_ms
    )

    files_before = sum(
        1 for r, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    )
    t0 = time.perf_counter()
    fold_band_deltas(spark, tbl, droot, os.path.join(root, "gen-0"))
    fold_sec = time.perf_counter() - t0
    gen_files = sum(
        1
        for r, _, fs in os.walk(os.path.join(root, "gen-0"))
        for f in fs
        if f.endswith(".parquet")
    )
    total_rows = n_state + N_DELTAS * b
    assert spark.table(tbl).count() == total_rows
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(root, ignore_errors=True)
    return {
        "state_rows": n_state,
        "delta_rows": N_DELTAS * b,
        "probe_sec": round(probe_sec, 3),
        "probe_ns_per_state_row": round(probe_sec * 1e9 / n_state, 1),
        "fold_sec": round(fold_sec, 3),
        "fold_ns_per_row": round(fold_sec * 1e9 / total_rows, 1),
        "files_before_fold": files_before,
        "gen_files": gen_files,
        "one_file_per_bucket": gen_files <= STATE_BUCKETS,
    }


def main() -> None:
    n_state = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark("fold_scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    base_ms = min(_short_canary_ms() for _ in range(5))
    out = {"n_state": n_state, "factor": factor,
           "canary_base_ms": round(base_ms, 1)}
    out["base"] = _run_scale(spark, "base", n_state, base_ms)
    out["blown"] = _run_scale(spark, "blown", n_state * factor, base_ms)
    out["probe_per_row_ratio"] = round(
        out["blown"]["probe_ns_per_state_row"]
        / max(out["base"]["probe_ns_per_state_row"], 1e-9), 2
    )
    out["fold_per_row_ratio"] = round(
        out["blown"]["fold_ns_per_row"]
        / max(out["base"]["fold_ns_per_row"], 1e-9), 2
    )
    shutil.rmtree(SCRATCH, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
