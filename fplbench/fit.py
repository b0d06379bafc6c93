"""Compare the generated analytics tables with a reference testdata
directory, statistic by statistic, so the generator's fit can be checked.

    python3 fplbench/fit.py REF_DIR [--sf 0.01] [--seed 1]

REF_DIR holds the engine's testdata tables at the given scale factor
(``<name>.parquet`` each). The tables are generated into a temporary
directory under ``.fplbench_work/`` and removed afterwards. Prints one line
per statistic: its name, the generated value, the reference value and
their relative difference.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def profile(d: str) -> dict[str, float]:
    """Row counts; distinct/min/max/mean of numeric and timestamp columns;
    distinct, mean length and top-value share of string columns; and the
    corpus and embedding shapes the pair operators depend on."""
    con, out = duckdb.connect(), {}
    for t in TABLES:
        src = f"'{d}/{t}.parquet'"
        out[f"{t}.rows"] = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
        for col, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall():
            if typ.endswith("[]"):
                continue
            if typ == "VARCHAR":
                sql = (f"SELECT count(DISTINCT {col}), avg(length({col})), (SELECT max(n) FROM "
                       f"(SELECT count(*) n FROM {src} GROUP BY {col})) / count(*) FROM {src}")
                stats = ("distinct", "mean_len", "top_share")
            else:
                v = f"epoch({col})" if typ.startswith("TIMESTAMP") else col
                sql = f"SELECT count(DISTINCT {col}), min({v}), max({v}), avg({v}) FROM {src}"
                stats = ("distinct", "min", "max", "mean")
            for s, x in zip(stats, con.execute(sql).fetchone()):
                out[f"{t}.{col}.{s}"] = float(x)
    words = [t.lower().split() for (t,) in con.execute(f"SELECT text FROM '{d}/documents.parquet'").fetchall()]
    lens = np.array([len(w) for w in words])
    vocab: dict[str, int] = {}
    for w in words:
        for x in w:
            vocab[x] = vocab.get(x, 0) + 1
    for q in (5, 50, 95):
        out[f"documents.words.p{q}"] = float(np.percentile(lens, q))
    out["documents.vocab"] = len(vocab)
    out["documents.top_word_share"] = max(vocab.values()) / lens.sum()
    out["documents.dup_marker_share"] = sum(w[-1] == "dup" for w in words) / len(words)
    x = np.stack([np.asarray(e) for (e,) in con.execute(
        f"SELECT embedding FROM '{d}/embeddings.parquet'").fetchall()])
    n = np.linalg.norm(x, axis=1)
    cos = (x / n[:, None]) @ (x / n[:, None]).T
    np.fill_diagonal(cos, -1.0)
    out["embeddings.dim"] = x.shape[1]
    out["embeddings.mean_norm"] = float(n.mean())
    out["embeddings.max_cosine"] = float(cos.max())
    con.close()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("ref_dir")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    work = os.path.join(os.path.dirname(HERE), ".fplbench_work", f"fit-{os.getpid()}")
    try:
        gen.analytics_tables(work, args.seed, args.sf)
        got, ref = profile(work), profile(args.ref_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{'statistic':40s} {'generated':>14s} {'reference':>14s} {'rel_diff':>9s}")
    for k in ref:
        g, r = got.get(k, float("nan")), ref[k]
        print(f"{k:40s} {g:14.4f} {r:14.4f} {abs(g - r) / max(abs(r), 1e-9):9.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
