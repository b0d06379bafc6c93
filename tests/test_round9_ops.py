"""Round-9 operator tests: the logreg trainer's lazy-checkpoint cadence
(round-8 verdict task #1) and the degenerate empty-train-split contract
(round-8 ADVICE: the old least(1, ntr) join key silently dropped all 64
weight rows when no doc hashed below LR_TRAIN_CUT, while the oracle kept
64 NULL-weight rows — engine and oracle now BOTH return 64 zero weights).
"""

from __future__ import annotations

import hashlib
import random

import duckdb
import pytest

import fpl_data_pipeline_spark.functions.learned as L
from fpl_data_pipeline_spark.tables import table


def _ids_with_md5_prefix(n, pred, start=0):
    """First n non-negative ints whose md5(str(i)) 2-hex prefix satisfies
    pred — the same content-hash split convention the trainer uses."""
    out, i = [], start
    while len(out) < n:
        if pred(hashlib.md5(str(i).encode()).hexdigest()[:2]):
            out.append(i)
        i += 1
    return out


def _write_corpus(spark, tmp_path, ids_texts_langs):
    rows = [(i, t, lg, "s0", len(t)) for i, t, lg in ids_texts_langs]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(out + "/documents.parquet")
    return out


@pytest.fixture()
def eval_only_corpus(spark, tmp_path):
    """12 docs whose doc_ids ALL hash >= LR_TRAIN_CUT: the train split is
    empty by construction, the case the old join-key trick degenerated on."""
    ids = _ids_with_md5_prefix(12, lambda p: p >= L.LR_TRAIN_CUT)
    rng = random.Random(9)
    rows = []
    for k, i in enumerate(ids):
        words = " ".join(rng.choice(["alpha", "beta", "gamma", "delta"]) for _ in range(8))
        rows.append((i, words, "en" if k % 2 == 0 else "fr"))
    return _write_corpus(spark, tmp_path, rows)


def test_logreg_empty_train_split_keeps_zero_weights(spark, eval_only_corpus):
    """ntr = 0 -> every step is the identity: 64 rows, weight 0.0,
    n_train_tokens 0 — not an empty frame (the pre-fix engine) and not
    NULL weights (the pre-fix oracle)."""
    with _narrow_shuffle(spark):
        got = L.logreg_train_weights(spark, eval_only_corpus).collect()
    assert len(got) == L.LR_B
    assert all(r["weight"] == 0.0 for r in got)
    assert all(r["n_train_tokens"] == 0 for r in got)


def test_logreg_empty_train_split_oracle_parity(spark, eval_only_corpus):
    """The registered oracle, replayed on the degenerate corpus, must agree
    row-for-row with the engine — the divergence window the round-8 ADVICE
    flagged is closed on BOTH sides."""
    from fpl_data_pipeline_spark.registry import ORACLE_SQL, QUERIES, load_all

    load_all()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{eval_only_corpus}/documents.parquet/*.parquet'"
    )
    for name in ("logreg_train_weights", "logreg_train_eval"):
        oracle = con.execute(ORACLE_SQL[name]).fetchall()
        with _narrow_shuffle(spark):
            got = [
                tuple(r) for r in QUERIES[name](spark, eval_only_corpus).collect()
            ]
        assert got == [tuple(r) for r in oracle], name


def _planted_corpus_rows(n_docs=60, seed=31):
    rng = random.Random(seed)
    vocab = ["red", "green", "blue", "cat", "dog", "sun", "moon", "tree"]
    rows = []
    for i in range(n_docs):
        words = " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12)))
        rows.append((i, words, "en" if rng.random() < 0.5 else "fr"))
    return rows


def _lr_reference(rows, steps):
    """Exact-arithmetic single-machine replay of the trainer: same md5
    split, same hashed buckets, same micro-unit quantization, same
    rational sigmoid — every float op is one IEEE double mult/div, so the
    integer weight trajectory must match the engine bit-for-bit."""
    import math

    def md5hex(s):
        return hashlib.md5(str(s).encode()).hexdigest()

    feats, ntr = {}, 0
    labels = {}
    for doc_id, text, lang in rows:
        labels[doc_id] = 1 if lang == "en" else 0
        if md5hex(doc_id)[:2] >= L.LR_TRAIN_CUT:
            continue
        ntr += 1
        counts = {}
        for wd in " ".join(text.split()).lower().split(" "):
            if wd:
                b = int(hashlib.md5(wd.encode()).hexdigest()[:8], 16) % L.LR_B
                counts[b] = counts.get(b, 0) + 1
        tot = sum(counts.values())
        if tot:
            feats[doc_id] = {
                b: math.floor(n / tot * 1000000 + 0.5) for b, n in counts.items()
            }
    w = [0] * L.LR_B
    for _ in range(steps):
        g = [0] * L.LR_B
        for doc_id, x in feats.items():
            dot = sum(x6 * w[b] for b, x6 in x.items())
            z = float(dot) / 1000000000000
            sig = 0.5 + 0.5 * (z / (1 + abs(z)))
            resid6 = math.floor((sig - labels[doc_id]) * 1000000 + 0.5)
            for b, x6 in x.items():
                g[b] += x6 * resid6
        if ntr > 0:
            w = [
                w[b] - math.floor(L.LR_ETA * (float(g[b]) / ntr) / 1000000 + 0.5)
                for b in range(L.LR_B)
            ]
    return w


def test_logreg_16_steps_crossing_ckpt_boundary_match_reference(spark, tmp_path):
    """lr_train_weights at 16 steps with a ckpt_every=2 cadence — seven
    lazy-checkpoint boundaries — must equal the exact-arithmetic reference
    trajectory: the lineage truncation is a physical cadence, never a
    semantic one (the BPE 16-merge pin, applied to w). The tight cadence
    is deliberate: the off arm at 16 steps is the exponential-plan bomb
    the cadence exists to prevent (w feeds two consumers per step, so the
    analyzed tree doubles per un-truncated step — measured in round 9,
    BENCH_NOTES), so the semantic pin compares against the
    replayed arithmetic, not against a cadence-off run."""
    rows = _planted_corpus_rows()
    sf_dir = _write_corpus(spark, tmp_path, rows)
    d = table(spark, sf_dir, "documents")
    with _narrow_shuffle(spark):
        got = {
            r["bucket"]: r["w6"]
            for r in L.lr_train_weights(d, 16, 2).collect()
        }
    want = _lr_reference(rows, 16)
    assert got == {b: w6 for b, w6 in enumerate(want)}
    # and the optimizer actually moved off w0 on this corpus
    assert any(w6 != 0 for w6 in want)


def _narrow_shuffle(spark, n=2):
    """60-doc corpora through a 16-step loop run ~50 sequential tiny
    stages; 8 shuffle partitions of per-task overhead dominate the suite
    wall. Results are partitioning-invariant (that's the engine contract),
    so narrow the width for the loop-heavy tests only."""
    import contextlib

    @contextlib.contextmanager
    def cm():
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    return cm()


def test_logreg_ckpt_cadence_is_semantic_noop_small(spark, tmp_path):
    """Direct on-vs-off equality at 6 steps (off arm still tractable:
    2^6 tree copies), cadence 2 -> two boundaries crossed."""
    rows = _planted_corpus_rows(n_docs=40, seed=7)
    sf_dir = _write_corpus(spark, tmp_path, rows)
    d = table(spark, sf_dir, "documents")
    with _narrow_shuffle(spark):
        on = sorted(
            (r["bucket"], r["w6"]) for r in L.lr_train_weights(d, 6, 2).collect()
        )
        off = sorted(
            (r["bucket"], r["w6"]) for r in L.lr_train_weights(d, 6, 0).collect()
        )
    assert on == off
