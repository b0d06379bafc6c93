"""Round-8 operator tests: corpus-scaled SemDeDup k (verdict task #1) and
the BPE trainer's eager-checkpoint cadence (verdict task #2).

The round-7 failure mode under test: with fixed k=8, a 10x corpus pushed
every k-means cluster over SEM_CLUSTER_CAP and semdedup_prune degenerated
to 0 executed pairs. Round 8 derives k = max(KMP_K, ceil(n /
SEM_TARGET_POP)) in exact integer arithmetic ON BOTH ENGINES (the Spark
side from a count over the cached quantized vectors, the oracle from a
scalar subquery over the shared quantized CTE), so cluster population
tracks the target at any corpus size.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

import fpl_data_pipeline_spark.operators.similarity as S
from fpl_data_pipeline_spark.operators.similarity import DIM


def test_sem_k_formula_integer_equivalence():
    """The Spark-side k derivation and the oracle's LEAST/GREATEST/(//)
    SQL must agree at every boundary — same max, same ceil, same KMP_K_MAX
    clamp, no float anywhere."""
    con = duckdb.connect()
    pop = S.SEM_TARGET_POP
    kmp = S.KMP_K
    kmax = S.KMP_K_MAX
    for n in [1, 7, 8, 9, pop - 1, pop, pop + 1, 4 * pop * kmp // 4 - 1,
              kmp * pop, kmp * pop + 1, 10 * kmp * pop + 3,
              kmax * pop - 1, kmax * pop, kmax * pop + 1, 100 * kmax * pop]:
        py_k = min(max(kmp, (n + pop - 1) // pop), kmax)
        sql_k = con.execute(
            f"SELECT LEAST(GREATEST({kmp}, ({n} + {pop - 1}) // {pop}),"
            f" {kmax})"
        ).fetchone()[0]
        assert py_k == sql_k, (n, py_k, sql_k)


@pytest.fixture()
def scaled_semdup_dir(spark, tmp_path):
    """300 vectors in 12 well-separated direction groups + 4 planted
    near-copies — big enough that a monkeypatched SEM_TARGET_POP=20 forces
    k = ceil(300+4/20) = 16 > KMP_K, exercising the corpus-scaled path the
    sf0.01 driver window (where k stays at KMP_K) cannot reach."""
    rng = np.random.RandomState(17)
    base = rng.randn(12, DIM)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    vid = 0
    for g in range(12):
        for _ in range(25):
            v = base[g] * 5.0 + 0.3 * rng.randn(DIM)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    dup = base[3] * 5.0 + 0.3 * rng.randn(DIM)
    dup_ids = []
    for _ in range(4):
        v = dup + 0.001 * rng.randn(DIM)
        rows.append((vid, [float(x) for x in v]))
        dup_ids.append(vid)
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(out + "/embeddings.parquet")
    return out, dup_ids


def test_semdedup_scaled_k_oracle_parity(spark, scaled_semdup_dir, monkeypatch):
    """With k driven past KMP_K by the corpus size, Spark and the
    REGENERATED oracle (same monkeypatched SEM_TARGET_POP — _sem_oracle
    reads the module globals at call time) must agree exactly, and the
    clustering must actually have used the derived k."""
    sf_dir, dup_ids = scaled_semdup_dir
    monkeypatch.setattr(S, "SEM_TARGET_POP", 20)
    got = S.semdedup_prune(spark, sf_dir).collect()

    # the derived k fired: more clusters than the fixed-k twin can make
    assert len(got) > S.KMP_K
    # and none of them is capped (uniform growth -> more clusters, not
    # bigger ones: the round-7 collapse is structurally gone)
    assert sum(r["capped"] for r in got) == 0
    # the planted family still gets pruned under the new clustering
    assert sum(r["n_pruned"] for r in got) >= len(dup_ids) - 1

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{sf_dir}/embeddings.parquet/*.parquet'"
    )
    oracle = con.execute(S._sem_oracle()).fetchall()
    assert len(oracle) == len(got)
    for g, o in zip(sorted(got, key=lambda r: r["cluster_id"]), oracle):
        assert (g["cluster_id"], g["n_members"], g["capped"]) == (
            o[0], o[1], o[2],
        ), (g, o)
        assert (g["n_dup_pairs"], g["n_pruned"]) == (o[3], o[4]), (g, o)
        assert abs(g["prune_rate"] - o[5]) < 1e-12, (g, o)


def test_kmp_assign_fixed_twin_unchanged(spark, scaled_semdup_dir):
    """kmeans_portable's contract: lloyd_assign with NO target_pop still
    seeds exactly KMP_K centroids regardless of corpus size."""
    from fpl_data_pipeline_spark.tables import table

    sf_dir, _ = scaled_semdup_dir
    a = S.lloyd_assign(table(spark, sf_dir, "embeddings"), S.LLOYD_EXACT6)
    assert a.agg({"c_id": "max"}).first()[0] < S.KMP_K


def test_bpe_merge_table_16_rounds_crosses_ckpt_boundary(spark, tmp_path):
    """bpe_merge_table at 16 merges — twice across the BPE_CKPT_EVERY=8
    lazy-checkpoint boundary — must equal the textbook trainer exactly:
    the lineage truncation is a physical cadence, never a semantic one."""
    from test_round7b_ops import _bpe_reference, _word_freqs, _write_docs

    from fpl_data_pipeline_spark.operators.tokenizer import (
        bpe_merge_table,
        bpe_vocab,
    )

    import random

    rng = random.Random(7)
    words = [
        "".join(rng.choice("abcd") for _ in range(rng.randint(2, 9)))
        for _ in range(60)
    ]
    texts = [" ".join(rng.choices(words, k=30)) for _ in range(15)]
    sf_dir = _write_docs(spark, tmp_path, texts)
    d = spark.read.parquet(sf_dir + "/documents.parquet")
    got = [
        (r["merge_rank"], r["sym_a"], r["sym_b"], r["merged"], r["pair_count"])
        for r in bpe_merge_table(bpe_vocab(d), 16).collect()
    ]
    assert got == _bpe_reference(_word_freqs(texts), 16)
    assert len(got) == 16


def test_semdedup_scaled_k_pairs_execute_under_blowup(
    spark, scaled_semdup_dir, monkeypatch
):
    """The exact round-7 degeneration, in miniature: clusters at ~4x the
    target population would breach the cap under fixed k; with the
    corpus-scaled k the scan executes real pairs. Cap = 4x target (the
    production ratio), corpus 304 vecs, target 20 -> expected pop ~19,
    cap 80 — nothing capped, pairs > 0."""
    sf_dir, _ = scaled_semdup_dir
    monkeypatch.setattr(S, "SEM_TARGET_POP", 20)
    monkeypatch.setattr(S, "SEM_CLUSTER_CAP", 80)
    got = S.semdedup_prune(spark, sf_dir).collect()
    assert sum(r["capped"] for r in got) == 0
    assert sum(r["n_dup_pairs"] for r in got) > 0


# --- BPE encode fertility ----------------------------------------------------


def _apply_merges_ref(word: str, merges) -> int:
    """Token count for one word after applying the learned merges in rank
    order with the left-to-right non-overlapping rule."""
    syms = list(word)
    for _, a, b, ab, _ in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(ab)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


def _write_docs_sourced(spark, tmp_path, texts_by_source):
    rows = []
    i = 0
    for src, texts in texts_by_source.items():
        for t in texts:
            rows.append((i, t, "en", src, len(t)))
            i += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(out + "/documents.parquet")
    return out


def test_bpe_encode_fertility_matches_reference(spark, tmp_path):
    """Engine fertility == textbook trainer + rank-order merge application,
    per source, on an overlap-heavy corpus."""
    import math
    import random

    from test_round7b_ops import _bpe_reference, _word_freqs

    from fpl_data_pipeline_spark.operators.tokenizer import (
        BPE_MERGES,
        bpe_encode_fertility,
    )

    rng = random.Random(31)
    pool = [
        "".join(rng.choice("abc") for _ in range(rng.randint(1, 8)))
        for _ in range(30)
    ]
    by_source = {
        "alpha": [" ".join(rng.choices(pool, k=20)) for _ in range(6)],
        "beta": [" ".join(rng.choices(pool[:10], k=20)) for _ in range(6)],
    }
    sf_dir = _write_docs_sourced(spark, tmp_path, by_source)
    all_texts = by_source["alpha"] + by_source["beta"]
    merges = _bpe_reference(_word_freqs(all_texts), BPE_MERGES)

    got = {r["source"]: r for r in bpe_encode_fertility(spark, sf_dir).collect()}
    for src, texts in by_source.items():
        wf = _word_freqs(texts)
        n_words = sum(wf.values())
        n_tokens = sum(c * _apply_merges_ref(w, merges) for w, c in wf.items())
        n_chars = sum(c * len(w) for w, c in wf.items())
        r = got[src]
        assert (r["n_words"], r["n_tokens"], r["n_chars"]) == (
            n_words, n_tokens, n_chars,
        ), src
        assert r["tokens_per_word"] == math.floor(
            n_tokens / n_words * 1e6 + 0.5
        ) / 1e6
        assert r["chars_per_token"] == math.floor(
            n_chars / n_tokens * 1e6 + 0.5
        ) / 1e6


def test_bpe_encode_fertility_survives_merge_exhaustion(spark, tmp_path):
    """When training exhausts before BPE_MERGES rounds (every word one
    symbol), the LEFT-join-on-TRUE application must leave the vocabulary
    intact for the empty rounds — never annihilate it (the crossJoin
    failure mode the operator's design note documents)."""
    from fpl_data_pipeline_spark.operators.tokenizer import bpe_encode_fertility

    # only pair anywhere: (a,a) in "aa" -> merge 1 = aa; rounds 2-4 empty
    sf_dir = _write_docs_sourced(
        spark, tmp_path, {"s": ["a aa a aa a", "b aa b"]}
    )
    rows = bpe_encode_fertility(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    # words: a x3, aa x2, b x2 (doc2: b, aa, b), a x? recount: doc1 = a aa a aa a
    # -> a x3, aa x2; doc2 = b aa b -> b x2, aa x1. totals: a3 b2 aa3
    assert r["n_words"] == 8
    # merged 'aa' is 1 token; 'a' and 'b' are 1 token each
    assert r["n_tokens"] == 8
    assert r["n_chars"] == 3 + 2 + 6


# --- LSH operating point -------------------------------------------------


def test_lsh_operating_point_planted_spectrum(spark, tmp_path):
    """Planted corpus: exact duplicates (j=1.0) + disjoint docs. Bucket 9
    must measure candidate_rate 1.0 (identical signatures share every
    band) with theoretical_rate ~1; all rates bounded; the theory column
    is monotone nondecreasing in the bucket; bucket counts partition the
    exact pair set."""
    import random

    from fpl_data_pipeline_spark.operators.dedup import (
        _ngram_jaccard_pairs,
        lsh_operating_point,
    )

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(400)]
    texts = []
    for _ in range(30):  # disjoint-ish background docs
        texts.append(" ".join(rng.choices(vocab, k=30)))
    for i in range(4):  # 4 exact-duplicate pairs
        t = " ".join(rng.choices(vocab, k=30))
        texts += [t, t]
    rows = [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(sf_dir + "/documents.parquet")

    got = lsh_operating_point(spark, sf_dir).collect()
    by_bucket = {r["j_bucket"]: r for r in got}
    assert 9 in by_bucket
    assert by_bucket[9]["n_pairs"] >= 4
    assert by_bucket[9]["candidate_rate"] == 1.0
    assert by_bucket[9]["theoretical_rate"] >= 0.999
    for r in got:
        assert 0 <= r["n_candidates"] <= r["n_pairs"]
        assert 0.0 <= r["candidate_rate"] <= 1.0
        assert 0.0 <= r["theoretical_rate"] <= 1.0
    theory = [r["theoretical_rate"] for r in sorted(got, key=lambda r: r["j_bucket"])]
    assert theory == sorted(theory)
    # buckets partition the exact pair universe
    n_exact = _ngram_jaccard_pairs(spark.read.parquet(sf_dir + "/documents.parquet")).count()
    assert sum(r["n_pairs"] for r in got) == n_exact


def test_lsh_theoretical_rate_formula():
    """p6 quantization == the closed form 1-(1-s^4)^4 at known jaccards."""
    import math

    for n_common, na, nb in [(5, 10, 10), (9, 10, 10), (1, 30, 30), (10, 10, 10)]:
        s = n_common / (na + nb - n_common)
        p = 1 - (1 - s**4) ** 4
        p6 = math.floor(p * 1e6 + 0.5)
        # matches the engine's product-expanded expression bit-for-bit
        s_ = n_common / (na + nb - n_common)
        s4 = (s_ * s_) * (s_ * s_)
        q = 1 - s4
        pe = 1 - (q * q) * (q * q)
        assert math.floor(pe * 1e6 + 0.5) == p6


# --- gradient-trained logistic regression ---------------------------------


def test_logreg_learns_planted_separable_corpus(spark, tmp_path):
    """On a corpus with disjoint en/non-en word pools the gradient-trained
    model must clearly beat the base rate on the held-out split (the
    synthetic testdata corpus shares one 31-word pool across all langs, so
    the registered readout sits at base rate THERE — this test is the
    proof the optimizer learns when there is signal to learn)."""
    import random

    from fpl_data_pipeline_spark.functions.learned import (
        logreg_train_eval,
        logreg_train_weights,
    )

    rng = random.Random(13)
    pool_en = [f"en{i}" for i in range(20)]
    pool_fr = [f"fr{i}" for i in range(20)]
    rows = []
    for i in range(140):
        pos = i % 2 == 0
        words = rng.choices(pool_en if pos else pool_fr, k=rng.randint(10, 40))
        rows.append(
            (i, " ".join(words), "en" if pos else "fr", "s0", len(words))
        )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(sf_dir + "/documents.parquet")

    ev = logreg_train_eval(spark, sf_dir).collect()
    n = sum(r["n_docs"] for r in ev)
    pos = sum(r["n_pos"] for r in ev)
    correct = sum(r["n_correct"] for r in ev)
    base = max(pos, n - pos) / n
    assert n > 10
    assert correct / n >= 0.9
    assert correct / n > base or base >= 0.9

    w = logreg_train_weights(spark, sf_dir).collect()
    assert len(w) == 64
    assert any(r["weight"] > 0 for r in w) and any(r["weight"] < 0 for r in w)


# --- content-defined chunking dedup ----------------------------------------


def test_cdc_chunks_insertion_robustness(spark, tmp_path):
    """The CDC property fixed n-grams lack: insert ONE word mid-document
    and most chunks (all before the edit's chunk and all after it) keep
    their hashes, so the pair of documents shares most chunks. Also
    brute-force the chunking rule itself."""
    import hashlib
    import random

    from fpl_data_pipeline_spark.operators.dedup import CDC_G, dedup_cdc_chunks

    rng = random.Random(23)
    words = [f"tok{rng.randint(0, 500)}" for _ in range(300)]
    original = " ".join(words)
    edited = " ".join(words[:150] + ["inserted"] + words[150:])
    background = [
        " ".join(f"bg{rng.randint(0, 500)}" for _ in range(100)) for _ in range(5)
    ]
    rows = [(0, original, "en", "pair", len(original)),
            (1, edited, "en", "pair", len(edited))] + [
        (i + 2, t, "en", "bg", len(t)) for i, t in enumerate(background)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(sf_dir + "/documents.parquet")

    got = {r["source"]: r for r in dedup_cdc_chunks(spark, sf_dir).collect()}

    # brute-force the rule: boundary after words whose md5-int % G == 0
    def chunk_hashes(text):
        ws = " ".join(text.split()).lower().split(" ")
        chunks, cur = [], []
        for w in ws:
            cur.append(w)
            if int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % CDC_G == 0:
                chunks.append(" ".join(cur))
                cur = []
        if cur:
            chunks.append(" ".join(cur))
        return chunks

    ca, cb = chunk_hashes(original), chunk_hashes(edited)
    shared = set(ca) & set(cb)
    expect_dup = sum(1 for c in ca if c in shared) + sum(
        1 for c in cb if c in shared
    )
    assert got["pair"]["n_chunks"] == len(ca) + len(cb)
    assert got["pair"]["n_dup_chunks"] == expect_dup
    # the property: a 1-word insertion leaves MOST chunks shared
    assert expect_dup >= 0.8 * (len(ca) + len(cb))
    # disjoint background stays unduplicated
    assert got["bg"]["n_dup_chunks"] == 0


# --- temperature mixture plan ------------------------------------------------


def test_mixture_temperature_halves_log_ratio(spark, tmp_path):
    """alpha = 0.5 semantics: a source with 4x the tokens of another gets
    exactly 2x its temperature probability (sqrt), and boost up-weights
    the small source (boost > 1) while down-weighting the large one."""
    from fpl_data_pipeline_spark.operators.sampling import (
        mixture_temperature_plan,
    )

    # big: 4 docs x 64 tokens; small: 1 doc x 64 tokens -> 4x token ratio
    rows = []
    for i in range(4):
        rows.append((i, " ".join(["tok"] * 64), "en", "big", 64))
    rows.append((4, " ".join(["tok"] * 64), "en", "small", 64))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(sf_dir + "/documents.parquet")

    got = {r["source"]: r for r in mixture_temperature_plan(spark, sf_dir).collect()}
    big, small = got["big"], got["small"]
    assert big["n_tokens"] == 4 * small["n_tokens"]
    assert abs(big["p_temp"] / small["p_temp"] - 2.0) < 1e-4
    assert abs(big["p_raw"] / small["p_raw"] - 4.0) < 1e-4
    assert small["boost"] > 1.0 > big["boost"]
    assert abs(big["p_temp"] + small["p_temp"] - 1.0) < 1e-5


def test_sem_k_formula_property():
    """Hypothesis sweep: Spark-side integer k == DuckDB integer k for any
    (n, target_pop) — the derivation that makes semdedup's oracle replay
    the engine's clustering at any corpus size."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    con = duckdb.connect()

    @settings(max_examples=60, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=10**12),
        pop=st.integers(min_value=1, max_value=10**6),
        kmp=st.integers(min_value=1, max_value=64),
    )
    def check(n, pop, kmp):
        kmax = S.KMP_K_MAX
        py_k = min(max(kmp, (n + pop - 1) // pop), kmax)
        sql_k = con.execute(
            f"SELECT LEAST(GREATEST({kmp}, ({n} + {pop - 1}) // {pop}),"
            f" {kmax})"
        ).fetchone()[0]
        assert py_k == sql_k

    check()


# --- incremental embedding near-dup -----------------------------------------


def test_emb_incremental_neardup_finds_planted_arrival(spark, tmp_path):
    """A planted arriving near-copy of a corpus vector must surface with
    cosine ~1, and every match must go batch -> corpus (never
    corpus -> corpus: the probe's whole point is not re-running the
    corpus self-join)."""
    import hashlib

    from fpl_data_pipeline_spark.operators.similarity import (
        INC_BATCH_CUT,
        emb_incremental_neardup,
    )

    def side(vid):
        return hashlib.md5(str(vid).encode()).hexdigest()[:2] >= INC_BATCH_CUT

    rng = np.random.RandomState(41)
    rows = []
    # background corpus+batch vectors, well spread
    for vid in range(120):
        v = rng.randn(DIM) * 3.0
        rows.append((vid, [float(x) for x in v]))
    # find one corpus id and one batch id; plant batch ~= corpus
    corpus_ids = [v for v in range(120) if not side(v)]
    batch_ids = [v for v in range(120) if side(v)]
    assert corpus_ids and batch_ids
    src, dst = corpus_ids[0], batch_ids[0]
    base = np.array(rows[src][1])
    rows[dst] = (dst, [float(x) for x in (base + 0.001 * rng.randn(DIM))])

    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(sf_dir + "/embeddings.parquet")

    got = emb_incremental_neardup(spark, sf_dir).collect()
    assert got, "no matches surfaced"
    for r in got:
        assert side(r["new_id"]) and not side(r["dup_of"])
    top = got[0]
    assert (top["new_id"], top["dup_of"]) == (dst, src)
    assert top["cosine"] > 0.999


def test_kmp_argmin_fallback_matches_literal_path(spark, monkeypatch):
    """Round-11: lloyd_assign's argmin has two value-identical shapes —
    the inlined centroid-literal array_min (k <= KMP_ARGMIN_LITERAL_K, zero
    shuffle) and the crossJoin + partial-aggregated min(struct) fallback for
    derived k past the literal bound. Forcing the fallback must reproduce
    the literal path's assignment byte-for-byte (same exact-integer d2,
    same (d2, c_id) tiebreak)."""
    from fpl_data_pipeline_spark.tables import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    lit = S.lloyd_assign(emb, S.LLOYD_EXACT6).orderBy("vec_id").collect()
    monkeypatch.setattr(S, "KMP_ARGMIN_LITERAL_K", 0)
    fb = S.lloyd_assign(emb, S.LLOYD_EXACT6).orderBy("vec_id").collect()
    assert [tuple(r) for r in lit] == [tuple(r) for r in fb]
