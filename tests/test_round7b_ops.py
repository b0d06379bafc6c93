"""Tests for the round-7 continuation operators.

1. emb_pca_top_component must equal an independent brute-force
   exact-integer reference (raw floats -> 3-dp quantization -> integer
   means -> exact Gram -> the shared power iteration) on the real
   sf0.001 corpus — pinning the distributed Gram accumulation, not just
   the driver-side epilogue.
2. On a planted-anisotropic corpus the reported component must align
   with the planted direction (>0.99 |cosine|) and the explained-variance
   share must be near the planted share — the convergence contract of
   PCA_ITERS on the spectra the operator is for.
3. Sign convention: the largest-|loading| dimension is positive.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from fpl_data_pipeline_spark.operators.similarity import (
    DIM,
    PCA_Q,
    _pca_power_iterate,
    emb_pca_top_component,
)

SF = "/root/testdata/sf0.001"


def _reference_rows(vectors: list[list[float]]) -> list[tuple]:
    """Brute-force mirror of the whole operator in exact Python ints."""
    v3 = [[math.floor(x * PCA_Q + 0.5) for x in row] for row in vectors]
    n, dim = len(v3), len(v3[0])
    means = [
        math.floor(float(sum(r[i] for r in v3)) / n + 0.5) for i in range(dim)
    ]
    c = [[r[i] - means[i] for i in range(dim)] for r in v3]
    gm = [
        [sum(row[i] * row[j] for row in c) for j in range(dim)]
        for i in range(dim)
    ]
    u, num, den = _pca_power_iterate(gm)
    trace = sum(gm[i][i] for i in range(dim))
    lam = float(num) / float(den)
    nrm = math.sqrt(float(den))
    mi = min(range(dim), key=lambda i: (-abs(u[i]), i))
    s = -1 if u[mi] < 0 else 1
    eig = math.floor(lam / (PCA_Q * PCA_Q) / (n - 1) * 1000000 + 0.5) / 1000000
    share = math.floor(lam / float(trace) * 1000000 + 0.5) / 1000000
    top = sorted(range(dim), key=lambda i: (-abs(u[i]), i))[:8]
    return [
        (i, math.floor(float(u[i] * s) / nrm * 1000000 + 0.5) / 1000000, eig, share)
        for i in top
    ]


def test_pca_matches_bruteforce_reference(spark):
    from fpl_data_pipeline_spark.tables import table

    vecs = [
        list(r["embedding"])
        for r in table(spark, SF, "embeddings").orderBy("vec_id").collect()
    ]
    expect = _reference_rows(vecs)
    got = [
        (r["pos"], r["loading"], r["eig_value"], r["var_share"])
        for r in emb_pca_top_component(spark, SF).collect()
    ]
    assert got == expect


@pytest.fixture()
def planted_dir(spark, tmp_path):
    """240 vectors = strong rank-1 structure along a fixed direction d
    plus small deterministic pseudo-noise; top eig share ~0.9."""
    rng = np.random.RandomState(7)
    d = rng.randn(DIM)
    d /= np.linalg.norm(d)
    rows = []
    for k in range(240):
        a = 2.0 * math.sin(k * 0.7) + 3.0  # varied magnitudes, deterministic
        noise = 0.05 * rng.randn(DIM)
        v = a * d + noise
        rows.append((k, [float(x) for x in v], k % 4))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(out + "/embeddings.parquet")
    return out, d


def test_pca_converges_on_anisotropic_corpus(spark, planted_dir):
    sf_dir, d = planted_dir
    got = emb_pca_top_component(spark, sf_dir).collect()
    # reconstruct the full eigenvector estimate from the invariant that
    # loadings are u/||u||: re-run the reference to get all 64 loadings
    import duckdb

    vecs = [
        list(r[0])
        for r in duckdb.sql(
            f"SELECT embedding FROM '{sf_dir}/embeddings.parquet/*.parquet'"
            " ORDER BY vec_id"
        ).fetchall()
    ]
    ref = _reference_rows(vecs)
    assert [(r["pos"], r["loading"]) for r in got] == [
        (p, load) for p, load, _, _ in ref
    ]
    # alignment with the planted direction via the top-8 loadings alone is
    # partial; rebuild the full u from the reference internals instead
    v3 = [[math.floor(x * PCA_Q + 0.5) for x in row] for row in vecs]
    n = len(v3)
    means = [
        math.floor(float(sum(r[i] for r in v3)) / n + 0.5) for i in range(DIM)
    ]
    c = [[r[i] - means[i] for i in range(DIM)] for r in v3]
    gm = [
        [sum(row[i] * row[j] for row in c) for j in range(DIM)]
        for i in range(DIM)
    ]
    u, _, _ = _pca_power_iterate(gm)
    uu = np.array(u, dtype=float)
    uu /= np.linalg.norm(uu)
    assert abs(float(uu @ d)) > 0.99
    share = got[0]["var_share"]
    ev = np.linalg.eigvalsh(np.array(gm, dtype=float))
    true_share = ev[-1] / ev.sum()
    assert abs(share - true_share) < 0.02
    # sign convention: largest-|loading| row positive
    assert got[0]["loading"] > 0


def test_pca_gram_plan_is_partial_aggregated(spark):
    """The corpus-scale Gram pass (the only data-sized stage) must be a
    hash aggregate on (i, j) — map-side partial combine collapses the
    n x dim^2 explode to dim^2 rows per task before any exchange — with
    the mean array arriving by broadcast, never a shuffled join."""
    from fpl_data_pipeline_spark.operators.similarity import _pca_gram
    from fpl_data_pipeline_spark.tables import table

    gram, _ = _pca_gram(table(spark, SF, "embeddings"))
    phys = gram._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in phys or "HashAggregate" in phys
    # no shuffled join anywhere: the only join is the broadcast of the
    # 1-row mean array (BroadcastNestedLoopJoin under a cross join)
    assert "SortMergeJoin" not in phys and "ShuffledHashJoin" not in phys


# --- DSIR importance weights -------------------------------------------------


def test_dsir_matches_bruteforce_and_separates_planted_sources(spark, tmp_path):
    """Per-source DSIR readout must equal a hand-rolled Python reference
    (hashed-unigram add-1 LMs, micro-nat-quantized log ratios, exact
    integer doc weights), and the planted target-like source must be
    selected at a strictly higher rate than the planted off-domain one."""
    import hashlib

    from fpl_data_pipeline_spark.functions.corpus_queries import (
        DSIR_B,
        dsir_importance_weights,
    )

    docs = []
    # target slice: English docs establish the target LM
    for k in range(30):
        docs.append((k, "alpha beta gamma delta " * 3, "en", "seed", 60))
    # planted target-like source (not lang=en, so it is pool-only)
    for k in range(30, 50):
        docs.append((k, "alpha beta gamma " * 4, "es", "tgtlike", 48))
    # planted off-domain source
    for k in range(50, 70):
        docs.append((k, "uno dos tres cuatro " * 4, "es", "rawlike", 64))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(sf_dir + "/documents.parquet")

    got = {
        r["source"]: (r["n_docs"], r["n_selected"], r["sel_rate"], r["mean_logw"])
        for r in dsir_importance_weights(spark, sf_dir).collect()
    }

    # brute-force reference
    import math
    from collections import Counter

    def norm_words(t):
        return [w for w in " ".join(t.split()).lower().split(" ") if w]

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % DSIR_B

    n_raw, n_tgt = Counter(), Counter()
    for _, text, lang, _, _ in docs:
        for w in norm_words(text):
            b = bucket(w)
            n_raw[b] += 1
            if lang == "en":
                n_tgt[b] += 1
    t_raw, t_tgt = sum(n_raw.values()), sum(n_tgt.values())
    lr6 = {
        b: math.floor(
            (
                math.log((n_tgt[b] + 1.0) / (t_tgt + DSIR_B))
                - math.log((n_raw[b] + 1.0) / (t_raw + DSIR_B))
            )
            * 1000000
            + 0.5
        )
        for b in n_raw
    }
    doc_w = {}
    for doc_id, text, _, source, _ in docs:
        doc_w[doc_id] = (source, sum(lr6[bucket(w)] for w in norm_words(text)))
    nn = len(docs)
    ss = sum(w for _, w in doc_w.values())
    per_source = {}
    for source, w6 in doc_w.values():
        n, sel, tot = per_source.get(source, (0, 0, 0))
        per_source[source] = (n + 1, sel + (1 if w6 * nn > ss else 0), tot + w6)
    expect = {
        s: (n, sel, round(sel / n, 6), round(tot / n / 1000000, 6))
        for s, (n, sel, tot) in per_source.items()
    }
    for s in expect:
        g, e = got[s], expect[s]
        assert g[0] == e[0] and g[1] == e[1], (s, g, e)
        assert abs(g[2] - e[2]) < 1e-9 and abs(g[3] - e[3]) < 1e-9, (s, g, e)
    # the target-like planted source is kept at a strictly higher rate and
    # carries a strictly higher mean log weight than the off-domain one
    assert got["tgtlike"][2] > got["rawlike"][2]
    assert got["tgtlike"][3] > got["rawlike"][3]


# --- SemDeDup prune ----------------------------------------------------------


@pytest.fixture()
def semdup_dir(spark, tmp_path):
    """Three well-separated direction groups plus 5 planted near-copies of
    one vector (cosine > 0.999 to each other) — the semantic-duplicate
    family SemDeDup must prune down to its lowest vec_id."""
    rng = np.random.RandomState(11)
    base = rng.randn(3, DIM)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    vid = 0
    for g in range(3):
        for _ in range(40):
            v = base[g] * 5.0 + 0.3 * rng.randn(DIM)
            rows.append((vid, [float(x) for x in v], g))
            vid += 1
    dup = base[0] * 5.0 + 0.3 * rng.randn(DIM)
    dup_ids = []
    for _ in range(5):
        v = dup + 0.001 * rng.randn(DIM)
        rows.append((vid, [float(x) for x in v], 0))
        dup_ids.append(vid)
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(out + "/embeddings.parquet")
    return out, dup_ids


def test_semdedup_prunes_planted_duplicates(spark, semdup_dir):
    import math

    from fpl_data_pipeline_spark.operators.similarity import (
        LLOYD_EXACT6,
        SEM_TAU,
        lloyd_assign,
        semdedup_prune,
    )
    from fpl_data_pipeline_spark.tables import table

    sf_dir, dup_ids = semdup_dir
    got = semdedup_prune(spark, sf_dir).collect()
    assert sum(r["capped"] for r in got) == 0
    # brute-force the same rule from the same assignment
    a = lloyd_assign(table(spark, sf_dir, "embeddings"), LLOYD_EXACT6).collect()
    members = {}
    for r in a:
        members.setdefault(r["c_id"], []).append((r["vec_id"], list(r["v6"])))
    expect_pairs, expect_pruned = {}, {}
    for c_id, ms in members.items():
        ms.sort()
        pruned = set()
        npairs = 0
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                (va, x), (vb, y) = ms[i], ms[j]
                dot = sum(p * q for p, q in zip(x, y))
                n2a = sum(p * p for p in x)
                n2b = sum(q * q for q in y)
                cos = float(dot) / (math.sqrt(float(n2a)) * math.sqrt(float(n2b)))
                if cos >= SEM_TAU:
                    npairs += 1
                    pruned.add(vb)
        expect_pairs[c_id], expect_pruned[c_id] = npairs, pruned
    for r in got:
        assert r["n_dup_pairs"] == expect_pairs[r["cluster_id"]]
        assert r["n_pruned"] == len(expect_pruned[r["cluster_id"]])
    # the planted family fired: >= 4 higher-id copies pruned, and every
    # planted id except the family's lowest is in some cluster's pruned set
    all_pruned = set().union(*expect_pruned.values()) if expect_pruned else set()
    assert sum(r["n_pruned"] for r in got) >= 4
    assert set(dup_ids[1:]).issubset(all_pruned)


def test_semdedup_cap_reports_not_scans(spark, semdup_dir, monkeypatch):
    """A cluster over the cap must surface capped = 1 with zero pairs —
    excluded from the quadratic scan, never silently missing."""
    import fpl_data_pipeline_spark.operators.similarity as S

    sf_dir, _ = semdup_dir
    monkeypatch.setattr(S, "SEM_CLUSTER_CAP", 10)
    got = S.semdedup_prune(spark, sf_dir).collect()
    capped = [r for r in got if r["capped"] == 1]
    assert capped, "expected at least one over-cap cluster at cap=10"
    for r in capped:
        assert r["n_dup_pairs"] == 0 and r["n_pruned"] == 0
        assert r["n_members"] > 10


# --- BPE merge training ------------------------------------------------------


def _bpe_reference(word_freqs: dict, n_merges: int):
    """Textbook BPE trainer (Sennrich et al.): char symbols, corpus-weighted
    pair counts, greedy left-to-right non-overlapping merge application,
    (count DESC, a ASC, b ASC) tiebreak."""
    import re

    vocab = {}
    for w, f in word_freqs.items():
        if re.fullmatch(r"[a-z0-9]+", w):
            t = tuple(w)
            vocab[t] = vocab.get(t, 0) + f
    merges = []
    for rank in range(1, n_merges + 1):
        counts = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                counts[k] = counts.get(k, 0) + f
        if not counts:
            break
        (a, b), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, a, b, a + b, c))
        new = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new[t] = new.get(t, 0) + f
        vocab = new
    return merges


def _write_docs(spark, tmp_path, texts):
    rows = [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(out + "/documents.parquet")
    return out


def _word_freqs(texts):
    from collections import Counter

    c = Counter()
    for t in texts:
        for w in " ".join(t.split()).lower().split(" "):
            if w:
                c[w] += 1
    return dict(c)


def test_bpe_merges_planted_chain(spark, tmp_path):
    """Rank-2 must merge the SYMBOL produced by rank 1 (ab + c) — the
    property separating a trainer from a one-shot pair count. Punctuated
    words are excluded by the [a-z0-9]+ contract."""
    from fpl_data_pipeline_spark.operators.tokenizer import bpe_train_merges

    texts = ["abc abc abc abc ab!c", "abc abc xy xy xy", "ab ab zq"]
    sf_dir = _write_docs(spark, tmp_path, texts)
    got = [
        (r["merge_rank"], r["sym_a"], r["sym_b"], r["merged"], r["pair_count"])
        for r in bpe_train_merges(spark, sf_dir).collect()
    ]
    expect = _bpe_reference(_word_freqs(texts), 4)
    assert got == expect
    assert got[0][1:4] == ("a", "b", "ab")
    assert got[1][1:4] == ("ab", "c", "abc")


def test_bpe_merges_random_corpus(spark, tmp_path):
    """Engine == brute-force on a randomized small corpus (overlap-heavy
    alphabet so the left-to-right non-overlap rule is exercised)."""
    import random

    from fpl_data_pipeline_spark.operators.tokenizer import bpe_train_merges

    rng = random.Random(99)
    words = [
        "".join(rng.choice("aab") for _ in range(rng.randint(1, 7)))
        for _ in range(40)
    ]
    texts = [" ".join(rng.choices(words, k=25)) for _ in range(12)]
    sf_dir = _write_docs(spark, tmp_path, texts)
    got = [
        (r["merge_rank"], r["sym_a"], r["sym_b"], r["merged"], r["pair_count"])
        for r in bpe_train_merges(spark, sf_dir).collect()
    ]
    assert got == _bpe_reference(_word_freqs(texts), 4)


def test_semdedup_cluster_cap_is_count_prepass(spark):
    """SEM_CLUSTER_CAP must be a count-agg pre-pass joined back BEFORE the
    member collect (the engine-wide cap doctrine), never a post-collect
    array-size filter — asserted on the pair-generation subtree the same
    way every other cap family is pinned in test_cap_guards."""
    import re

    from fpl_data_pipeline_spark.operators.dedup import (
        _expand_member_pairs_streaming,
    )
    from fpl_data_pipeline_spark.operators.similarity import _sem_capped_groups

    # the SHARED helper the query and the scale probe both consume, over a
    # local assignment stand-in (lloyd_assign itself runs driver collects,
    # which a plan-shape test must not trigger)
    assigned = spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "vec_id long, c_id int"
    )
    _sizes, _okm, groups = _sem_capped_groups(assigned)
    plan = (
        _expand_member_pairs_streaming(groups, "members")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "collect_list" in plan
    assert "count(1)" in plan, "count-agg pre-pass missing"
    assert not re.search(r"size\(members[^\n]*<=", plan), (
        "post-collect size cap crept into the semdedup pair subtree"
    )


def test_pca_power_iterate_rayleigh_bounds():
    """On arbitrary integer PSD matrices the Rayleigh quotient must stay
    inside [0, lambda_max] (it is exact at convergence), and the iterate
    must stay L-infinity-normalized to 1e6 — the invariants that hold at
    ANY iteration count, convergence or not."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(
            st.lists(st.integers(-50, 50), min_size=6, max_size=6),
            min_size=6,
            max_size=6,
        )
    )
    def check(rows):
        b = np.array(rows, dtype=np.int64)
        gm = (b.T @ b).tolist()  # PSD by construction
        u, num, den = _pca_power_iterate([[int(x) for x in r] for r in gm])
        assert den > 0
        assert max(abs(x) for x in u) <= 10**6
        rayleigh = float(num) / float(den)
        lam_max = float(np.linalg.eigvalsh(np.array(gm, dtype=float))[-1])
        assert -1e-6 <= rayleigh <= lam_max * (1 + 1e-9) + 1e-6

    check()


def test_semdedup_tolerates_zero_norm_vectors(spark, tmp_path):
    """An all-zero embedding (or one quantizing to zero) must be excluded
    from the cosine scan, not abort the query under ANSI division or
    fabricate NaN-cosine duplicates in the oracle (code-review finding)."""
    from fpl_data_pipeline_spark.operators.similarity import semdedup_prune

    rng = np.random.RandomState(3)
    rows = [
        (k, [float(x) for x in (rng.randn(DIM) * 2.0)], 0) for k in range(30)
    ]
    rows.append((30, [0.0] * DIM, 0))
    rows.append((31, [1e-9] * DIM, 0))  # quantizes to all-zero v6
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(sf_dir + "/embeddings.parquet")
    got = semdedup_prune(spark, sf_dir).collect()
    assert sum(r["n_members"] for r in got) == 32
    # the two zero-norm vectors never appear in any pair, so at most the
    # 30 real vectors participate; nothing threw, nothing NaN'd
    for r in got:
        assert r["prune_rate"] is not None


# --- LPA communities ---------------------------------------------------------


def test_lpa_separates_bridged_cliques(spark):
    """Two triangles joined by a single bridge edge: connected components
    merges them into one cluster; LPA must keep two density communities
    (the whole reason the operator exists). Also checks the engine loop
    against a synchronous brute-force reference with the same smallest-
    label tiebreak."""
    from fpl_data_pipeline_spark.operators.graph import LPA_ITER, lpa_labels

    edge_list = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    edges = spark.createDataFrame(edge_list, "doc_id_a long, doc_id_b long")
    got = {r["node"]: r["label"] for r in lpa_labels(edges).collect()}

    # brute-force synchronous LPA
    from collections import Counter, defaultdict

    nbrs = defaultdict(set)
    for a, b in edge_list:
        nbrs[a].add(b)
        nbrs[b].add(a)
    lab = {n: n for n in nbrs}
    for _ in range(LPA_ITER):
        new = {}
        for n in nbrs:
            c = Counter(lab[m] for m in nbrs[n])
            best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            new[n] = best
        lab = new
    assert got == lab
    communities = defaultdict(set)
    for n, l in got.items():
        communities[l].add(n)
    assert sorted(map(sorted, communities.values())) == [[1, 2, 3], [4, 5, 6]]


# --- all-but-the-top corrected retrieval --------------------------------------


def test_abtt_recovers_content_neighbor_under_anisotropy(spark, tmp_path):
    """Corpus = strong shared direction d (the anisotropy) + per-doc
    content. Probe 0 has a planted content twin; raw cosine is dominated
    by d (the twin does NOT win), corrected cosine must rank the twin
    first — the exact failure mode all-but-the-top exists to fix."""
    from fpl_data_pipeline_spark.operators.similarity import emb_abtt_query_shift

    rng = np.random.RandomState(21)
    d = rng.randn(DIM)
    d /= np.linalg.norm(d)
    c0 = rng.randn(DIM)
    c0 -= (c0 @ d) * d  # content orthogonal to the bias direction
    c0 /= np.linalg.norm(c0)
    rows = []
    # probe (vec_id 0) and its content twin (vec_id 7): same content,
    # different bias magnitudes
    rows.append((0, [float(x) for x in (6.0 * d + 1.0 * c0)], 0))
    for k in range(1, 40):
        if k == 7:
            v = 4.0 * d + 1.0 * c0  # the twin
        else:
            ck = rng.randn(DIM)
            ck -= (ck @ d) * d
            ck /= np.linalg.norm(ck)
            v = (5.0 + 0.5 * math.sin(k)) * d + 1.0 * ck
        rows.append((k, [float(x) for x in v], k % 3))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(sf_dir + "/embeddings.parquet")

    got = emb_abtt_query_shift(spark, sf_dir).collect()
    # every raw cosine is inflated near 1 by the shared direction...
    assert all(r["cos_raw"] > 0.9 for r in got)
    # ...but the corrected ranking puts the content twin first, by a
    # decisive margin over the next corrected neighbor
    assert got[0]["vec_id"] == 7
    # after mean-centering the twin's residual bias components differ in
    # sign, so the absolute corrected cosine sits below the raw-inflated
    # level — what matters is that the twin wins by a decisive margin
    assert got[0]["cos_corrected"] > 0.7
    assert got[0]["cos_corrected"] - got[1]["cos_corrected"] > 0.1


# --- empty-corpus robustness for the whole continuation batch -----------------


@pytest.fixture()
def empty_dir(spark, tmp_path):
    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    out = str(tmp_path)
    docs.coalesce(1).write.mode("overwrite").parquet(out + "/documents.parquet")
    emb.coalesce(1).write.mode("overwrite").parquet(out + "/embeddings.parquet")
    return out


def test_new_ops_survive_empty_corpus(spark, empty_dir):
    """Every round-7-continuation operator must return an empty (or
    degenerate-but-sane) frame on an empty corpus instead of throwing —
    the PCA empty-table divergence showed this class of bug is real."""
    from fpl_data_pipeline_spark.functions.corpus_queries import (
        dsir_importance_weights,
    )
    from fpl_data_pipeline_spark.operators.graph import dupgraph_lpa_communities
    from fpl_data_pipeline_spark.operators.similarity import (
        emb_abtt_query_shift,
        emb_pca_top_component,
        semdedup_prune,
    )
    from fpl_data_pipeline_spark.operators.tokenizer import bpe_train_merges

    for fn in (
        emb_pca_top_component,
        emb_abtt_query_shift,
        semdedup_prune,
        dsir_importance_weights,
        bpe_train_merges,
        dupgraph_lpa_communities,
    ):
        rows = fn(spark, empty_dir).collect()
        assert rows == [], f"{fn.__name__} returned {rows!r} on an empty corpus"
