"""Round-6 guard tests for the fixed-key-space candidate caps and the
xxhash64 production twins (judge tasks #2/#6, advice findings 1-4).

Three properties are pinned per cap family:
  (a) a planted Zipf mega-group (every doc sharing the blocking key) is
      silenced — no pairs are emitted from it — while sparse groups are
      untouched;
  (b) the cap is a count-agg PRE-pass: the optimized plan joins the keyed
      relation against a size-filtered key set BEFORE any collect_list, and
      no post-collect ``size(members)`` filter exists (the round-5 OOM
      shape a refactor could silently reintroduce);
  (c) the lowest-shared-band pair emission is a disjoint union — no pair is
      emitted twice even when it shares every band (the invariant that let
      round 6 drop the full-pair ``.distinct()`` exchange).

The xxhash64 production twins (rows-only under DuckDB forever, since
xxhash64 is not reproducible there) run the same code as their md5
portable twins, which ARE oracle-checked: one signature function per sketch
and one ``_banded_pairs``, with the hash family passed in as a value. Two
checks pin that here: the twins' optimized plans have the same operator
sequence (only hash expressions and literals differ), and on a fixture
with known near-dup structure both families recover exactly the same
pair/cluster sets.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def _write_documents(spark, tmp_path, texts):
    """Write a documents.parquet with the testdata schema; returns sf_dir."""
    rows = [
        (i, t, "en", f"src_{i % 3}", len(t)) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(2).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


# --- (b) pre-pass plan shape -------------------------------------------------


def _assert_count_prepass(plan: str):
    """The cap must appear as a count aggregate joined back BEFORE the
    member collect — never as an upper-bound filter over the collected
    array. (Catalyst itself infers a benign ``size(members) > 0`` below
    explode; only a ``size(...) <= cap`` shape is the round-5 OOM trap.)"""
    import re

    assert "collect_list" in plan or "collect_set" in plan, plan[:2000]
    assert "count(1)" in plan, "count-agg pre-pass missing from plan"
    # the round-5 OOM shape: collect first, cap-filter the array size after
    assert not re.search(r"size\((members|docs)[^\n]*<=", plan), (
        "post-collect size(...) <= cap filter found — cap is no longer a pre-pass"
    )


def test_lsh_band_cap_is_count_prepass(spark):
    from fpl_data_pipeline_spark.operators.similarity import _lsh_candidate_pairs

    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, -2.0] + [0.25] * 61) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    _assert_count_prepass(_optimized_plan(_lsh_candidate_pairs(emb)))


def test_simhash_chunk_cap_is_count_prepass(spark):
    from fpl_data_pipeline_spark.operators.dedup import MD5_SIMHASH, simhash_pairs

    d = spark.createDataFrame(
        [(i, f"word{i} common tail text here") for i in range(8)],
        "doc_id long, text string",
    )
    _assert_count_prepass(_optimized_plan(simhash_pairs(d, MD5_SIMHASH)))


def test_hv_block_cap_is_count_prepass(spark):
    from fpl_data_pipeline_spark.functions.text_queries import text_hash_vector_dups

    plan = _optimized_plan(text_hash_vector_dups(spark, "/root/testdata/sf0.001"))
    _assert_count_prepass(plan)


def test_winnow_fp_cap_is_count_prepass(spark):
    """Round-7 migration: WINNOW_FP_CAP must be a count pre-pass, not the
    round-4..6 post-collect ``size(docs) <= cap`` filter."""
    from fpl_data_pipeline_spark.operators.dedup import winnowing_candidate_pairs

    d = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{i} tail words here") for i in range(6)],
        "doc_id long, text string",
    )
    _assert_count_prepass(_optimized_plan(winnowing_candidate_pairs(d)))


def test_set_overlap_df_cap_is_count_prepass(spark):
    """Round-7 migration: _set_overlap_stats' df_cap must be a count
    pre-pass. Asserted on the pre-localCheckpoint building block
    (_capped_key_groups) — the checkpoint hides the aggregate subtree from
    the consumer queries' optimized plans."""
    from fpl_data_pipeline_spark.operators.dedup import _capped_key_groups, shingles

    d = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{i} tail words here") for i in range(6)],
        "doc_id long, text string",
    )
    groups = _capped_key_groups(shingles(d), ["shingle"], F.collect_list("doc_id"), 5, lo=1)
    _assert_count_prepass(_optimized_plan(groups))


def test_capped_key_groups_bounds(spark):
    """The one capped key-group builder over a hand-built keyed relation:
    group sizes in [lo, cap] survive with sorted members, an over-cap group
    and (at lo=2) a singleton are dropped, an empty relation yields
    nothing, and a countDistinct size counts a key repeated within one doc
    once."""
    from fpl_data_pipeline_spark.operators.dedup import _capped_key_groups

    def groups(rows, cap, lo=2, size=None):
        keyed = spark.createDataFrame(rows, "doc_id long, key string, pos int")
        out = _capped_key_groups(keyed, ["key"], F.collect_list("doc_id"), cap, lo, size)
        return {r["key"]: list(r["members"]) for r in out.collect()}

    assert groups([], cap=3) == {}
    rows = (
        [(1, "single", 0)]
        + [(d, "at_cap", 0) for d in (3, 1, 2)]
        + [(d, "over_cap", 0) for d in (4, 3, 2, 1)]
    )
    assert groups(rows, cap=3) == {"at_cap": [1, 2, 3]}
    assert groups(rows, cap=3, lo=1) == {"single": [1], "at_cap": [1, 2, 3]}
    assert groups(rows, cap=4) == {"at_cap": [1, 2, 3], "over_cap": [1, 2, 3, 4]}
    # key "rep" occurs 3x in doc 1 and once in doc 2: 4 rows, 2 distinct docs
    rep = [(1, "rep", p) for p in range(3)] + [(2, "rep", 0)]
    assert groups(rep, cap=3) == {}
    assert groups(rep, cap=3, size=F.countDistinct("doc_id")) == {"rep": [1, 1, 1, 2]}
    assert groups(rep, cap=1, size=F.countDistinct("doc_id")) == {}


def test_span_df_cap_is_count_prepass(spark):
    """Round-7 migration: SPAN_DF_CAP must be a countDistinct pre-pass —
    the old shape collected the full (doc_id, pos) occurrence set and then
    filtered size(array_distinct(members)), which the audit regex could
    not even see."""
    import re

    from fpl_data_pipeline_spark.operators.dedup import span_pair_spans

    d = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon doc{i} tail words here") for i in range(6)],
        "doc_id long, text string",
    )
    plan = _optimized_plan(span_pair_spans(d))
    assert "collect_list" in plan
    assert "count(distinct doc_id" in plan, "countDistinct pre-pass missing"
    assert not re.search(r"size\(array_distinct", plan), (
        "post-collect size(array_distinct(members)) cap found"
    )


def test_span_df_cap_silences_boilerplate_hash(spark):
    """6 docs of one boilerplate text exceed the cap -> no certified spans
    among them; a rare 2-doc duplicate still certifies its full span."""
    from fpl_data_pipeline_spark.operators.dedup import span_pair_spans

    texts = ["common boilerplate text shared everywhere in corpus"] * 6 + [
        "rare duplicate sentence appearing exactly twice right here"
    ] * 2
    d = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = span_pair_spans(d, df_cap=4).collect()
    assert {(r["doc_id_a"], r["doc_id_b"]) for r in rows} == {(6, 7)}
    assert rows[0]["span_tokens"] == 8  # the full 8-token duplicate text


def _write_cf_tables(spark, tmp_path, baskets: dict[int, list[int]]):
    """orders/lineitem parquet where customer c bought exactly baskets[c]."""
    orders, lines, ok = [], [], 1
    for cust, items in baskets.items():
        orders.append((ok, cust))
        for it in items:
            lines.append((ok, it))
        ok += 1
    spark.createDataFrame(orders, "o_orderkey long, o_custkey long").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(lines, "l_orderkey long, l_partkey long").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


def test_cf_basket_cap_is_count_prepass(spark):
    """CF_BASKET_CAP must count distinct items per customer BEFORE the
    basket collect — the last group collect to get the pre-pass shape.
    Asserted on the pre-localCheckpoint building block (_cf_capped_baskets);
    the pin hides the aggregate from the full query's optimized plan."""
    import re

    from fpl_data_pipeline_spark.plans.advanced_relational import _cf_capped_baskets
    from fpl_data_pipeline_spark.tables import table

    li = table(spark, "/root/testdata/sf0.001", "lineitem")
    o = table(spark, "/root/testdata/sf0.001", "orders")
    plan = _optimized_plan(_cf_capped_baskets(li, o))
    assert "collect_list" in plan
    assert "count(1)" in plan, "count-agg pre-pass missing from plan"
    assert not re.search(r"size\((items|members)[^\n]*<=", plan)


def test_cf_basket_cap_silences_prolific_customer(spark, tmp_path):
    """A 6-item bot basket over the (patched) cap of 5 contributes nothing;
    the three 2-item customers still produce their pair with n_common
    counted over surviving baskets only."""
    from fpl_data_pipeline_spark.plans import advanced_relational as A

    _write_cf_tables(
        spark,
        tmp_path,
        {1: [10, 20], 2: [10, 20], 3: [10, 20], 99: [10, 20, 30, 40, 50, 60]},
    )
    orig = A.CF_BASKET_CAP
    A.CF_BASKET_CAP = 5
    try:
        rows = A.cf_item_similarity(spark, str(tmp_path)).collect()
    finally:
        A.CF_BASKET_CAP = orig
    assert len(rows) == 1
    r = rows[0]
    # without the cap, customer 99 would lift (10, 20) to n_common=4 and
    # surface (30..60) pairs below the support floor
    assert (r["item_a"], r["item_b"], r["n_common"]) == (10, 20, 3)
    assert r["cosine_sim"] == pytest.approx(1.0)


def test_mh_band_cap_is_count_prepass(spark):
    """MH_BAND_CAP must be a count pre-pass on BOTH minhash twins."""
    from fpl_data_pipeline_spark.operators.dedup import (
        MD5_MINHASH,
        XX_MINHASH,
        minhash_pairs,
    )

    d = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{i} tail words here") for i in range(6)],
        "doc_id long, text string",
    )
    _assert_count_prepass(_optimized_plan(minhash_pairs(d, XX_MINHASH)))
    _assert_count_prepass(_optimized_plan(minhash_pairs(d, MD5_MINHASH)))


def test_mh_band_cap_silences_boilerplate_band(spark):
    """6 copies of one text share every band (over the patched cap of 4) ->
    no candidates among them; a rare 2-copy duplicate still surfaces, on
    both twins."""
    from fpl_data_pipeline_spark.operators import dedup as D

    texts = ["common boilerplate text shared everywhere in corpus"] * 6 + [
        "rare duplicate sentence appearing exactly twice here"
    ] * 2
    d = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    orig = D.MH_BAND_CAP
    D.MH_BAND_CAP = 4
    try:
        prod = D.minhash_pairs(d, D.XX_MINHASH).collect()
        port = D.minhash_pairs(d, D.MD5_MINHASH).collect()
    finally:
        D.MH_BAND_CAP = orig
    for rows in (prod, port):
        assert {(r["doc_id_a"], r["doc_id_b"]) for r in rows} == {(6, 7)}
        assert rows[0]["est_jaccard"] == 1.0


def test_winnow_fp_cap_silences_boilerplate_fingerprint(spark):
    """6 docs of one boilerplate text share every fingerprint (df=6 > cap=4)
    -> no pairs among them; a rare 2-doc duplicate still pairs."""
    from fpl_data_pipeline_spark.operators.dedup import winnowing_candidate_pairs

    texts = ["common boilerplate text shared everywhere in corpus"] * 6 + [
        "rare duplicate sentence appearing exactly twice here"
    ] * 2
    d = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = winnowing_candidate_pairs(d, fp_cap=4).collect()
    assert {(r["doc_id_a"], r["doc_id_b"]) for r in rows} == {(6, 7)}


def test_set_overlap_df_cap_silences_boilerplate_shingle(spark):
    """Same planted scenario through the Jaccard/containment engine half:
    the over-cap shingles of the boilerplate group stop producing pairs,
    the rare pair survives with full overlap, and surviving singleton keys
    still count toward per-doc sizes (na == nb == n_common for the exact
    duplicate)."""
    from fpl_data_pipeline_spark.operators.dedup import _set_overlap_stats, shingles

    texts = ["common boilerplate text shared everywhere in corpus"] * 6 + [
        "rare duplicate sentence appearing exactly twice here"
    ] * 2
    d = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = _set_overlap_stats(shingles(d), "shingle", df_cap=4).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_id_a"], r["doc_id_b"]) == (6, 7)
    assert r["na"] == r["nb"] == r["n_common"] > 0


# --- (a) hot-key silencing + (c) disjoint union ------------------------------


def test_lsh_band_cap_silences_mega_band_and_union_is_disjoint(spark):
    """10 identical vectors form an over-cap group in BOTH bands -> zero
    pairs among them; a 3-member sparse direction survives, and each of its
    pairs — which share both bands — is emitted exactly once (the
    lowest-shared-band rule makes the union disjoint without .distinct())."""
    from fpl_data_pipeline_spark.operators import similarity as S

    hot = [(i, [1.0] * 64) for i in range(10)]
    cold = [(100 + i, [-1.0 if j % 2 else 2.0 for j in range(64)]) for i in range(3)]
    emb = spark.createDataFrame(hot + cold, "vec_id long, embedding array<double>")
    orig = S.ND_BAND_CAP
    S.ND_BAND_CAP = 5
    try:
        rows = S._lsh_candidate_pairs(emb).collect()
    finally:
        S.ND_BAND_CAP = orig
    pairs = [(r["vec_id_a"], r["vec_id_b"]) for r in rows]
    assert len(pairs) == len(set(pairs)), "duplicate pair emitted — union not disjoint"
    assert set(pairs) == {(100, 101), (100, 102), (101, 102)}


def test_lsh_pair_set_matches_reference_semantics(spark):
    """Randomized check: the emitted pair set equals the reference
    'share >= 1 alive band' semantics computed in plain Python, and no pair
    is duplicated. Pins that dropping .distinct() changed the PLAN, not the
    candidate set."""
    import itertools
    import random
    from collections import Counter

    from fpl_data_pipeline_spark.operators import similarity as S

    rnd = random.Random(7)
    vecs = [
        (i, [rnd.gauss(0, 1) for _ in range(64)]) for i in range(120)
    ]
    cap = 8
    # the second input replays three rows (an ingestion replay): group
    # sizes count every row, but no (x, x) self-pair may come out
    for rows_in in (vecs, vecs + vecs[:3]):
        emb = spark.createDataFrame(rows_in, "vec_id long, embedding array<double>")
        band_rows = [
            (r["vec_id"], r["k0"], r["k1"]) for r in S.lsh_doc_band_keys(emb).collect()
        ]
        keys = {v: (k0, k1) for v, k0, k1 in band_rows}
        orig = S.ND_BAND_CAP
        S.ND_BAND_CAP = cap
        try:
            rows = S._lsh_candidate_pairs(emb).collect()
        finally:
            S.ND_BAND_CAP = orig
        c0 = Counter(k0 for _, k0, _ in band_rows)
        c1 = Counter(k1 for _, _, k1 in band_rows)
        expected = set()
        for a, b in itertools.combinations(sorted(keys), 2):
            share0 = keys[a][0] == keys[b][0] and 2 <= c0[keys[a][0]] <= cap
            share1 = keys[a][1] == keys[b][1] and 2 <= c1[keys[a][1]] <= cap
            if share0 or share1:
                expected.add((a, b))
        got = [(r["vec_id_a"], r["vec_id_b"]) for r in rows]
        assert not [p for p in got if p[0] == p[1]], "self-pair emitted"
        assert len(got) == len(set(got)), "duplicate pair emitted"
        assert set(got) == expected


def test_hv_block_cap_silences_mega_block(spark, tmp_path):
    """Every doc of the hot group shares the (dominant, 2nd-dominant)
    blocking key -> over-cap block emits nothing; the sparse 2-doc block
    still pairs (the round-5 Zipf mega-block OOM scenario, now a planted
    pytest per the round-5 verdict)."""
    from fpl_data_pipeline_spark.functions import text_queries as T

    texts = ["alpha alpha alpha beta beta gamma"] * 10 + [
        "delta delta delta epsilon epsilon zeta"
    ] * 2
    sf_dir = _write_documents(spark, tmp_path, texts)
    orig = T.HV_BLOCK_CAP
    T.HV_BLOCK_CAP = 4
    try:
        rows = T.text_hash_vector_dups(spark, sf_dir).collect()
    finally:
        T.HV_BLOCK_CAP = orig
    pairs = {(r["doc_id_a"], r["doc_id_b"]) for r in rows}
    assert pairs == {(10, 11)}
    assert rows[0]["cosine"] == pytest.approx(1.0)


def test_simhash_chunk_cap_silences_mega_chunk_both_twins(spark, tmp_path):
    """10 identical docs share every SimHash chunk -> over-cap chunk groups
    emit nothing; the 2-doc group still pairs. Holds for BOTH the xxhash64
    production pipeline and the md5 portable twin (same cap constant), and
    both recover the same pair — a planted-pair value check for the
    rows-only production twin (judge task #6)."""
    from fpl_data_pipeline_spark.operators import dedup as D

    texts = ["alpha beta gamma delta epsilon zeta"] * 10 + [
        "omega sigma alpha delta zeta beta"
    ] * 2
    sf_dir = _write_documents(spark, tmp_path, texts)
    orig = D.SIMHASH_CHUNK_CAP
    D.SIMHASH_CHUNK_CAP = 4
    try:
        prod = D.dedup_simhash_pairs(spark, sf_dir).collect()
        port = D.dedup_simhash_portable(spark, sf_dir).collect()
    finally:
        D.SIMHASH_CHUNK_CAP = orig
    prod_pairs = {(r["doc_id_a"], r["doc_id_b"], r["hamming"]) for r in prod}
    port_pairs = {(r["doc_id_a"], r["doc_id_b"], r["hamming"]) for r in port}
    assert prod_pairs == {(10, 11, 0)}
    assert port_pairs == {(10, 11, 0)}


# --- planted-pair value checks for the xxhash64 production twins -------------


def _near_dup_corpus():
    """30 docs: three planted near-dup families (one pair, one pair, one
    triangle) over disjoint vocabularies, plus word-soup singletons with no
    shared shingles at all. Both hash families must recover exactly the
    planted pairs — nothing else shares a single shingle."""
    import random

    rnd = random.Random(13)

    def soup(tag, n=30):
        return " ".join(f"{tag}w{rnd.randint(0, 10**9)}" for _ in range(n))

    base_a = " ".join(f"fam_a_{k}" for k in range(30))
    base_b = " ".join(f"fam_b_{k}" for k in range(30))
    base_c = " ".join(f"fam_c_{k}" for k in range(30))
    texts = []
    for i in range(23):
        texts.append(soup(f"u{i}"))
    texts.append(base_a)                           # 23
    texts.append(base_a + " fam_a_tail")           # 24: near-dup of 23
    texts.append(base_b)                           # 25
    texts.append(base_b + " fam_b_tail")           # 26: near-dup of 25
    texts.append(base_c)                           # 27
    texts.append(base_c + " fam_c_x")              # 28
    texts.append(base_c + " fam_c_y")              # 29: triangle 27-28-29
    planted = {(23, 24), (25, 26), (27, 28), (27, 29), (28, 29)}
    return texts, planted


def test_minhash_prod_twin_recovers_planted_pairs(spark, tmp_path):
    from fpl_data_pipeline_spark.operators.dedup import (
        dedup_minhash_pairs,
        dedup_minhash_portable,
    )

    texts, planted = _near_dup_corpus()
    sf_dir = _write_documents(spark, tmp_path, texts)
    prod = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup_minhash_pairs(spark, sf_dir).collect()
    }
    port = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup_minhash_portable(spark, sf_dir).collect()
    }
    assert planted <= prod, f"production minhash missed {planted - prod}"
    assert prod == port, (
        "xxhash64 and md5 twins disagree on the planted corpus: "
        f"prod-only={prod - port}, portable-only={port - prod}"
    )


def test_clusters_prod_twin_matches_portable(spark, tmp_path):
    """The full pair->components->summary pipeline: identical cluster
    summaries from the xxhash64 production pipeline and the value-oracled
    md5 twin on the planted corpus (two pairs + one triangle)."""
    from fpl_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_portable,
    )

    texts, _ = _near_dup_corpus()
    sf_dir = _write_documents(spark, tmp_path, texts)
    prod = [
        (r["cluster_id"], r["cluster_size"])
        for r in dedup_clusters(spark, sf_dir).collect()
    ]
    port = [
        (r["cluster_id"], r["cluster_size"])
        for r in dedup_clusters_portable(spark, sf_dir).collect()
    ]
    assert prod == port
    assert (27, 3) in prod and (23, 2) in prod and (25, 2) in prod


def _operator_sequence(plan: str) -> list[str]:
    """Operator node names of a plan tree, top-down: tree glyphs,
    expressions and literals dropped."""
    import re

    return [re.match(r"[\s:+\-|]*(\w+)", line).group(1) for line in plan.splitlines()]


@pytest.mark.parametrize(
    "rows_only, oracled",
    [
        ("dedup_minhash_pairs", "dedup_minhash_portable"),
        ("dedup_simhash_pairs", "dedup_simhash_portable"),
    ],
)
def test_rows_only_twin_runs_the_oracled_plan(spark, tmp_path, rows_only, oracled):
    """A rows-only xxhash64 query and its value-oracled md5 twin build the
    same optimized plan: same operator nodes in the same order, above the
    same pinned per-doc signature relation."""
    from fpl_data_pipeline_spark.registry import QUERIES, load_all

    load_all()
    sf_dir = _write_documents(spark, tmp_path, _near_dup_corpus()[0])
    plans = [
        _operator_sequence(_optimized_plan(QUERIES[q](spark, sf_dir)))
        for q in (rows_only, oracled)
    ]
    assert plans[0] == plans[1]
    # both band-group consumers (count pre-pass, member collect) read the
    # one per-doc pin
    assert plans[0].count("LogicalRDD") == 2


# --- directed containment expansion (advice finding 3) ------------------------


def test_containment_directed_matches_naive_selfjoin(spark):
    """_set_overlap_stats(directed=True) must emit the same ordered-pair
    multiset as the naive shingle self-join, including BOTH orientations
    when na == nb (two docs with equal shingle counts)."""
    from fpl_data_pipeline_spark.operators.dedup import (
        _set_overlap_stats,
        shingles,
    )

    texts = [
        "a b c d e f g h",          # 0: contained in 1
        "a b c d e f g h i j k l",  # 1: container
        "x y z w v u t s",          # 2: equal-size twin of 3
        "x y z w v u t q",          # 3
        "p q r",                    # 4: single shingle, isolated
    ]
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sh = shingles(d).select("doc_id", "shingle")
    got = {
        (r["doc_id_a"], r["doc_id_b"], r["n_common"], r["na"], r["nb"])
        for r in _set_overlap_stats(sh, "shingle", directed=True).collect()
    }
    rows = sh.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["shingle"])
    expected = set()
    for a in by_doc:
        for b in by_doc:
            if a == b:
                continue
            common = len(by_doc[a] & by_doc[b])
            if common:
                expected.add((a, b, common, len(by_doc[a]), len(by_doc[b])))
    assert got == expected
    # the na == nb family is present in both orientations
    assert (2, 3, 5, 6, 6) in got and (3, 2, 5, 6, 6) in got


def test_cap_audit_reports_drops_when_cap_fires(spark, tmp_path):
    """candidate_cap_audit is the recall-collapse tripwire: on a corpus
    where a band group exceeds the (patched) cap it must report the dropped
    groups and a non-zero dropped-membership fraction — and zero for
    families whose caps did not fire."""
    import pyspark.sql.functions as F

    from fpl_data_pipeline_spark.operators import similarity as S

    texts = ["alpha beta gamma delta epsilon zeta"] * 6
    _write_documents(spark, tmp_path, texts)
    emb = spark.createDataFrame(
        [(i, [1.0] * 64, 0) for i in range(10)]
        + [(100 + i, [-1.0 if j % 2 else 2.0 for j in range(64)], 0) for i in range(3)],
        "vec_id long, embedding array<float>, label int",
    )
    emb.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    # the round-7 audit also covers the customer-keyed families
    # (fs_block / geo_cell) — give them a tiny relation
    cust = spark.createDataFrame(
        [(i, f"Customer#{i:09d}", i % 5, "BUILDING", 100.0 + i) for i in range(8)],
        "c_custkey long, c_name string, c_nationkey long, "
        "c_mktsegment string, c_acctbal double",
    )
    cust.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    _write_cf_tables(spark, tmp_path, {1: [10, 20], 2: [10, 20]})

    orig = S.ND_BAND_CAP
    S.ND_BAND_CAP = 5
    try:
        rows = {r["family"]: r for r in S.candidate_cap_audit(spark, str(tmp_path)).collect()}
    finally:
        S.ND_BAND_CAP = orig

    b0 = rows["nd_band0"]
    # the 10-vector group is over the cap of 5; the 3-vector group is not
    assert b0["n_dropped"] >= 1
    assert b0["members_dropped"] >= 10
    assert 0.0 < b0["drop_frac"] <= 1.0
    # 6 identical docs: simhash chunk groups of 6, far below the 10k cap
    sc = rows["simhash_chunk"]
    assert sc["n_dropped"] == 0 and sc["drop_frac"] == 0.0
    # round-7: all ten cap families report, and the un-fired ones are zero
    assert set(rows) == {
        "nd_band0",
        "nd_band1",
        "simhash_chunk",
        "shingle_df",
        "winnow_fp",
        "span_df",
        "hv_block",
        "fs_block",
        "geo_cell",
        "cf_basket",
        "mh_band",
    }
    for fam in (
        "shingle_df",
        "winnow_fp",
        "span_df",
        "hv_block",
        "fs_block",
        "geo_cell",
        "cf_basket",
        "mh_band",
    ):
        assert rows[fam]["n_dropped"] == 0 and rows[fam]["drop_frac"] == 0.0, fam


def test_lsh_candidate_pairs_guards_band_count(spark, monkeypatch):
    """The 2-band suppression chain must fail loud — not silently drop
    bands — if the banding is ever widened."""
    import pytest as _pytest

    from fpl_data_pipeline_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(0, [1.0] * 64), (1, [1.0] * 64)], "vec_id long, embedding array<double>"
    )
    monkeypatch.setattr(S, "N_ND_BANDS", 4)
    with _pytest.raises(ValueError, match="2-band"):
        S._lsh_candidate_pairs(emb)
