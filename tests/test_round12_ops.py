"""Round-12 optimization guards.

Every test here pins an internals change the optimization round made
(values unchanged by construction — the oracle parity sweep is the value
gate; these assert the new internal contracts and fallback boundaries)."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from fpl_data_pipeline_spark.tables import table


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


def test_expand_carry_collision_raises(spark):
    """_expand_member_pairs_streaming must refuse carry columns that shadow
    its internal aliases (round-11 ADVICE: a carried column named 'a'
    would silently duplicate in the output select)."""
    from fpl_data_pipeline_spark.operators.dedup import (
        _expand_member_pairs_streaming,
    )

    g = spark.createDataFrame([([1, 2, 3], 7)], "members array<long>, a long")
    with pytest.raises(ValueError, match="carry columns collide"):
        _expand_member_pairs_streaming(g, carry=("a",))
    # a non-colliding carry still works
    g2 = spark.createDataFrame([([1, 2, 3], 7)], "members array<long>, w long")
    rows = sorted(
        (r["a"], r["b"], r["w"])
        for r in _expand_member_pairs_streaming(g2, carry=("w",)).collect()
    )
    assert rows == [(1, 2, 7), (1, 3, 7), (2, 3, 7)]


def test_kmeans_fit_empty_corpus(spark, empty_dir):
    """kmeans_fit on an empty corpus returns a correctly-typed zero-row
    assignment instead of failing analysis on a VOID-typed empty array
    literal (round-11 ADVICE; lloyd_assign's one guard serves both
    arithmetics)."""
    from fpl_data_pipeline_spark.operators.similarity import kmeans_fit

    out = kmeans_fit(table(spark, empty_dir, "embeddings"))
    assert out.collect() == []
    assert [f.simpleString() for f in out.schema.fields] == [
        "vec_id:bigint",
        "cluster_id:int",
        "sq_dist:double",
    ]


def test_cf_co_broadcast_guard_boundary(monkeypatch):
    """The co-model broadcast guard flips exactly at the row budget and
    follows the budget constant (round-12: broadcast with explicit scale
    guard, shuffle fallback past it)."""
    from fpl_data_pipeline_spark.plans import advanced_relational as AR

    at_budget = AR.CF_CO_BROADCAST_ROWS // AR.NEIGH_M
    assert AR._co_broadcast_ok(at_budget)
    assert not AR._co_broadcast_ok(at_budget + 1)
    monkeypatch.setattr(AR, "CF_CO_BROADCAST_ROWS", 0)
    assert not AR._co_broadcast_ok(1)
    monkeypatch.setattr(AR, "CF_CO_BROADCAST_ROWS", 10 * AR.NEIGH_M)
    assert AR._co_broadcast_ok(10)
    assert not AR._co_broadcast_ok(11)


def test_cf_holdout_broadcast_fallback_same_result(spark, monkeypatch):
    """cf_holdout_hitrate computes identical values through the broadcast
    plan and the shuffle fallback (the guard changes strategy, never
    results)."""
    from fpl_data_pipeline_spark.plans import advanced_relational as AR
    from fpl_data_pipeline_spark.plans.advanced_relational import cf_holdout_hitrate

    sf = "/root/testdata/sf0.001"
    with_bcast = cf_holdout_hitrate(spark, sf).collect()
    monkeypatch.setattr(AR, "CF_CO_BROADCAST_ROWS", 0)
    without = cf_holdout_hitrate(spark, sf).collect()
    assert with_bcast == without
    assert with_bcast[0]["n_eval_customers"] > 0


def test_lr_features_with_eval_matches_two_pass(spark):
    """_lr_features(with_eval=True) returns the same eval (doc_id, bucket,
    n) relation as the old second tokenize pass: the split key is a
    function of doc_id alone, so doc-level filtering commutes with the
    token-count groupBy."""
    from fpl_data_pipeline_spark.functions.learned import (
        LR_B,
        LR_TRAIN_CUT,
        _lr_features,
    )

    d = table(spark, "/root/testdata/sf0.001", "documents")
    _, _, _, ev = _lr_features(d, with_eval=True)

    # the pre-round-12 formulation: tokenize, filter tokens to the eval
    # split FIRST, then count per (doc, bucket)
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "")
        ).alias("tok"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"), F.lit(LR_B)
    )
    split = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    old = (
        toks.filter(split >= LR_TRAIN_CUT)
        .groupBy("doc_id", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = sorted((r["doc_id"], r["bucket"], r["n"]) for r in ev.collect())
    b = sorted((r["doc_id"], r["bucket"], r["n"]) for r in old.collect())
    assert a == b and len(a) > 0


def test_pair_pack_guard_boundary(spark):
    """_pair_pack_ok: packing only when every id provably fits 31 bits —
    unknown, empty, negative or >= 2^31 ids keep the exact two-column
    aggregation."""
    from fpl_data_pipeline_spark.operators.dedup import _pair_pack_ok

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long")  # noqa: E731
    assert _pair_pack_ok(None) is False
    assert _pair_pack_ok(mk([])) is False
    assert _pair_pack_ok(mk([(0,), ((1 << 31) - 1,)])) is True
    assert _pair_pack_ok(mk([(0,), (1 << 31,)])) is False
    assert _pair_pack_ok(mk([(-1,), (5,)])) is False


def test_pair_packed_agg_matches_two_column(spark):
    """The packed (a << 31 | b) pair aggregation returns exactly the
    two-column aggregation's rows (ids, n_common, na, nb) on a real
    corpus — the round-12 fast path is value-invisible — with bigint ids
    and with int ids, where an unwidened shift wraps in 32 bits."""
    from fpl_data_pipeline_spark.operators.dedup import (
        _set_overlap_stats,
        shingles,
    )

    d = table(spark, "/root/testdata/sf0.001", "documents")
    key = lambda r: (r["doc_id_a"], r["doc_id_b"], r["n_common"], r["na"], r["nb"])  # noqa: E731
    for docs in (d, d.withColumn("doc_id", F.col("doc_id").cast("int"))):
        packed = _set_overlap_stats(shingles(docs), "shingle", ids=docs)
        plain = _set_overlap_stats(shingles(docs), "shingle", ids=None)
        a = sorted(key(r) for r in packed.collect())
        b = sorted(key(r) for r in plain.collect())
        assert a == b and len(a) > 0


def test_hash_overlap_keys_toggle_same_rows(spark, monkeypatch):
    """SPARK_GRAFT_HASH_OVERLAP_KEYS=0 (string grouping keys, the
    independent collision check) and =1 (xxhash64 keys) give identical
    _set_overlap_stats rows, for word shingles and for the char-8-gram
    keys dedup_charngram_jaccard builds."""
    from fpl_data_pipeline_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    d = table(spark, sf, "documents")
    inputs = [(dedup.shingles(d), "shingle")]
    real = dedup._set_overlap_stats

    def capture(sh, key_col, *args, **kw):
        inputs.append((sh, key_col))
        return real(sh, key_col, *args, **kw)

    monkeypatch.setattr(dedup, "_set_overlap_stats", capture)
    dedup.dedup_charngram_jaccard(spark, sf)
    monkeypatch.undo()
    assert [k for _, k in inputs] == ["shingle", "g"]

    key = lambda r: (r["doc_id_a"], r["doc_id_b"], r["n_common"], r["na"], r["nb"])  # noqa: E731
    for sh, key_col in inputs:
        rows = {}
        for flag in ("0", "1"):
            monkeypatch.setenv("SPARK_GRAFT_HASH_OVERLAP_KEYS", flag)
            out = real(sh, key_col, ids=d)
            rows[flag] = sorted(key(r) for r in out.collect())
        assert rows["0"] == rows["1"] and len(rows["1"]) > 0, key_col


def test_audit_shared_words_matches_per_family_tokenize(spark):
    """candidate_cap_audit's shared doc_words pin yields the same rows as
    helpers tokenizing independently (the audit's code-sharing contract:
    same keying code, one tokenize)."""
    from fpl_data_pipeline_spark.operators.dedup import (
        doc_words,
        shingles,
        winnow_doc_fingerprints,
    )

    d = table(spark, "/root/testdata/sf0.001", "documents")
    words = doc_words(d).localCheckpoint(eager=False)
    for fn, cols in ((shingles, ("doc_id", "shingle")), (winnow_doc_fingerprints, ("doc_id", "fp"))):
        shared, solo = fn(d, words=words), fn(d)
        a = sorted(tuple(r[c] for c in cols) for r in shared.collect())
        b = sorted(tuple(r[c] for c in cols) for r in solo.collect())
        assert a == b and len(a) > 0
