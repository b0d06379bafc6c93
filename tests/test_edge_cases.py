"""Empty-input and degenerate-input behavior of the engine's core operators:
a distributed engine meets empty partitions, empty batches, and key-miss
joins constantly — they must degrade to correct empties, not errors."""

from __future__ import annotations

import pyspark.sql.functions as F

from fpl_data_pipeline_spark.operators.dedup import connected_components
from fpl_data_pipeline_spark.operators.upsert import upsert
from fpl_data_pipeline_spark.sources.incremental_load import (
    high_water_mark,
    select_weeks,
)


def test_upsert_empty_batch_is_noop(spark):
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    empty = spark.createDataFrame([], "id long, v string")
    out = upsert(base, empty, keys=["id"])
    assert {tuple(r) for r in out.collect()} == {(1, "a"), (2, "b")}


def test_upsert_into_empty_base(spark):
    base = spark.createDataFrame([], "id long, v string")
    batch = spark.createDataFrame([(1, "a")], "id long, v string")
    out = upsert(base, batch, keys=["id"])
    assert [tuple(r) for r in out.collect()] == [(1, "a")]


def test_high_water_mark_empty_table(spark):
    wk = spark.createDataFrame([], "id int, data_checked boolean")
    assert high_water_mark(wk) == 0


def test_select_weeks_skip_returns_empty(spark):
    src = spark.createDataFrame([(1, 1), (2, 2)], "element_ int, round_gw int")
    assert select_weeks(src, hwm=0, data_flow="Skip").count() == 0


def test_connected_components_no_edges(spark):
    pairs = spark.createDataFrame([], "doc_id_a long, doc_id_b long")
    assert connected_components(pairs).count() == 0


def test_topk_on_empty_filter(spark):
    """TakeOrderedAndProject over an empty relation returns an empty result
    with the right schema (not an error)."""
    df = spark.range(10).filter(F.col("id") < 0)
    out = df.orderBy(F.col("id").desc()).limit(5)
    assert out.count() == 0
    assert out.columns == ["id"]


def test_dedup_operators_on_degenerate_corpora(spark):
    """Empty corpus, empty-text docs, and an all-identical corpus must not
    crash any dedup building block and must produce the obvious results."""
    import pyspark.sql.functions as F

    from fpl_data_pipeline_spark.operators.dedup import (
        MD5_MINHASH,
        MD5_SIMHASH,
        XX_MINHASH,
        XX_SIMHASH,
        _capped_key_groups,
        minhash_pairs,
        minhash_signatures,
        ordered_shingles,
        shingles,
        simhash,
        simhash_pairs,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert shingles(empty).count() == 0
    capped = _capped_key_groups(shingles(empty), ["shingle"], F.collect_list("doc_id"), 5)
    assert capped.count() == 0
    assert ordered_shingles(empty).count() == 0
    assert minhash_signatures(empty).count() == 0
    assert simhash(empty).count() == 0

    degenerate = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one"), (4, None)], "doc_id long, text string"
    )
    # none of these have a 3-gram; nothing aborts, nothing is emitted
    assert shingles(degenerate).count() == 0
    assert minhash_signatures(degenerate).count() == 0

    same = spark.createDataFrame(
        [(i, "identical text repeated across every document here") for i in range(5)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(same).collect()
    assert len({tuple(r["sig"]) for r in sigs}) == 1  # one signature class
    sh = {r["doc_id"]: r["simhash"] for r in simhash(same).collect()}
    assert len(set(sh.values())) == 1

    # _banded_pairs under all four hash families: nothing to pair in the
    # empty and all-short corpora; 5 identical docs pair C(5, 2) = 10 ways
    # at the exact-duplicate score
    all_pairs = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    for pairs, family, score, dup_score in (
        (minhash_pairs, XX_MINHASH, "est_jaccard", 1.0),
        (minhash_pairs, MD5_MINHASH, "est_jaccard", 1.0),
        (simhash_pairs, XX_SIMHASH, "hamming", 0),
        (simhash_pairs, MD5_SIMHASH, "hamming", 0),
    ):
        assert pairs(empty, family).count() == 0, family
        assert pairs(degenerate, family).count() == 0, family
        rows = pairs(same, family).collect()
        assert sorted((r["doc_id_a"], r["doc_id_b"]) for r in rows) == all_pairs, family
        assert {r[score] for r in rows} == {dup_score}, family


def test_corpus_operators_on_degenerate_docs(spark, tmp_path):
    """Corpus-prep queries run over a table containing empty/short docs
    without aborting (regression class: sequence(1,0) descending)."""
    import pyspark.sql.functions as F

    from fpl_data_pipeline_spark.registry import QUERIES, load_all

    load_all()
    docs = spark.createDataFrame(
        [
            (1, "", "en", "src0", 0),
            (2, "one", "en", "src0", 3),
            (3, "two words", "de", "src1", 9),
            (4, "a normal length document with enough words to keep "
                "the quality filters content and the packer busy", "en", "src1", 103),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = str(tmp_path)
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    for name in ("quality_repetition_signals", "doc_packing_summary",
                 "quality_filter_funnel", "doc_chunking", "text_top_bigrams",
                 "dedup_winnowing_pairs", "dedup_minhash_portable"):
        out = QUERIES[name](spark, sf_dir)
        out.collect()  # must not raise
    funnel = {r["verdict"]: r["n_docs"]
              for r in QUERIES["quality_filter_funnel"](spark, sf_dir).collect()}
    # empty-text doc never reaches the divide-by-zero rules: caught by too_short
    assert funnel.get("too_short", 0) >= 2


def test_lloyd_loop_on_degenerate_corpora(spark):
    """Both Lloyd arithmetics run one loop, so both meet the same
    degenerate inputs: an empty corpus gives a typed zero-row assignment,
    a single vector is its own centroid, and identical vectors tie to the
    lowest c_id."""
    from fpl_data_pipeline_spark.operators.similarity import (
        DIM,
        LLOYD_DOUBLE,
        LLOYD_EXACT6,
        lloyd_assign,
    )

    schema = "vec_id long, embedding array<float>"
    empty = spark.createDataFrame([], schema)
    one = spark.createDataFrame([(7, [0.5] * DIM)], schema)
    same = spark.createDataFrame([(i, [0.25] * DIM) for i in range(4)], schema)
    for arith in (LLOYD_DOUBLE, LLOYD_EXACT6):
        out = lloyd_assign(empty, arith, k=8)
        assert out.collect() == [], arith.col
        types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
        assert list(types) == ["vec_id", arith.col, "c_id", "d2"], arith.col
        assert (types["vec_id"], types["c_id"], types["d2"]) == (
            "bigint", "int", arith.sql_type,
        ), arith.col
        rows = lloyd_assign(one, arith, k=8).collect()
        assert [(r["vec_id"], r["c_id"], r["d2"]) for r in rows] == [(7, 0, 0)], arith.col
        rows = lloyd_assign(same, arith, k=8).collect()
        assert sorted((r["vec_id"], r["c_id"], r["d2"]) for r in rows) == [
            (i, 0, 0) for i in range(4)
        ], arith.col


def test_lloyd_arithmetics_agree_where_both_are_exact(spark):
    """On integer-valued coordinates whose cluster means are integers,
    every distance and centroid update is exact in both arithmetics, so
    the double loop (kmeans_embeddings) and the exact-integer loop
    (kmeans_portable's, which the DuckDB oracle replays) must assign every
    vector identically, with d2_exact == d2_double * 1e12."""
    from fpl_data_pipeline_spark.operators.similarity import (
        DIM,
        LLOYD_DOUBLE,
        LLOYD_EXACT6,
        lloyd_assign,
    )

    def vec(center_axis, offset):
        v = [0.0] * DIM
        if center_axis is not None:
            v[center_axis] = 10.0
        v[5] = float(offset)
        return v

    # three clusters of four members at offsets +-1, +-2 around an integer
    # center; vec_ids 0..2 (the seeds) are one member of each cluster
    centers = (None, 0, 1)
    rows, vid = [], 0
    for off in (1, -1, 2, -2):
        for axis in centers:
            rows.append((vid, vec(axis, off)))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {}
    for arith in (LLOYD_DOUBLE, LLOYD_EXACT6):
        got[arith.col] = {
            r["vec_id"]: (r["c_id"], r["d2"])
            for r in lloyd_assign(emb, arith, k=3).collect()
        }
    dbl, ex = got["embedding"], got["v6"]
    assert set(dbl) == set(ex) == set(range(12))
    for v in range(12):
        assert dbl[v][0] == ex[v][0] == v % 3, v
        assert ex[v][1] == dbl[v][1] * 1e12, v
    assert sorted({d for _, d in dbl.values()}) == [1.0, 4.0]
