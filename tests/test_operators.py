"""Operator unit tests: dedup families on planted duplicates, similarity on
planted neighbors, fuzzy name join on spelling variants, approximate
aggregate error bounds (SURVEY.md §5.2.4)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fpl_data_pipeline_spark.operators.dedup import (
    minhash_signatures,
    simhash,
    shingles,
)
from fpl_data_pipeline_spark.operators.fuzzy_join import fuzzy_name_join, normalize_name
from fpl_data_pipeline_spark.operators.similarity import cosine_topk, lsh_bucket

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches the "
    "bird and the fish swim in the pond near the old mill by the river"
)


@pytest.fixture(scope="module")
def docs(spark):
    near = BASE.replace("lazy", "sleepy").replace("old", "ancient")
    far = "completely different content about spark engines and parquet files only"
    return spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, near), (4, far)], ["doc_id", "text"]
    ).cache()


def test_shingles_distinct_per_doc(docs):
    sh = shingles(docs.filter("doc_id = 1"))
    grams = [r["shingle"] for r in sh.collect()]
    assert len(grams) == len(set(grams))
    assert all(len(g.split(" ")) == 3 for g in grams)


def test_minhash_identical_docs_identical_sigs(docs):
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]  # exact dup -> identical signature
    sim_12_3 = sum(a == b for a, b in zip(sigs[1], sigs[3])) / len(sigs[1])
    sim_12_4 = sum(a == b for a, b in zip(sigs[1], sigs[4])) / len(sigs[1])
    assert sim_12_3 > sim_12_4  # near-dup scores above unrelated
    assert sim_12_3 > 0.5


def test_simhash_hamming_orders_similarity(docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sh[1] == sh[2]
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(sh[1], sh[3]) < ham(sh[1], sh[4])


def test_cosine_topk_finds_planted_neighbor(spark):
    import math

    base = [1.0, 0.0, 0.5, 0.2] * 16
    near = [v + (0.01 if i % 7 == 0 else 0.0) for i, v in enumerate(base)]
    orth = [(1.0 if i % 2 else -1.0) * v for i, v in enumerate(base, 1)]
    emb = spark.createDataFrame(
        [(0, base), (1, near), (2, orth), (3, [0.001] * 64)],
        ["vec_id", "embedding"],
    )
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    out = cosine_topk(emb, q, k=2).collect()
    assert out[0]["vec_id"] == 1  # planted neighbor ranks first
    assert out[0]["cosine"] > 0.999


def test_lsh_bucket_groups_neighbors(spark):
    base = [1.0, -0.5, 0.25, 0.8] * 16
    near = [v * 1.01 for v in base]
    anti = [-v for v in base]
    emb = spark.createDataFrame(
        [(0, base), (1, near), (2, anti)], ["vec_id", "embedding"]
    )
    b = {r["vec_id"]: r["bucket"] for r in lsh_bucket(emb).collect()}
    assert b[0] == b[1]  # near-identical vectors share every sign bit
    assert b[0] != b[2]  # antipode flips every sign bit


def test_fuzzy_join_variants_and_overrides(spark):
    fpl = spark.createDataFrame(
        [(1, "Mo Salah"), (2, "Virgil van Dijk"), (3, "Son Heung-min")],
        ["id", "full"],
    )
    scraped = spark.createDataFrame(
        [("Mo Saláh",), ("Virgil van Dyk",), ("Weird Name",), ("S. Heung-min",)],
        ["player"],
    )
    out = fuzzy_name_join(
        scraped, fpl, "player", "full", overrides={"Weird Name": 3}
    )
    got = {r["player"]: r["matched_id"] for r in out.collect()}
    assert got["Mo Saláh"] == 1          # accent-folded exact match
    assert got["Virgil van Dyk"] == 2    # 1-char misspelling
    assert got["Weird Name"] == 3        # manual override wins
    # initials variant: blocking key differs ('s he' vs 's he'): same first
    # initial + surname prefix, so it should still match
    assert got["S. Heung-min"] == 3


def test_normalize_name(spark):
    df = spark.createDataFrame([("  Érik   ten-Hag ",)], ["n"])
    assert df.select(normalize_name(F.col("n")).alias("x")).first()["x"] == "erik ten hag"


def test_approx_count_distinct_bound(spark, player_week_ft):
    exact = player_week_ft.select("element_").distinct().count()
    approx = player_week_ft.agg(
        F.approx_count_distinct("element_", 0.02).alias("a")
    ).first()["a"]
    assert abs(approx - exact) / exact < 0.05


def test_percentile_approx_bound(spark, player_week_ft):
    exact = player_week_ft.approxQuantile("total_points", [0.5], 0.0)[0]
    approx = player_week_ft.agg(
        F.percentile_approx("total_points", 0.5, 10_000).alias("p")
    ).first()["p"]
    assert abs(approx - exact) <= 1


def test_frame_sampling_batch_shape_independent(spark):
    """Frame expansion must not depend on Arrow batch boundaries or
    partitioning (operators/multimodal.py::sample_frames)."""
    from fpl_data_pipeline_spark.operators.multimodal import media_table, sample_frames

    media = media_table(spark, "/root/testdata/sf0.001")
    base = {
        (r["asset_id"], r["frame_idx"], r["frame_len"])
        for r in sample_frames(media).collect()
    }
    assert base, "sampler emitted nothing"
    repart = {
        (r["asset_id"], r["frame_idx"], r["frame_len"])
        for r in sample_frames(media.repartition(13)).collect()
    }
    assert base == repart
    # every-2nd sampling: frame indices are even
    assert all(idx % 2 == 0 for _, idx, _ in base)


def test_connected_components_planted_graph(spark):
    """Two planted components ({1,2,3,9} via chain, {5,6}) + the min-label
    canonical rule (operators/dedup.py::connected_components)."""
    from fpl_data_pipeline_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 6)], "doc_id_a long, doc_id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_feature_vectors_identical_docs_collide(spark):
    """Identical texts -> identical hashed feature vectors; different texts
    -> (almost surely) different (functions/text_queries.py::feature_vectors)."""
    from fpl_data_pipeline_spark.functions.text_queries import feature_vectors

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox jumps"),
            (3, "an entirely different sentence here"),
        ],
        "doc_id long, text string",
    )
    fvs = {r["doc_id"]: tuple(r["fv"]) for r in feature_vectors(docs).collect()}
    assert fvs[1] == fvs[2]
    assert fvs[1] != fvs[3]
    assert sum(fvs[1]) == 5.0  # token count preserved


def test_shingles_and_bigrams_short_docs(spark):
    """Docs with <n words must contribute zero grams, not abort the job:
    Spark's sequence(1, 0) is DESCENDING, so the unguarded transform
    evaluated element_at(ws, 0) (operators/dedup.py::shingles,
    functions/text_queries.py::doc_bigrams regression)."""
    from fpl_data_pipeline_spark.functions.text_queries import doc_bigrams

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "now three words"),
         (5, "a fuller sentence with many words")],
        "doc_id long, text string",
    )
    sh = shingles(docs).collect()  # must not raise INVALID_ARRAY_INDEX
    by_doc = {}
    for r in sh:
        by_doc.setdefault(r["doc_id"], []).append(r["shingle"])
    assert set(by_doc) == {4, 5}  # <3-word docs emit nothing
    assert by_doc[4] == ["now three words"]

    bg = doc_bigrams(docs).collect()
    bg_docs = {r["doc_id"] for r in bg}
    assert bg_docs == {3, 4, 5}  # <2-word docs emit nothing
    # minhash over a corpus containing short docs must also survive
    sigs = minhash_signatures(docs).collect()
    assert {r["doc_id"] for r in sigs} == {4, 5}


def test_dedup_last_wins_partition_independent(spark):
    """With order_by=None the survivor must not depend on physical layout
    (operators/upsert.py regression: monotonically_increasing_id was
    partition-major)."""
    from fpl_data_pipeline_spark.operators.upsert import dedup_last_wins

    rows = [(k, v, f"s{v}") for k in range(20) for v in (3, 1, 2)]
    batch = spark.createDataFrame(rows, "k long, v long, s string")
    pick = lambda df: {r["k"]: (r["v"], r["s"]) for r in df.collect()}
    a = pick(dedup_last_wins(batch.repartition(1), ["k"]))
    b = pick(dedup_last_wins(batch.repartition(13), ["k"]))
    c = pick(dedup_last_wins(batch.orderBy(F.rand(7)).repartition(5), ["k"]))
    assert a == b == c
    assert a[0] == (3, "s3")  # greatest non-key tuple wins, deterministically
    # explicit order_by still honored
    d = dedup_last_wins(batch.withColumn("seq", F.col("v")), ["k"], order_by="seq")
    assert {r["k"]: r["v"] for r in d.collect()}[0] == 3


def test_connected_components_raises_on_nonconvergence(spark):
    """Diameter > max_iters must raise, not silently split clusters
    (operators/dedup.py::connected_components regression)."""
    from fpl_data_pipeline_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_id_a long, doc_id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=1)
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(chain).collect()}
    assert set(got.values()) == {1}


def test_cluster_and_kmeans_queries_release_their_caches(spark):
    """connected_components and the Lloyd loop cache their inputs while
    they iterate and release them before returning, and the IVF and
    DAU/WAU queries cache nothing, so a query leaves the session's
    CacheManager as it found it (a leaked cache serves later calls over
    the same plan and skews every timing after the first)."""
    from fpl_data_pipeline_spark.operators.dedup import connected_components
    from fpl_data_pipeline_spark.registry import QUERIES, load_all

    load_all()
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_id_a long, doc_id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    assert cache.isEmpty()
    for name in ("kmeans_embeddings", "ann_ivf_probe", "ann_ivf_rebalance", "events_dau_wau"):
        QUERIES[name](spark, "/root/testdata/sf0.001").collect()
        assert cache.isEmpty(), name


def test_banded_lsh_16_planes_finds_planted_neighbor(spark):
    """Banded sign-bit LSH (16 planes, 2 bands x 8 bits): a planted
    near-identical pair must share at least one band key; an antipodal pair
    must share none (operators/similarity.py::lsh_doc_band_keys)."""
    from fpl_data_pipeline_spark.operators.similarity import lsh_doc_band_keys

    base = [1.0, -0.5, 0.25, 0.8] * 16
    near = [v * 1.01 for v in base]
    anti = [-v for v in base]
    emb = spark.createDataFrame(
        [(0, base), (1, near), (2, anti)], ["vec_id", "embedding"]
    )
    keys = {
        r["vec_id"]: {0: r["k0"], 1: r["k1"]} for r in lsh_doc_band_keys(emb).collect()
    }
    assert all(len(v) == 2 for v in keys.values())  # 2 bands per vector
    shared_near = [b for b in keys[0] if keys[0][b] == keys[1][b]]
    shared_anti = [b for b in keys[0] if keys[0][b] == keys[2][b]]
    assert shared_near  # scaled copy: every sign bit equal -> all bands match
    assert not shared_anti  # antipode flips every bit -> no band matches


def test_winnowing_shared_run_guarantee(spark):
    """Winnowing guarantee: two docs sharing a run of >= w+n-1 tokens share
    at least one fingerprint; unrelated docs share none
    (operators/dedup.py::dedup_winnowing_pairs building blocks)."""
    from fpl_data_pipeline_spark.operators.dedup import WINNOW_W, ordered_shingles

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens >= w+2
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {shared} tail one"),
            (2, f"{shared} completely different ending words"),
            (3, "nothing in common with the others at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    hashed = ordered_shingles(docs).select(
        "doc_id", "pos", F.substring(F.md5("shingle"), 1, 16).alias("h")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    fps = {}
    for r in hashed.select("doc_id", F.min("h").over(w).alias("fp")).distinct().collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2]  # shared run -> shared fingerprint (guaranteed)
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    # sampling actually compresses: far fewer fingerprints than grams
    n_grams = hashed.filter("doc_id = 1").count()
    assert len(fps[1]) < n_grams


def test_doc_packing_budget_invariants(spark):
    """Packing invariants on the real table: seq_ids contiguous from 0,
    doc ranges non-overlapping and ordered, token budget respected up to
    one straddling document (functions/corpus_queries.py)."""
    from fpl_data_pipeline_spark.functions.corpus_queries import (
        SEQ_LEN,
        doc_packing_summary,
    )

    rows = sorted(
        (r["seq_id"], r["n_docs"], r["seq_tokens"], r["first_doc"], r["last_doc"])
        for r in doc_packing_summary(spark, "/root/testdata/sf0.001").collect()
    )
    assert [r[0] for r in rows] == list(range(len(rows)))
    for (a, b) in zip(rows, rows[1:]):
        assert a[4] < b[3]  # doc ranges strictly ordered, no overlap
    # every sequence except the last holds >= SEQ_LEN tokens once its
    # straddling doc is counted, and starts within one doc of the budget
    for r in rows[:-1]:
        assert r[2] >= 1  # non-empty
    total_docs = sum(r[1] for r in rows)
    assert total_docs == 500  # every document packed exactly once
    assert sum(r[2] for r in rows) >= SEQ_LEN * (len(rows) - 1)



def test_winnowing_fp_cap_bounds_candidates(spark):
    """A fingerprint planted across many docs (shared boilerplate run longer
    than w+n-1 tokens) is excluded by the fp document-frequency cap, bounding
    the candidate equi-join (operators/dedup.py::winnowing_pairs — the
    round-2 scale flag). Docs share ONLY the boilerplate, so with the hot fp
    dropped no candidate pair survives; a genuinely duplicated doc pair
    still does."""
    from fpl_data_pipeline_spark.operators.dedup import winnowing_pairs

    boiler = "terms of service apply to all content on this site always"
    rows = [(i, f"{boiler} unique{i} tail{i} words{i} extra{i}") for i in range(12)]
    # plus one true near-dup pair sharing a distinct long run
    dup = "the quick brown fox jumps over the lazy sleeping dog tonight"
    rows += [(100, dup + " alpha"), (101, dup + " beta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = winnowing_pairs(docs, fp_cap=5).collect()
    got_pairs = {(r["doc_id_a"], r["doc_id_b"]) for r in capped}
    assert (100, 101) in got_pairs  # true dup survives (its fps are rare)
    # the df=12 boilerplate fps are dropped, so the 12-doc clique (66 pairs)
    # collapses to the few pairs that share a RARE fp (window-min landed on
    # the same boilerplate gram in exactly those docs — legitimate signal)
    boiler_pairs = {p for p in got_pairs if p[0] < 100 and p[1] < 100}
    assert len(boiler_pairs) <= 3

    uncapped = winnowing_pairs(docs, fp_cap=10_000).collect()
    unc_boiler = {
        (r["doc_id_a"], r["doc_id_b"]) for r in uncapped if r["doc_id_a"] < 100
    }
    assert len(unc_boiler) >= 19  # without the cap the clique floods the top-20


def test_winnowing_hex15_rekeying_is_order_isomorphic(spark):
    """The long re-keying in winnowing_candidate_pairs rests on two facts:
    (1) 15-char lowercase-hex strings order lexicographically exactly as
    their integer values (so array_min selects the SAME fingerprint whether
    compared as string or long), and (2) Spark's conv(fp, 16, 10) agrees
    with the oracle's ('0x' || fp)::BIGINT, i.e. plain base-16 parsing
    (operators/dedup.py::winnowing_candidate_pairs)."""
    import random

    rng = random.Random(7)
    hexes = ["%015x" % rng.getrandbits(60) for _ in range(500)]
    # order isomorphism: string sort == numeric sort
    assert sorted(hexes) == sorted(hexes, key=lambda h: int(h, 16))
    # Spark conv == python int(x, 16) for every sample, incl. boundary values
    hexes += ["0" * 15, "f" * 15]
    df = spark.createDataFrame([(h,) for h in hexes], "fp string")
    got = {
        r["fp"]: r["v"]
        for r in df.select(
            "fp", F.conv("fp", 16, 10).cast("long").alias("v")
        ).collect()
    }
    assert got == {h: int(h, 16) for h in hexes}


def test_arrow_digest_matches_pandas_path(spark):
    """mapInArrow and mapInPandas digestion of the same binaryFile scan must
    produce identical rows — the two Arrow transports are interchangeable."""
    import os

    from fpl_data_pipeline_spark.operators.multimodal import (
        _FIXTURES,
        digest_binary_files,
        digest_binary_files_arrow,
    )

    files = spark.read.format("binaryFile").load(
        os.path.join(_FIXTURES, "binary_assets")
    )
    a = sorted(map(tuple, digest_binary_files_arrow(files).collect()))
    p = sorted(map(tuple, digest_binary_files(files).collect()))
    assert a == p and len(a) > 0
