"""Measure candidate-pair growth of the capped dedup/ANN families across a
corpus scale-up — the empirical half of the 100 TB argument (the analytic
half is the df/fp caps bounding every candidate equi-join).

    python tools/make_blowup.py                 # build ./.scale10 (10x sf0.1)
    python tools/scale_probe.py [base_dir] [blown_dir] [factor]

For each family it counts the FULL candidate-pair set (pre-top-k) and times
the count at the base scale and the blown-up scale, then reports the growth
ratio vs the scale factor. Sub-quadratic means ratio << factor^2; the caps
are doing their job when the ratio stays near the factor (linear) even
though the blowup makes every original document a member of a factor-sized
near-duplicate family. Output: one JSON line, recorded in BENCH_NOTES.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from fpl_data_pipeline_spark import get_spark  # noqa: E402
from fpl_data_pipeline_spark.operators.dedup import (  # noqa: E402
    MD5_MINHASH,
    _ngram_jaccard_pairs,
    minhash_pairs,
    prefix_candidate_pairs,
    span_pair_spans,
    winnowing_candidate_pairs,
)


def cf_candidate_pairs(spark, sf_dir):
    """Full item-CF co-occurrence pair set (pre-support-floor, pre-top-k),
    the CF_BASKET_CAP-bounded fan-out (round 7)."""
    from fpl_data_pipeline_spark.operators.dedup import (
        _expand_member_pairs_streaming,
    )
    from fpl_data_pipeline_spark.plans.advanced_relational import (
        _cf_capped_baskets,
    )
    from fpl_data_pipeline_spark.tables import table

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return _expand_member_pairs_streaming(_cf_capped_baskets(li, o))


_ASSIGN_MEMO: dict = {}


def _kmp_assigned(spark, sf_dir):
    """Memoized portable k-means assignment per scale dir, in the
    corpus-scaled mode semdedup_prune itself uses (k = max(KMP_K,
    ceil(n / SEM_TARGET_POP))) — lloyd_assign runs KMP_ITERS collect-driven
    Lloyd rounds, so the two semdedup probes below must share one
    training run, not pay it twice. Note the Lloyd cost lands here at
    construction time, OUTSIDE the per-family 'sec' timing: the probe
    times the candidate expansion, by design."""
    if sf_dir not in _ASSIGN_MEMO:
        from fpl_data_pipeline_spark.operators.similarity import (
            LLOYD_EXACT6,
            SEM_TARGET_POP,
            lloyd_assign,
        )
        from fpl_data_pipeline_spark.tables import table

        _ASSIGN_MEMO[sf_dir] = lloyd_assign(
            table(spark, sf_dir, "embeddings"), LLOYD_EXACT6, target_pop=SEM_TARGET_POP
        )
    return _ASSIGN_MEMO[sf_dir]


def semdedup_candidate_pairs(spark, sf_dir):
    """Within-cluster SemDeDup pair set (pre-cosine) — the
    SEM_CLUSTER_CAP-bounded quadratic block scan, built by the SAME
    _sem_capped_groups helper the query uses, over the SAME corpus-scaled
    clustering (round 8: k grows with the corpus, so the blowup now adds
    clusters instead of pushing every cluster over the cap — the round-7
    collapse-to-0 tripwire is retired by construction, and the probe's
    job is to show the pair count grows ~linearly with the corpus)."""
    from fpl_data_pipeline_spark.operators.dedup import (
        _expand_member_pairs_streaming,
    )
    from fpl_data_pipeline_spark.operators.similarity import _sem_capped_groups

    _sizes, _okm, groups = _sem_capped_groups(_kmp_assigned(spark, sf_dir))
    return _expand_member_pairs_streaming(groups, "members")


def semdedup_cluster_rows(spark, sf_dir) -> dict:
    """Analytic capped-vs-uncapped pair rows from the cluster-size
    histogram (the joinrows formula over k-means cluster populations)."""
    from fpl_data_pipeline_spark.operators.similarity import SEM_CLUSTER_CAP

    freq = (
        _kmp_assigned(spark, sf_dir)
        .groupBy("c_id")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return _joinrows(freq, SEM_CLUSTER_CAP)


def _joinrows(freq, cap):
    pairs = (F.col("df") * (F.col("df") - 1) / 2).alias("p")
    r = freq.select(
        F.sum(F.when(F.col("df") <= cap, pairs).otherwise(0.0)).alias("capped"),
        F.sum(pairs).alias("uncapped"),
    ).first()
    return {
        "capped_join_rows": int(r["capped"]),
        "uncapped_join_rows": int(r["uncapped"]),
        "cap_saves_x": round(r["uncapped"] / max(r["capped"], 1.0), 1),
    }


def emb_neardup_candidates(emb):
    """Full banded-LSH candidate set (pre-cosine, pre-top-k) — the REAL
    candidate stage (round 6: lowest-surviving-band emission, ND_BAND_CAP
    pre-pass), not a self-join mirror of it."""
    from fpl_data_pipeline_spark.operators.similarity import _lsh_candidate_pairs

    return _lsh_candidate_pairs(emb)


def cap_effect(spark, sf_dir: str) -> dict:
    """What the df/fp caps save at this scale, computed analytically from
    the key-frequency histogram (a candidate equi-join on a key of document
    frequency df emits df*(df-1)/2 pair rows): join input rows with the cap
    vs without it, per family. No uncapped join is ever executed."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _cap_effect_over(spark, docs)


def _cap_effect_over(spark, docs) -> dict:
    from fpl_data_pipeline_spark.operators.dedup import (
        SHINGLE_DF_CAP,
        WINNOW_FP_CAP,
        WINNOW_W,
        ordered_shingles,
        shingles,
    )
    from pyspark.sql import Window

    out = {}

    sh_freq = (
        shingles(docs).groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    )
    out["ngram_jaccard"] = _joinrows(sh_freq, SHINGLE_DF_CAP)

    hashed = ordered_shingles(docs).select(
        "doc_id", "pos", F.substring(F.md5("shingle"), 1, 16).alias("h")
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    fp_freq = (
        hashed.select("doc_id", F.min("h").over(w).alias("fp"))
        .distinct()
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    out["winnowing"] = _joinrows(fp_freq, WINNOW_FP_CAP)
    return out


BOILERPLATE = (
    "all rights reserved contact us terms of service privacy policy "
    "copyright notice subscribe newsletter"
)


def cap_effect_with_boilerplate(spark, sf_dir: str) -> dict:
    """The realistic hot-key scenario: every document carries the same
    crawl footer (df = corpus size for its shingles). Reports what the df
    caps cut from the candidate-join input there."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "text", F.concat(F.col("text"), F.lit(" " + BOILERPLATE))
    )
    return _cap_effect_over(spark, docs)


def query_growth(spark, base_dir: str, blown_dir: str) -> dict:
    """Full-query wall-time growth for the round-7 operators whose scale
    story is NOT a candidate-pair count (round-8 extension): DSIR's
    bucket-count table is B-bounded but its doc-weight join is
    corpus-sized, and LPA is iteration-count x edge-shuffle. Times one
    warm execution at each scale (cold JIT paid by an untimed first run
    at the base dir) and reports blown/base wall ratios — ~factor or
    below means the corpus-sized stages are linear, which is the claim."""
    from fpl_data_pipeline_spark.registry import QUERIES, load_all

    load_all()
    out = {}
    for name in (
        "dsir_importance_weights",
        "dupgraph_lpa_communities",
        # round-8 additions: vocab-collapsed apply (fertility), the
        # gradient trainer (3 corpus passes + 64-row model), and the
        # join-free CDC chunker — all should grow ~linearly
        "bpe_encode_fertility",
        "logreg_train_weights",
        "dedup_cdc_chunks",
        # round-9: the long-form persisted-state probe shape
        "emb_incremental_neardup",
    ):
        fn = QUERIES[name]
        fn(spark, base_dir).count()  # warm JIT/codegen once
        secs = {}
        for tag, d in (("base", base_dir), ("blown", blown_dir)):
            t0 = time.perf_counter()
            fn(spark, d).count()
            secs[tag] = round(time.perf_counter() - t0, 2)
        out[name] = {
            **secs,
            "time_ratio": round(secs["blown"] / max(secs["base"], 1e-9), 2),
        }
    # LPA is edge-bound, and the blowup makes every copy a near-dup of its
    # original, so the dup graph's edge count grows ~factor^2 while the
    # corpus grows ~factor — raw wall ratio overstates the per-unit cost
    # the way pagerank's did (round-7 caveat). Report the edge counts and
    # the per-edge-normalized ratio alongside, the pagerank convention
    # (round-8 verdict task #6).
    from fpl_data_pipeline_spark.operators.graph import _dup_edges

    e = {}
    for tag, d in (("base", base_dir), ("blown", blown_dir)):
        docs = spark.read.parquet(f"{d}/documents.parquet")
        e[tag] = _dup_edges(docs).count()
    lpa = out["dupgraph_lpa_communities"]
    lpa["edges_base"] = e["base"]
    lpa["edges_blown"] = e["blown"]
    lpa["edge_ratio"] = round(e["blown"] / max(e["base"], 1), 2)
    lpa["per_edge_time_ratio"] = round(
        lpa["time_ratio"] / max(lpa["edge_ratio"], 1e-9), 4
    )
    return out


def probe(spark, sf_dir: str) -> dict:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = {"n_docs": docs.count(), "n_vecs": emb.count()}
    for name, frame in (
        ("ngram_jaccard", _ngram_jaccard_pairs(docs)),
        ("winnowing", winnowing_candidate_pairs(docs)),
        ("span_matches", span_pair_spans(docs)),
        ("prefix_filter", prefix_candidate_pairs(docs)),
        ("emb_neardup", emb_neardup_candidates(emb)),
        ("minhash", minhash_pairs(docs, MD5_MINHASH)),
        ("cf_pairs", cf_candidate_pairs(spark, sf_dir)),
        ("semdedup", semdedup_candidate_pairs(spark, sf_dir)),
    ):
        t0 = time.perf_counter()
        out[name] = {"pairs": frame.count(), "sec": round(time.perf_counter() - t0, 2)}
    return out


def main() -> None:
    base_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    blown_dir = sys.argv[2] if len(sys.argv) > 2 else ".scale10"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    spark = get_spark("scale_probe")
    base = probe(spark, base_dir)
    blown = probe(spark, blown_dir)
    caps = cap_effect(spark, blown_dir)
    caps["semdedup_clusters"] = semdedup_cluster_rows(spark, blown_dir)
    qgrowth = query_growth(spark, base_dir, blown_dir)
    caps_bp = cap_effect_with_boilerplate(spark, blown_dir)
    growth = {
        k: {
            "pair_ratio": round(blown[k]["pairs"] / max(base[k]["pairs"], 1), 2),
            "time_ratio": round(blown[k]["sec"] / max(base[k]["sec"], 1e-9), 2),
        }
        for k in (
            "ngram_jaccard",
            "winnowing",
            "span_matches",
            "prefix_filter",
            "emb_neardup",
            "minhash",
            "cf_pairs",
            "semdedup",
        )
    }
    print(
        json.dumps(
            {
                "factor": factor,
                "quadratic_would_be": factor * factor,
                "base": base,
                "blown": blown,
                "growth": growth,
                "full_query_growth": qgrowth,
                "cap_effect_at_blown": caps,
                "cap_effect_at_blown_with_boilerplate_footer": caps_bp,
            }
        )
    )


if __name__ == "__main__":
    main()
