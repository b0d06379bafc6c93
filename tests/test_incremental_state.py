"""Persisted deploy-state round trip for the incremental dedup families —
the round-8 verdict's task #5.

The registered queries (`emb_incremental_neardup`, `dedup_incremental_batch`)
derive their corpus/batch split from a content hash because a driver query
gets only (spark, sf_dir); a real deployment instead PERSISTS the state
between increments. These tests drive that loop through
operators/incremental_state.py: write batch1's state as the bucketed table,
probe batch2 against the TABLE (not a recomputation), append batch2, and
probe batch3 — batch3's planted near-copy of a batch2 vector must hit,
proving the append really made batch2 part of the corpus.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from fpl_data_pipeline_spark.operators.incremental_state import (
    append_band_state,
    band_state_long,
    probe_band_state,
    probe_fingerprint_state,
    write_band_state,
    write_fingerprint_state,
)
from fpl_data_pipeline_spark.operators.similarity import (
    DIM,
    ND_BAND_CAP,
    lsh_doc_band_keys,
)


def _emb_frame(spark, id_vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in id_vecs],
        "vec_id long, embedding array<float>",
    )


@pytest.fixture()
def three_batches(spark):
    """batch1: 40 spread vectors; batch2: 30 new + one near-copy of a
    batch1 vector (id 1000 ~ id 3); batch3: one near-copy of a BATCH2
    vector (id 2000 ~ id 1005) — visible only if the state append took."""
    rng = np.random.RandomState(23)
    b1 = [(i, rng.randn(DIM) * 3) for i in range(40)]
    b2 = [(1000 + j, rng.randn(DIM) * 3) for j in range(30)]
    b2.append((1099, b1[3][1] + 0.001 * rng.randn(DIM)))
    b3 = [(2000, b2[5][1] + 0.001 * rng.randn(DIM))]
    return (
        _emb_frame(spark, b1),
        _emb_frame(spark, b2),
        _emb_frame(spark, b3),
    )


def test_band_state_two_batch_sequencing(spark, three_batches, tmp_path):
    b1, b2, b3 = three_batches
    tbl = "inc_band_state_t"
    try:
        write_band_state(
            band_state_long(lsh_doc_band_keys(b1)), tbl, str(tmp_path / "state")
        )
        state = spark.table(tbl)

        # probe batch2 against the PERSISTED table: the planted near-copy
        # of batch1's id 3 must surface as a candidate
        cand2 = probe_band_state(state, band_state_long(lsh_doc_band_keys(b2)),
                                 ND_BAND_CAP).collect()
        assert (1099, 3) in {(r["new_id"], r["dup_of"]) for r in cand2}
        # and nothing pairs batch2 against itself (state-only dup_of side)
        assert all(r["dup_of"] < 1000 for r in cand2)

        # accept batch2: fold its keys into the state, then probe batch3 —
        # its near-copy of a BATCH2 vector only hits if the append took
        append_band_state(spark, tbl, band_state_long(lsh_doc_band_keys(b2)))
        state = spark.table(tbl)
        assert state.count() == 2 * (40 + 31)  # 2 bands per vector
        cand3 = probe_band_state(state, band_state_long(lsh_doc_band_keys(b3)),
                                 ND_BAND_CAP).collect()
        assert (2000, 1005) in {(r["new_id"], r["dup_of"]) for r in cand3}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_band_state_probe_reads_state_side_unshuffled(spark, three_batches,
                                                      tmp_path):
    """The layout contract the bucketing exists for: the state-side scan of
    the probe join carries no Exchange (the batch side, being the small
    arriving increment, may shuffle — that's the cheap side by design)."""
    b1, b2, _ = three_batches
    tbl = "inc_band_state_layout_t"
    try:
        write_band_state(
            band_state_long(lsh_doc_band_keys(b1)), tbl, str(tmp_path / "state")
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cand = probe_band_state(
            spark.table(tbl).filter(F.col("band").isNotNull()),
            band_state_long(lsh_doc_band_keys(b2)),
            ND_BAND_CAP,
        )
        plan = cand._jdf.queryExecution().executedPlan().toString()
        # the dup_of-side state scan must join bucket-aligned: count the
        # shuffle exchanges — batch side + alive pre-pass only, never the
        # full-state side twice
        assert plan.count("Exchange hashpartitioning") <= 2, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS inc_band_state_layout_t")


def test_fingerprint_state_round_trip(spark, tmp_path):
    """Text-side twin: persist batch1's fingerprint set bucketed on fp,
    probe a batch whose first doc duplicates corpus content byte-for-byte
    (after whitespace canonicalization) and whose second doc is new."""
    tbl = "inc_fp_state_t"
    fp_of = lambda c: F.md5(F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))))  # noqa: E731
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "lorem ipsum dolor")],
        "doc_id long, text string",
    ).select("doc_id", fp_of("text").alias("fp"))
    try:
        write_fingerprint_state(corpus.select("fp").distinct(), tbl,
                                str(tmp_path / "fp"))
        batch = spark.createDataFrame(
            [(10, "The  Quick   Brown Fox"), (11, "completely new text")],
            "doc_id long, text string",
        ).select("doc_id", fp_of("text").alias("fp"))
        got = {
            r["doc_id"]: r["status"]
            for r in probe_fingerprint_state(spark.table(tbl), batch).collect()
        }
        assert got == {10: "dup_of_corpus", 11: "new"}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_probe_band_state_drops_overcap_buckets(spark):
    """The alive pre-pass in the shared probe: a (band, k) bucket whose
    corpus membership exceeds the cap is non-discriminative and emits NO
    candidates, while under-cap buckets still probe — the boilerplate
    guard, now pinned on the persisted-shape code path."""
    state = spark.createDataFrame(
        # bucket (0, 'hot') holds 3 corpus vectors; (1, 'cold') holds 2
        [(1, 0, "hot"), (2, 0, "hot"), (3, 0, "hot"), (4, 1, "cold"), (5, 1, "cold")],
        "vec_id long, band int, k string",
    )
    batch = spark.createDataFrame(
        [(100, 0, "hot"), (100, 1, "cold")], "vec_id long, band int, k string"
    )
    got = {
        (r["new_id"], r["dup_of"])
        for r in probe_band_state(state, batch, cap=2).collect()
    }
    # hot bucket (3 > cap) dropped entirely; cold bucket (2 <= cap) probes
    assert got == {(100, 4), (100, 5)}


def test_compact_band_state_preserves_probe_and_shrinks_files(
    spark, three_batches, tmp_path
):
    """The OPTIMIZE step of the loop: after an append leaves two file sets
    per bucket, compaction rewrites to one set — probe results identical,
    layout still bucketed (append after compaction still works), file
    count strictly smaller."""
    import os

    from fpl_data_pipeline_spark.operators.incremental_state import (
        compact_band_state,
    )

    b1, b2, b3 = three_batches
    tbl = "inc_band_state_compact_t"
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")

    def parquet_files(p):
        return sum(
            1
            for root, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        )

    try:
        write_band_state(band_state_long(lsh_doc_band_keys(b1)), tbl, p1)
        append_band_state(spark, tbl, band_state_long(lsh_doc_band_keys(b2)))
        before_files = parquet_files(p1)
        probe = lambda: sorted(  # noqa: E731
            (r["new_id"], r["dup_of"])
            for r in probe_band_state(
                spark.table(tbl), band_state_long(lsh_doc_band_keys(b3)),
                ND_BAND_CAP,
            ).collect()
        )
        want = probe()
        compact_band_state(spark, tbl, p2)
        assert probe() == want
        assert spark.table(tbl).count() == 2 * (40 + 31)
        assert parquet_files(p2) < before_files
        # layout survived: a further append still lands bucketed
        append_band_state(spark, tbl, band_state_long(lsh_doc_band_keys(b3)))
        assert spark.table(tbl).count() == 2 * (40 + 31 + 1)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_streaming_neardup_ingest_two_microbatches(spark, three_batches, tmp_path):
    """The stream-driven deployment loop (streaming/incremental.py::
    run_neardup_ingest): micro-batch 1 (b2's vectors) probes the b1-built
    state and emits the planted b2~b1 candidate; its keys fold into the
    state table, so micro-batch 2 (b3, a near-copy of a B2 vector) hits —
    the two-batch sequencing contract, now across Structured Streaming
    micro-batches with a shared checkpoint."""
    from fpl_data_pipeline_spark.streaming.incremental import run_neardup_ingest

    b1, b2, b3 = three_batches
    tbl = "inc_band_state_stream_t"
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    try:
        write_band_state(
            band_state_long(lsh_doc_band_keys(b1)), tbl, str(tmp_path / "state")
        )
        b2.coalesce(1).write.mode("append").parquet(src)
        run_neardup_ingest(spark, src, tbl, out, ckpt)
        got1 = {
            (r["new_id"], r["dup_of"])
            for r in spark.read.parquet(out + "/batch_id=0").collect()
        }
        assert (1099, 3) in got1
        assert all(d < 1000 for _, d in got1)  # state was b1-only

        b3.coalesce(1).write.mode("append").parquet(src)
        run_neardup_ingest(spark, src, tbl, out, ckpt)  # drains ONLY new files
        later = spark.read.option("basePath", out).parquet(out)
        got2 = {
            (r["new_id"], r["dup_of"])
            for r in later.filter(F.col("batch_id") >= 1).collect()
        }
        assert (2000, 1005) in got2  # b2 is corpus now: the fold took
        # state = bootstrap b1 + folded b2 + folded b3 (every drained
        # micro-batch folds, including the last)
        assert spark.table(tbl).count() == 2 * (40 + 31 + 1)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_streaming_neardup_ingest_gc_reclaims_superseded_gens(
    spark, three_batches, tmp_path
):
    """gc=True completes the storage lifecycle inside the loop: after each
    drain's fold, superseded generation dirs under the loop's gen base are
    reclaimed and ONLY the live generation survives — with probe results
    and the state table identical to the gc=False run (gc never touches
    the live files)."""
    import os

    from fpl_data_pipeline_spark.streaming.incremental import run_neardup_ingest

    b1, b2, b3 = three_batches
    tbl = "inc_band_state_stream_gc_t"
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    try:
        write_band_state(
            band_state_long(lsh_doc_band_keys(b1)), tbl, str(tmp_path / "state")
        )
        b2.coalesce(1).write.mode("append").parquet(src)
        run_neardup_ingest(spark, src, tbl, out, ckpt, gc=True)
        b3.coalesce(1).write.mode("append").parquet(src)
        run_neardup_ingest(spark, src, tbl, out, ckpt, gc=True)

        got = {
            (r["new_id"], r["dup_of"])
            for r in spark.read.option("basePath", out).parquet(out).collect()
        }
        assert (1099, 3) in got and (2000, 1005) in got
        assert spark.table(tbl).count() == 2 * (40 + 31 + 1)
        # two drains folded -> two generations written; gc left only the
        # live one (gen-1), and the live table reads from it
        base = os.path.join(out, "_state_deltas", "_folded_base")
        assert sorted(os.listdir(base)) == ["gen-1"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_minhash_band_state_rides_the_same_story(spark, tmp_path):
    """The text-minhash family's deploy state is the SAME shape: its
    (doc_id, band_id, band_key) band relation is already long-form, so a
    rename feeds it through the shared persist/probe/append path — one
    deploy-state story across text-minhash and embedding-LSH (round-8
    verdict task #5, extended)."""
    from fpl_data_pipeline_spark.operators.dedup import (
        MH_BAND_CAP,
        minhash_signatures,
        N_BANDS,
        ROWS_PER_BAND,
    )

    def band_keys(docs):
        sigs = minhash_signatures(docs)
        return sigs.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                *[
                                    F.element_at("sig", b * ROWS_PER_BAND + r + 1)
                                    for r in range(ROWS_PER_BAND)
                                ]
                            ).alias("k"),
                        )
                        for b in range(N_BANDS)
                    ]
                )
            ).alias("bk"),
        ).select(F.col("doc_id").alias("vec_id"), "bk.band", "bk.k")

    base_text = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(1, base_text), (2, "completely different words in this second document here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        # near-copy of doc 1 (one word changed -> most shingle bands match)
        [(100, base_text.replace("lazy", "sleepy")),
         (101, "nothing shares any shingle with the corpus documents at all")],
        "doc_id long, text string",
    )
    tbl = "inc_mh_band_state_t"
    try:
        write_band_state(band_keys(corpus), tbl, str(tmp_path / "mh"))
        # broadcast_alive=False: the xxhash64 band-key space grows with the
        # corpus, so minhash callers must not force-broadcast the alive set
        # at deploy scale (probe_band_state's documented contract)
        got = {
            (r["new_id"], r["dup_of"])
            for r in probe_band_state(
                spark.table(tbl), band_keys(batch), MH_BAND_CAP,
                broadcast_alive=False,
            ).collect()
        }
        assert (100, 1) in got
        assert not any(n == 101 for n, _ in got)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


from hypothesis import given, settings, strategies as st  # noqa: E402

_key_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),  # vec_id
        st.integers(min_value=0, max_value=1),   # band
        st.sampled_from(["a", "b", "c", "d"]),   # k
    ),
    min_size=0,
    max_size=25,
    unique=True,
)


@settings(max_examples=8, deadline=None)
@given(state_rows=_key_rows, batch_rows=_key_rows,
       cap=st.integers(min_value=1, max_value=6),
       broadcast_alive=st.booleans())
def test_probe_band_state_matches_bruteforce(spark, state_rows, batch_rows,
                                             cap, broadcast_alive):
    """Property: probe_band_state == the brute-force definition — distinct
    (new, dup_of) pairs sharing at least one (band, k) bucket whose STATE
    membership is within the cap — for arbitrary key layouts, including
    empty sides, over-cap buckets and batch ids colliding with state ids,
    on BOTH alive-join strategies (broadcast hint and shuffled)."""
    from collections import Counter

    schema = "vec_id long, band int, k string"
    state = spark.createDataFrame(state_rows, schema) if state_rows else \
        spark.createDataFrame([], schema)
    batch = spark.createDataFrame(batch_rows, schema) if batch_rows else \
        spark.createDataFrame([], schema)
    got = {
        (r["new_id"], r["dup_of"])
        for r in probe_band_state(state, batch, cap,
                                  broadcast_alive=broadcast_alive).collect()
    }
    sizes = Counter((b, k) for _, b, k in state_rows)
    want = {
        (nv, sv)
        for nv, nb, nk in batch_rows
        for sv, sb, sk in state_rows
        if (nb, nk) == (sb, sk) and sizes[(sb, sk)] <= cap
    }
    assert got == want


def test_streaming_ingest_replay_is_exactly_once(spark, three_batches, tmp_path):
    """Round-10 (replacing the round-9 at-least-once degradation test): a
    replayed micro-batch — simulated by wiping the checkpoint BEFORE the
    fold ran, the only state a real crash can leave, since the fold runs
    after every checkpoint commit — re-publishes nothing (the batch=0 delta
    already exists) and emits BYTE-IDENTICAL candidates (the probe excludes
    the batch's own delta, so no self-pairs appear). State row counts are
    exact through the replay and through the eventual fold."""
    import shutil

    from fpl_data_pipeline_spark.operators.incremental_state import (
        fold_band_deltas,
        read_band_state,
    )
    from fpl_data_pipeline_spark.streaming.incremental import run_neardup_ingest

    b1, b2, _ = three_batches
    tbl = "inc_band_state_replay_t"
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    droot = out + "/_state_deltas"
    try:
        write_band_state(
            band_state_long(lsh_doc_band_keys(b1)), tbl, str(tmp_path / "state")
        )
        b2.coalesce(1).write.mode("append").parquet(src)
        # fold=False models the crash window: checkpoint lost, fold not run
        run_neardup_ingest(spark, src, tbl, out, ckpt, fold=False)
        first = {
            (r["new_id"], r["dup_of"])
            for r in spark.read.parquet(out + "/batch_id=0").collect()
        }
        assert (1099, 3) in first and all(d < 1000 for _, d in first)
        shutil.rmtree(ckpt)  # lose the commit -> full replay on next drain
        run_neardup_ingest(spark, src, tbl, out, ckpt, fold=False)
        replay = {
            (r["new_id"], r["dup_of"])
            for r in spark.read.parquet(out + "/batch_id=0").collect()
        }
        assert replay == first  # byte-identical emission, no self-pairs
        # state (base + published deltas) is exact: b1 + b2 ONCE
        assert read_band_state(spark, tbl, droot).count() == 2 * (40 + 31)
        fold_band_deltas(spark, tbl, droot, str(tmp_path / "gen0"))
        assert spark.table(tbl).count() == 2 * (40 + 31)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_ingest_replay_after_fold_cannot_republish_state(
    spark, three_batches, tmp_path
):
    """Disaster shape beyond any real crash ordering (checkpoint LOST after
    a completed fold cleaned the delta away): the durable applied-set still
    refuses the re-publish, so state row counts stay exact. Candidate
    emission in this shape may legitimately see the batch's own folded
    keys — state exactness is the contract that survives everything."""
    import shutil

    from fpl_data_pipeline_spark.streaming.incremental import run_neardup_ingest

    b1, b2, _ = three_batches
    tbl = "inc_band_state_dr_t"
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    try:
        write_band_state(
            band_state_long(lsh_doc_band_keys(b1)), tbl, str(tmp_path / "state")
        )
        b2.coalesce(1).write.mode("append").parquet(src)
        run_neardup_ingest(spark, src, tbl, out, ckpt)  # fold=True: delta cleaned
        assert spark.table(tbl).count() == 2 * (40 + 31)
        shutil.rmtree(ckpt)
        run_neardup_ingest(spark, src, tbl, out, ckpt)  # full replay
        assert spark.table(tbl).count() == 2 * (40 + 31)  # NOT 40+31+31
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def _fold_fixture(spark, three_batches, tmp_path, tbl):
    """Base table from b1, one published delta from b2; returns (droot,
    delta batch id, expected probe closure over b3)."""
    from fpl_data_pipeline_spark.operators.incremental_state import (
        publish_band_delta,
    )

    b1, b2, _ = three_batches
    droot = str(tmp_path / "deltas")
    write_band_state(
        band_state_long(lsh_doc_band_keys(b1)), tbl, str(tmp_path / "state")
    )
    publish_band_delta(band_state_long(lsh_doc_band_keys(b2)), droot, 0)
    return droot


def test_fold_band_deltas_folds_and_cleans(spark, three_batches, tmp_path):
    """Happy path: fold moves the published delta into the bucketed base
    (probe parity with the pre-fold union view), records it applied,
    removes the delta dir and manifest, and a second fold is a no-op."""
    import os

    from fpl_data_pipeline_spark.operators.incremental_state import (
        _applied_set,
        fold_band_deltas,
        published_batches,
        read_band_state,
    )

    b1, b2, b3 = three_batches
    tbl = "inc_fold_happy_t"
    try:
        droot = _fold_fixture(spark, three_batches, tmp_path, tbl)
        probe = lambda st: sorted(  # noqa: E731
            (r["new_id"], r["dup_of"])
            for r in probe_band_state(
                st, band_state_long(lsh_doc_band_keys(b3)), ND_BAND_CAP
            ).collect()
        )
        want = probe(read_band_state(spark, tbl, droot))
        assert (2000, 1005) in set(want)  # the delta participates pre-fold
        fold_band_deltas(spark, tbl, droot, str(tmp_path / "gen0"))
        assert spark.table(tbl).count() == 2 * (40 + 31)
        assert probe(spark.table(tbl)) == want
        # the fold is also the OPTIMIZE step: one file set per bucket
        from fpl_data_pipeline_spark.operators.incremental_state import (
            STATE_BUCKETS,
        )

        n_files = sum(
            1
            for root, _, fs in os.walk(str(tmp_path / "gen0"))
            for f in fs
            if f.endswith(".parquet")
        )
        assert 0 < n_files <= STATE_BUCKETS
        assert published_batches(droot) == {}
        assert _applied_set(droot) == {0}
        assert not os.path.exists(os.path.join(droot, "_fold_manifest.json"))
        fold_band_deltas(spark, tbl, droot, str(tmp_path / "gen1"))  # no-op
        assert spark.table(tbl).count() == 2 * (40 + 31)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_fold_refuses_a_second_delta_root(spark, three_batches, tmp_path):
    """A fold-loop table is bound to the delta_root of its first fold: a
    fold from a second root would double-apply across the two applied-sets,
    so it raises before touching the table, either root's published deltas
    or either applied-set."""
    from fpl_data_pipeline_spark.operators.incremental_state import (
        _applied_set,
        fold_band_deltas,
        publish_band_delta,
        published_batches,
    )

    _, _, b3 = three_batches
    tbl = "inc_fold_two_roots_t"
    try:
        root_a = _fold_fixture(spark, three_batches, tmp_path, tbl)
        fold_band_deltas(spark, tbl, root_a, str(tmp_path / "gen0"))
        root_b = str(tmp_path / "deltas_b")
        assert publish_band_delta(band_state_long(lsh_doc_band_keys(b3)), root_b, 0)

        def snapshot():
            return (
                sorted(spark.table(tbl).collect()),
                published_batches(root_a),
                published_batches(root_b),
                _applied_set(root_a),
                _applied_set(root_b),
            )

        before = snapshot()
        # root A: folded and applied; root B: published, never folded
        assert before[1] == {} and before[3] == {0}
        assert list(before[2]) == [0] and before[4] == set()
        with pytest.raises(ValueError, match="bound to delta_root"):
            fold_band_deltas(spark, tbl, root_b, str(tmp_path / "gen1"))
        assert snapshot() == before
        assert len(before[0]) == 2 * (40 + 31)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_fold_recovery_mid_swap_and_post_swap(spark, three_batches, tmp_path):
    """Crash-point injection for fold_band_deltas' manifest protocol,
    replicated by hand up to the crash: (a) tmp written + manifest written
    + base DROPPED, rename pending — re-run performs the recovery RENAME
    then the cleanup; (b) swap fully done, cleanup pending — re-run
    finishes cleanup only. Both end bit-identical to the happy path."""
    import json
    import os

    from fpl_data_pipeline_spark.operators.incremental_state import (
        _applied_set,
        fold_band_deltas,
        published_batches,
        read_band_state,
    )
    from fpl_data_pipeline_spark.sources.bucketing import (
        _bucket_count,
        write_bucketed,
    )

    for crash_after_rename in (False, True):
        tbl = f"inc_fold_crash_{int(crash_after_rename)}_t"
        tmp = f"{tbl}__folding"
        sub = tmp_path / f"c{int(crash_after_rename)}"
        sub.mkdir()
        try:
            droot = _fold_fixture(spark, three_batches, sub, tbl)
            gen = str(sub / "gen0")
            # replicate the protocol up to the injected crash point
            n = _bucket_count(spark, tbl)
            write_bucketed(read_band_state(spark, tbl, droot), tmp,
                           ["band", "k"], n, gen)
            with open(os.path.join(droot, "_fold_manifest.json"), "w") as f:
                json.dump({"path": gen, "batches": [0]}, f)
            spark.sql(f"DROP TABLE {tbl}")
            if crash_after_rename:
                spark.sql(f"ALTER TABLE {tmp} RENAME TO {tbl}")
            # --- crash here; the re-run must recover ---
            fold_band_deltas(spark, tbl, droot, str(sub / "gen1"))
            assert spark.table(tbl).count() == 2 * (40 + 31)
            assert published_batches(droot) == {}
            assert _applied_set(droot) == {0}
            assert not os.path.exists(os.path.join(droot, "_fold_manifest.json"))
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            spark.sql(f"DROP TABLE IF EXISTS {tmp}")


def test_fold_recovery_manifest_without_swap_refolds(
    spark, three_batches, tmp_path
):
    """Crash between the manifest write and the DROP: the manifest's path
    does not match the live table location, so the re-run discards the
    stale tmp + manifest and folds fresh — no rows lost, none doubled."""
    import json
    import os

    from fpl_data_pipeline_spark.operators.incremental_state import (
        _applied_set,
        fold_band_deltas,
        read_band_state,
    )
    from fpl_data_pipeline_spark.sources.bucketing import (
        _bucket_count,
        write_bucketed,
    )

    tbl = "inc_fold_noswap_t"
    tmp = f"{tbl}__folding"
    try:
        droot = _fold_fixture(spark, three_batches, tmp_path, tbl)
        gen = str(tmp_path / "gen0")
        n = _bucket_count(spark, tbl)
        write_bucketed(read_band_state(spark, tbl, droot), tmp,
                       ["band", "k"], n, gen)
        with open(os.path.join(droot, "_fold_manifest.json"), "w") as f:
            json.dump({"path": gen, "batches": [0]}, f)
        # --- crash here (base never dropped); the re-run must refold ---
        fold_band_deltas(spark, tbl, droot, str(tmp_path / "gen1"))
        assert spark.table(tbl).count() == 2 * (40 + 31)
        assert _applied_set(droot) == {0}
        assert not spark.catalog.tableExists(tmp)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")


def test_fold_recovery_branch_crash_seams(spark, three_batches, tmp_path):
    """A crash INSIDE fold recovery is itself recoverable: every recovery
    step is idempotent and the manifest is removed LAST, so the next fold
    re-enters the same branch and finishes.  Drives all three recovery
    seams deterministically (the random property test reaches them only
    when the sampler happens to compose a late forward crash with a
    recovery crash): the two cleanup steps of the swap-committed branch,
    and the tmp-discard of the swap-never-happened branch."""
    import os

    from fpl_data_pipeline_spark.operators.incremental_state import (
        _applied_set,
        _InjectedCrash,
        fold_band_deltas,
        published_batches,
    )

    cases = [
        # (forward seam that strands the manifest, recovery seam to kill)
        ("rename", "recover_applied"),    # swap committed, cleanup step 1
        ("rename", "recover_rm_deltas"),  # swap committed, cleanup step 2
        ("manifest", "recover_drop_tmp"),  # swap never happened
    ]
    for i, (setup_seam, recovery_seam) in enumerate(cases):
        tbl = f"inc_fold_recseam_{i}_t"
        sub = tmp_path / f"r{i}"
        sub.mkdir()
        try:
            droot = _fold_fixture(spark, three_batches, sub, tbl)
            with pytest.raises(_InjectedCrash):
                fold_band_deltas(spark, tbl, droot, str(sub / "gen0"),
                                 _fail_after=setup_seam)
            with pytest.raises(_InjectedCrash):
                fold_band_deltas(spark, tbl, droot, str(sub / "gen1"),
                                 _fail_after=recovery_seam)
            fold_band_deltas(spark, tbl, droot, str(sub / "gen2"))
            assert spark.table(tbl).count() == 2 * (40 + 31)
            assert published_batches(droot) == {}
            assert _applied_set(droot) == {0}
            assert not os.path.exists(
                os.path.join(droot, "_fold_manifest.json")
            )
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            spark.sql(f"DROP TABLE IF EXISTS {tbl}__folding")


def test_compact_band_state_rerun_recovers_mid_swap(
    spark, three_batches, tmp_path
):
    """Round-9 ADVICE: a re-run landing in compact_band_state's documented
    crash window (old table dropped, rename pending) must perform the
    recovery RENAME, not drop the sole surviving copy's catalog entry."""
    from fpl_data_pipeline_spark.operators.incremental_state import (
        compact_band_state,
    )
    from fpl_data_pipeline_spark.sources.bucketing import (
        _bucket_count,
        write_bucketed,
    )

    b1, b2, b3 = three_batches
    tbl = "inc_compact_crash_t"
    tmp = f"{tbl}__compacting"
    try:
        write_band_state(
            band_state_long(lsh_doc_band_keys(b1)), tbl, str(tmp_path / "s1")
        )
        append_band_state(spark, tbl, band_state_long(lsh_doc_band_keys(b2)))
        want = sorted(
            (r["new_id"], r["dup_of"])
            for r in probe_band_state(
                spark.table(tbl), band_state_long(lsh_doc_band_keys(b3)),
                ND_BAND_CAP,
            ).collect()
        )
        # replicate the compact protocol up to the crash point: tmp fully
        # written, old table dropped, rename pending
        n = _bucket_count(spark, tbl)
        write_bucketed(spark.table(tbl), tmp, ["band", "k"], n,
                       str(tmp_path / "s2"))
        spark.sql(f"DROP TABLE {tbl}")
        # --- crash here; the re-run is the recovery ---
        compact_band_state(spark, tbl, str(tmp_path / "s3"))
        assert spark.table(tbl).count() == 2 * (40 + 31)
        got = sorted(
            (r["new_id"], r["dup_of"])
            for r in probe_band_state(
                spark.table(tbl), band_state_long(lsh_doc_band_keys(b3)),
                ND_BAND_CAP,
            ).collect()
        )
        assert got == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")


def test_compact_band_state_raises_when_nothing_exists(spark):
    from fpl_data_pipeline_spark.operators.incremental_state import (
        compact_band_state,
    )

    with pytest.raises(ValueError, match="neither"):
        compact_band_state(spark, "inc_never_existed_t", "/tmp/unused")


def test_compact_crash_seams_rerun_recovers(spark, three_batches, tmp_path):
    """Drive compact_band_state's own crash seams through the REAL code
    path (the mid-swap test above hand-replicates the state): a crash
    after the tmp write re-runs as a fresh rewrite; a crash after the
    DROP re-runs as the recovery RENAME. Both end with exact rows and
    the one-file-per-bucket layout."""
    import glob
    import os

    from fpl_data_pipeline_spark.operators.incremental_state import (
        _InjectedCrash,
        _table_location,
        compact_band_state,
    )
    from fpl_data_pipeline_spark.sources.bucketing import _bucket_count

    b1, b2, _ = three_batches
    for i, seam in enumerate(("write_tmp", "drop")):
        tbl = f"inc_compact_seam_{i}_t"
        sub = tmp_path / f"s{i}"
        sub.mkdir()
        try:
            write_band_state(
                band_state_long(lsh_doc_band_keys(b1)), tbl, str(sub / "g0")
            )
            append_band_state(
                spark, tbl, band_state_long(lsh_doc_band_keys(b2))
            )
            with pytest.raises(_InjectedCrash):
                compact_band_state(spark, tbl, str(sub / "g1"),
                                   _fail_after=seam)
            compact_band_state(spark, tbl, str(sub / "g2"))
            assert spark.table(tbl).count() == 2 * (40 + 31)
            live = _table_location(spark, tbl)
            n_files = len(glob.glob(os.path.join(live, "*.parquet")))
            assert n_files == _bucket_count(spark, tbl)  # one per bucket
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            spark.sql(f"DROP TABLE IF EXISTS {tbl}__compacting")


def test_fold_and_compact_refuse_to_cross_crash_windows(
    spark, three_batches, tmp_path
):
    """Round 11: the one-style-per-table rule is mechanism-enforced. The
    first fold/compact to run claims the table's maintenance style in the
    location marker; from then on the OTHER style refuses unconditionally
    — in crash windows (each operator still refuses while the other's tmp
    table exists, naming the recovery) AND on a clean table (the marker,
    with no arguments needed)."""
    from fpl_data_pipeline_spark.operators.incremental_state import (
        _InjectedCrash,
        compact_band_state,
        fold_band_deltas,
    )

    b1, b2, _ = three_batches

    # compact claimed the table (and crashed mid-swap): fold refuses on
    # the crash window first, then — after compact's recovery — on the
    # marker, forever; the published delta never folds into it
    tbl = "inc_cross_compact_t"
    try:
        write_band_state(
            band_state_long(lsh_doc_band_keys(b1)), tbl, str(tmp_path / "cs")
        )
        droot = str(tmp_path / "cdeltas")
        from fpl_data_pipeline_spark.operators.incremental_state import (
            publish_band_delta,
        )

        publish_band_delta(band_state_long(lsh_doc_band_keys(b2)), droot, 0)
        with pytest.raises(_InjectedCrash):
            compact_band_state(spark, tbl, str(tmp_path / "cg1"),
                               _fail_after="drop")
        with pytest.raises(ValueError, match="compact_band_state to recover"):
            fold_band_deltas(spark, tbl, droot, str(tmp_path / "cg2"))
        compact_band_state(spark, tbl, str(tmp_path / "cg3"))  # recovery
        with pytest.raises(ValueError, match="maintained by the 'compact'"):
            fold_band_deltas(spark, tbl, droot, str(tmp_path / "cg4"))
        assert spark.table(tbl).count() == 2 * 40  # delta never applied
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__compacting")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__folding")

    # fold claimed the table (and crashed mid-swap): compact refuses on
    # the crash window first, then on the marker after fold's recovery
    tbl = "inc_cross_fold_t"
    sub = tmp_path / "f"
    sub.mkdir()
    try:
        droot = _fold_fixture(spark, three_batches, sub, tbl)
        with pytest.raises(_InjectedCrash):
            fold_band_deltas(spark, tbl, droot, str(sub / "fg1"),
                             _fail_after="drop")
        with pytest.raises(ValueError, match="fold_band_deltas to recover"):
            compact_band_state(spark, tbl, str(sub / "fg2"))
        fold_band_deltas(spark, tbl, droot, str(sub / "fg3"))  # recovery
        with pytest.raises(ValueError, match="maintained by the 'fold'"):
            compact_band_state(spark, tbl, str(sub / "fg4"))
        assert spark.table(tbl).count() == 2 * (40 + 31)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__compacting")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__folding")

    # THE round-10 live-demonstrated hazard, now unreachable WITHOUT any
    # argument: fold crashed AFTER its rename (no __folding left, manifest
    # pending — the window the tmp-table guard cannot see). A compact here
    # used to need delta_root to be refused; the marker the fold stamped
    # into the renamed generation refuses it argument-free.
    tbl = "inc_cross_fold_renamed_t"
    sub = tmp_path / "fr"
    sub.mkdir()
    try:
        droot = _fold_fixture(spark, three_batches, sub, tbl)
        with pytest.raises(_InjectedCrash):
            fold_band_deltas(spark, tbl, droot, str(sub / "rg1"),
                             _fail_after="rename")
        with pytest.raises(ValueError, match="maintained by the 'fold'"):
            compact_band_state(spark, tbl, str(sub / "rg2"))  # NO delta_root
        fold_band_deltas(spark, tbl, droot, str(sub / "rg3"))  # recovery
        assert spark.table(tbl).count() == 2 * (40 + 31)  # no refold dups
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__compacting")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__folding")


def test_gc_refuses_inside_rewrite_crash_windows(
    spark, three_batches, tmp_path
):
    """gc's 'never concurrently with a fold/compact' contract is now a
    tripwire, not just prose: with a crashed rewrite's tmp table present
    (its complete not-yet-live generation would be swept), with the
    table missing mid-swap, or with a fold manifest pending, gc refuses
    and names the recovery; after the crashed op re-runs, gc proceeds
    and removes only superseded generations."""
    import os

    from fpl_data_pipeline_spark.operators.incremental_state import (
        _InjectedCrash,
        _table_location,
        fold_band_deltas,
        gc_band_state_generations,
    )

    tbl = "inc_gc_guard_t"
    gen_base = str(tmp_path / "gens")
    os.makedirs(gen_base)

    def gen(n):
        return os.path.join(gen_base, f"gen-{n}")

    try:
        droot = _fold_fixture(spark, three_batches, tmp_path, tbl)

        # tmp table present (fold crashed right after its tmp write)
        with pytest.raises(_InjectedCrash):
            fold_band_deltas(spark, tbl, droot, gen(0),
                             _fail_after="write_tmp")
        with pytest.raises(ValueError, match="__folding"):
            gc_band_state_generations(spark, tbl, gen_base, delta_root=droot)

        # table missing (fold crashed between DROP and RENAME): the
        # __folding tripwire is what fires — the sole copy is its tmp
        with pytest.raises(_InjectedCrash):
            fold_band_deltas(spark, tbl, droot, gen(1), _fail_after="drop")
        with pytest.raises(ValueError, match="__folding"):
            gc_band_state_generations(spark, tbl, gen_base, delta_root=droot)

        # recover; manifest pending is unreachable here (the recovery
        # completes cleanup), so plant one to drive that tripwire
        fold_band_deltas(spark, tbl, droot, gen(2))
        manifest = os.path.join(droot, "_fold_manifest.json")
        with open(manifest, "w") as f:
            f.write("{}")
        with pytest.raises(ValueError, match="manifest is pending"):
            gc_band_state_generations(spark, tbl, gen_base, delta_root=droot)
        os.remove(manifest)

        # clean state: gc removes every superseded generation, never the
        # live one
        removed = gc_band_state_generations(spark, tbl, gen_base,
                                            delta_root=droot)
        live = _table_location(spark, tbl)
        assert live not in [os.path.abspath(p) for p in removed]
        assert sorted(os.listdir(gen_base)) == [os.path.basename(live)]
        assert spark.table(tbl).count() == 2 * (40 + 31)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__folding")


def test_probe_band_state_unbroadcast_alive_same_result(spark):
    """Round-9 ADVICE: callers with corpus-growing band-key spaces (the
    minhash xxhash64 keys) must be able to opt out of the alive-set
    broadcast hint. The gated path is result-identical and its plan
    carries no broadcast of the alive side."""
    state = spark.createDataFrame(
        [(1, 0, "hot"), (2, 0, "hot"), (3, 0, "hot"), (4, 1, "cold"), (5, 1, "cold")],
        "vec_id long, band int, k string",
    )
    batch = spark.createDataFrame(
        [(100, 0, "hot"), (100, 1, "cold")], "vec_id long, band int, k string"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        gated = probe_band_state(state, batch, cap=2, broadcast_alive=False)
        assert "BroadcastExchange" not in (
            gated._jdf.queryExecution().executedPlan().toString()
        )
        assert {(r["new_id"], r["dup_of"]) for r in gated.collect()} == {
            (100, 4), (100, 5),
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))


def test_band_state_append_soak_then_compact(spark, tmp_path):
    """Round-9 verdict task #6: 20 append cycles, the compaction planner's
    binpack deciding the rewrite is due, then ONE compact — probe parity
    bit-for-bit and the promised file-count collapse. The planner is wired
    to the REAL table layout: its input is the per-parquet-file row count
    of the band-state table itself."""
    import os

    from fpl_data_pipeline_spark.operators.incremental_state import (
        compact_band_state,
    )
    from fpl_data_pipeline_spark.sources.compaction import compaction_bins

    tbl = "inc_band_soak_t"
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    rng = np.random.RandomState(7)
    mk = lambda lo: _emb_frame(  # noqa: E731
        spark, [(lo + i, rng.randn(DIM) * 3) for i in range(5)]
    )
    try:
        write_band_state(band_state_long(lsh_doc_band_keys(mk(0))), tbl, p1)
        for cycle in range(1, 21):
            append_band_state(
                spark, tbl, band_state_long(lsh_doc_band_keys(mk(cycle * 100)))
            )
        files = [
            (os.path.getsize(os.path.join(root, f)), os.path.join(root, f))
            for root, _, fs in os.walk(p1)
            for f in fs
            if f.endswith(".parquet")
        ]
        before_files = len(files)
        assert before_files >= 21  # >= one file set per append

        # wire the planner to the real table: one row per parquet file,
        # packed toward one ~full output per bucket-equivalent
        fdf = spark.createDataFrame(
            [(0, i, sz) for i, (sz, _) in enumerate(files)],
            "part int, file_id int, size long",
        )
        target = sum(sz for sz, _ in files)  # pack everything -> 1 bin
        plan = compaction_bins(fdf, "part", "file_id", "size", target)
        n_bins = plan.select("bin_id").distinct().count()
        assert n_bins < before_files  # the planner says: compaction is due

        probe_batch = band_state_long(lsh_doc_band_keys(mk(9000)))
        want = sorted(
            (r["new_id"], r["dup_of"])
            for r in probe_band_state(
                spark.table(tbl), probe_batch, ND_BAND_CAP
            ).collect()
        )
        n_rows = spark.table(tbl).count()
        compact_band_state(spark, tbl, p2)
        after_files = sum(
            1 for root, _, fs in os.walk(p2) for f in fs if f.endswith(".parquet")
        )
        assert spark.table(tbl).count() == n_rows
        got = sorted(
            (r["new_id"], r["dup_of"])
            for r in probe_band_state(
                spark.table(tbl), probe_batch, ND_BAND_CAP
            ).collect()
        )
        assert got == want
        assert after_files < before_files
        # one file set per bucket: at most STATE_BUCKETS parquet files
        from fpl_data_pipeline_spark.operators.incremental_state import (
            STATE_BUCKETS,
        )

        assert after_files <= STATE_BUCKETS
        print(f"SOAK before_files={before_files} after_files={after_files}")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_gc_band_state_generations_keeps_live_only(
    spark, three_batches, tmp_path
):
    """Two folds leave two superseded generation dirs (the bootstrap copy
    and gen-0); gc removes exactly those, never the live generation, and
    probes over the surviving table are bit-identical."""
    import os

    from fpl_data_pipeline_spark.operators.incremental_state import (
        fold_band_deltas,
        gc_band_state_generations,
        publish_band_delta,
    )

    b1, b2, b3 = three_batches
    tbl = "inc_gc_gens_t"
    gen_base = str(tmp_path / "gens")
    try:
        droot = _fold_fixture(spark, three_batches, tmp_path, tbl)
        fold_band_deltas(spark, tbl, droot, os.path.join(gen_base, "gen-0"))
        publish_band_delta(band_state_long(lsh_doc_band_keys(b3)), droot, 1)
        fold_band_deltas(spark, tbl, droot, os.path.join(gen_base, "gen-1"))
        assert spark.table(tbl).count() == 2 * (40 + 31 + 1)
        want = sorted(
            (r["new_id"], r["dup_of"])
            for r in probe_band_state(
                spark.table(tbl),
                band_state_long(lsh_doc_band_keys(b2)),
                ND_BAND_CAP,
            ).collect()
        )
        removed = gc_band_state_generations(spark, tbl, gen_base)
        assert removed == [os.path.join(gen_base, "gen-0")]
        assert sorted(os.listdir(gen_base)) == ["gen-1"]
        got = sorted(
            (r["new_id"], r["dup_of"])
            for r in probe_band_state(
                spark.table(tbl),
                band_state_long(lsh_doc_band_keys(b2)),
                ND_BAND_CAP,
            ).collect()
        )
        assert got == want
        # idempotent: nothing left to sweep
        assert gc_band_state_generations(spark, tbl, gen_base) == []
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_read_band_state_tolerates_empty_delta(spark, three_batches, tmp_path):
    """An empty micro-batch publishes a delta dir with a _SUCCESS marker
    and no part files; read_band_state must skip it (it contributes
    nothing) instead of failing parquet schema inference, and fold must
    mark it applied without changing the table."""
    from fpl_data_pipeline_spark.operators.incremental_state import (
        fold_band_deltas,
        publish_band_delta,
        read_band_state,
    )

    b1, _, _ = three_batches
    tbl = "inc_empty_delta_t"
    droot = str(tmp_path / "deltas")
    try:
        write_band_state(
            band_state_long(lsh_doc_band_keys(b1)), tbl, str(tmp_path / "state")
        )
        empty = spark.createDataFrame([], "vec_id long, band int, k int")
        assert publish_band_delta(empty, droot, 0) is True
        assert read_band_state(spark, tbl, droot).count() == 2 * 40
        fold_band_deltas(spark, tbl, droot, str(tmp_path / "gen0"))
        assert spark.table(tbl).count() == 2 * 40
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


_fold_prop_seq = [0]


@settings(max_examples=10, deadline=None)
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("publish"), st.booleans()),
            st.tuples(
                st.just("fold"),
                st.sampled_from(
                    [None, "write_tmp", "manifest", "drop", "rename",
                     "applied", "rm_deltas",
                     # recovery-branch seams: fire only when THIS fold
                     # enters recovery (a prior fold crashed late) — the
                     # try/except below makes the crash conditional
                     "recover_applied", "recover_rm_deltas",
                     "recover_drop_tmp"]
                ),
            ),
        ),
        min_size=1,
        max_size=4,
    )
)
def test_fold_protocol_random_crash_interleavings(
    spark, tmp_path_factory, ops
):
    """Property over the WHOLE publish/fold protocol: any interleaving of
    publishes (optionally crashing between the staging write and the
    rename — the stream replays those) and folds crashing after ANY
    protocol step, with recovery deferred to whenever the next fold
    happens to run, converges after one final clean fold to: every batch
    folded exactly once (row multiset == bootstrap + each batch's rows,
    no duplicates), no published deltas, no manifest, applied-set
    complete."""
    import os

    from fpl_data_pipeline_spark.operators.incremental_state import (
        _applied_set,
        _InjectedCrash,
        fold_band_deltas,
        publish_band_delta,
        published_batches,
    )

    _fold_prop_seq[0] += 1
    tbl = f"inc_fold_prop_{_fold_prop_seq[0]}_t"
    base = tmp_path_factory.mktemp(f"foldprop{_fold_prop_seq[0]}")
    droot = str(base / "deltas")
    gen_n = [0]

    def gen():
        gen_n[0] += 1
        return str(base / f"gen-{gen_n[0]}")

    def rows_of(b):
        return [(b * 100 + i, i % 2, f"k{b}_{i}") for i in range(3)]

    def frame(rows):
        return spark.createDataFrame(rows, "vec_id long, band int, k string")

    boot = [(10_000 + i, i % 2, f"boot{i}") for i in range(4)]
    try:
        write_band_state(frame(boot), tbl, str(base / "state"), num_buckets=2)
        next_id = 0
        for kind, arg in ops:
            if kind == "publish":
                b, next_id = next_id, next_id + 1
                if arg:  # crash between staging write and publish rename
                    with pytest.raises(_InjectedCrash):
                        publish_band_delta(frame(rows_of(b)), droot, b,
                                           _fail_after="staging")
                # the (re)play — must succeed exactly once
                assert publish_band_delta(frame(rows_of(b)), droot, b) is True
            else:
                # a fold with nothing unfolded returns before the seam, so
                # the crash is conditional; convergence is the property
                try:
                    fold_band_deltas(spark, tbl, droot, gen(), _fail_after=arg)
                except _InjectedCrash:
                    pass
        fold_band_deltas(spark, tbl, droot, gen())  # final clean fold
        got = sorted(
            (r["vec_id"], r["band"], r["k"])
            for r in spark.table(tbl).collect()
        )
        want = sorted(boot + [r for b in range(next_id) for r in rows_of(b)])
        assert got == want  # exactly once: no loss, no duplication
        assert published_batches(droot) == {}
        assert _applied_set(droot) == set(range(next_id))
        assert not os.path.exists(os.path.join(droot, "_fold_manifest.json"))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__folding")


_maint_prop_seq = [0]


@settings(max_examples=6, deadline=None)
@given(
    ops=st.lists(
        st.one_of(
            st.just(("publish", None)),
            st.tuples(
                st.just("fold"),
                st.sampled_from(
                    [None, "write_tmp", "manifest", "drop", "rename",
                     "applied", "rm_deltas"]
                ),
            ),
            st.tuples(
                st.just("compact"),
                st.sampled_from([None, "write_tmp", "drop"]),
            ),
        ),
        min_size=2,
        max_size=4,
    )
)
def test_maintenance_state_machine_random_interleavings(
    spark, tmp_path_factory, ops
):
    """Property over the WHOLE maintenance state machine — publishes,
    folds, AND compacts, any order, crashing at any protocol step — under
    the round-11 rule: the FIRST fold/compact to run claims the table's
    maintenance style in the location marker; the other style is refused
    from then on (argument-free), including across every crash window.
    Invariants: (a) the two tmp tables never coexist; (b) cross-style
    attempts are pure refusals — they never change rows, deltas, or the
    applied-set (the only side effect the discipline allows is the style
    owner's own recovery run); (c) convergence by claimed style: a
    fold-claimed (or never-claimed) table folds every batch exactly once;
    a compact-claimed table keeps its bootstrap rows exactly and its
    published deltas forever unapplied — never silently refolded."""
    import os

    from fpl_data_pipeline_spark.operators.incremental_state import (
        _applied_set,
        _InjectedCrash,
        compact_band_state,
        fold_band_deltas,
        publish_band_delta,
        published_batches,
    )

    _maint_prop_seq[0] += 1
    tbl = f"inc_maint_prop_{_maint_prop_seq[0]}_t"
    base = tmp_path_factory.mktemp(f"maintprop{_maint_prop_seq[0]}")
    droot = str(base / "deltas")
    gen_n = [0]

    def gen():
        gen_n[0] += 1
        return str(base / f"gen-{gen_n[0]}")

    def rows_of(b):
        return [(b * 100 + i, i % 2, f"k{b}_{i}") for i in range(3)]

    def frame(rows):
        return spark.createDataFrame(rows, "vec_id long, band int, k string")

    def never_both_tmps():
        assert not (
            spark.catalog.tableExists(f"{tbl}__folding")
            and spark.catalog.tableExists(f"{tbl}__compacting")
        )

    claimed = [None]
    fns = {
        "fold": lambda f: fold_band_deltas(spark, tbl, droot, gen(),
                                           _fail_after=f),
        # NO delta_root: the marker alone must keep compact out of the
        # fold loop's crash windows (the round-10 hazard)
        "compact": lambda f: compact_band_state(spark, tbl, gen(),
                                                _fail_after=f),
    }
    other = {"fold": "compact", "compact": "fold"}

    def attempt(kind, fail=None):
        """One attempt under the recovery discipline. A tmp-guard refusal
        means the OTHER style crashed mid-protocol: clean-run that style's
        own op to recover, then retry — which the marker then refuses
        (terminal) unless this table is ours. Returns 'ran' | 'refused'."""
        for is_retry in (False, True):
            try:
                fns[kind](fail)
            except _InjectedCrash:
                pass  # claim happened at entry, before any seam
            except ValueError as e:
                if "maintained by" in str(e):
                    never_both_tmps()
                    return "refused"
                assert not is_retry, f"unexpected second refusal: {e}"
                fns[other[kind]](None)  # recover the blocking protocol
                continue
            claimed[0] = claimed[0] or kind
            never_both_tmps()
            return "ran"

    boot = [(10_000 + i, i % 2, f"boot{i}") for i in range(4)]
    try:
        write_band_state(frame(boot), tbl, str(base / "state"), num_buckets=2)
        next_id = 0
        for kind, arg in ops:
            if kind == "publish":
                b, next_id = next_id, next_id + 1
                assert publish_band_delta(frame(rows_of(b)), droot, b) is True
            else:
                attempt(kind, arg)
        if claimed[0] in (None, "fold"):
            assert attempt("fold", None) == "ran"
            assert attempt("fold", None) == "ran"  # idempotent when clean
            got = sorted(
                (r["vec_id"], r["band"], r["k"])
                for r in spark.table(tbl).collect()
            )
            want = sorted(
                boot + [r for b in range(next_id) for r in rows_of(b)]
            )
            assert got == want  # every batch exactly once
            assert published_batches(droot) == {}
            assert _applied_set(droot) == set(range(next_id))
            assert not os.path.exists(
                os.path.join(droot, "_fold_manifest.json")
            )
        else:
            assert attempt("compact", None) == "ran"  # close any open window
            got = sorted(
                (r["vec_id"], r["band"], r["k"])
                for r in spark.table(tbl).collect()
            )
            assert got == sorted(boot)  # compaction never changes rows
            # the deltas are stranded, honestly: still published, never
            # applied — a refold-as-duplicates can never happen here
            assert set(published_batches(droot)) == set(range(next_id))
            assert _applied_set(droot) == set()
            assert attempt("fold", None) == "refused"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__folding")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__compacting")


def test_streaming_lifecycle_soak_with_crashes(spark, tmp_path):
    """Round-11 task #5: the WHOLE deployment loop, run the way a
    deployment runs it — 20 micro-batch drains through run_neardup_ingest
    (fold=False: maintenance on a cadence, not per-batch), folds triggered
    by a small-file criterion over the published deltas (the
    sources/compaction.py streaming-pack rule degenerates to a delta-count
    threshold here because every delta is one uniform micro-batch), gc
    after every successful fold, and CRASH INJECTION at seeded-random
    batches (a fold killed at a random protocol seam; the next cadence
    fold is the recovery). Round 10 tested each piece; this test pins the
    composition: bounded file counts throughout, only-live-generation
    storage at the end, exact state rows, and probe parity with a
    from-scratch offline rebuild."""
    import os

    from fpl_data_pipeline_spark.operators.incremental_state import (
        STATE_BUCKETS,
        _applied_set,
        _InjectedCrash,
        fold_band_deltas,
        gc_band_state_generations,
        published_batches,
    )
    from fpl_data_pipeline_spark.streaming.incremental import run_neardup_ingest

    N_BATCHES, PER_BATCH, CADENCE = 20, 5, 4
    SEAMS = ["write_tmp", "manifest", "drop", "rename", "applied",
             "rm_deltas"]
    tbl, off = "inc_lifecycle_soak_t", "inc_lifecycle_soak_off_t"
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    droot = os.path.join(out, "_state_deltas")
    gen_base = os.path.join(droot, "_folded_base")
    rng = np.random.RandomState(11)

    def nfiles(root):
        return sum(
            1 for r, _, fs in os.walk(root) for f in fs
            if f.endswith(".parquet")
        )

    def next_gen():
        g = 0
        while os.path.exists(os.path.join(gen_base, f"gen-{g}")):
            g += 1
        return os.path.join(gen_base, f"gen-{g}")

    history = []
    try:
        raw = [[(g * 100 + i, rng.randn(DIM) * 3) for i in range(PER_BATCH)]
               for g in range(N_BATCHES + 1)]
        boot = _emb_frame(spark, raw[0])
        write_band_state(band_state_long(lsh_doc_band_keys(boot)), tbl,
                         str(tmp_path / "state"))
        batches = [_emb_frame(spark, r) for r in raw[1:]]
        for c, b in enumerate(batches):
            b.coalesce(1).write.mode("append").parquet(src)
            run_neardup_ingest(spark, src, tbl, out, ckpt, fold=False)
            if rng.rand() < 0.25:  # a maintenance fold dies mid-protocol
                with pytest.raises(_InjectedCrash):
                    fold_band_deltas(
                        spark, tbl, droot, next_gen(),
                        _fail_after=SEAMS[rng.randint(len(SEAMS))],
                    )
                if not spark.catalog.tableExists(tbl):
                    # the mid-swap window: the next drain's probe needs the
                    # table, so the operator re-runs the fold NOW (exactly
                    # what a failing drain would page a deployment to do)
                    fold_band_deltas(spark, tbl, droot, next_gen())
            # cadence: the planner criterion — enough published deltas to
            # make the rewrite pay — then fold (doubles as crash recovery)
            if len(published_batches(droot)) >= CADENCE:
                fold_band_deltas(spark, tbl, droot, next_gen())
                gc_band_state_generations(spark, tbl, gen_base,
                                          delta_root=droot)
            history.append(
                (c, len(published_batches(droot)), nfiles(droot))
            )
            # bounded at every step: deltas never exceed cadence+1 dirs
            # (one may arrive mid-window), state+delta files stay O(buckets
            # + cadence), never O(total batches)
            assert len(published_batches(droot)) <= CADENCE + 1
        fold_band_deltas(spark, tbl, droot, next_gen())  # final fold
        gc_band_state_generations(spark, tbl, gen_base, delta_root=droot)

        total = (N_BATCHES + 1) * PER_BATCH
        assert spark.table(tbl).count() == 2 * total  # exact, no dup rows
        assert published_batches(droot) == {}
        assert _applied_set(droot) == set(range(N_BATCHES))
        # only-live-generation storage, one file per bucket
        gens = [d for d in os.listdir(gen_base)
                if os.path.isdir(os.path.join(gen_base, d))]
        assert len(gens) == 1
        assert nfiles(os.path.join(gen_base, gens[0])) <= STATE_BUCKETS
        # probe parity with a from-scratch offline rebuild of the state
        all_vecs = boot
        for b in batches:
            all_vecs = all_vecs.unionByName(b)
        write_band_state(band_state_long(lsh_doc_band_keys(all_vecs)), off,
                         str(tmp_path / "off"))
        # random probes + one planted near-copy of a mid-soak vector (id
        # 99999 ~ batch 7's id 702) so the parity check provably has a hit
        probe_raw = [(90000 + i, rng.randn(DIM) * 3) for i in range(PER_BATCH)]
        probe_raw.append((99999, raw[7][2][1] + 0.001 * rng.randn(DIM)))
        probe_keys = band_state_long(
            lsh_doc_band_keys(_emb_frame(spark, probe_raw))
        )
        res = lambda t: sorted(  # noqa: E731
            (r["new_id"], r["dup_of"])
            for r in probe_band_state(
                spark.table(t), probe_keys, ND_BAND_CAP
            ).collect()
        )
        parity = res(tbl)
        assert parity == res(off)
        assert (99999, 702) in set(parity)  # the planted hit survives both
        max_deltas = max(h[1] for h in history)
        max_files = max(h[2] for h in history)
        print(f"LIFECYCLE_SOAK batches={N_BATCHES} max_delta_dirs={max_deltas} "
              f"max_files_under_droot={max_files} "
              f"final_state_files={nfiles(os.path.join(gen_base, gens[0]))} "
              f"history={history}")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {off}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__folding")
