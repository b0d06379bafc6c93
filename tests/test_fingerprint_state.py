"""The text fingerprint state's exactly-once streaming lifecycle — round 11,
closing the round-10 verdict's gap #1.

Round 10 built the publish/fold/gc protocol for the vector band-key
relation; the fp state had probe + write but only the offline path. The
protocol is key-shape-generic now (delta schema = published frame, bucket
spec from the catalog), so these are the FINGERPRINT TWINS of the round-10
tests: the two-batch streaming sequencing, the checkpoint-loss replay
(byte-identical labels, zero duplicate state rows), probe parity between
the streamed state and a from-scratch offline rebuild, and the randomized
crash-interleaving property over publish/fold — template:
tests/test_incremental_state.py.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fpl_data_pipeline_spark.operators.incremental_state import (
    probe_fingerprint_state,
    write_fingerprint_state,
)

def _fp_col():
    # the registered dedup_incremental_batch's fingerprint expression
    # (functions/corpus_queries.py) — the streaming loop must agree with it
    return F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _fps(df):
    return df.select("doc_id", _fp_col().alias("fp"))


@pytest.fixture()
def doc_batches(spark):
    """batch1: 3 distinct docs (the bootstrap corpus); batch2: 2 new + one
    whitespace/case variant of a BATCH1 doc; batch3: one variant of a
    BATCH2 doc — labeled dup only if batch2's fold took."""
    b1 = _docs(spark, [(1, "alpha one"), (2, "beta two"), (3, "gamma three")])
    b2 = _docs(
        spark,
        [(11, "delta four"), (12, "Alpha   one"), (13, "epsilon five")],
    )
    b3 = _docs(spark, [(21, "delta  FOUR")])
    return b1, b2, b3


def _labels(spark, out, batch_id):
    return {
        (r["doc_id"], r["status"])
        for r in spark.read.parquet(f"{out}/batch_id={batch_id}").collect()
    }


def test_fp_streaming_ingest_two_microbatches(spark, doc_batches, tmp_path):
    """Sequencing through run_fingerprint_ingest: drain 1 labels batch2
    against the bootstrap state (12 is a corpus dup; 11/13 new) and folds
    the new fps; drain 2 sees batch3's variant of a BATCH2 doc as
    dup_of_corpus — proof the fold made batch2 part of the corpus. State
    stays an exact distinct-fp set throughout."""
    from fpl_data_pipeline_spark.streaming.incremental import (
        run_fingerprint_ingest,
    )

    b1, b2, b3 = doc_batches
    tbl = "fp_state_stream_t"
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    try:
        write_fingerprint_state(
            _fps(b1).select("fp").distinct(), tbl, str(tmp_path / "state")
        )
        b2.coalesce(1).write.mode("append").parquet(src)
        run_fingerprint_ingest(spark, src, tbl, out, ckpt)
        assert _labels(spark, out, 0) == {
            (11, "new"), (12, "dup_of_corpus"), (13, "new")
        }
        assert spark.table(tbl).count() == 3 + 2  # fold applied, no dups

        b3.coalesce(1).write.mode("append").parquet(src)
        run_fingerprint_ingest(spark, src, tbl, out, ckpt)
        assert _labels(spark, out, 1) == {(21, "dup_of_corpus")}
        assert spark.table(tbl).count() == 5  # a dup batch adds nothing
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_fp_streaming_replay_is_exactly_once(spark, doc_batches, tmp_path):
    """The round-10 replay contract, fp shape: lose the stream checkpoint
    BEFORE the fold ran (the only state a real crash can leave under
    fold=True, and the external-cadence window under fold=False), replay
    the drain — labels are byte-identical (the probe excludes the batch's
    own delta) and the state never gains a duplicate fp row, through the
    replay and through the eventual fold."""
    from fpl_data_pipeline_spark.operators.incremental_state import (
        fold_band_deltas,
        publish_band_delta,
        read_band_state,
    )
    from fpl_data_pipeline_spark.streaming.incremental import (
        run_fingerprint_ingest,
    )

    b1, b2, _ = doc_batches
    tbl = "fp_state_replay_t"
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    droot = out + "/_state_deltas"
    try:
        write_fingerprint_state(
            _fps(b1).select("fp").distinct(), tbl, str(tmp_path / "state")
        )
        b2.coalesce(1).write.mode("append").parquet(src)
        run_fingerprint_ingest(spark, src, tbl, out, ckpt, fold=False)
        first = _labels(spark, out, 0)
        assert first == {(11, "new"), (12, "dup_of_corpus"), (13, "new")}
        shutil.rmtree(ckpt)  # lose the commit -> full replay on next drain
        run_fingerprint_ingest(spark, src, tbl, out, ckpt, fold=False)
        assert _labels(spark, out, 0) == first  # byte-identical labels
        # state view (base + published deltas) exact: 3 boot + 2 new, once
        assert read_band_state(spark, tbl, droot).count() == 5
        # and the durable applied-set refuses a re-publish even after fold
        fold_band_deltas(spark, tbl, droot, str(tmp_path / "gen0"))
        assert spark.table(tbl).count() == 5
        new_fps = _fps(b2).select("fp").distinct()
        assert publish_band_delta(new_fps, droot, 0) is False
        assert spark.table(tbl).count() == 5
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_fp_streamed_state_matches_offline_rebuild(spark, doc_batches,
                                                   tmp_path):
    """Probe parity between the two deployment paths (the round-11
    done-when): the state the streaming loop converges to — bootstrap +
    folded deltas — labels a fresh probe batch identically to a
    from-scratch OFFLINE state built by write_fingerprint_state over the
    full corpus, via the same probe_fingerprint_state the registered
    dedup_incremental_batch query uses. Row-for-row equal state tables,
    same bucketed layout (one probe join, state side pre-shuffled)."""
    from fpl_data_pipeline_spark.streaming.incremental import (
        run_fingerprint_ingest,
    )

    b1, b2, b3 = doc_batches
    tbl, off = "fp_state_streamed_t", "fp_state_offline_t"
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    try:
        write_fingerprint_state(
            _fps(b1).select("fp").distinct(), tbl, str(tmp_path / "state")
        )
        for i, b in enumerate((b2, b3)):
            b.coalesce(1).write.mode("append").parquet(src)
            run_fingerprint_ingest(spark, src, tbl, out, ckpt)
        # offline path: one-shot distinct over the whole corpus
        corpus = b1.unionByName(b2).unionByName(b3)
        write_fingerprint_state(
            _fps(corpus).select("fp").distinct(), off, str(tmp_path / "off")
        )
        assert sorted(r["fp"] for r in spark.table(tbl).collect()) == sorted(
            r["fp"] for r in spark.table(off).collect()
        )
        probe = _docs(
            spark, [(31, "ALPHA ONE"), (32, "epsilon  five"), (33, "zeta six")]
        )
        label = lambda t: sorted(  # noqa: E731
            (r["doc_id"], r["status"])
            for r in probe_fingerprint_state(
                spark.table(t).select("fp"), _fps(probe)
            ).collect()
        )
        assert label(tbl) == label(off)
        assert (31, "dup_of_corpus") in label(tbl)
        assert (33, "new") in label(tbl)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {off}")


def test_fp_streaming_ingest_gc_reclaims_superseded_gens(
    spark, doc_batches, tmp_path
):
    """gc=True completes the fp storage lifecycle inside the loop (the fp
    twin of the vector gc test): after each drain's fold, superseded
    generations are reclaimed, only the live one survives, and the state
    table still reads exactly."""
    from fpl_data_pipeline_spark.streaming.incremental import (
        run_fingerprint_ingest,
    )

    b1, b2, b3 = doc_batches
    tbl = "fp_state_stream_gc_t"
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    try:
        write_fingerprint_state(
            _fps(b1).select("fp").distinct(), tbl, str(tmp_path / "state")
        )
        b2.coalesce(1).write.mode("append").parquet(src)
        run_fingerprint_ingest(spark, src, tbl, out, ckpt, gc=True)
        b3.coalesce(1).write.mode("append").parquet(src)
        run_fingerprint_ingest(spark, src, tbl, out, ckpt, gc=True)
        base = os.path.join(out, "_state_deltas", "_folded_base")
        assert sorted(os.listdir(base)) == ["gen-1"]
        assert spark.table(tbl).count() == 5  # 3 boot + 2 new, exactly
        assert _labels(spark, out, 1) == {(21, "dup_of_corpus")}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_fp_gc_reads_fold_delta_root_from_marker(spark, doc_batches,
                                                 tmp_path):
    """Round-11 marker mechanics on the fp shape: after one fold, gc run
    WITHOUT delta_root still refuses while a fold manifest is pending
    (the marker names the loop's delta_root), and a mismatched explicit
    delta_root is rejected rather than silently trusted."""
    from fpl_data_pipeline_spark.operators.incremental_state import (
        fold_band_deltas,
        gc_band_state_generations,
        publish_band_delta,
    )

    b1, b2, _ = doc_batches
    tbl = "fp_state_marker_gc_t"
    droot = str(tmp_path / "deltas")
    gen_base = str(tmp_path / "gens")
    try:
        write_fingerprint_state(
            _fps(b1).select("fp").distinct(), tbl, str(tmp_path / "state")
        )
        new_fps = (  # only the fps that probe 'new', as the loop publishes
            _fps(b2).join(spark.table(tbl), "fp", "left_anti")
            .select("fp").distinct()
        )
        publish_band_delta(new_fps, droot, 0)
        fold_band_deltas(spark, tbl, droot, os.path.join(gen_base, "gen-0"))
        manifest = os.path.join(droot, "_fold_manifest.json")
        with open(manifest, "w") as f:
            f.write("{}")  # plant the post-rename crash evidence
        with pytest.raises(ValueError, match="manifest is pending"):
            gc_band_state_generations(spark, tbl, gen_base)  # NO delta_root
        with pytest.raises(ValueError, match="bound to delta_root"):
            gc_band_state_generations(spark, tbl, gen_base,
                                      delta_root=str(tmp_path / "other"))
        os.remove(manifest)
        removed = gc_band_state_generations(spark, tbl, gen_base)
        assert removed == []  # only the live generation exists
        assert spark.table(tbl).count() == 5
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


_fp_prop_seq = [0]
_fp_rows = st.lists(
    st.integers(min_value=0, max_value=99), min_size=1, max_size=3
)


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
                     "recover_applied", "recover_rm_deltas",
                     "recover_drop_tmp"]
                ),
            ),
        ),
        min_size=1,
        max_size=4,
    )
)
def test_fp_fold_protocol_random_crash_interleavings(
    spark, tmp_path_factory, ops
):
    """The crash-interleaving property, fingerprint shape: any interleaving
    of fp-delta publishes (optionally crashing between staging write and
    rename) and folds crashing after ANY protocol step — including inside
    the recovery branch — converges after one final clean fold to every
    batch's fingerprints folded exactly once, no published deltas, no
    manifest, applied-set complete. Identical machinery to the vector twin
    (the protocol is key-shape-generic); what this pins is that a 1-column
    state relation bucketed on its only column rides it unchanged."""
    from fpl_data_pipeline_spark.operators.incremental_state import (
        _applied_set,
        _InjectedCrash,
        fold_band_deltas,
        publish_band_delta,
        published_batches,
    )

    _fp_prop_seq[0] += 1
    tbl = f"fp_fold_prop_{_fp_prop_seq[0]}_t"
    base = tmp_path_factory.mktemp(f"fpprop{_fp_prop_seq[0]}")
    droot = str(base / "deltas")
    gen_n = [0]

    def gen():
        gen_n[0] += 1
        return str(base / f"gen-{gen_n[0]}")

    def rows_of(b):
        return [(f"fp_{b}_{i}",) for i in range(3)]

    def frame(rows):
        return spark.createDataFrame(rows, "fp string")

    boot = [(f"boot_{i}",) for i in range(4)]
    try:
        write_fingerprint_state(frame(boot), tbl, str(base / "state"),
                                num_buckets=2)
        next_id = 0
        for kind, arg in ops:
            if kind == "publish":
                b, next_id = next_id, next_id + 1
                if arg:  # crash between staging write and publish rename
                    with pytest.raises(_InjectedCrash):
                        publish_band_delta(frame(rows_of(b)), droot, b,
                                           _fail_after="staging")
                assert publish_band_delta(
                    frame(rows_of(b)), droot, b
                ) is True
            else:
                try:
                    fold_band_deltas(spark, tbl, droot, gen(),
                                     _fail_after=arg)
                except _InjectedCrash:
                    pass
        fold_band_deltas(spark, tbl, droot, gen())  # final clean fold
        got = sorted(r["fp"] for r in spark.table(tbl).collect())
        want = sorted(
            [fp for (fp,) in boot]
            + [fp for b in range(next_id) for (fp,) in rows_of(b)]
        )
        assert got == want  # exactly once: no loss, no duplication
        assert published_batches(droot) == {}
        assert _applied_set(droot) == set(range(next_id))
        assert not os.path.exists(os.path.join(droot, "_fold_manifest.json"))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__folding")
