"""The shared deploy-state story for the incremental dedup families
(round-8 verdict task #5).

`dedup_incremental_batch` (text fingerprints) and `emb_incremental_neardup`
(banded sign-bit LSH keys) both answer the same deployment question — "which
of the arriving batch's items does the EXISTING corpus already contain?" —
and both, as registered sf-dir-pure queries, derive the corpus/batch split
from a content hash inside the query. A real 100 TB deployment instead
PERSISTS the state between increments:

- the text family's state is the distinct fingerprint set, bucketed on
  ``fp`` so every nightly batch probe is a co-located join against the
  state files with no state-side shuffle;
- the vector family's state is the LONG-FORM band-key relation
  (vec_id, band, k) — one row per (vector, band) — bucketed on (band, k):
  one probe join serves every band at once, and the state side again reads
  pre-shuffled. (The pre-round-9 wide form needed one join per band and
  scanned the state twice.)

This module holds that story once: builders (wide -> long), the probe
operators the registered queries now share, and the persist/load round trip
(sources/bucketing.py's catalog writer) that tests/test_incremental_state.py
drives through a two-batch sequencing scenario — batch2 must see batch1's
items as corpus after the state append.

Round 11: the publish/fold/compact/gc protocol below is KEY-SHAPE-GENERIC —
despite the historical ``band`` naming, nothing in it assumes the
(vec_id, band, k) relation. The delta schema is the published frame's
columns, the fold/compact rewrite reads the bucket count AND bucket columns
from the catalog, and the probe view unions deltas by the base table's
column names. The text fingerprint state (a 1-column distinct ``fp``
relation bucketed on fp) runs the SAME functions — publish_band_delta,
read_band_state, fold_band_deltas over 1-column ``fp`` frames — so a
text-dedup deployment gets the identical exactly-once delta publish,
manifest fold, and generation gc the vector family got in round 10.
Publish a batch's NEW fingerprints only (the ones that probed 'new'
against the corpus view excluding the batch's own delta): replays
recompute the identical 'new' set, and the state never accumulates
duplicate fp rows.

Who runs it: the registered queries use only the probes. The store's
publish/read/fold/gc loop has no caller in the engine (the Structured
Streaming ingest loops that ran it were removed, last at a93dd21);
tools/fold_scale_probe.py and the tests run it batch by batch — probe
the state view that excludes the batch's own delta, land the batch's
output, publish its delta, and fold on a cadence. Batch ids key the
durable applied-set, so they must never be reused for new data: after
losing the record of which ids were used, replay to convergence, fold,
and rebuild the state under a fresh delta root before admitting new
batches.

Scale shape: state grows O(corpus) rows (x2 bands for vectors) and is
probed in O(batch x bucket-membership); the over-cap band drop (the
ND_BAND_CAP convention) keeps a boilerplate-heavy bucket from going
quadratic, observably (candidate_cap_audit). Nothing here is pair-quadratic
and nothing collects.
"""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from fpl_data_pipeline_spark.sources.bucketing import write_bucketed

# default bucket counts: sized for ~128-256 MB bucket files at deploy scale;
# tiny in tests, which is fine (bucketing is a layout contract, not a size
# threshold)
STATE_BUCKETS = 8


def band_state_long(keys_wide: DataFrame, id_col: str = "vec_id",
                    band_cols: tuple = ("k0", "k1")) -> DataFrame:
    """(id, band, k) long form of a wide per-item band-key frame — the
    persisted shape: one row per (item, band), so ONE equi-join on
    (band, k) probes every band and the state table buckets on the join
    key it is always probed with."""
    args = ", ".join(f"{i}, {c}" for i, c in enumerate(band_cols))
    stack = F.expr(f"stack({len(band_cols)}, {args})")
    return keys_wide.select(F.col(id_col), stack.alias("band", "k"))


def probe_band_state(state: DataFrame, batch_keys: DataFrame,
                     cap: int, broadcast_alive: bool = True) -> DataFrame:
    """Distinct (new_id, dup_of) candidates: batch items sharing an ALIVE
    (band, k) bucket with a corpus item. ``state``/``batch_keys`` are
    long-form (vec_id, band, k) frames (state may come straight from the
    persisted bucketed table). The alive pre-pass drops buckets whose
    membership exceeds ``cap`` — a bucket that a boilerplate corpus fills
    past the cap is non-discriminative.

    ``broadcast_alive`` (round-9 ADVICE): the default broadcast hint is
    correct ONLY for fixed-width band-key spaces (the 8-bit embedding LSH
    keys: alive <= n_bands x 2^8 rows regardless of corpus size). Callers
    whose key space grows with the corpus — the minhash xxhash64 band
    keys, where alive is O(corpus x bands) — MUST pass False at deploy
    scale; the alive join then shuffles on (band, k), which the bucketed
    state layout already co-locates."""
    alive = (
        state.groupBy("band", "k")
        .agg(F.count(F.lit(1)).alias("bs"))
        .filter(F.col("bs") <= cap)
        .drop("bs")
    )
    if broadcast_alive:
        alive = F.broadcast(alive)
    return (
        batch_keys.select(F.col("vec_id").alias("new_id"), "band", "k")
        .join(alive, ["band", "k"])
        .join(state.select(F.col("vec_id").alias("dup_of"), "band", "k"),
              ["band", "k"])
        .select("new_id", "dup_of")
        .distinct()
    )


def probe_fingerprint_state(state: DataFrame, batch_fp: DataFrame) -> DataFrame:
    """(doc_id, status) for an arriving batch's (doc_id, fp) rows against
    the corpus fingerprint state (a 1-column distinct ``fp`` frame, read
    from the persisted bucketed table at deploy time): 'dup_of_corpus'
    when the fingerprint already exists, else 'new'. O(batch) probe join —
    the corpus pair space is never rescanned."""
    return batch_fp.join(
        state.withColumn("hit", F.lit(1)), "fp", "left"
    ).select(
        "doc_id",
        F.when(F.col("hit").isNotNull(), "dup_of_corpus")
        .otherwise("new")
        .alias("status"),
    )


def write_band_state(state: DataFrame, table_name: str, path: str,
                     num_buckets: int = STATE_BUCKETS) -> None:
    """Persist long-form band-key state bucketed on (band, k) — the probe
    join key — so increment probes read the state pre-shuffled."""
    write_bucketed(state, table_name, ["band", "k"], num_buckets, path)


def write_fingerprint_state(state: DataFrame, table_name: str, path: str,
                            num_buckets: int = STATE_BUCKETS) -> None:
    """Persist the distinct-fingerprint state bucketed on fp."""
    write_bucketed(state, table_name, ["fp"], num_buckets, path)


def append_band_state(spark: SparkSession, table_name: str,
                      new_keys: DataFrame) -> None:
    """Fold an accepted batch's band keys into the persisted state — the
    between-increments step of the deployment loop. bucketBy appends keep
    the bucketed layout, but each append adds one file set per bucket;
    run compact_band_state on the usual small-file cadence
    (sources/compaction.py's planner decides when)."""
    from fpl_data_pipeline_spark.sources.bucketing import _bucket_count

    new_keys.write.format("parquet").mode("append").bucketBy(
        _bucket_count(spark, table_name), "band", "k"
    ).sortBy("band", "k").saveAsTable(table_name)


def compact_band_state(spark: SparkSession, table_name: str,
                       path: str, delta_root: str | None = None,
                       _fail_after: str | None = None) -> None:
    """Rewrite the appended state table as one file set per bucket,
    preserving the bucketed layout (bucket count and keys read from the
    catalog). N appends leave N file sets per bucket — correct but
    ever-smaller files; this is the OPTIMIZE step of the deployment loop.
    ``path`` must be a NEW location: never an in-place overwrite of files
    a concurrent probe may be reading.

    Crash contract (honest, not atomic): the compacted copy is FULLY
    written under ``{table_name}__compacting`` before the old table is
    touched, so data is never at risk; the remaining window is two
    metadata ops (DROP old, RENAME new). A crash inside it leaves the
    catalog without ``table_name`` but with the complete ``__compacting``
    table, and a RE-RUN performs that recovery RENAME itself: the
    missing-source + tmp-present state is unambiguous (tmp is only ever
    written while the source still exists, and the source is only ever
    dropped after tmp is complete), so re-runs are idempotent through
    EVERY point of the window. A leftover ``__compacting`` is dropped
    only when the source table is still present — i.e. when it is a
    stale partial copy, never the sole survivor (round-9 ADVICE: the old
    unconditional drop destroyed the documented recovery path). (A real
    lakehouse deployment gets true atomicity from a table format with a
    transaction log; plain parquet + catalog cannot.)

    One maintenance style per table: compact is the OFFLINE loop's
    optimizer; a table maintained by the publish/fold loop is
    compacted by the fold itself. The two crash protocols do not compose
    — recovering a missing table from the wrong tmp copy can resurrect a
    state whose deltas then refold as duplicates — so this refuses to
    run while a fold's ``__folding`` table exists (in-flight or crashed):
    re-run fold_band_deltas to recover, then compact.

    The round-10 form of this guard could only see the fold's post-RENAME
    crash window (``__folding`` gone, manifest pending in the fold's
    delta_root) when the caller passed ``delta_root`` — a compact there
    MOVES the table, the next fold reads the manifest's path as a mismatch
    ("swap never happened") and refolds the already-folded deltas as
    duplicates. Round 11 closes the caller-dependence: the maintenance
    marker a fold stamps into every generation makes compact refuse on a
    fold-loop table UNCONDITIONALLY (the fold IS that table's compaction),
    so the hazard window needs no argument to be seen. ``delta_root`` is
    kept as a belt for pre-marker (legacy) tables."""
    from fpl_data_pipeline_spark.sources.bucketing import (
        _bucket_cols,
        _bucket_count,
        write_bucketed,
    )

    tmp = f"{table_name}__compacting"
    if spark.catalog.tableExists(f"{table_name}__folding"):
        raise ValueError(
            f"compact_band_state: {table_name}__folding exists — a fold is "
            "in flight or crashed; re-run fold_band_deltas to recover it "
            "before compacting"
        )
    if delta_root and os.path.exists(
        os.path.join(delta_root, "_fold_manifest.json")
    ):
        raise ValueError(
            f"compact_band_state: a fold manifest is pending in "
            f"{delta_root} — a fold crashed between its swap and cleanup; "
            "re-run fold_band_deltas to recover it before compacting"
        )
    if not spark.catalog.tableExists(table_name):
        if spark.catalog.tableExists(tmp):
            # crash happened between DROP and RENAME: tmp IS the table
            spark.sql(f"ALTER TABLE {tmp} RENAME TO {table_name}")
            return
        raise ValueError(
            f"compact_band_state: neither {table_name} nor {tmp} exists"
        )
    _claim_maintenance_style(spark, table_name, "compact_band_state",
                             "compact")
    if _table_location_matches(spark, table_name, path):
        # round-10 ADVICE: mode=overwrite into the files being read would
        # truncate the live table — the 'path must be NEW' rule, tripwired
        raise ValueError(
            f"compact_band_state: path {path} IS {table_name}'s live "
            "location; the rewrite must target a fresh generation dir, "
            "never an in-place overwrite of files a reader may hold open"
        )
    n = _bucket_count(spark, table_name)
    bcols = _bucket_cols(spark, table_name)
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    with _forced_bucketed_scan(spark):
        write_bucketed(
            _one_file_per_bucket(spark.table(table_name), n, bcols), tmp,
            bcols, n, path)
    _write_maintenance_marker(path, "compact")
    _maybe_crash("write_tmp", _fail_after)
    spark.sql(f"DROP TABLE {table_name}")
    _maybe_crash("drop", _fail_after)
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table_name}")


def _one_file_per_bucket(df: DataFrame, n: int,
                         cols: list[str] = ("band", "k")) -> DataFrame:
    """Align the rewrite's tasks with the bucket boundaries so the bucketed
    write emits ONE file per bucket instead of one per (writer task x
    bucket): repartition's HashPartitioning is the same murmur3-pmod
    expression the writer uses for bucket ids, so each of the n tasks
    holds exactly one whole bucket. Without this, a compaction reading a
    many-append table (many input splits -> many tasks) writes nearly as
    many files as it read — the round-10 soak measured 142 'compacted'
    files from 168. Callers reading the BASE TABLE itself must pair this
    with _forced_bucketed_scan: otherwise the planner removes this
    repartition as redundant against the bucketed scan's advertised
    partitioning AND then auto-disables that same bucketed scan, landing
    on the many-files layout with no shuffle to fix it."""
    return df.repartition(n, *cols)


class _forced_bucketed_scan:
    """Context manager pinning autoBucketedScan off, so a bucketed table
    read really produces one partition per bucket for the duration of a
    compaction/fold rewrite (see _one_file_per_bucket)."""

    _KEY = "spark.sql.sources.bucketing.autoBucketedScan.enabled"

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get(self._KEY, "true")
        self.spark.conf.set(self._KEY, "false")

    def __exit__(self, *exc):
        self.spark.conf.set(self._KEY, self.prev)
        return False


# --- exactly-once delta publish for the ingest loop (round 10) --------------
# append_band_state above is the OFFLINE loop's fold: a plain table append,
# simple but NOT idempotent — the round-9 ingest loop that called it
# documented an at-least-once state degradation on micro-batch replay. The
# ingest loop now publishes each micro-batch's keys as a batch_id-versioned
# DELTA instead:
#
#   staging write (mode overwrite -> replay-idempotent)
#     -> os.rename into published/batch={id}   (atomic; THE commit point)
#
# plus a durable applied-set (_applied.json, rewritten whole via tmp+rename)
# so a batch whose delta was already folded into the base table can never
# re-publish even when the loop's own commit record is lost. Probes read
# base table UNION unfolded deltas (the union forfeits the bucketed
# co-location until the next fold — the reason folds run on a cadence, not
# never); fold_band_deltas rewrites base+deltas as the new base (one file
# set per bucket: it subsumes compaction) under a manifest protocol whose
# every crash point is recovered by simply re-running.
#
# FILESYSTEM REQUIREMENT (round-10 ADVICE, stated here once): every atomic
# commit point in this protocol — the delta publish rename, the
# applied-set/manifest tmp+rename rewrites, the generation rmtree — is a
# DRIVER-LOCAL POSIX filesystem operation (os.rename / os.listdir /
# shutil.rmtree). The table locations and delta_root must therefore live on
# a filesystem the driver mounts with atomic same-directory rename: local
# disk, NFS, or a POSIX-complete DFS client mount. On an object store
# (S3-style, where "rename" is copy+delete and not atomic) this protocol is
# NOT safe as written — a deployment there should swap these commit points
# for a table format with a transaction log (Delta/Iceberg) or route them
# through an atomic-pointer service; the Spark-side plans (bucketed rewrite,
# union-view probe) carry over unchanged.

_DELTA_PREFIX = "batch="
_MAINTENANCE_FILE = "_maintenance.json"


class _InjectedCrash(RuntimeError):
    """Raised by the _fail_after test seams below — never in production."""


def _maybe_crash(step: str, fail_after: str | None) -> None:
    """Crash-injection seam (the week-feed torn-publish template,
    generalized): tests pass ``_fail_after=<step>`` to kill the protocol
    right after that step and then assert a re-run recovers. Production
    callers never set it."""
    if fail_after == step:
        raise _InjectedCrash(f"injected crash after {step}")


def _applied_path(delta_root: str) -> str:
    return os.path.join(delta_root, "_applied.json")


def _applied_set(delta_root: str) -> set:
    p = _applied_path(delta_root)
    if not os.path.exists(p):
        return set()
    with open(p) as f:
        return set(json.load(f))


def _write_applied(delta_root: str, ids: set) -> None:
    """Atomic whole-file rewrite: the applied-set is the durable 'this
    batch is in the base table' record, so it must never be readable in a
    torn state."""
    p = _applied_path(delta_root)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(sorted(ids), f)
    os.rename(tmp, p)


def published_batches(delta_root: str) -> dict:
    """{batch_id: dir} for every published, not-yet-removed delta."""
    if not os.path.isdir(delta_root):
        return {}
    out = {}
    for name in os.listdir(delta_root):
        if name.startswith(_DELTA_PREFIX):
            out[int(name[len(_DELTA_PREFIX):])] = os.path.join(delta_root, name)
    return out


def publish_band_delta(keys: DataFrame, delta_root: str, batch_id: int,
                       _fail_after: str | None = None) -> bool:
    """Exactly-once publish of one micro-batch's state rows (key-shape
    generic: the frame's columns ARE the delta schema — pass exactly the
    state relation's columns, e.g. (vec_id, band, k) for the vector family
    or (fp) for the fingerprint family). Returns False (no-op) when the
    batch is already published OR already folded into the base table — the
    two replay shapes: a crash that lost the loop's commit record but not
    the publish rename, and a record lost after a fold cleaned the delta
    away. The staging write is mode=overwrite (a replayed crash-torn
    staging dir is simply rewritten); the publish is one same-filesystem
    directory rename."""
    published = os.path.join(delta_root, f"{_DELTA_PREFIX}{batch_id}")
    if os.path.exists(published) or batch_id in _applied_set(delta_root):
        return False
    staging = os.path.join(delta_root, "_staging", f"{_DELTA_PREFIX}{batch_id}")
    # a delta inherits the batch frame's partitioning — tens of part files
    # for what is by definition a small increment; cap the file count so
    # the probe's delta-side listing/scan stays cheap until the next fold
    # (coalesce: no shuffle, a micro-batch needs none)
    keys.coalesce(STATE_BUCKETS).write.mode("overwrite").parquet(staging)
    _maybe_crash("staging", _fail_after)
    os.rename(staging, published)
    return True


def read_band_state(spark: SparkSession, table_name: str,
                    delta_root: str | None = None,
                    exclude_batch: int | None = None) -> DataFrame:
    """The probe's view of the state: base bucketed table UNION published
    deltas not yet folded (key-shape generic: deltas are unioned by the
    base table's column names). ``exclude_batch`` drops the probing
    batch's OWN delta, so a replayed probe sees exactly the corpus the
    original saw and candidate emission is byte-identical on replay (no
    self-pairs)."""
    state = spark.table(table_name)
    applied = _applied_set(delta_root) if delta_root else set()
    dirs = [
        d for b, d in sorted(published_batches(delta_root or "").items())
        if b != exclude_batch and b not in applied
        # an EMPTY micro-batch publishes a delta with a _SUCCESS marker but
        # no part files — contributing nothing, and breaking parquet schema
        # inference if it were the only dir read
        and any(f.endswith(".parquet") for f in os.listdir(d))
    ]
    if not dirs:
        return state
    deltas = spark.read.parquet(*dirs).select(*state.columns)
    return state.unionByName(deltas)


def _table_location(spark: SparkSession, table_name: str) -> str:
    for row in spark.sql(f"DESCRIBE EXTENDED {table_name}").collect():
        if row.col_name == "Location":
            return row.data_type.replace("file:", "").rstrip("/")
    return ""


def _table_location_matches(spark: SparkSession, table_name: str,
                            path: str) -> bool:
    want = os.path.abspath(path).rstrip("/")
    return _table_location(spark, table_name) == want


# --- maintenance-style marker (round 11) ------------------------------------
# The one-style-per-table rule ("a fold-loop table is compacted by the fold
# itself; the two crash protocols do not compose") was convention-enforced
# through round 10: compact_band_state could only see a fold's post-rename
# crash window (manifest pending, no tmp table) when the caller REMEMBERED
# to pass delta_root — the live-demonstrated refold-duplicates hazard. The
# marker makes the rule self-enforcing: the first fold/compact to run on a
# table claims its style in a ``_maintenance.json`` inside the table
# location (Spark's file index ignores underscore-prefixed files, so the
# marker rides inside the parquet dir and moves with every generation
# rewrite — each rewrite stamps it into the new location before the swap,
# so even the post-rename crash window carries it). From then on the other
# style refuses unconditionally, no arguments required, and gc can find the
# fold loop's delta_root without being told.


def _maintenance_marker(location: str) -> dict | None:
    p = os.path.join(location, _MAINTENANCE_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_maintenance_marker(location: str, style: str,
                              delta_root: str | None = None) -> None:
    """Atomic tmp+rename rewrite, same discipline as _write_applied."""
    os.makedirs(location, exist_ok=True)
    p = os.path.join(location, _MAINTENANCE_FILE)
    tmp = p + ".tmp"
    m: dict = {"style": style}
    if delta_root is not None:
        m["delta_root"] = os.path.abspath(delta_root)
    with open(tmp, "w") as f:
        json.dump(m, f)
    os.rename(tmp, p)


def _claim_maintenance_style(spark: SparkSession, table_name: str,
                             op: str, style: str,
                             delta_root: str | None = None) -> dict:
    """Read the live table's marker; refuse a cross-style run; claim the
    style when the table is unclaimed. Returns the effective marker."""
    loc = _table_location(spark, table_name)
    marker = _maintenance_marker(loc) if loc else None
    if marker is None:
        marker = {"style": style}
        if delta_root is not None:
            marker["delta_root"] = os.path.abspath(delta_root)
        if loc:
            _write_maintenance_marker(loc, style, delta_root)
        return marker
    if marker.get("style") != style:
        raise ValueError(
            f"{op}: {table_name} is maintained by the "
            f"'{marker.get('style')}' loop (marker in {loc}); the two "
            "maintenance styles do not compose — a fold-loop table is "
            "compacted by the fold itself, and a compact-loop table has "
            "no delta stream to fold"
        )
    if (style == "fold" and delta_root is not None
            and marker.get("delta_root") not in (None,
                                                 os.path.abspath(delta_root))):
        raise ValueError(
            f"{op}: {table_name}'s fold loop is bound to delta_root "
            f"{marker.get('delta_root')}, not {os.path.abspath(delta_root)}; "
            "two delta streams folding into one table would double-apply "
            "across their applied-sets"
        )
    return marker


def gc_band_state_generations(spark: SparkSession, table_name: str,
                              gen_base: str,
                              delta_root: str | None = None) -> list:
    """Remove superseded generation dirs under ``gen_base``, NEVER the live
    one (each fold/compact rewrites the state to a fresh dir and DROPs the
    old external table, whose files linger — a full state copy leaked per
    fold; at deploy scale that is real storage). Returns the removed
    paths. Retention is the caller's contract: run this only once no
    reader can still hold a snapshot over the old generations (a probe
    that began before a swap keeps reading the old gen's files — exactly
    why the swap never deletes them itself), and NEVER concurrently with
    a fold/compact (an in-flight rewrite's tmp generation is not the
    live location yet and would be swept; same single-maintainer rule
    the manifest protocol already assumes).

    The concurrency half of that contract is tripwired like the
    fold/compact cross-guards: gc refuses while either tmp table exists
    (in-flight or crashed rewrite — its not-yet-live generation would be
    swept), while the table is missing (mid-swap crash: the sole copy's
    generation is not the catalog's live location), and while a fold
    manifest is pending (post-rename crash window). Round 11: the
    pending-manifest check no longer depends on the caller remembering
    ``delta_root`` — a fold-loop table's maintenance marker names its
    delta_root, and gc reads it from the live location itself (an
    explicit ``delta_root`` must then agree with the marker). Re-run the
    crashed op first; gc is then safe."""
    for tmp_suffix in ("__folding", "__compacting"):
        if spark.catalog.tableExists(f"{table_name}{tmp_suffix}"):
            raise ValueError(
                f"gc_band_state_generations: {table_name}{tmp_suffix} "
                "exists — a rewrite is in flight or crashed and its tmp "
                "generation is not the live location yet; recover it "
                "first"
            )
    if not spark.catalog.tableExists(table_name):
        raise ValueError(
            f"gc_band_state_generations: {table_name} is missing — a "
            "rewrite crashed mid-swap; re-run the crashed op to recover "
            "before gc"
        )
    live = _table_location(spark, table_name)
    marker = _maintenance_marker(live) if live else None
    if marker and marker.get("style") == "fold":
        mroot = marker.get("delta_root")
        if delta_root and mroot and os.path.abspath(delta_root) != mroot:
            raise ValueError(
                f"gc_band_state_generations: {table_name}'s fold loop is "
                f"bound to delta_root {mroot}, not "
                f"{os.path.abspath(delta_root)}"
            )
        delta_root = delta_root or mroot
    if delta_root and os.path.exists(
        os.path.join(delta_root, "_fold_manifest.json")
    ):
        raise ValueError(
            f"gc_band_state_generations: a fold manifest is pending in "
            f"{delta_root}; re-run fold_band_deltas before gc"
        )
    removed = []
    if not os.path.isdir(gen_base):
        return removed
    for name in sorted(os.listdir(gen_base)):
        p = os.path.join(gen_base, name)
        if os.path.isdir(p) and os.path.abspath(p).rstrip("/") != live:
            # round-10 ADVICE: report only what actually disappeared — a
            # dir that survives rmtree (permissions, open handles) must
            # not read as reclaimed
            shutil.rmtree(p, ignore_errors=True)
            if not os.path.exists(p):
                removed.append(p)
    return removed


def fold_band_deltas(spark: SparkSession, table_name: str, delta_root: str,
                     path: str, _fail_after: str | None = None) -> None:
    """Fold every published delta into the base table by REWRITE (one file
    set per bucket — this is also the OPTIMIZE step), exactly once.

    Protocol (every crash point recovered by re-running):
      1. write base UNION deltas bucketed under ``{table}__folding`` at the
         NEW ``path``;
      2. write the manifest (folded batch ids + path) atomically;
      3. DROP base; RENAME __folding -> base;       <- the 2-metadata-op window
      4. add the ids to _applied.json (atomic rewrite), remove the delta
         dirs, remove the manifest.
    Recovery on entry: a manifest whose path matches the CURRENT table
    location proves step 3 completed — finish step 4; a manifest with a
    mismatched location proves it did not — discard tmp+manifest and fold
    fresh; a missing base with a live __folding is the mid-step-3 crash —
    the RENAME is the recovery (tmp is only ever written while the base
    still exists, so the state is unambiguous, same argument as
    compact_band_state).

    Round 11: the first fold claims the table's maintenance style in the
    location marker (see _claim_maintenance_style) and every generation
    rewrite re-stamps it, so a compact can never run on this table again
    — the non-composition rule is mechanism-enforced, not
    caller-remembered. Key-shape generic: bucket count AND bucket columns
    come from the catalog, the union schema from the base table."""
    from fpl_data_pipeline_spark.sources.bucketing import (
        _bucket_cols,
        _bucket_count,
    )

    tmp = f"{table_name}__folding"
    manifest = os.path.join(delta_root, "_fold_manifest.json")

    if spark.catalog.tableExists(f"{table_name}__compacting"):
        # the mirror of compact_band_state's guard: the two crash
        # protocols do not compose (recovering a missing table from the
        # wrong tmp copy can resurrect a pre-compact state, or a folded
        # copy whose deltas then refold as duplicates)
        raise ValueError(
            f"fold_band_deltas: {table_name}__compacting exists — a "
            "compaction is in flight or crashed; re-run "
            "compact_band_state to recover it before folding"
        )
    if not spark.catalog.tableExists(table_name):
        if spark.catalog.tableExists(tmp):
            spark.sql(f"ALTER TABLE {tmp} RENAME TO {table_name}")
        else:
            raise ValueError(
                f"fold_band_deltas: neither {table_name} nor {tmp} exists"
            )
    _claim_maintenance_style(spark, table_name, "fold_band_deltas", "fold",
                             delta_root)
    if os.path.exists(manifest):
        with open(manifest) as f:
            m = json.load(f)
        if _table_location_matches(spark, table_name, m["path"]):
            # the swap committed: finish the cleanup step (every op below
            # is idempotent, so a crash anywhere in here re-enters this
            # same branch — the manifest is removed last)
            _write_applied(delta_root, _applied_set(delta_root) | set(m["batches"]))
            _maybe_crash("recover_applied", _fail_after)
            for b, d in published_batches(delta_root).items():
                if b in set(m["batches"]):
                    shutil.rmtree(d, ignore_errors=True)
            _maybe_crash("recover_rm_deltas", _fail_after)
            os.remove(manifest)
        else:
            # the swap never happened: tmp (if any) is a stale partial copy
            spark.sql(f"DROP TABLE IF EXISTS {tmp}")
            _maybe_crash("recover_drop_tmp", _fail_after)
            os.remove(manifest)

    applied = _applied_set(delta_root)
    pub = published_batches(delta_root)
    for b in sorted(set(pub) & applied):
        shutil.rmtree(pub[b], ignore_errors=True)  # folded leftovers
    todo = {b: d for b, d in pub.items() if b not in applied}
    if not todo:
        return
    if _table_location_matches(spark, table_name, path):
        # round-10 ADVICE tripwire (reachable via a same-path re-run after
        # a post-rename crash once NEW batches have published): the
        # mode=overwrite rewrite into the live location would truncate
        # the very files the merge is reading
        raise ValueError(
            f"fold_band_deltas: path {path} IS {table_name}'s live "
            "location; each fold must rewrite into a fresh generation "
            "dir, never in-place"
        )
    n = _bucket_count(spark, table_name)
    bcols = _bucket_cols(spark, table_name)
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    with _forced_bucketed_scan(spark):
        merged = _one_file_per_bucket(
            read_band_state(spark, table_name, delta_root), n, bcols
        )
        write_bucketed(merged, tmp, bcols, n, path)
    _write_maintenance_marker(path, "fold", delta_root)
    _maybe_crash("write_tmp", _fail_after)
    mtmp = manifest + ".tmp"
    with open(mtmp, "w") as f:
        json.dump({"path": path, "batches": sorted(todo)}, f)
    os.rename(mtmp, manifest)
    _maybe_crash("manifest", _fail_after)
    spark.sql(f"DROP TABLE {table_name}")
    _maybe_crash("drop", _fail_after)
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table_name}")
    _maybe_crash("rename", _fail_after)
    _write_applied(delta_root, applied | set(todo))
    _maybe_crash("applied", _fail_after)
    for d in todo.values():
        shutil.rmtree(d, ignore_errors=True)
    _maybe_crash("rm_deltas", _fail_after)
    os.remove(manifest)
