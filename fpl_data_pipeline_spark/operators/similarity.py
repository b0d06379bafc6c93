"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

- ann_cosine_topk / ann_batch_topk: exact brute-force cosine baselines,
  oracle-checked. Dot products are computed as a *sequential* fold
  (F.aggregate) in array order with double accumulation — bitwise identical
  to DuckDB's list_reduce, so no tolerance is needed in the parity check.
- ann_lsh_bucketed / emb_neardup_pairs: the 100 TB scale path — sign-bit
  random-hyperplane LSH with deterministic (seeded-hash) hyperplanes;
  candidates come from bucket equi-joins, never an n^2 cross join.

Scale notes: the brute-force baseline broadcasts the query vector(s) and is
a single scan (map-side only, no shuffle except the final top-k); the LSH
path shuffles on bucket keys whose fan-out tracks cluster density.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from fpl_data_pipeline_spark.operators.vectors import (
    DIM,
    _cos,
    _cos_sql,
    _dot,
    _dot_sql,
    _hyperplanes,
    _sign_key_spark_sql,
    _sign_key_sql,
)
from fpl_data_pipeline_spark.registry import register
from fpl_data_pipeline_spark.tables import table


def cosine_topk(
    emb: DataFrame, query: DataFrame, k: int = 10, exclude_self: bool = True
) -> DataFrame:
    """Engine operator: exact top-k cosine neighbors of ``query`` (one row,
    column qv/q_id) against ``emb`` (vec_id, embedding)."""
    j = emb.crossJoin(F.broadcast(query))
    cos = _cos("embedding", "qv").alias("cosine")
    out = j.select("vec_id", "q_id", cos)
    if exclude_self:
        out = out.filter(F.col("vec_id") != F.col("q_id"))
    return out.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


@register(
    "ann_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, q.q_id,
           {_cos_sql('e.embedding', 'q.qv')} AS cosine
    FROM embeddings e, q
    WHERE e.vec_id <> q.q_id
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    return cosine_topk(emb, query, k=10)


@register(
    "ann_batch_topk",
    f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.q_id, e.vec_id,
             {_cos_sql('e.embedding', 'q.qv')} AS cosine
      FROM embeddings e, q
      WHERE e.vec_id <> q.q_id
    )
    SELECT * FROM (
      SELECT q_id, vec_id, cosine,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, vec_id ASC) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN: top-3 neighbors for each of 5 query vectors in one plan —
    broadcast the query block, score in one scan, rank per query."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    j = emb.crossJoin(F.broadcast(queries)).filter(F.col("vec_id") != F.col("q_id"))
    cos = _cos("embedding", "qv").alias("cosine")
    scored = j.select("q_id", "vec_id", cos)
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


def lsh_bucket(df: DataFrame, vec_col: str = "embedding", n_planes: int = 8):
    """Append a sign-bit LSH bucket id: bit p = sign(v . h_p). Pure column
    expressions over literal hyperplane arrays — JVM-side, no UDF; built as
    one SQL parse (see vectors._plane_dot_spark_sql)."""
    return df.withColumn(
        "bucket", F.expr(_sign_key_spark_sql(vec_col, _hyperplanes(n_planes)))
    )


@register(
    "ann_lsh_bucketed",
    f"""
    WITH b AS (
      SELECT vec_id, embedding, {_sign_key_sql('embedding', _hyperplanes(8))} AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, embedding AS qv, bucket AS q_bucket FROM b WHERE vec_id = 0)
    SELECT e.vec_id, q.q_id, e.bucket,
           {_cos_sql('e.embedding', 'q.qv')} AS cosine
    FROM b e, q
    WHERE e.bucket = q.q_bucket AND e.vec_id <> q.q_id
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: restrict the cosine scan to the query's LSH bucket.
    The hyperplanes are literal seeded doubles shared by both engines, and
    dot products fold in identical order, so the oracle reproduces the
    buckets exactly. At 100 TB the bucketed table is written bucketBy(bucket)
    so probes touch one bucket."""
    emb = lsh_bucket(table(spark, sf_dir, "embeddings"))
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("q_bucket"),
    )
    j = emb.join(
        F.broadcast(query), emb.bucket == query.q_bucket
    ).filter(F.col("vec_id") != F.col("q_id"))
    cos = _cos("embedding", "qv").alias("cosine")
    return (
        j.select("vec_id", "q_id", "bucket", cos)
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# Banded sign-bit LSH for the near-dup self-join: N_ND_PLANES sign bits split
# into N_ND_BANDS band keys; candidates share ANY band (AND within a band, OR
# across bands — the minhash-style composition). Each band partitions the
# corpus into 2^bits_per_band buckets, so expected bucket size is
# n / 2^bits_per_band; at scale you grow bits_per_band ~ log2(n / target
# bucket size) and add bands to recover recall, keeping the join linear in n
# instead of the fixed-256-bucket ~n^2/256 of a single coarse bucket.
N_ND_PLANES = 16
N_ND_BANDS = 2
ND_BITS_PER_BAND = N_ND_PLANES // N_ND_BANDS
# the planes of each band, shared by the Spark keys and the oracle keys
_ND_BAND_PLANES = [
    _hyperplanes(N_ND_PLANES)[b * ND_BITS_PER_BAND : (b + 1) * ND_BITS_PER_BAND]
    for b in range(N_ND_BANDS)
]


# Band-size guard for the in-array expansion: the band key space is fixed
# (2 bands x 2^8 keys), so per-band membership grows ~N/512 with the corpus
# and _expand_member_pairs materializes C(m, 2) structs per group row — the
# exact shape the round-5 10x probe OOMed on for text_hash_vector_dups'
# 64-key blocking. Bands over the cap are dropped BEFORE the member collect
# (count-agg pre-pass, FS_BLOCK_CAP precedent in fuzzy_join.py): an
# oversized band is non-discriminative — at a corpus size where most bands
# exceed the cap, the fix is more planes (wider keys), not bigger buffers.
# The expansion itself is the streaming two-Generate shape (round 6), so a
# group AT the cap holds an m-member array, never the C(m, 2) pair array;
# candidate_cap_audit surfaces dropped-group counts when the cap fires.
ND_BAND_CAP = 10_000


def lsh_doc_band_keys(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(vec_id, embedding) -> one row per doc carrying BOTH band keys
    (``k0``, ``k1``) as columns, for consumers that reason about a doc's
    full band-key tuple at once (the lowest-shared-band pair emission
    below)."""
    keys = [
        F.expr(_sign_key_spark_sql(vec_col, planes)).alias(f"k{band}")
        for band, planes in enumerate(_ND_BAND_PLANES)
    ]
    return df.select("vec_id", *keys)


def _lsh_candidate_pairs(emb: DataFrame) -> DataFrame:
    """Distinct (vec_id_a, vec_id_b) sharing >= 1 surviving LSH band — the
    id-only in-array group expansion (ARCHITECTURE.md §7). The embedding
    payload deliberately does NOT ride the expansion: a round-5 A/B showed
    scoring per pre-dedup candidate occurrence regresses 2x (the 64-dim dot
    product CPU dominates), so callers join the vectors back AFTER the pair
    dedup and score each distinct pair exactly once.

    Round-6 rework (judge task #3): each pair is emitted from its LOWEST
    surviving shared band only, so the band-0/band-1 union is disjoint by
    construction and the full-pair ``.distinct()`` exchange the round-5
    shape paid is gone. Band 0 emits every pair of an alive (2 <= size <=
    cap) band-0 group; band-1 members carry ``k0v`` = their band-0 key when
    that band-0 group is alive (NULL otherwise), and a band-1 pair is
    emitted unless both ends share an ALIVE band-0 group — i.e. unless
    band 0 already emitted it. A pair whose shared band 0 was dropped by
    the cap still surfaces through band 1 (and vice versa), preserving the
    round-5 candidate set exactly: the oracles are unchanged.

    Per-group memory: the expansion is the streaming two-Generate shape
    (_expand_member_pairs_streaming) — no row ever materializes the C(m, 2)
    pair array, closing the round-6 advice finding that a cap-sized group
    still allocated ~50M structs in one Generate. The cap pre-passes are
    bounded by the band key space (<= 256 rows each at ANY corpus size), so
    they broadcast and the filters run map-side. candidate_cap_audit
    reports dropped-group counts / membership fraction when a cap fires —
    recall degradation is observable, not silent."""
    if N_ND_BANDS != 2:
        # the suppression chain below is written for exactly two bands
        # (band 1 checks band 0); a wider banding needs k0v..k{i-1}v per
        # member. Fail loud rather than silently dropping bands >= 2.
        raise ValueError(
            "_lsh_candidate_pairs implements the 2-band lowest-shared-band "
            f"emission; N_ND_BANDS={N_ND_BANDS} requires extending the "
            "suppression chain"
        )
    # localCheckpoint: `ids` feeds FOUR subtrees (alive0, alive1, g0,
    # marked) and has no exchange below it, so without pinning Catalyst
    # compiles the corpus scan + 16 hyperplane dot products (64 dims each)
    # once per consumer — the round-6 review found emb_neardup_pairs
    # scanning the embeddings parquet 7x. The materialized relation is
    # 3 small columns per doc, far cheaper than three extra scan+projection
    # passes at any scale (same pinning rationale as phrase search's post2).
    ids = lsh_doc_band_keys(emb).localCheckpoint(eager=False)
    # collect_set, not collect_list: a duplicated vec_id upstream
    # (ingestion replay) would otherwise yield [x, x] members and the
    # positional expansion would emit an (x, x) self-pair at cosine 1.0
    g0 = _capped_key_groups(ids, ["k0"], F.collect_set("vec_id"), ND_BAND_CAP)
    p0 = _expand_member_pairs_streaming(g0).select(
        F.col("a").alias("vec_id_a"), F.col("b").alias("vec_id_b")
    )
    alive0 = _alive_keys(ids, ["k0"], ND_BAND_CAP).withColumn("_a0", F.lit(True))
    marked = ids.join(F.broadcast(alive0), "k0", "left").select(
        "vec_id", "k1", F.when(F.col("_a0"), F.col("k0")).alias("k0v")
    )
    # band 1 counts over ``marked``: its left join keeps one row per id and
    # Catalyst drops it from the count, which reads ``ids`` directly
    g1 = _capped_key_groups(
        marked, ["k1"], F.collect_set(F.struct("vec_id", "k0v")), ND_BAND_CAP
    )
    # keep a band-1 pair unless BOTH ends sit in the same alive band-0
    # group (then band 0 already emitted it); NULL k0v (dead band-0 group)
    # never suppresses — coalesce turns the NULL comparison into "keep".
    p1 = (
        _expand_member_pairs_streaming(g1)
        .filter(~F.coalesce(F.col("a.k0v") == F.col("b.k0v"), F.lit(False)))
        .select(
            F.col("a.vec_id").alias("vec_id_a"), F.col("b.vec_id").alias("vec_id_b")
        )
    )
    return p0.unionByName(p1)


@register(
    "emb_neardup_pairs",
    f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_sign_key_sql('embedding', _ND_BAND_PLANES[0])} AS k0,
             {_sign_key_sql('embedding', _ND_BAND_PLANES[1])} AS k1
      FROM embeddings
    ),
    s0 AS (SELECT k0 FROM b GROUP BY k0 HAVING COUNT(*) <= {ND_BAND_CAP}),
    s1 AS (SELECT k1 FROM b GROUP BY k1 HAVING COUNT(*) <= {ND_BAND_CAP}),
    cand AS (
      SELECT x.vec_id AS vec_id_a, y.vec_id AS vec_id_b
      FROM b x JOIN s0 ON s0.k0 = x.k0
      JOIN b y ON x.k0 = y.k0 AND x.vec_id < y.vec_id
      UNION
      SELECT x.vec_id, y.vec_id
      FROM b x JOIN s1 ON s1.k1 = x.k1
      JOIN b y ON x.k1 = y.k1 AND x.vec_id < y.vec_id
    )
    SELECT c.vec_id_a, c.vec_id_b,
           {_cos_sql('ea.embedding', 'eb.embedding')} AS cosine
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.vec_id_a
    JOIN embeddings eb ON eb.vec_id = c.vec_id_b
    ORDER BY cosine DESC, c.vec_id_a ASC, c.vec_id_b ASC
    LIMIT 20
    """,
)
def emb_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded sign-bit LSH
    (16 planes, 2 bands x 8 bits): candidates share at least one band key,
    then exact cosine, top-20 pairs. The seeded literal hyperplanes and
    order-identical dot folds make the bucket assignment — and therefore the
    candidate set — exactly reproducible in the DuckDB oracle."""
    emb = table(spark, sf_dir, "embeddings")
    pairs = _lsh_candidate_pairs(emb)
    ea = emb.select(F.col("vec_id").alias("vec_id_a"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("vec_id_b"), F.col("embedding").alias("vb"))
    cos = _cos("va", "vb").alias("cosine")
    return (
        pairs.join(ea, "vec_id_a")
        .join(eb, "vec_id_b")
        .select("vec_id_a", "vec_id_b", cos)
        .orderBy(F.col("cosine").desc(), F.col("vec_id_a").asc(), F.col("vec_id_b").asc())
        .limit(20)
    )


# --- IVF (inverted-file) ANN: coarse quantize -> probe nearest lists --------
N_CENTROIDS = 16
N_PROBE = 2


def _centroids(emb: DataFrame) -> DataFrame:
    """Deterministic coarse centroids: the first N_CENTROIDS vectors by
    vec_id (the standard 'seed from sampled vectors' IVF bootstrap, made
    reproducible). At scale this would be a k-means refinement of the same
    sample; assignment below is unchanged either way."""
    return emb.orderBy("vec_id").limit(N_CENTROIDS).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv")
    )


def ivf_assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine): broadcast
    the centroid block, score in one scan, keep argmax per vector."""
    j = emb.crossJoin(F.broadcast(cents))
    cos = _cos("embedding", "cv").alias("ccos")
    scored = j.select("vec_id", "embedding", "c_id", cos)
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", F.col("c_id").alias("list_id"))
    )


@register(
    "emb_cluster_centroids",
    """
    SELECT cluster_id, pos, round(avg(val), 6) AS c_val
    FROM (
      SELECT vec_id % 8 AS cluster_id,
             UNNEST(embedding) AS val,
             UNNEST(range(1, len(embedding) + 1)) AS pos
      FROM embeddings
    )
    GROUP BY cluster_id, pos
    """,
)
def emb_cluster_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise centroid of embedding vectors per cluster (here cluster =
    vec_id % 8 as a deterministic stand-in for a k-means assignment): the
    reduction step of any IVF/k-means build. posexplode flattens to
    (cluster, pos, val) so the mean is an ordinary partial-agg + one shuffle
    on (cluster, pos) — fully distributed in the vector dimension too, vs. a
    driver-side numpy mean that caps at driver memory."""
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(
        (F.col("vec_id") % 8).alias("cluster_id"),
        F.posexplode("embedding").alias("pos0", "val"),
    )
    return (
        flat.groupBy("cluster_id", (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.avg("val"), 6).alias("c_val"))
    )


@register(
    "ann_ivf_probe",
    f"""
    WITH cents AS (
      SELECT vec_id AS c_id, embedding AS cv
      FROM embeddings ORDER BY vec_id LIMIT {N_CENTROIDS}
    ),
    assigned AS (
      SELECT vec_id, embedding, c_id AS list_id FROM (
        SELECT e.vec_id, e.embedding, c.c_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos_sql('e.embedding', 'c.cv')} DESC,
                          c.c_id ASC) AS rn
        FROM embeddings e, cents c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id = 0),
    probe AS (
      SELECT q_id, qv, c_id AS list_id FROM (
        SELECT q.q_id, q.qv, c.c_id
        FROM q, cents c
        ORDER BY {_cos_sql('q.qv', 'c.cv')} DESC,
                 c.c_id ASC
        LIMIT {N_PROBE}
      )
    )
    SELECT a.vec_id, p.q_id, a.list_id,
           {_cos_sql('a.embedding', 'p.qv')} AS cosine
    FROM assigned a JOIN probe p ON a.list_id = p.list_id
    WHERE a.vec_id <> p.q_id
    ORDER BY cosine DESC, a.vec_id ASC
    LIMIT 10
    """,
)
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search for query vec_id=0: probe the N_PROBE nearest inverted
    lists only, exact cosine within them, top-10. At 100 TB the assignment
    table is written partitioned by list_id so a probe reads ~N_PROBE/N of
    the data. Oracle-checked: the centroid seeding (first N_CENTROIDS by
    vec_id), argmax assignment and probe selection are deterministic SQL
    with order-identical dot folds on both engines."""
    emb = table(spark, sf_dir, "embeddings")
    # no pin: the second broadcast of the centroid block is a ReusedExchange
    cents = _centroids(emb)
    assigned = ivf_assign(emb, cents)

    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    qcos = _cos("qv", "cv").alias("qcos")
    probe_lists = (
        query.crossJoin(F.broadcast(cents))
        .select("q_id", "qv", "c_id", qcos)
        .orderBy(F.col("qcos").desc(), F.col("c_id").asc())
        .limit(N_PROBE)
        .select("q_id", "qv", F.col("c_id").alias("list_id"))
    )
    j = assigned.join(F.broadcast(probe_lists), "list_id").filter(
        F.col("vec_id") != F.col("q_id")
    )
    cos = _cos("embedding", "qv").alias("cosine")
    return (
        j.select("vec_id", "q_id", "list_id", cos)
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# --- iterative k-means (Lloyd) over the embedding column --------------------
# One Lloyd loop, two arithmetics. kmeans_embeddings runs it in double
# arithmetic and stays rows-only (accumulation order makes the last bits
# engine- and partitioning-dependent). kmeans_portable and semdedup_prune
# run it in exact integers over vectors quantized to 6-dp integers FIRST,
# so every distance is an exact bigint sum, every argmin is an exact
# integer comparison, and every centroid update is floor(sum/count + 0.5)
# on a < 2^53 exact numerator — bit-identical on any engine. Their DuckDB
# oracles unroll the 3 seeded iterations as CTEs (the pagerank_dupgraph
# technique), and because only the arithmetic differs, the rows-only query
# runs the loop those oracles prove.
KMP_K = 8
KMP_ITERS = 3
# Upper bound on any DERIVED cluster count (the corpus-scaled semdedup
# path): the Lloyd loop collects k x dim centroid longs per iteration, so
# an unclamped k = n/target_pop would make driver traffic corpus-
# proportional around n ~ 2e9 vectors. At the clamp the collect is ~2 MB;
# past it, population exceeds the target and the cap tripwire reports.
KMP_K_MAX = 4096
# Largest k the Lloyd argmin inlines as a centroid array literal (k·dim
# literal leaves per iteration — cheap to plan at 64·64, runaway past a few
# hundred); derived-k clusterings above it use the crossJoin +
# partial-aggregated min(struct) fallback instead (one narrow exchange,
# no window sort). Both paths are value-identical.
KMP_ARGMIN_LITERAL_K = 64


def _double_sql(v: float) -> str:
    """SQL double literal that parses back to exactly ``v`` — repr() is the
    shortest round-trip decimal for finite doubles; the non-finite cases
    (unparseable as ``nanD``) go through an explicit cast."""
    import math

    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return f"{v!r}D"


class LloydArith(NamedTuple):
    """The arithmetic a Lloyd loop runs in: ``encode`` builds the vector
    column ``col`` from ``embedding``; ``lit`` spells one centroid element
    as a SQL literal; ``update`` is the per-element centroid aggregate over
    a cluster's ``{col}[{j}]`` (SQL [] is 0-based: ``v[j] ==
    element_at(v, j+1)``); ``sql_type`` is the element type of vectors,
    centroids and d2."""

    col: str
    encode: Callable[[Column], Column]
    lit: Callable[[float], str]
    update: str
    sql_type: str


LLOYD_DOUBLE = LloydArith(
    col="embedding",
    encode=lambda e: e,
    lit=_double_sql,
    update="avg(embedding[{j}])",
    sql_type="double",
)
LLOYD_EXACT6 = LloydArith(
    col="v6",
    encode=lambda e: F.transform(
        e, lambda x: F.floor(x.cast("double") * 1000000 + F.lit(0.5)).cast("long")
    ),
    lit="{}L".format,
    update="cast(floor(cast(sum(v6[{j}]) AS double) / count(1) + 0.5D) AS bigint)",
    sql_type="bigint",
)


def lloyd_assign(
    emb: DataFrame,
    arith: LloydArith,
    k: int = KMP_K,
    iters: int = KMP_ITERS,
    target_pop: int | None = None,
) -> DataFrame:
    """(vec_id, <arith.col>, c_id, d2): the final Lloyd assignment after
    ``iters`` iterations in ``arith``, seeded from the first k vectors by
    vec_id, ties broken by the lowest c_id, no RNG.

    Driver/executor split per iteration — the canonical Spark formulation:
    only the k x dim centroid block is collected to the driver and inlined
    into the next argmin; assignments and the per-(cluster, dimension)
    updates stay distributed. Nothing driver-side ever scales with the
    data.

    ``target_pop`` is the corpus-scaled mode: k = max(k, ceil(n /
    target_pop)) in exact integer arithmetic, so cluster populations stay
    ~target_pop at ANY corpus size instead of growing with it (the round-7
    failure mode: fixed k=8 pushed every cluster over SEM_CLUSTER_CAP at
    the 10x probe and the pair scan degenerated to 0 executed pairs). The
    one extra job is a count over the cached vectors."""
    spark = emb.sparkSession
    col = arith.col
    vecs = emb.select("vec_id", arith.encode(F.col("embedding")).alias(col)).cache()
    if target_pop is not None:
        n = vecs.count()
        # ceil via integer arithmetic — the oracle's (COUNT(*) + p-1) // p
        # must reproduce this bit-for-bit, so no float ceil on either side;
        # clamped at KMP_K_MAX so the per-iteration centroid collect stays
        # driver-bounded (k x dim longs, ~2 MB at the clamp) at ANY corpus
        # — beyond it cluster population grows past target_pop and the
        # consumer's SEM_CLUSTER_CAP tripwire fires observably, with
        # two-level clustering as the documented next step
        k = min(max(k, (n + target_pop - 1) // target_pop), KMP_K_MAX)
    cents = [list(r[col]) for r in vecs.orderBy("vec_id").limit(k).collect()]
    if not cents:
        # empty corpus -> no centroids: an empty array literal is VOID-typed
        # and zip_with fails analysis (the round-7b empty-corpus guard
        # test). Emit the zero-row assignment with the non-empty path's
        # column types; ``vecs`` has no rows so no values are fabricated.
        vecs.unpersist()
        return vecs.select(
            "vec_id",
            col,
            F.lit(None).cast("int").alias("c_id"),
            F.lit(None).cast(arith.sql_type).alias("d2"),
        )
    d2 = (
        f"aggregate(zip_with({col}, c, (x, y) -> (x - y) * (x - y)),"
        f" CAST(0 AS {arith.sql_type}), (acc, v) -> acc + v)"
    )

    def assign(cents_list):
        # Round-11 (guide §2.4 "remove shuffles outright"): the argmin
        # against a k-row centroid block needs no shuffle at all: inline
        # the centroids as an array literal, evaluate the k distances per
        # row, and take array_min of (d2, c_id) structs — struct comparison
        # is field-order lexicographic, reproducing a (d2 ASC, c_id ASC)
        # window tiebreak exactly. One parsed SQL string instead of k*dim
        # F.lit() Columns: the lit path cost 2 py4j round-trips per element
        # (19 of 25 wall-seconds of kmeans_portable in socket recv on the
        # driver, guide §7.3). Above KMP_ARGMIN_LITERAL_K the inlined tree
        # would grow past what Catalyst plans cheaply, so the derived-k
        # path crossJoins a broadcast centroid relation with a
        # partial-aggregated min(struct) — one narrow n-row exchange, still
        # no Sort (same lexicographic struct order, same values).
        if len(cents_list) <= KMP_ARGMIN_LITERAL_K:
            carr_sql = ",".join(
                "array(" + ",".join(arith.lit(x) for x in c) + ")" for c in cents_list
            )
            best = F.expr(
                f"array_min(transform(array({carr_sql}), (c, i) -> struct("
                f"{d2} AS d2, i AS c_id)))"
            )
            return vecs.withColumn("_best", best).select(
                "vec_id",
                col,
                F.col("_best.c_id").alias("c_id"),
                F.col("_best.d2").alias("d2"),
            )
        cdf = spark.createDataFrame(
            list(enumerate(cents_list)), f"c_id int, c array<{arith.sql_type}>"
        )
        scored = vecs.crossJoin(F.broadcast(cdf)).select(
            "vec_id", col, "c_id", F.expr(d2).alias("d2")
        )
        best = F.min(F.struct("d2", "c_id", col)).alias("b")
        return scored.groupBy("vec_id").agg(best).select(
            "vec_id",
            F.col(f"b.{col}").alias(col),
            F.col("b.c_id").alias("c_id"),
            F.col("b.d2").alias("d2"),
        )

    # the dim per-element updates partial-aggregate map-side, so the
    # exchange carries k rows; one parsed string instead of dim*~10 py4j
    # calls per iteration (same driver fix as the literal argmin)
    update_sql = (
        "array(" + ",".join(arith.update.format(j=j) for j in range(len(cents[0]))) + ")"
    )
    for _ in range(iters):
        means = assign(cents).groupBy("c_id").agg(F.expr(update_sql).alias("c")).collect()
        new = {int(r["c_id"]): list(r["c"]) for r in means}
        cents = [new.get(i, c) for i, c in enumerate(cents)]

    # pin the final assignment and release the iteration cache: without the
    # unpersist every caller leaks one full-corpus cached vector copy for
    # the session lifetime; the eager checkpoint keeps the returned
    # relation one-pass for every consumer
    out = assign(cents).localCheckpoint()
    vecs.unpersist()
    return out


def kmeans_fit(emb: DataFrame, k: int = KMP_K, iters: int = KMP_ITERS) -> DataFrame:
    """Lloyd's k-means in double arithmetic — the engine's representative
    *iterative* algorithm (SURVEY.md driver contract: genuinely
    non-SQL-expressible, rows-only): (vec_id, cluster_id, sq_dist)."""
    return lloyd_assign(emb, LLOYD_DOUBLE, k, iters).select(
        "vec_id", F.col("c_id").alias("cluster_id"), F.col("d2").alias("sq_dist")
    )


_KMP_D2_SQL = (
    "list_sum(list_transform(range(1, {dim}+1),"
    " i -> (v.v6[i] - c.c6[i]) * (v.v6[i] - c.c6[i])))"
).format(dim=DIM)


def _kmp_cte_sql(k_sql: str = str(KMP_K)) -> str:
    """The shared WITH-body: 6-dp quantization, first-k seed, KMP_ITERS
    unrolled Lloyd steps, and the final assignment ``afinal(vec_id, v6,
    c_id, d2)`` — reused by the kmeans_portable oracle and by every oracle
    that consumes the portable clustering (semdedup_prune).

    ``k_sql`` is the cluster-count expression the seed filter evaluates:
    the literal KMP_K by default (kmeans_portable's fixed twin), or a
    scalar subquery over ``v`` for corpus-scaled consumers (semdedup's
    ceil(n / SEM_TARGET_POP) — the oracle must replay whatever k the
    Spark side derives, so the derivation lives IN the SQL, in the same
    exact integer arithmetic)."""
    steps = []
    prev = "c0"
    for it in range(1, KMP_ITERS + 1):
        steps.append(
            f"""
    a{it} AS (
      SELECT vec_id, v6, c_id, d2 FROM (
        SELECT vec_id, v6, c_id, d2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, c_id ASC) AS rn
        FROM (SELECT v.vec_id, v.v6, c.c_id, {_KMP_D2_SQL} AS d2
              FROM v CROSS JOIN {prev} c)
      ) WHERE rn = 1
    ),
    c{it} AS (
      SELECT c_id, list(m ORDER BY pos) AS c6 FROM (
        SELECT c_id, i AS pos,
               CAST(floor(CAST(SUM(v6[i]) AS DOUBLE) / COUNT(*) + 0.5)
                    AS BIGINT) AS m
        FROM a{it} CROSS JOIN range(1, {DIM}+1) t(i)
        GROUP BY c_id, i
      ) GROUP BY c_id
    )"""
        )
        prev = f"c{it}"
    final = f"""
    afinal AS (
      SELECT vec_id, v6, c_id, d2 FROM (
        SELECT vec_id, v6, c_id, d2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, c_id ASC) AS rn
        FROM (SELECT v.vec_id, v.v6, c.c_id, {_KMP_D2_SQL} AS d2
              FROM v CROSS JOIN {prev} c)
      ) WHERE rn = 1
    )"""
    return f"""
    v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(x::DOUBLE * 1000000 + 0.5) AS BIGINT)) AS v6
      FROM embeddings
    ),
    c0 AS (
      SELECT rn - 1 AS c_id, v6 AS c6
      FROM (SELECT v6, row_number() OVER (ORDER BY vec_id) AS rn FROM v)
      WHERE rn <= {k_sql}
    ),{",".join(steps)},{final}"""


def _kmp_oracle() -> str:
    return f"""
    WITH {_kmp_cte_sql()}
    SELECT c_id AS cluster_id,
           COUNT(*) AS n_members,
           FLOOR(CAST(SUM(d2) AS DOUBLE) / 1000000000000 * 1000000 + 0.5)
             / 1000000 AS inertia
    FROM afinal
    GROUP BY c_id
    ORDER BY cluster_id
    """


@register("kmeans_portable", _kmp_oracle())
def kmeans_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster size + inertia after KMP_ITERS exact-integer Lloyd
    iterations (6-dp-quantized vectors, first-k seed) — the value-oracled
    twin of kmeans_embeddings: the same lloyd_assign loop, in LLOYD_EXACT6
    arithmetic."""
    return (
        lloyd_assign(table(spark, sf_dir, "embeddings"), LLOYD_EXACT6)
        .groupBy("c_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (
                F.floor(
                    F.sum("d2").cast("double") / 1000000000000 * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("inertia"),
        )
        .select(
            F.col("c_id").cast("long").alias("cluster_id"), "n_members", "inertia"
        )
        .orderBy("cluster_id")
    )


@register("kmeans_embeddings")
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster summary after KMP_ITERS Lloyd iterations: per-cluster size
    and inertia (sum of squared distances). It runs lloyd_assign, the loop
    kmeans_portable and semdedup_prune prove against DuckDB, with double
    arithmetic (LLOYD_DOUBLE); the doubles' last bits depend on
    accumulation order, so the driver checks it rows-only."""
    emb = table(spark, sf_dir, "embeddings")
    assigned = kmeans_fit(emb)
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.sum("sq_dist"), 6).alias("inertia"),
        )
        .orderBy("cluster_id")
    )


# --- int8 embedding quantization (storage/serving compression path) ---------
@register(
    "emb_quantize_stats",
    f"""
    WITH q AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127 AS scale,
             embedding
      FROM embeddings
    )
    SELECT vec_id,
           round(scale, 9) AS scale,
           round(list_max(list_transform(embedding,
                 x -> abs(least(greatest(floor(x::DOUBLE / scale + 0.5), -127), 127) * scale
                          - x::DOUBLE))), 9) AS max_abs_err,
           round({_dot_sql('embedding', 'embedding')}, 6) AS sq_norm
    FROM q
    """,
)
def emb_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the compression
    step a 100 TB vector store applies before serving (4x smaller, SIMD
    dot products): per-vector scale = max|x|/127, q = clamp(round(x/scale)),
    reconstruction error reported per vector. Pure array expressions (no
    UDF); the oracle replays the same clamp/round pipeline — both engines
    round identical doubles, so the error surface matches bit-for-bit after
    9-dp rounding. The original squared norm rides along for a sanity ratio.
    """
    emb = table(spark, sf_dir, "embeddings")
    scale = (
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))) / 127
    )
    q = emb.select("vec_id", "embedding", scale.alias("scale"))
    deq_err = F.array_max(
        F.transform(
            "embedding",
            lambda x: F.abs(
                F.least(
                    F.greatest(
                        F.floor(x.cast("double") / F.col("scale") + 0.5).cast("double"),
                        F.lit(-127.0),
                    ),
                    F.lit(127.0),
                )
                * F.col("scale")
                - x.cast("double")
            ),
        )
    )
    # compute BEFORE rounding in a separate projection: Spark's lateral
    # column alias resolution would otherwise rebind deq_err's scale
    # reference to the rounded alias defined earlier in the same SELECT
    computed = q.select(
        "vec_id",
        "scale",
        deq_err.alias("raw_err"),
        _dot("embedding", "embedding").alias("raw_norm"),
    )
    return computed.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.round("raw_err", 9).alias("max_abs_err"),
        F.round("raw_norm", 6).alias("sq_norm"),
    )


# --- ANN quality eval: recall@k of the LSH bucket probe vs exact top-k ------
RECALL_K = 10
N_RECALL_QUERIES = 8


@register(
    "ann_recall_eval",
    f"""
    WITH b AS (
      SELECT vec_id, embedding, {_sign_key_sql('embedding', _hyperplanes(8))} AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS q_id, embedding AS qv, bucket AS q_bucket
      FROM b WHERE vec_id < {N_RECALL_QUERIES}
    ),
    exact AS (
      SELECT * FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY {_cos_sql('e.embedding', 'q.qv')} DESC, e.vec_id ASC) AS rn
        FROM embeddings e, q
        WHERE e.vec_id <> q.q_id
      ) WHERE rn <= {RECALL_K}
    ),
    approx AS (
      SELECT * FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY {_cos_sql('e.embedding', 'q.qv')} DESC, e.vec_id ASC) AS rn
        FROM b e, q
        WHERE e.bucket = q.q_bucket AND e.vec_id <> q.q_id
      ) WHERE rn <= {RECALL_K}
    ),
    cand AS (
      SELECT q.q_id, COUNT(e.vec_id) AS n_candidates
      FROM q LEFT JOIN b e
        ON e.bucket = q.q_bucket AND e.vec_id <> q.q_id
      GROUP BY q.q_id
    ),
    hits AS (
      SELECT a.q_id, COUNT(*) AS n_hits
      FROM approx a JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
      GROUP BY a.q_id
    )
    SELECT c.q_id, c.n_candidates,
           COALESCE(h.n_hits, 0) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {RECALL_K} AS recall_at_k
    FROM cand c LEFT JOIN hits h ON c.q_id = h.q_id
    """,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN eval harness: recall@k of the LSH bucket probe (ann_lsh_bucketed's
    8-plane bucketing) against the exact brute-force top-k, per query vector,
    for the first N_RECALL_QUERIES vectors. This is the operator a pipeline
    runs after re-tuning plane count / band shape: ground truth from the
    exact path on a sample of queries, recall measured distributed — no
    driver-side result comparison.

    Scale shape: the exact side is a broadcast(q) x corpus scan ranked with
    one window per query partition (at 100 TB you run it over a sampled
    corpus slice or a held-out eval shard — still one scan); the approx side
    probes one bucket per query via the same bucket equi-join as production;
    the recall join is on (q_id, vec_id) pairs, k rows per query."""
    emb = table(spark, sf_dir, "embeddings")
    b = lsh_bucket(emb)
    q = (
        b.filter(F.col("vec_id") < N_RECALL_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qv"),
            F.col("bucket").alias("q_bucket"),
        )
    )
    cos = _cos("embedding", "qv")
    rn = F.row_number().over(
        Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    )

    exact = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cosine"))
        .withColumn("rn", rn)
        .filter(F.col("rn") <= RECALL_K)
    )
    approx = (
        b.join(F.broadcast(q), b.bucket == q.q_bucket)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cosine"))
        .withColumn("rn", rn)
        .filter(F.col("rn") <= RECALL_K)
    )
    # count bucket candidates per query: inner bucket equi-join against the
    # broadcast query block (scale-safe — never broadcasts the corpus), then
    # re-attach zero-candidate queries from the tiny q side
    cand_counts = (
        b.select("vec_id", "bucket")
        .join(
            F.broadcast(q.select("q_id", "q_bucket")),
            F.col("bucket") == F.col("q_bucket"),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_candidates"))
    )
    cand = q.select("q_id").join(F.broadcast(cand_counts), "q_id", "left").select(
        "q_id",
        F.coalesce(F.col("n_candidates"), F.lit(0).cast("long")).alias("n_candidates"),
    )
    hits = (
        approx.select("q_id", "vec_id")
        .join(F.broadcast(exact.select("q_id", "vec_id")), ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    out = cand.join(F.broadcast(hits), "q_id", "left")
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0).cast("long"))
    return out.select(
        "q_id",
        "n_candidates",
        n_hits.alias("n_hits"),
        (n_hits.cast("double") / F.lit(float(RECALL_K))).alias("recall_at_k"),
    )


# --- semantic dedup: near-dup edges -> connected components -> clusters -----
SEM_EDGE_THRESHOLD = 0.30


@register(
    "emb_semantic_clusters",
    f"""
    WITH RECURSIVE b AS (
      SELECT vec_id, embedding,
             {_sign_key_sql('embedding', _ND_BAND_PLANES[0])} AS k0,
             {_sign_key_sql('embedding', _ND_BAND_PLANES[1])} AS k1
      FROM embeddings
    ),
    s0 AS (SELECT k0 FROM b GROUP BY k0 HAVING COUNT(*) <= {ND_BAND_CAP}),
    s1 AS (SELECT k1 FROM b GROUP BY k1 HAVING COUNT(*) <= {ND_BAND_CAP}),
    cand AS (
      SELECT x.vec_id AS vec_id_a, y.vec_id AS vec_id_b
      FROM b x JOIN s0 ON s0.k0 = x.k0
      JOIN b y ON x.k0 = y.k0 AND x.vec_id < y.vec_id
      UNION
      SELECT x.vec_id, y.vec_id
      FROM b x JOIN s1 ON s1.k1 = x.k1
      JOIN b y ON x.k1 = y.k1 AND x.vec_id < y.vec_id
    ),
    pairs AS (
      SELECT c.vec_id_a AS u, c.vec_id_b AS v
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.vec_id_a
      JOIN embeddings eb ON eb.vec_id = c.vec_id_b
      WHERE {_cos_sql('ea.embedding', 'eb.embedding')}
            >= {SEM_EDGE_THRESHOLD}
    ),
    edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
    reach AS (
      SELECT u AS a, v AS b FROM edges
      UNION
      SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
    ),
    labels AS (
      SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
    )
    SELECT cluster_id, COUNT(*) AS cluster_size,
           CAST(MIN(vec_id) AS BIGINT) AS representative
    FROM labels
    GROUP BY cluster_id
    ORDER BY cluster_size DESC, cluster_id ASC
    LIMIT 20
    """,
)
def emb_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, end-to-end: banded sign-bit LSH candidates -> exact
    cosine >= {threshold} edges -> connected components -> cluster summary
    (the embedding-space analog of dedup_clusters_portable, the op that
    collapses paraphrase/translation near-duplicates exact text hashing
    can't see). The representative (min vec_id) is the survivor the apply
    step keeps.

    Scale shape identical to emb_neardup_pairs for candidate generation
    (band equi-joins, never n^2) plus the min-label-propagation fixpoint of
    connected_components (one shuffle per round, localCheckpoint-truncated
    lineage); the oracle replays everything including the fixpoint as a
    recursive transitive-closure CTE."""
    from fpl_data_pipeline_spark.operators.dedup import connected_components

    emb = table(spark, sf_dir, "embeddings")
    cand = _lsh_candidate_pairs(emb)
    ea = emb.select(F.col("vec_id").alias("vec_id_a"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("vec_id_b"), F.col("embedding").alias("vb"))
    cos = _cos("va", "vb")
    pairs = (
        cand.join(ea, "vec_id_a")
        .join(eb, "vec_id_b")
        .filter(cos >= SEM_EDGE_THRESHOLD)
        .select(F.col("vec_id_a").alias("doc_id_a"), F.col("vec_id_b").alias("doc_id_b"))
    )
    comps = connected_components(pairs)
    return (
        comps.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("representative"),
        )
        .orderBy(F.col("cluster_size").desc(), F.col("cluster_id").asc())
        .limit(20)
    )


# --- IVF index maintenance: assign an incoming batch, report list balance ---
IVF_BATCH_MOD = 5  # vec_id % 5 == 4 stands in for the newly ingested batch


@register(
    "ann_ivf_rebalance",
    f"""
    WITH base AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {IVF_BATCH_MOD} <> {IVF_BATCH_MOD - 1}
    ),
    batch AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {IVF_BATCH_MOD} = {IVF_BATCH_MOD - 1}
    ),
    cents AS (
      SELECT vec_id AS c_id, embedding AS cv
      FROM base ORDER BY vec_id LIMIT {N_CENTROIDS}
    ),
    base_assigned AS (
      SELECT vec_id, c_id AS list_id FROM (
        SELECT e.vec_id, c.c_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos_sql('e.embedding', 'c.cv')} DESC,
                          c.c_id ASC) AS rn
        FROM base e, cents c
      ) WHERE rn = 1
    ),
    batch_assigned AS (
      SELECT vec_id, c_id AS list_id FROM (
        SELECT e.vec_id, c.c_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos_sql('e.embedding', 'c.cv')} DESC,
                          c.c_id ASC) AS rn
        FROM batch e, cents c
      ) WHERE rn = 1
    ),
    base_counts AS (
      SELECT list_id, COUNT(*) AS base_size FROM base_assigned GROUP BY list_id
    ),
    add_counts AS (
      SELECT list_id, COUNT(*) AS added FROM batch_assigned GROUP BY list_id
    ),
    per_list AS (
      SELECT c.c_id AS list_id,
             COALESCE(b.base_size, 0) AS base_size,
             COALESCE(a.added, 0) AS added,
             COALESCE(b.base_size, 0) + COALESCE(a.added, 0) AS new_size
      FROM cents c
      LEFT JOIN base_counts b ON b.list_id = c.c_id
      LEFT JOIN add_counts a ON a.list_id = c.c_id
    ),
    tot AS (SELECT SUM(new_size) AS n_total FROM per_list)
    SELECT p.list_id,
           CAST(p.base_size AS BIGINT) AS base_size,
           CAST(p.added AS BIGINT) AS added,
           CAST(p.new_size AS BIGINT) AS new_size,
           CAST(p.new_size AS DOUBLE)
             / (CAST(t.n_total AS DOUBLE) / {N_CENTROIDS}) AS load_factor
    FROM per_list p CROSS JOIN tot t
    """,
)
def ann_ivf_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index maintenance: assign an incoming vector batch (stand-in:
    vec_id % {mod} == {mod}-1) to the EXISTING inverted lists (centroids
    seeded from the base partition only — the index is not rebuilt), then
    report per-list occupancy: base size, newly added, resulting size, and
    load factor vs the uniform ideal. load_factor >> 1 on a list is the
    re-train trigger (split the hot list / refresh centroids) a production
    ANN service alerts on.

    Scale shape: two assignment scans (broadcast centroid block, argmax per
    vector — same audited shape as ann_ivf_probe), two tiny count
    aggregates, and a 16-row join; only list-level counts leave the
    executors."""
    emb = table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % IVF_BATCH_MOD != IVF_BATCH_MOD - 1)
    batch = emb.filter(F.col("vec_id") % IVF_BATCH_MOD == IVF_BATCH_MOD - 1)
    # no pin: the batch assignment's centroid broadcast is a ReusedExchange,
    # and the list spine reads only the vec_id column
    cents = _centroids(base)
    base_counts = (
        ivf_assign(base, cents).groupBy("list_id").agg(F.count(F.lit(1)).alias("base_size"))
    )
    add_counts = (
        ivf_assign(batch, cents).groupBy("list_id").agg(F.count(F.lit(1)).alias("added"))
    )
    per_list = (
        cents.select(F.col("c_id").alias("list_id"))
        .join(F.broadcast(base_counts), "list_id", "left")
        .join(F.broadcast(add_counts), "list_id", "left")
        .select(
            "list_id",
            F.coalesce("base_size", F.lit(0)).alias("base_size"),
            F.coalesce("added", F.lit(0)).alias("added"),
            (F.coalesce("base_size", F.lit(0)) + F.coalesce("added", F.lit(0))).alias(
                "new_size"
            ),
        )
    )
    # every assigned vector lands on exactly one centroid, so the total is
    # the two count sums — no second pass over the list spine
    tot = base_counts.agg(F.sum("base_size").alias("nb")).crossJoin(
        add_counts.agg(F.sum("added").alias("na"))
    ).select(
        (F.coalesce("nb", F.lit(0)) + F.coalesce("na", F.lit(0))).alias("n_total")
    )
    return per_list.crossJoin(F.broadcast(tot)).select(
        "list_id",
        "base_size",
        "added",
        "new_size",
        (
            F.col("new_size").cast("double")
            / (F.col("n_total").cast("double") / F.lit(float(N_CENTROIDS)))
        ).alias("load_factor"),
    )


# --- product quantization (round 4) -----------------------------------------
PQ_SUBSPACES = 4
PQ_SUB_DIM = DIM // PQ_SUBSPACES  # 16 dims per subspace
PQ_K = 8  # codewords per subspace

# Sequential-fold squared L2 distance between subvectors s of two embedding
# arrays (1-based subspace s in both engines; ascending fold order on both
# sides makes the double accumulation bitwise identical).
_PQ_DIST_SQL = (
    f"list_reduce(list_transform(range(1, {PQ_SUB_DIM}+1), "
    f"d -> ({{a}}[({{s}}-1)*{PQ_SUB_DIM}+d]::DOUBLE - {{b}}[({{s}}-1)*{PQ_SUB_DIM}+d]::DOUBLE)"
    f" * ({{a}}[({{s}}-1)*{PQ_SUB_DIM}+d]::DOUBLE - {{b}}[({{s}}-1)*{PQ_SUB_DIM}+d]::DOUBLE)), "
    f"(x, y) -> x + y)"
)


def _pq_dist(a, b, s):
    """Spark twin of _PQ_DIST_SQL: squared L2 over subspace ``s`` (Column)."""
    def term(d):
        av = F.element_at(a, ((s - 1) * PQ_SUB_DIM + d).cast("int")).cast("double")
        bv = F.element_at(b, ((s - 1) * PQ_SUB_DIM + d).cast("int")).cast("double")
        return (av - bv) * (av - bv)

    return F.aggregate(
        F.transform(F.sequence(F.lit(1), F.lit(PQ_SUB_DIM)), term),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@register(
    "emb_pq_codebook_stats",
    f"""
    WITH cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS codeword,
             embedding AS cemb
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {PQ_K})
    ),
    expanded AS (
      SELECT e.vec_id, s.s AS subspace, cb.codeword,
             {_PQ_DIST_SQL.format(a='e.embedding', b='cb.cemb', s='s.s')} AS dist
      FROM embeddings e
      CROSS JOIN (SELECT unnest(range(1, {PQ_SUBSPACES}+1)) AS s) s
      CROSS JOIN cb
    ),
    assigned AS (
      SELECT vec_id, subspace, codeword, dist,
             row_number() OVER (
               PARTITION BY vec_id, subspace
               ORDER BY dist ASC, codeword ASC
             ) AS rk
      FROM expanded
    )
    SELECT subspace, codeword,
           COUNT(*) AS n_assigned,
           CAST(SUM(CAST(floor(dist * 1000000 + 0.5) / 1000000
                         AS DECIMAL(24,6))) AS DOUBLE)
             / COUNT(*) AS mean_sq_err
    FROM assigned WHERE rk = 1
    GROUP BY subspace, codeword
    ORDER BY subspace ASC, codeword ASC
    """,
)
def emb_pq_codebook_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization index build over the embedding column: the
    64-dim vector is split into 4 subspaces of 16 dims, each subvector is
    assigned to its nearest of 8 codewords, and the per-(subspace, codeword)
    load + mean squared reconstruction error come back — the codebook
    balance/distortion surface that tells you whether the PQ index is usable
    before serving it (a starved codeword or a hot one with high distortion
    means re-train). Codebook here is deterministically SAMPLED (the 8
    lowest-vec_id embeddings' subvectors) so every stage is oracle-checkable;
    a production build swaps in k-means-trained centroids (kmeans_embeddings
    is the trainer) without touching this assignment/eval plan.

    100 TB shape: the codebook is O(k) rows and BROADCAST into the
    assignment join (corpus never shuffles); per-row work is 4 subspaces x 8
    codewords x 16-dim folds; the summary is a 2-key hash agg. The argmin is
    a window over exactly 8 rows per (vec, subspace). Distances accumulate
    in ascending-index fold order on both engines, and the error sum goes
    through 6-dp portable rounding + DECIMAL so it is order-independent.
    """
    emb = table(spark, sf_dir, "embeddings")
    w = Window.orderBy("vec_id")
    cb = (
        emb.orderBy("vec_id")
        .limit(PQ_K)
        .select((F.row_number().over(w) - 1).alias("codeword"), F.col("embedding").alias("cemb"))
    )
    subspaces = spark.range(1, PQ_SUBSPACES + 1).select(F.col("id").cast("int").alias("subspace"))
    expanded = (
        emb.crossJoin(F.broadcast(subspaces))
        .crossJoin(F.broadcast(cb))
        .select(
            "vec_id",
            "subspace",
            "codeword",
            _pq_dist(F.col("embedding"), F.col("cemb"), F.col("subspace")).alias("dist"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("vec_id", "subspace").orderBy(
            F.col("dist").asc(), F.col("codeword").asc()
        )
    )
    assigned = expanded.withColumn("rk", rk).filter(F.col("rk") == 1)
    q_err = F.floor(F.col("dist") * 1000000 + F.lit(0.5)) / 1000000
    return (
        assigned.groupBy("subspace", "codeword")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            (
                F.sum(q_err.cast("decimal(24,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_sq_err"),
        )
        .orderBy(F.col("subspace").asc(), F.col("codeword").asc())
    )


# --- bitext mining: margin-based cross-lingual pair extraction --------------
BITEXT_K = 4  # neighborhood size for the margin normalizer


def bitext_margin(src: DataFrame, tgt: DataFrame, k: int = BITEXT_K) -> DataFrame:
    """Engine operator: margin-scored nearest-target for every source vector
    — the LASER/CCMatrix bitext-mining criterion. ``src`` is (src_id, sv),
    ``tgt`` is (tgt_id, tv).

    margin(x, y) = cos(x, y) / ((knn_x + knn_y) / 2), where knn_x is the
    mean cosine of x's k nearest targets and knn_y the mean cosine of y's k
    nearest sources — the ratio margin that suppresses hub vectors (points
    close to everything) which raw cosine thresholds mis-mine.

    Registered instantiation scores the two label partitions brute-force
    with the smaller side broadcast (the eval/rerank baseline, same position
    as cosine_topk); the production path at corpus scale feeds the SAME
    scoring/normalizer shape from LSH-banded candidates (lsh_doc_band_keys) so
    neither side is ever self-joined in full.

    Determinism: cosines are 9-dp portable-rounded before any aggregation;
    neighborhood means are exact decimal sums over row_number-selected
    (tie-broken) top-k rows — bitwise identical in DuckDB.
    """
    from fpl_data_pipeline_spark.functions.exact import portable_round

    p = (
        src.crossJoin(F.broadcast(tgt))
        .select(
            "src_id",
            "tgt_id",
            portable_round(
                _cos("sv", "tv"), 9
            ).alias("cos9"),
        )
        .localCheckpoint()
    )
    wx = Window.partitionBy("src_id").orderBy(F.col("cos9").desc(), F.col("tgt_id").asc())
    wy = Window.partitionBy("tgt_id").orderBy(F.col("cos9").desc(), F.col("src_id").asc())
    mx = (
        p.withColumn("r", F.row_number().over(wx))
        .filter(F.col("r") <= k)
        .groupBy("src_id")
        .agg(
            (
                F.sum(F.col("cos9").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mx")
        )
    )
    my = (
        p.withColumn("r", F.row_number().over(wy))
        .filter(F.col("r") <= k)
        .groupBy("tgt_id")
        .agg(
            (
                F.sum(F.col("cos9").cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1))
            ).alias("my")
        )
    )
    return p.join(mx, "src_id").join(my, "tgt_id").select(
        "src_id",
        "tgt_id",
        "cos9",
        portable_round(
            F.col("cos9") / ((F.col("mx") + F.col("my")) / 2), 6
        ).alias("margin"),
    )


_BTX_MEAN = "CAST(SUM(CAST(cos9 AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)"


@register(
    "bitext_margin_pairs",
    f"""
    WITH s AS (SELECT vec_id AS src_id, embedding AS sv FROM embeddings WHERE label = 0),
    t AS (SELECT vec_id AS tgt_id, embedding AS tv FROM embeddings WHERE label = 1),
    p AS (
      SELECT src_id, tgt_id,
             FLOOR({_cos_sql('sv', 'tv')}
                   * 1000000000 + 0.5) / 1000000000 AS cos9
      FROM s CROSS JOIN t
    ),
    rx AS (SELECT *, ROW_NUMBER() OVER (
             PARTITION BY src_id ORDER BY cos9 DESC, tgt_id ASC) AS r FROM p),
    mx AS (SELECT src_id, {_BTX_MEAN} AS mx FROM rx WHERE r <= {BITEXT_K}
           GROUP BY src_id),
    ry AS (SELECT *, ROW_NUMBER() OVER (
             PARTITION BY tgt_id ORDER BY cos9 DESC, src_id ASC) AS r FROM p),
    my AS (SELECT tgt_id, {_BTX_MEAN} AS my FROM ry WHERE r <= {BITEXT_K}
           GROUP BY tgt_id),
    m AS (
      SELECT p.src_id, p.tgt_id, p.cos9,
             FLOOR(p.cos9 / ((mx.mx + my.my) / 2) * 1000000 + 0.5) / 1000000
               AS margin
      FROM p JOIN mx USING (src_id) JOIN my USING (tgt_id)
    ),
    best AS (SELECT *, ROW_NUMBER() OVER (
               PARTITION BY src_id ORDER BY margin DESC, tgt_id ASC) AS rn FROM m)
    SELECT src_id, tgt_id, cos9 AS cosine, margin
    FROM best WHERE rn = 1
    ORDER BY margin DESC, src_id ASC
    LIMIT 20
    """,
)
def bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 mined 'translation pairs': label-0 embeddings as the source
    language, label-1 as the target, each source matched to its best target
    by ratio margin (see bitext_margin). The training-data shape for
    machine-translation corpora mining from comparable crawls."""
    e = table(spark, sf_dir, "embeddings")
    src = e.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("src_id"), F.col("embedding").alias("sv")
    )
    tgt = e.filter(F.col("label") == 1).select(
        F.col("vec_id").alias("tgt_id"), F.col("embedding").alias("tv")
    )
    scored = bitext_margin(src, tgt)
    w = Window.partitionBy("src_id").orderBy(
        F.col("margin").desc(), F.col("tgt_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("src_id", "tgt_id", F.col("cos9").alias("cosine"), "margin")
        .orderBy(F.col("margin").desc(), F.col("src_id").asc())
        .limit(20)
    )


# --- contrastive hard-negative mining ---------------------------------------
HN_ANCHORS = 8  # anchor block size per pass
HN_K = 4  # negatives per anchor


@register(
    "contrastive_hard_negatives",
    f"""
    WITH anchors AS (
      SELECT vec_id AS anchor_id, embedding AS av, label AS alabel
      FROM embeddings WHERE vec_id < {HN_ANCHORS}
    ),
    scored AS (
      SELECT a.anchor_id, e.vec_id AS neg_id,
             FLOOR({_cos_sql('a.av', 'e.embedding')}
                   * 1000000000 + 0.5) / 1000000000 AS cos9
      FROM anchors a JOIN embeddings e
        ON e.label <> a.alabel
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY anchor_id ORDER BY cos9 DESC, neg_id ASC) AS rk
      FROM scored
    )
    SELECT anchor_id, neg_id, rk AS rank, cos9 AS cosine
    FROM ranked WHERE rk <= {HN_K}
    ORDER BY anchor_id ASC, rank ASC
    """,
)
def contrastive_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for each
    anchor vector, the top-{HN_K} highest-cosine vectors with a DIFFERENT
    label — the negatives that actually move an InfoNCE/triplet loss
    (random negatives are trivially separable; hard ones define the
    margin). The registered instantiation scores an {HN_ANCHORS}-anchor
    block brute-force (the same broadcast-block shape as ann_batch_topk —
    a full mining run loops blocks, or feeds candidates from the LSH
    index so the corpus is never self-joined). Per-anchor top-k is a
    keyed window over the anchor block's scores, not a global sort."""
    e = table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < HN_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("av"),
        F.col("label").alias("alabel"),
    )
    scored = (
        e.join(F.broadcast(anchors), e.label != F.col("alabel"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("neg_id"),
            (
                F.floor(
                    _cos("av", "embedding")
                    * 1000000000
                    + F.lit(0.5)
                )
                / 1000000000
            ).alias("cos9"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos9").desc(), F.col("neg_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= HN_K)
        .select(
            "anchor_id", "neg_id", F.col("rk").alias("rank"), F.col("cos9").alias("cosine")
        )
        .orderBy(F.col("anchor_id").asc(), F.col("rank").asc())
    )


# --- Matryoshka (truncated-dimension) retrieval eval ------------------------
MRL_PREFIX_DIM = 16  # truncated prefix length under evaluation
MRL_QUERIES = 8
MRL_K = 10


@register(
    "emb_matryoshka_recall",
    f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS qv FROM embeddings
      WHERE vec_id < {MRL_QUERIES}
    ),
    scored AS (
      SELECT q.q_id, e.vec_id,
             {_cos_sql('e.embedding', 'q.qv')} AS cos_full,
             {_cos_sql('e.embedding', 'q.qv', MRL_PREFIX_DIM)} AS cos_pfx
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.q_id
    ),
    rf AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY cos_full DESC, vec_id ASC) AS r FROM scored),
    rp AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY cos_pfx DESC, vec_id ASC) AS r FROM scored),
    tf AS (SELECT q_id, vec_id FROM rf WHERE r <= {MRL_K}),
    tp AS (SELECT q_id, vec_id FROM rp WHERE r <= {MRL_K})
    SELECT tf.q_id,
           CAST(COUNT(tp.vec_id) AS BIGINT) AS n_overlap,
           FLOOR(CAST(COUNT(tp.vec_id) AS DOUBLE) / {MRL_K} * 1000000 + 0.5)
             / 1000000 AS recall_at_{MRL_K}
    FROM tf LEFT JOIN tp ON tp.q_id = tf.q_id AND tp.vec_id = tf.vec_id
    GROUP BY tf.q_id
    ORDER BY tf.q_id
    """,
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/MRL dimension-truncation eval: recall@{MRL_K} of retrieval
    using only the FIRST {MRL_PREFIX_DIM} of {DIM} embedding dimensions
    against full-dimension exact retrieval, per query — the measurement
    behind serving truncated vectors (4x smaller index, one number says
    what it costs in recall; same eval harness shape as ann_recall_eval,
    which scores the LSH index instead). Broadcast {MRL_QUERIES}-query
    block, two keyed rank windows, one overlap join on the two top-k
    sets."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < MRL_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    pfx = lambda c: F.slice(c, 1, MRL_PREFIX_DIM)  # noqa: E731
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            _cos("embedding", "qv").alias(
                "cos_full"
            ),
            _cos(pfx(F.col("embedding")), pfx(F.col("qv"))).alias("cos_pfx"),
        )
        .localCheckpoint()
    )
    wf = Window.partitionBy("q_id").orderBy(F.col("cos_full").desc(), F.col("vec_id").asc())
    wp = Window.partitionBy("q_id").orderBy(F.col("cos_pfx").desc(), F.col("vec_id").asc())
    tf = (
        scored.withColumn("r", F.row_number().over(wf))
        .filter(F.col("r") <= MRL_K)
        .select("q_id", "vec_id")
    )
    tp = (
        scored.withColumn("r", F.row_number().over(wp))
        .filter(F.col("r") <= MRL_K)
        .select(F.col("q_id").alias("q2"), F.col("vec_id").alias("v2"))
    )
    return (
        tf.join(tp, (tf.q_id == tp.q2) & (tf.vec_id == tp.v2), "left")
        .groupBy("q_id")
        .agg(
            F.count("v2").cast("bigint").alias("n_overlap"),
            (
                F.floor(F.count("v2").cast("double") / MRL_K * 1000000 + F.lit(0.5))
                / 1000000
            ).alias(f"recall_at_{MRL_K}"),
        )
        .orderBy("q_id")
    )


# --- MMR diversity re-ranking (RAG retrieval primitive) ---------------------
MMR_LAMBDA = 0.7
MMR_POOL = 8  # relevance-ranked candidate pool
MMR_K = 3  # selections (each unrolled as one oracle CTE)

_R9 = "FLOOR(({}) * 1000000000 + 0.5) / 1000000000"


@register(
    "rag_mmr_rerank",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.embedding,
             {_R9.format(_cos_sql('e.embedding', 'q.qv'))} AS rel
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
      ORDER BY rel DESC, e.vec_id ASC
      LIMIT {MMR_POOL}
    ),
    sim AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             {_R9.format(_cos_sql('a.embedding', 'b.embedding'))} AS s
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    s1 AS (SELECT vec_id, rel FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1),
    s2 AS (
      SELECT c.vec_id, c.rel,
             {MMR_LAMBDA} * c.rel - {1 - MMR_LAMBDA} * m.s AS mmr
      FROM cand c
      JOIN s1 ON c.vec_id <> s1.vec_id
      JOIN sim m ON m.va = c.vec_id AND m.vb = s1.vec_id
      ORDER BY mmr DESC, c.vec_id ASC LIMIT 1
    ),
    s3 AS (
      SELECT c.vec_id, c.rel,
             {MMR_LAMBDA} * c.rel - {1 - MMR_LAMBDA} * MAX(m.s) AS mmr
      FROM cand c
      JOIN s1 ON c.vec_id <> s1.vec_id
      JOIN s2 ON c.vec_id <> s2.vec_id
      JOIN sim m ON m.va = c.vec_id AND m.vb IN (s1.vec_id, s2.vec_id)
      GROUP BY c.vec_id, c.rel
      ORDER BY mmr DESC, c.vec_id ASC LIMIT 1
    )
    SELECT 1 AS rank, vec_id, rel, rel AS mmr_score FROM s1
    UNION ALL SELECT 2, vec_id, rel, mmr FROM s2
    UNION ALL SELECT 3, vec_id, rel, mmr FROM s3
    ORDER BY rank
    """,
)
def rag_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: greedily pick {MMR_K} results
    from the top-{MMR_POOL} relevance pool, each step trading relevance
    against similarity to what is ALREADY selected (lambda={MMR_LAMBDA}) —
    the diversity pass between retrieval (hybrid_search_topk) and the
    context window (doc_packing_summary), killing the near-duplicate
    results that burn prompt budget. Greedy selection is inherently
    sequential, but each step is a k-bounded argmax over the broadcast
    candidate pool — the unrolled dataflow below IS the scale shape (pool
    size is a constant; the corpus-sized work happened in retrieval).

    All cosines are 9-dp portable-rounded before any comparison so the
    argmax ties identically across engines; the oracle unrolls the same
    {MMR_K} selection steps as CTEs."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    r9 = lambda c: F.floor(c * 1000000000 + F.lit(0.5)) / 1000000000  # noqa: E731
    cand = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "embedding", r9(_cos("embedding", "qv")).alias("rel"))
        .orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(MMR_POOL)
        .localCheckpoint()
    )
    a = cand.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = cand.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    sim = (
        a.crossJoin(b)
        .filter(F.col("va") != F.col("vb"))
        .select("va", "vb", r9(_cos("ea", "eb")).alias("s"))
        .localCheckpoint()
    )
    lam = MMR_LAMBDA
    s1 = (
        cand.select("vec_id", "rel")
        .orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(1)
    )
    s1v = s1.select(F.col("vec_id").alias("p1"))
    s2 = (
        cand.crossJoin(F.broadcast(s1v))
        .filter(F.col("vec_id") != F.col("p1"))
        .join(sim, (sim.va == cand.vec_id) & (sim.vb == F.col("p1")))
        .select("vec_id", "rel", (F.lit(lam) * F.col("rel") - F.lit(1 - lam) * F.col("s")).alias("mmr"))
        .orderBy(F.col("mmr").desc(), F.col("vec_id").asc())
        .limit(1)
    )
    s2v = s2.select(F.col("vec_id").alias("p2"))
    sel = s1v.crossJoin(s2v)
    s3 = (
        cand.crossJoin(F.broadcast(sel))
        .filter((F.col("vec_id") != F.col("p1")) & (F.col("vec_id") != F.col("p2")))
        .join(
            sim,
            (sim.va == cand.vec_id)
            & ((sim.vb == F.col("p1")) | (sim.vb == F.col("p2"))),
        )
        .groupBy("vec_id", "rel")
        .agg(
            (F.lit(lam) * F.first("rel") - F.lit(1 - lam) * F.max("s")).alias("mmr")
        )
        .orderBy(F.col("mmr").desc(), F.col("vec_id").asc())
        .limit(1)
    )
    out = (
        s1.select(F.lit(1).alias("rank"), "vec_id", "rel", F.col("rel").alias("mmr_score"))
        .unionAll(s2.select(F.lit(2).alias("rank"), "vec_id", "rel", F.col("mmr").alias("mmr_score")))
        .unionAll(s3.select(F.lit(3).alias("rank"), "vec_id", "rel", F.col("mmr").alias("mmr_score")))
        .orderBy("rank")
    )
    return out


# --- label-noise screen: farthest-from-own-centroid vectors ------------------
# Mislabeled examples poison contrastive and classifier training; the
# cheap first-pass screen is distance-to-own-class-centroid (a vector far
# from its label's centroid is either mislabeled or an interesting hard
# example — either way, reviewed first). Centroids are the same
# distributed per-(label, dim) reduction emb_cluster_centroids uses
# (6-dp-quantized so both engines carry identical centroids); squared
# deviations are quantized per-dimension to 9 dp and summed in exact
# decimal, so the ranking is engine-identical with no fp-order dependence.
# The centroid table is label_count x dim rows — broadcast side of the
# join; the corpus is touched once.
@register(
    "emb_label_outliers",
    """
    WITH flat AS (
      SELECT vec_id, label,
             UNNEST(embedding) AS val,
             UNNEST(range(1, len(embedding) + 1)) AS pos
      FROM embeddings
    ),
    cents AS (
      SELECT label, pos, round(avg(val), 6) AS c_val
      FROM flat GROUP BY label, pos
    ),
    devs AS (
      SELECT f.vec_id, f.label,
             CAST(FLOOR((f.val - c.c_val) * (f.val - c.c_val) * 1000000000
                        + 0.5) AS DECIMAL(28,0)) AS d9
      FROM flat f JOIN cents c ON c.label = f.label AND c.pos = f.pos
    )
    SELECT vec_id, label,
           FLOOR(CAST(SUM(d9) AS DOUBLE) / 1000000000 * 1000000 + 0.5)
             / 1000000 AS dist2
    FROM devs
    GROUP BY vec_id, label
    ORDER BY dist2 DESC, vec_id ASC
    LIMIT 20
    """,
)
def emb_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 vectors farthest from their own label centroid — the
    mislabeling/hard-example review queue."""
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "val")
    ).select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), "val")
    cents = flat.groupBy("label", "pos").agg(
        F.round(F.avg("val"), 6).alias("c_val")
    )
    dev = F.col("val") - F.col("c_val")
    d9 = F.floor(dev * dev * 1000000000 + F.lit(0.5)).cast("decimal(28,0)")
    devs = flat.join(F.broadcast(cents), ["label", "pos"]).select(
        "vec_id", "label", d9.alias("d9")
    )
    return (
        devs.groupBy("vec_id", "label")
        .agg(
            (
                F.floor(
                    F.sum("d9").cast("double") / 1000000000 * 1000000 + F.lit(0.5)
                )
                / 1000000
            ).alias("dist2")
        )
        .orderBy(F.col("dist2").desc(), F.col("vec_id").asc())
        .limit(20)
    )


# --- ranking-quality eval: nDCG@10 + reciprocal rank per query ---------------
# ann_recall_eval measures SET overlap (did the index return the right
# candidates); a retrieval system is judged on RANKING quality too. Using
# the label column as graded-relevance ground truth (relevant = same label
# as the query vector — the standard proxy-label protocol for embedding
# eval), this computes per query: nDCG@10 of the exact cosine ranking and
# the reciprocal rank of the first relevant hit. IDCG uses the true
# corpus-wide relevant count capped at 10, so nDCG is comparable across
# queries with few relevant docs. log2 terms are 9-dp-rounded and summed
# in exact decimal (KL convention); ranks come from a per-query window
# over the top-10 only.
RANK_K = 10


@register(
    "ann_ranking_metrics",
    f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS qv, label AS q_label
      FROM embeddings WHERE vec_id < {N_RECALL_QUERIES}
    ),
    scored AS (
      SELECT q.q_id, q.q_label, e.vec_id, e.label,
             FLOOR({_cos_sql('e.embedding', 'q.qv')} * 1000000000 + 0.5) / 1000000000 AS cos9
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, q_label, vec_id, label,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos9 DESC, vec_id ASC) AS r
      FROM scored
    ),
    topk AS (SELECT * FROM ranked WHERE r <= {RANK_K}),
    nrel AS (
      SELECT q.q_id,
             CAST(LEAST(COUNT(*), {RANK_K}) AS BIGINT) AS m
      FROM embeddings e JOIN q
        ON e.label = q.q_label AND e.vec_id <> q.q_id
      GROUP BY q.q_id
    ),
    dcg AS (
      SELECT q_id,
             CAST(SUM(CASE WHEN label = q_label
                           THEN CAST(FLOOR(1.0 / (ln(r + 1) / ln(2))
                                           * 1000000000 + 0.5)
                                     AS DECIMAL(28,0))
                           ELSE CAST(0 AS DECIMAL(28,0)) END)
                  AS DOUBLE) / 1000000000 AS dcg_v,
             MIN(CASE WHEN label = q_label THEN r END) AS first_rel
      FROM topk GROUP BY q_id
    ),
    idcg AS (
      SELECT n.q_id,
             CAST(SUM(CAST(FLOOR(1.0 / (ln(i.i + 1) / ln(2))
                                 * 1000000000 + 0.5) AS DECIMAL(28,0)))
                  AS DOUBLE) / 1000000000 AS idcg_v
      FROM nrel n JOIN (SELECT unnest(range(1, {RANK_K} + 1)) AS i) i
        ON i.i <= n.m
      GROUP BY n.q_id
    )
    SELECT d.q_id,
           FLOOR(d.dcg_v / i.idcg_v * 1000000 + 0.5) / 1000000 AS ndcg_at_10,
           CASE WHEN d.first_rel IS NULL THEN 0.0
                ELSE FLOOR(1.0 / d.first_rel * 1000000 + 0.5) / 1000000 END
             AS reciprocal_rank
    FROM dcg d JOIN idcg i ON i.q_id = d.q_id
    ORDER BY d.q_id
    """,
)
def ann_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query nDCG@10 and reciprocal rank of exact cosine retrieval with
    label-match relevance — the ranking-quality half of the retrieval eval
    harness (ann_recall_eval is the set-overlap half)."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_RECALL_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("q_label"),
    )
    cos = _cos("embedding", "qv")
    cos9 = F.floor(cos * 1000000000 + F.lit(0.5)) / 1000000000
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "q_label", "vec_id", "label", cos9.alias("cos9"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos9").desc(), F.col("vec_id").asc())
    topk = scored.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= RANK_K)
    nrel = (
        emb.crossJoin(F.broadcast(q.select("q_id", "q_label")))
        .filter((F.col("label") == F.col("q_label")) & (F.col("vec_id") != F.col("q_id")))
        .groupBy("q_id")
        .agg(F.least(F.count(F.lit(1)), F.lit(RANK_K)).cast("long").alias("m"))
    )
    ln2 = F.log(F.lit(2.0))
    gain9 = lambda rc: F.floor(  # noqa: E731
        F.lit(1.0) / (F.log(rc + 1) / ln2) * 1000000000 + F.lit(0.5)
    ).cast("decimal(28,0)")
    dcg = topk.groupBy("q_id").agg(
        (
            F.sum(
                F.when(F.col("label") == F.col("q_label"), gain9(F.col("r"))).otherwise(
                    F.lit(0).cast("decimal(28,0)")
                )
            ).cast("double")
            / 1000000000
        ).alias("dcg_v"),
        F.min(F.when(F.col("label") == F.col("q_label"), F.col("r"))).alias("first_rel"),
    )
    ranks = spark.range(1, RANK_K + 1).select(F.col("id").alias("i"))
    idcg = (
        nrel.crossJoin(F.broadcast(ranks))
        .filter(F.col("i") <= F.col("m"))
        .groupBy("q_id")
        .agg((F.sum(gain9(F.col("i"))).cast("double") / 1000000000).alias("idcg_v"))
    )
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return (
        dcg.join(idcg, "q_id")
        .select(
            "q_id",
            q6(F.col("dcg_v") / F.col("idcg_v")).alias("ndcg_at_10"),
            F.when(F.col("first_rel").isNull(), F.lit(0.0))
            .otherwise(q6(F.lit(1.0) / F.col("first_rel")))
            .alias("reciprocal_rank"),
        )
        .orderBy("q_id")
    )


# --- embedding covariance diagnostics (the PCA/whitening precursor) ----------
# Before PCA/whitening/dimension-pruning decisions, the covariance
# structure tells you whether dimensions are already decorrelated (ready
# for per-dim quantization) or redundant (candidates for MRL truncation —
# emb_matryoshka_recall's input question). Computing a DxD covariance at
# corpus scale is one pass of outer-product partial sums: explode each
# vector to (i, j, xi*xj) contributions... for D=64 that is 4096 cells per
# row — so instead the per-PAIR sums come from joining the flattened
# (pos, val) relation with itself PER VECTOR (i <= j), a within-row join
# the optimizer keeps local to the vector. Reported: trace, mean/max
# |off-diagonal| correlation-scale mass, and effective rank proxy
# (trace^2 / sum of squared entries — the participation ratio), each from
# 9-dp-quantized exact-decimal cell sums.
@register(
    "emb_covariance_stats",
    """
    WITH flat AS (
      SELECT vec_id, UNNEST(embedding) AS val,
             UNNEST(range(1, len(embedding) + 1)) AS pos
      FROM embeddings
    ),
    nrows AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    means AS (
      SELECT pos, CAST(FLOOR(AVG(val) * 1000000 + 0.5) AS BIGINT) / 1000000.0
               AS mu
      FROM flat GROUP BY pos
    ),
    centered AS (
      SELECT f.vec_id, f.pos, f.val - m.mu AS c
      FROM flat f JOIN means m ON m.pos = f.pos
    ),
    cells AS (
      SELECT a.pos AS i, b.pos AS j,
             CAST(SUM(CAST(FLOOR(a.c * b.c * 1000000000 + 0.5)
                           AS DECIMAL(28,0))) AS DOUBLE) / 1000000000
               / (SELECT n FROM nrows) AS cov
      FROM centered a JOIN centered b
        ON a.vec_id = b.vec_id AND a.pos <= b.pos
      GROUP BY a.pos, b.pos
    )
    SELECT
      FLOOR(SUM(CASE WHEN i = j THEN cov ELSE 0 END) * 1000000 + 0.5)
        / 1000000 AS trace,
      FLOOR(MAX(CASE WHEN i < j THEN abs(cov) END) * 1000000 + 0.5)
        / 1000000 AS max_offdiag,
      FLOOR(SUM(CASE WHEN i = j THEN cov ELSE 0 END)
            * SUM(CASE WHEN i = j THEN cov ELSE 0 END)
            / (SUM(CASE WHEN i = j THEN cov * cov
                        ELSE 2 * cov * cov END))
            * 1000000 + 0.5) / 1000000 AS participation_ratio
    FROM cells
    """,
)
def emb_covariance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance diagnostics of the embedding space: trace (total
    variance), worst off-diagonal covariance, and the participation ratio
    (trace^2 / ||C||_F^2 — an effective-rank proxy; D for white spaces,
    ~1 for collapsed ones)."""
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "val")
    means = flat.groupBy("pos").agg(
        (F.floor(F.avg("val") * 1000000 + F.lit(0.5)).cast("long") / F.lit(1000000.0)).alias("mu")
    )
    centered = flat.join(F.broadcast(means), "pos").select(
        "vec_id", "pos", (F.col("val") - F.col("mu")).alias("c")
    )
    a = centered.select("vec_id", F.col("pos").alias("i"), F.col("c").alias("ca"))
    b = centered.select("vec_id", F.col("pos").alias("j"), F.col("c").alias("cb"))
    cells = (
        a.join(b, "vec_id")
        .filter(F.col("i") <= F.col("j"))
        .groupBy("i", "j")
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("ca") * F.col("cb") * 1000000000 + F.lit(0.5)
                    ).cast("decimal(28,0)")
                ).cast("double")
                / 1000000000
                / n
            ).alias("cov")
        )
    )
    diag = F.when(F.col("i") == F.col("j"), F.col("cov")).otherwise(F.lit(0))
    sq = F.when(
        F.col("i") == F.col("j"), F.col("cov") * F.col("cov")
    ).otherwise(F.lit(2) * F.col("cov") * F.col("cov"))
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return cells.agg(
        q6(F.sum(diag)).alias("trace"),
        q6(F.max(F.when(F.col("i") < F.col("j"), F.abs(F.col("cov"))))).alias(
            "max_offdiag"
        ),
        q6(F.sum(diag) * F.sum(diag) / F.sum(sq)).alias("participation_ratio"),
    )


# --- PQ asymmetric distance computation (ADC) search ------------------------
ADC_TOPK = 10
ADC_QUERY_ID = 0

_PQ_FULL_DIST_SQL = " + ".join(
    _PQ_DIST_SQL.format(a="{a}", b="{b}", s=str(s))
    for s in range(1, PQ_SUBSPACES + 1)
)


@register(
    "emb_pq_adc_topk",
    f"""
    WITH cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS codeword,
             embedding AS cemb
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {PQ_K})
    ),
    q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = {ADC_QUERY_ID}),
    dtable AS (
      SELECT s.s AS subspace, cb.codeword,
             CAST(floor({_PQ_DIST_SQL.format(a='q.qemb', b='cb.cemb', s='s.s')}
                        * 1000000 + 0.5) AS BIGINT) AS dq
      FROM cb
      CROSS JOIN (SELECT unnest(range(1, {PQ_SUBSPACES}+1)) AS s) s
      CROSS JOIN q
    ),
    expanded AS (
      SELECT e.vec_id, s.s AS subspace, cb.codeword,
             {_PQ_DIST_SQL.format(a='e.embedding', b='cb.cemb', s='s.s')} AS dist
      FROM embeddings e
      CROSS JOIN (SELECT unnest(range(1, {PQ_SUBSPACES}+1)) AS s) s
      CROSS JOIN cb
    ),
    assigned AS (
      SELECT vec_id, subspace, codeword,
             ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                                ORDER BY dist ASC, codeword ASC) AS rk
      FROM expanded
    ),
    codes AS (
      SELECT vec_id, subspace, codeword FROM assigned WHERE rk = 1
    ),
    adc AS (
      SELECT c.vec_id, CAST(SUM(dt.dq) AS BIGINT) AS adc_scaled
      FROM codes c
      JOIN dtable dt ON dt.subspace = c.subspace AND dt.codeword = c.codeword
      WHERE c.vec_id <> {ADC_QUERY_ID}
      GROUP BY c.vec_id
    ),
    topk AS (
      SELECT vec_id, adc_scaled FROM adc
      ORDER BY adc_scaled ASC, vec_id ASC LIMIT {ADC_TOPK}
    )
    SELECT t.vec_id AS vec_id,
           t.adc_scaled / 1000000.0 AS adc_dist_q,
           floor(({_PQ_FULL_DIST_SQL.format(a='q.qemb', b='e.embedding')})
                 * 1000000 + 0.5) / 1000000 AS exact_dist_q
    FROM topk t
    JOIN embeddings e ON e.vec_id = t.vec_id
    CROSS JOIN q
    ORDER BY t.adc_scaled ASC, t.vec_id ASC
    """,
)
def emb_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ SERVING: asymmetric distance computation (ADC) top-k search —
    the read path of an IVF-PQ index (Jegou et al., the billion-vector
    standard). The query vector is NOT quantized; instead a (subspace x
    codeword) distance TABLE of {PQ_SUBSPACES}x{PQ_K} entries is built once
    against the codebook, and every corpus vector's approximate distance is
    the sum of {PQ_SUBSPACES} table lookups on its stored codes — no
    per-vector float math at all at query time. Reports the ADC estimate
    alongside the exact distance for the returned top-{ADC_TOPK}, so the
    PQ approximation error is visible per hit (the serving-side complement
    of emb_pq_codebook_stats' build-side distortion surface).

    100 TB shape: codes are computed by the same broadcast-codebook argmin
    as the build query (corpus never shuffles); the distance table is 32
    rows BROADCAST into an equi-join on (subspace, codeword); per-subspace
    table entries are 6-dp-quantized to exact BIGINTs so the 4-way lookup
    sum is order-independent; exact re-scoring touches only the top-k.
    The deterministic sampled codebook (lowest-{PQ_K} vec_ids) keeps every
    stage oracle-checkable — kmeans_embeddings is the production trainer.
    """
    emb = table(spark, sf_dir, "embeddings")
    w = Window.orderBy("vec_id")
    cb = (
        emb.orderBy("vec_id")
        .limit(PQ_K)
        .select(
            (F.row_number().over(w) - 1).alias("codeword"),
            F.col("embedding").alias("cemb"),
        )
    )
    q = emb.filter(F.col("vec_id") == ADC_QUERY_ID).select(
        F.col("embedding").alias("qemb")
    )
    subspaces = spark.range(1, PQ_SUBSPACES + 1).select(
        F.col("id").cast("int").alias("subspace")
    )
    dtable = (
        cb.crossJoin(F.broadcast(subspaces))
        .crossJoin(F.broadcast(q))
        .select(
            "subspace",
            "codeword",
            F.floor(
                _pq_dist(F.col("qemb"), F.col("cemb"), F.col("subspace")) * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("dq"),
        )
    )
    expanded = (
        emb.crossJoin(F.broadcast(subspaces))
        .crossJoin(F.broadcast(cb))
        .select(
            "vec_id",
            "subspace",
            "codeword",
            _pq_dist(F.col("embedding"), F.col("cemb"), F.col("subspace")).alias(
                "dist"
            ),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("vec_id", "subspace").orderBy(
            F.col("dist").asc(), F.col("codeword").asc()
        )
    )
    codes = (
        expanded.withColumn("rk", rk).filter(F.col("rk") == 1).select(
            "vec_id", "subspace", "codeword"
        )
    )
    adc = (
        codes.filter(F.col("vec_id") != ADC_QUERY_ID)
        .join(F.broadcast(dtable), ["subspace", "codeword"])
        .groupBy("vec_id")
        .agg(F.sum("dq").alias("adc_scaled"))
    )
    topk = adc.orderBy(F.col("adc_scaled").asc(), F.col("vec_id").asc()).limit(
        ADC_TOPK
    )
    full_dist = sum(
        (_pq_dist(F.col("qemb"), F.col("embedding"), F.lit(s)) for s in range(2, PQ_SUBSPACES + 1)),
        _pq_dist(F.col("qemb"), F.col("embedding"), F.lit(1)),
    )
    return (
        topk.join(emb, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (F.col("adc_scaled") / 1000000.0).alias("adc_dist_q"),
            (F.floor(full_dist * 1000000 + F.lit(0.5)) / 1000000).alias(
                "exact_dist_q"
            ),
        )
        .orderBy((F.col("adc_dist_q")).asc(), F.col("vec_id").asc())
    )


# --- cap-firing observability (round-6 advice finding) ----------------------
# The candidate caps (ND_BAND_CAP, SIMHASH_CHUNK_CAP, HV_BLOCK_CAP) drop
# oversized groups SILENTLY by design — an over-cap group is
# non-discriminative, and the pair explosion it would feed is the round-5
# OOM shape. But silent degradation means an operator sees recall collapse
# as a quietly thinner top-k. This audit makes the drop observable: one row
# per cap family with the group count, how many groups the cap dropped, and
# the fraction of keyed membership inside dropped groups. Run it alongside
# any dedup/ANN job; a non-zero drop_frac is the signal to widen the key
# space (more planes / wider chunks), not to raise the cap.

from fpl_data_pipeline_spark.operators.dedup import (  # noqa: E402
    MD5_MINHASH,
    MD5_SIMHASH,
    MH_BAND_CAP,
    PMH_BANDS,
    PMH_HASHES,
    PSH_KEYED_SQL,
    SHINGLE_DF_CAP,
    SIMHASH_CHUNK_CAP,
    SPAN_DF_CAP,
    SPAN_N,
    WINNOW_FP_CAP,
    WINNOW_W,
    _NORM_SQL,
    _TRIGRAM_SQL,
    _alive_keys,
    _capped_key_groups,
    _expand_member_pairs_streaming,
    _key_group_sizes,
    _pmh_perm_sql,
    doc_words,
    minhash_band_keys,
    minhash_signatures,
    shingles,
    simhash,
    simhash_chunk_keys,
    span_positional_hashes,
    winnow_doc_fingerprints,
)

# one band's (doc_id, band_id, band_key) projection for the audit's
# mh_band family — the oracle-side mirror of minhash_band_keys(MD5_MINHASH)
# (same key formula as dedup._pmh_band_sql, over the audit's sigs CTE)
def _audit_mh_band_sql(b: int) -> str:
    from fpl_data_pipeline_spark.operators.dedup import PMH_ROWS

    sep = " || ',' || "
    key = sep.join(f"CAST(m{b * PMH_ROWS + r} AS VARCHAR)" for r in range(PMH_ROWS))
    return f"SELECT doc_id, {b} AS band_id, md5({key}) AS band_key FROM mh_sigs"

from fpl_data_pipeline_spark.operators.fuzzy_join import (  # noqa: E402
    FS_BLOCK_CAP,
    linkage_blocked_records,
)
from fpl_data_pipeline_spark.operators.geo import (  # noqa: E402
    GEO_CELL_CAP,
    GEO_CELL_DEG,
    _LAT_SQL,
    _LON_SQL,
    customer_points,
)
from fpl_data_pipeline_spark.functions.text_queries import (  # noqa: E402
    FH_DIM,
    HV_BLOCK_CAP,
    hv_block_keyed_vectors,
)
from fpl_data_pipeline_spark.plans.advanced_relational import (  # noqa: E402
    CF_BASKET_CAP,
)

# shared normalized-words CTE for the document-keyed families below
_AUDIT_WORDS_SQL = f"""
    audit_words AS (
      SELECT doc_id,
             list_filter(string_split(
               {_NORM_SQL}, ' '),
               w -> w <> '') AS ws
      FROM documents
    )"""


def _cap_family_row(sizes: DataFrame, family: str, cap: int) -> DataFrame:
    """One summary row for a cap family from its group-size relation
    (single column ``n`` = membership of each group with >= 2 members).
    Global aggregation, so the row exists even when no groups do."""
    agg = sizes.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.coalesce(
            F.sum((F.col("n") > cap).cast("long")), F.lit(0).cast("long")
        ).alias("n_dropped"),
        F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias("members_total"),
        F.coalesce(
            F.sum(F.when(F.col("n") > cap, F.col("n")).otherwise(F.lit(0))),
            F.lit(0).cast("long"),
        ).alias("members_dropped"),
    )
    frac = F.when(F.col("members_total") == 0, F.lit(0.0)).otherwise(
        F.round(F.col("members_dropped").cast("double") / F.col("members_total"), 6)
    )
    return agg.select(
        F.lit(family).alias("family"),
        "n_groups",
        "n_dropped",
        "members_total",
        "members_dropped",
        frac.alias("drop_frac"),
    )


_CAP_FAMILY_AGG_SQL = """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(COALESCE(SUM(CASE WHEN gs > {cap} THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped,
             CAST(COALESCE(SUM(gs), 0) AS BIGINT) AS members_total,
             CAST(COALESCE(SUM(CASE WHEN gs > {cap} THEN gs ELSE 0 END), 0) AS BIGINT) AS members_dropped
"""


@register(
    "candidate_cap_audit",
    f"""
    WITH b AS (
      SELECT vec_id,
             {_sign_key_sql('embedding', _ND_BAND_PLANES[0])} AS k0,
             {_sign_key_sql('embedding', _ND_BAND_PLANES[1])} AS k1
      FROM embeddings
    ),
    g0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS gs FROM b GROUP BY k0 HAVING COUNT(*) >= 2),
    g1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS gs FROM b GROUP BY k1 HAVING COUNT(*) >= 2),
    {PSH_KEYED_SQL},
    gc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS gs FROM psh_keyed
      GROUP BY chunk_id, chunk_val HAVING COUNT(*) >= 2
    ),
    {_AUDIT_WORDS_SQL},
    gshingle AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS gs FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 range(1, greatest(len(ws) - 1, 1)),
                 i -> {_TRIGRAM_SQL}))) AS shingle
        FROM audit_words WHERE len(ws) >= 3
      ) GROUP BY shingle HAVING COUNT(*) >= 2
    ),
    win_hashed AS (
      SELECT doc_id, u.pos AS pos, u.h AS h FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(ws) - 1, 1)),
                 i -> {{'pos': i - 1,
                        'h': substr(md5({_TRIGRAM_SQL}), 1, 15)}}
               )) AS u
        FROM audit_words WHERE len(ws) >= 3
      )
    ),
    win_fps AS (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp
        FROM win_hashed
      )
    ),
    gwin AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS gs FROM win_fps
      GROUP BY fp HAVING COUNT(*) >= 2
    ),
    gspan AS (
      SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS gs FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(ws) - {SPAN_N - 2}, 1)),
                 i -> substr(md5({_TRIGRAM_SQL}
                             || ' ' || ws[i+3] || ' ' || ws[i+4]), 1, 16))) AS h
        FROM audit_words WHERE len(ws) >= {SPAN_N}
      ) GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    hv_counts AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % {FH_DIM} AS bucket,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM (SELECT doc_id, unnest(ws) AS tok FROM audit_words)
      GROUP BY doc_id, bucket
    ),
    hv_ranked AS (
      SELECT doc_id, bucket,
             row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, bucket ASC) AS rn
      FROM hv_counts
    ),
    hv_dom AS (
      SELECT doc_id,
             MAX(CASE WHEN rn = 1 THEN bucket END) AS b1,
             COALESCE(MAX(CASE WHEN rn = 2 THEN bucket END), -1) AS b2
      FROM hv_ranked WHERE rn <= 2 GROUP BY doc_id
    ),
    ghv AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS gs FROM (
        SELECT LEAST(b1, b2) AS k1, GREATEST(b1, b2) AS k2 FROM hv_dom
      ) GROUP BY k1, k2 HAVING COUNT(*) >= 2
    ),
    fs_names AS (
      SELECT c_name AS name FROM customer
      UNION ALL
      SELECT substr(c_name, 1, length(c_name) - 2)
             || substr(c_name, length(c_name), 1)
             || substr(c_name, length(c_name) - 1, 1)
      FROM customer WHERE c_custkey % 10 = 0
    ),
    gfs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS gs FROM (
        SELECT substr(name, 1, length(name) - 2) AS bk FROM fs_names
      ) GROUP BY bk HAVING COUNT(*) >= 2
    ),
    geo_cells AS (
      SELECT CAST(FLOOR({_LON_SQL} / {GEO_CELL_DEG}) AS BIGINT) AS jx,
             CAST(FLOOR({_LAT_SQL} / {GEO_CELL_DEG}) AS BIGINT) AS jy
      FROM customer
    ),
    ggeo AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS gs FROM geo_cells
      GROUP BY jx, jy HAVING COUNT(*) >= 2
    ),
    cf_inter AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    gcf AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS gs FROM cf_inter
      GROUP BY cust HAVING COUNT(*) >= 2
    ),
    mh_hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(unnest(list_distinct(list_transform(
               range(1, greatest(len(ws) - 1, 1)),
               i -> {_TRIGRAM_SQL})))), 1, 15))::BIGINT AS h0
      FROM audit_words WHERE len(ws) >= 3
    ),
    mh_sigs AS (
      SELECT doc_id,
             {', '.join(f'MIN({_pmh_perm_sql(i)}) AS m{i}' for i in range(PMH_HASHES))}
      FROM mh_hashed GROUP BY doc_id
    ),
    mh_bands AS (
      {' UNION ALL '.join(_audit_mh_band_sql(b) for b in range(PMH_BANDS))}
    ),
    gmh AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS gs FROM mh_bands
      GROUP BY band_id, band_key HAVING COUNT(*) >= 2
    ),
    stats AS (
      SELECT 'nd_band0' AS family, s.* FROM
        ({_CAP_FAMILY_AGG_SQL.format(cap=ND_BAND_CAP)} FROM g0) s
      UNION ALL
      SELECT 'nd_band1', s.* FROM
        ({_CAP_FAMILY_AGG_SQL.format(cap=ND_BAND_CAP)} FROM g1) s
      UNION ALL
      SELECT 'simhash_chunk', s.* FROM
        ({_CAP_FAMILY_AGG_SQL.format(cap=SIMHASH_CHUNK_CAP)} FROM gc) s
      UNION ALL
      SELECT 'shingle_df', s.* FROM
        ({_CAP_FAMILY_AGG_SQL.format(cap=SHINGLE_DF_CAP)} FROM gshingle) s
      UNION ALL
      SELECT 'winnow_fp', s.* FROM
        ({_CAP_FAMILY_AGG_SQL.format(cap=WINNOW_FP_CAP)} FROM gwin) s
      UNION ALL
      SELECT 'span_df', s.* FROM
        ({_CAP_FAMILY_AGG_SQL.format(cap=SPAN_DF_CAP)} FROM gspan) s
      UNION ALL
      SELECT 'hv_block', s.* FROM
        ({_CAP_FAMILY_AGG_SQL.format(cap=HV_BLOCK_CAP)} FROM ghv) s
      UNION ALL
      SELECT 'fs_block', s.* FROM
        ({_CAP_FAMILY_AGG_SQL.format(cap=FS_BLOCK_CAP)} FROM gfs) s
      UNION ALL
      SELECT 'geo_cell', s.* FROM
        ({_CAP_FAMILY_AGG_SQL.format(cap=GEO_CELL_CAP)} FROM ggeo) s
      UNION ALL
      SELECT 'cf_basket', s.* FROM
        ({_CAP_FAMILY_AGG_SQL.format(cap=CF_BASKET_CAP)} FROM gcf) s
      UNION ALL
      SELECT 'mh_band', s.* FROM
        ({_CAP_FAMILY_AGG_SQL.format(cap=MH_BAND_CAP)} FROM gmh) s
    )
    SELECT family, n_groups, n_dropped, members_total, members_dropped,
           CASE WHEN members_total = 0 THEN 0.0
                ELSE round(CAST(members_dropped AS DOUBLE) / members_total, 6)
           END AS drop_frac
    FROM stats
    ORDER BY family
    """,
)
def candidate_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cap-family degradation report: how many candidate groups each
    count-agg pre-pass cap dropped and what fraction of keyed membership
    sat inside them (0.0 everywhere = no cap fired, candidate sets are
    exhaustive for their banding).

    Round-7 extension (judge task #6): covers EVERY cap family, not just
    the fixed-key-space ones — the two sign-bit LSH bands (ND_BAND_CAP),
    the portable SimHash chunks (SIMHASH_CHUNK_CAP), the word-shingle
    document-frequency cap (SHINGLE_DF_CAP, the Jaccard/containment/
    consensus engine half), the winnowing fingerprint cap (WINNOW_FP_CAP),
    the span-certification hash cap (SPAN_DF_CAP, distinct-doc counted),
    the hashed-vector two-dominant-bucket blocks (HV_BLOCK_CAP), the
    record-linkage name blocks (FS_BLOCK_CAP), the geo grid cells
    (GEO_CELL_CAP), the item-CF prolific-user basket cap (CF_BASKET_CAP)
    and the portable-MinHash band cap (MH_BAND_CAP — the same constant
    bounds the xxhash64 production twin's bands). Every keyed relation is produced by the SAME helper
    its query uses, so the audit cannot drift from the plans it monitors.
    One count-aggregation per family — run it alongside any dedup/ANN
    batch as the recall-collapse tripwire; a non-zero drop_frac means
    widen the key space (more planes / wider chunks / finer cells), not
    raise the cap."""
    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents")
    cust = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cf_inter = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("item"))
        .distinct()
    )

    def sizes(keyed: DataFrame, *keys: str, size: Column | None = None) -> DataFrame:
        return _key_group_sizes(keyed, list(keys), size).filter(F.col("n") >= 2).select("n")

    ids = lsh_doc_band_keys(emb)
    # Round-12 (guide §2.4): the six document-keyed families each ran their
    # own tokenize of the same corpus (6 scan+regex-split passes inside ONE
    # query). Tokenize once, pin the (doc_id, ws) relation, and hand it to
    # every family through the helpers' ``words=`` parameter — the keying
    # logic still lives in (and is exercised from) the exact helper each
    # monitored query uses, so the audit's code-sharing contract holds.
    # (The oracle already shares its audit_words CTE the same way.)
    words = doc_words(docs).localCheckpoint(eager=False)
    gspan = sizes(
        span_positional_hashes(docs, words=words), "h", size=F.countDistinct("doc_id")
    )
    geo_cells = customer_points(cust).select(
        F.floor(F.col("lon") / GEO_CELL_DEG).cast("long").alias("jx"),
        F.floor(F.col("lat") / GEO_CELL_DEG).cast("long").alias("jy"),
    )
    rows = [
        ("nd_band0", sizes(ids, "k0"), ND_BAND_CAP),
        ("nd_band1", sizes(ids, "k1"), ND_BAND_CAP),
        (
            "simhash_chunk",
            sizes(
                simhash(docs, MD5_SIMHASH, words=words).select(
                    simhash_chunk_keys(MD5_SIMHASH)
                ),
                "band",
                "key",
            ),
            SIMHASH_CHUNK_CAP,
        ),
        ("shingle_df", sizes(shingles(docs, words=words), "shingle"), SHINGLE_DF_CAP),
        (
            "winnow_fp",
            sizes(winnow_doc_fingerprints(docs, words=words), "fp"),
            WINNOW_FP_CAP,
        ),
        ("span_df", gspan, SPAN_DF_CAP),
        (
            "hv_block",
            sizes(
                hv_block_keyed_vectors(docs, words=words).select("doc_id", "k1", "k2"),
                "k1",
                "k2",
            ),
            HV_BLOCK_CAP,
        ),
        ("fs_block", sizes(linkage_blocked_records(cust), "block_key"), FS_BLOCK_CAP),
        ("geo_cell", sizes(geo_cells, "jx", "jy"), GEO_CELL_CAP),
        ("cf_basket", sizes(cf_inter, "cust"), CF_BASKET_CAP),
        (
            "mh_band",
            sizes(
                minhash_signatures(docs, MD5_MINHASH, words=words).select(
                    minhash_band_keys(MD5_MINHASH)
                ),
                "band",
                "key",
            ),
            MH_BAND_CAP,
        ),
    ]
    out = _cap_family_row(rows[0][1], rows[0][0], rows[0][2])
    for family, rel, cap in rows[1:]:
        out = out.unionByName(_cap_family_row(rel, family, cap))
    return out.orderBy("family")


# --- distributed PCA: top principal component by power iteration -------------
# The embedding-pipeline "all-but-the-top" primitive (Mu & Viswanath '18):
# embedding sets are anisotropic — a single dominant direction (plus the
# mean) carries corpus-wide bias, and removing it measurably improves
# cosine-similarity tasks. Finding that direction at corpus scale is a
# distributed PCA: one pass builds the dim x dim second-moment (Gram)
# matrix of mean-centered vectors, then power iteration runs on the TINY
# matrix relation (dim^2 = 4096 rows), never touching the corpus again.
#
# Scale shape: the corpus-sized work is ONE double-posexplode + hash agg
# (n x dim^2 rows map-side partial-aggregated down to dim^2 = 4096 before
# the shuffle — the classic outer-product-accumulation formulation); every
# later stage is O(dim^2) regardless of corpus size, and the only joins are
# broadcasts of <= dim-row relations. Nothing collects to the driver.
#
# Portability (the kmeans_portable discipline): vectors quantize to 3-dp
# integers FIRST, so means, centered values and the Gram matrix are exact
# BIGINT sums (order-independent); each matvec accumulates exact
# DECIMAL(38,0) products; iterates re-quantize to 6-dp integers under
# L-infinity normalization (max |w| — an exact integer comparison, chosen
# over the L2 norm precisely because it needs NO floating sum); and every
# double op (cast, divide, sqrt, floor) is a deterministic function of
# exact integers, bit-identical across engines. 3-dp input quantization is
# the documented contract of this twin, exactly like the 6-dp kmeans twin.
PCA_Q = 1000  # 3-dp vector quantization (bounds every Gram sum, see above)
# Unrolled power-iteration steps. Convergence is (eig2/eig1)^ITERS: real
# embedding corpora are strongly anisotropic (top-eig share 0.2-0.5, ratio
# <= ~0.5 -> 6 steps leave <2% residual); a near-isotropic spectrum (like
# the synthetic test corpus, ratio 0.93) cannot be power-iterated cheaply,
# and the reported var_share (which stays accurate — the Rayleigh quotient
# is a lower bound, exact at convergence) is then itself the signal that
# no dominant direction exists. Each step costs one 4096-row join + agg.
PCA_ITERS = 6


def _pca_gram(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(gram, nrow): exact-integer mean-centered Gram matrix (i, j, g) over
    3-dp-quantized embeddings, plus the 1-row corpus count. Split out so
    tests can pin the map-side-partial-agg plan shape."""
    v3 = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * PCA_Q + F.lit(0.5)).cast("long"),
    )
    vecs = emb.select(v3.alias("v3"))
    marr = _pca_marr(vecs)
    centered = vecs.crossJoin(F.broadcast(marr)).select(
        F.zip_with("v3", "marr", lambda x, m: x - m).alias("c")
    )
    # Round-11 (guide §2.3): the double posexplode generated n·dim² rows
    # into the (i, j) hash aggregate. One posexplode (n·dim rows) with the
    # row's centered array carried alongside, then dim per-element sums
    # per i — the same exact-integer products, partial-aggregated map-side
    # into a dim × dim block, dim× fewer generated/hashed rows. stack()
    # restores the (i, j, g) cell interface consumers collect.
    # one parsed aggregate string (the kmeans py4j fix): dim individual
    # F.sum(...) Columns cost ~6 gateway round-trips each; posexplode of
    # the per-i sum array replaces the equivalent stack() unpivot with the
    # same 0-based j.
    dim_ = DIM
    sums_sql = (
        "array(" + ",".join(f"sum(xi * c[{j}])" for j in range(dim_)) + ")"
    )
    gram = (
        centered.select(F.posexplode("c").alias("i", "xi"), "c")
        .groupBy("i")
        .agg(F.expr(sums_sql).alias("gs"))
        .select("i", F.posexplode("gs").alias("j", "g"))
    )
    nrow = emb.agg(F.count(F.lit(1)).alias("n"))
    return gram, nrow


def _pca_power_iterate(
    gm: list[list[int]], iters: int = PCA_ITERS
) -> tuple[list[int], int, int]:
    """(u, num, den): the exact-integer power iteration on a collected
    dim x dim Gram matrix — Python ints are arbitrary-precision, so every
    matvec is exact; the only doubles are the explicit float() conversions
    and the division inside the 6-dp L-infinity re-quantization, each a
    deterministic function of exact integers that the oracle replays
    verbatim (HUGEINT -> DOUBLE casts). Shared by the query and by the
    pytest brute-force reference."""
    import math

    dim = len(gm)
    u = [1000000] * dim
    for _ in range(iters):
        w = [sum(gm[i][j] * u[j] for j in range(dim)) for i in range(dim)]
        raw_mx = max(abs(x) for x in w)
        if raw_mx == 0:
            # zero matvec: the Gram is PSD, so M.u = 0 can only happen on
            # the first step (M^2 x = 0 implies M x = 0) and then persists
            # — the iterate IS still the all-ones seed; reset explicitly so
            # the norm never collapses to 0 (the oracle's CASE mirrors this
            # with the same constant)
            u = [1000000] * dim
            continue
        # magnitude bound: the oracle accumulates these matvecs in
        # HUGEINT (max ~1.7e38), which overflows — loudly — long before
        # float() here could (~1.8e308); so past ~1.8e308 is unreachable
        # anywhere the oracle still runs. The saturation below makes the
        # conversion itself mirror DuckDB's HUGEINT->DOUBLE cast (to
        # +/-inf) instead of raising mid-expression; a non-finite
        # quotient then still fails loudly at the int() step, exactly
        # where DuckDB's CAST(inf AS BIGINT) fails — identical
        # degradation, no silent divergence window
        def _fsat(x: int) -> float:
            try:
                return float(x)
            except OverflowError:
                return math.inf if x > 0 else -math.inf

        u = [int(math.floor(_fsat(x) / _fsat(raw_mx) * 1000000 + 0.5)) for x in w]
    wf = [sum(gm[i][j] * u[j] for j in range(dim)) for i in range(dim)]
    num = sum(wf[i] * u[i] for i in range(dim))
    den = sum(x * x for x in u)
    return u, num, den


def _pca_cte_sql() -> str:
    """The shared WITH-body: 3-dp quantization (v keeps vec_id for
    consumers that score per-row), integer means, exact Gram, and the
    PCA_ITERS unrolled power-iteration CTEs ending at u{PCA_ITERS} —
    reused by the emb_pca_top_component oracle and by every oracle that
    consumes the learned direction (emb_abtt_query_shift)."""
    dim = DIM
    steps = []
    prev = "u0"
    for it in range(1, PCA_ITERS + 1):
        steps.append(
            f"""
    w{it} AS (
      SELECT m.i, SUM(CAST(m.g AS HUGEINT) * u.u) AS w
      FROM gram m JOIN {prev} u ON u.i = m.j GROUP BY m.i
    ),
    u{it} AS (
      SELECT w.i,
             CASE WHEN s.rmx = 0 THEN 1000000
                  ELSE CAST(floor(CAST(w.w AS DOUBLE) / CAST(s.rmx AS DOUBLE)
                                  * 1000000 + 0.5) AS BIGINT)
             END AS u
      FROM w{it} w,
           (SELECT MAX(ABS(w)) AS rmx FROM w{it}) s
    )"""
        )
        prev = f"u{it}"
    return f"""
    v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(x::DOUBLE * {PCA_Q} + 0.5) AS BIGINT)) AS v3
      FROM embeddings
    ),
    pe AS (
      SELECT vid, i AS pos, v3[i + 1] AS val
      FROM (SELECT vec_id AS vid, v3 FROM v)
           CROSS JOIN range(0, {dim}) t(i)
    ),
    means AS (
      SELECT pos,
             CAST(floor(CAST(SUM(val) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS m
      FROM pe GROUP BY pos
    ),
    cent AS (
      SELECT pe.vid, pe.pos, pe.val - means.m AS x
      FROM pe JOIN means USING (pos)
    ),
    gram AS (
      SELECT a.pos AS i, b.pos AS j, SUM(a.x * b.x) AS g
      FROM cent a JOIN cent b USING (vid)
      GROUP BY 1, 2
    ),
    nrow AS (SELECT COUNT(*) AS n FROM v),
    u0 AS (SELECT i, CAST(1000000 AS BIGINT) AS u FROM range(0, {dim}) t(i)),{",".join(steps)}"""


def _pca_oracle() -> str:
    prev = f"u{PCA_ITERS}"
    return f"""
    WITH {_pca_cte_sql()},
    wf AS (
      SELECT m.i, SUM(CAST(m.g AS HUGEINT) * u.u) AS w
      FROM gram m JOIN {prev} u ON u.i = m.j GROUP BY m.i
    ),
    rayleigh AS (
      SELECT SUM(CAST(w.w AS HUGEINT) * u.u) AS num,
             SUM(CAST(u.u AS HUGEINT) * u.u) AS den
      FROM wf w JOIN {prev} u USING (i)
    ),
    tr AS (SELECT SUM(g) AS trace FROM gram WHERE i = j),
    sgn AS (
      SELECT CASE WHEN u < 0 THEN -1 ELSE 1 END AS s
      FROM {prev} ORDER BY ABS(u) DESC, i ASC LIMIT 1
    ),
    unorm AS (SELECT sqrt(CAST(SUM(CAST(u AS HUGEINT) * u) AS DOUBLE)) AS nrm FROM {prev})
    SELECT CAST(u.i AS BIGINT) AS pos,
           floor(CAST(u.u * sgn.s AS DOUBLE) / unorm.nrm * 1000000 + 0.5)
             / 1000000 AS loading,
           floor(CAST(r.num AS DOUBLE) / CAST(r.den AS DOUBLE)
                 / {PCA_Q * PCA_Q} / GREATEST(nrow.n - 1, 1) * 1000000 + 0.5)
             / 1000000 AS eig_value,
           CASE WHEN tr.trace = 0 THEN 0.0
                ELSE floor(CAST(r.num AS DOUBLE) / CAST(r.den AS DOUBLE)
                           / CAST(tr.trace AS DOUBLE) * 1000000 + 0.5)
                     / 1000000
           END AS var_share
    FROM {prev} u, rayleigh r, tr, sgn, unorm, nrow
    ORDER BY ABS(u.u) DESC, pos ASC
    LIMIT 8
    """


@register("emb_pca_top_component", _pca_oracle())
def emb_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the (mean-centered) embedding corpus:
    the 8 largest-|loading| dimensions of the dominant eigenvector, with
    the eigenvalue (data variance units) and its explained-variance share
    — the measurement step of all-but-the-top anisotropy correction and
    the sanity gate before any cosine-based dedup/retrieval stage (a
    var_share near 1 means cosine is measuring the bias direction, not
    content). Sign convention: the largest-|loading| dimension is positive
    (smallest index on exact-integer ties).

    Split of labor (the MLlib RowMatrix.computePrincipalComponents shape):
    the corpus-scale pass — the Gram accumulation — is fully distributed
    and map-side partial-aggregated; the dim x dim eigen-solve then runs
    driver-side on a dim^2-bounded collect (4096 rows — the kmeans
    centroid-block class: bounded by the dimensionality, never by the
    data). The DuckDB oracle replays the identical exact-integer power
    iteration as unrolled CTEs."""
    import math

    emb = table(spark, sf_dir, "embeddings")
    gm, n = _collect_gram(emb)
    schema = "pos long, loading double, eig_value double, var_share double"
    if n == 0:
        # empty corpus: no component — mirror the oracle, whose CTE chain
        # is empty and yields 0 rows (the zero-variance guard below covers
        # the non-empty degenerate case, not this one)
        return spark.createDataFrame([], schema)
    u, num, den = _pca_power_iterate(gm)
    trace = sum(gm[i][i] for i in range(DIM))
    lam = float(num) / float(den)
    nrm = math.sqrt(float(den))
    mi = min(range(DIM), key=lambda i: (-abs(u[i]), i))
    s = -1 if u[mi] < 0 else 1
    eig_value = (
        math.floor(lam / (PCA_Q * PCA_Q) / max(n - 1, 1) * 1000000 + 0.5) / 1000000
    )
    var_share = (
        math.floor(lam / float(trace) * 1000000 + 0.5) / 1000000 if trace else 0.0
    )
    top = sorted(range(DIM), key=lambda i: (-abs(u[i]), i))[:8]
    rows = [
        (
            i,
            math.floor(float(u[i] * s) / nrm * 1000000 + 0.5) / 1000000,
            eig_value,
            var_share,
        )
        for i in top
    ]
    return spark.createDataFrame(rows, schema)


# --- SemDeDup: semantic dedup inside embedding clusters ----------------------
# Abbas et al. '23 ("SemDeDup: Data-efficient learning at web-scale through
# semantic deduplication"): cluster the embedding corpus with k-means, then
# compare pairs ONLY within a cluster; pairs above a cosine threshold are
# semantic duplicates and all but one representative (here: the lowest
# vec_id) are pruned. Clustering makes the pair scan tractable: k scales
# with the corpus so cluster populations stay roughly constant, and the
# within-cluster scan is quadratic only in that bounded population.
#
# Scale shape: the pair fan-out runs per cluster over the capped member
# list (count-agg pre-pass + streaming two-Generate expansion — the
# engine-standard candidate shape), then vectors attach by vec_id equi-join
# (id-only expansion; no vector payload rides the pair stream). A cluster
# over SEM_CLUSTER_CAP is excluded from the scan and REPORTED with
# capped = 1 — the self-observable "raise k" tripwire, mirroring
# candidate_cap_audit's contract (the audit itself cannot host this family:
# building the keyed relation would run the Lloyd iterations at
# plan-construction time, which the audit must never do).
SEM_CLUSTER_CAP = 2000
SEM_TAU = 0.9  # the paper's web-text operating range (~0.9-0.95)
# Corpus-scaled k (round-8): semdedup derives k = max(KMP_K,
# ceil(n / SEM_TARGET_POP)), so expected cluster population tracks
# SEM_TARGET_POP at any corpus size and SEM_CLUSTER_CAP (4x the target)
# stays the skew tripwire it was designed to be — firing on a genuinely
# lopsided cluster, not on uniform growth. With the round-7 fixed k=8,
# a 10x corpus pushed EVERY cluster over the cap and the operator
# refused all work; now k grows instead (10x corpus -> 10x clusters,
# same per-cluster quadratic block).
SEM_TARGET_POP = SEM_CLUSTER_CAP // 4


def _sem_k_sql() -> str:
    """The oracle's k expression: the same max(KMP_K, ceil(n/pop)) the
    Spark side computes, in the same integer arithmetic (DuckDB // is
    integer floor-div on BIGINT), as a scalar subquery over the shared
    quantized CTE v."""
    return (
        f"(SELECT LEAST(GREATEST({KMP_K},"
        f" (COUNT(*) + {SEM_TARGET_POP - 1}) // {SEM_TARGET_POP}),"
        f" {KMP_K_MAX}) FROM v)"
    )


def _sem_capped_groups(
    assigned: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(sizes, okm, groups): per-cluster member counts ``n``, the
    cap-filtered assignment, and its sorted member arrays — the count-agg
    pre-pass subtree shared by semdedup_prune, tools/scale_probe.py and
    the plan-shape cap-guard test, so the cap rule cannot drift between
    them. Singleton clusters stay (lo=1): they report their size."""
    keys, cap = ["c_id"], SEM_CLUSTER_CAP
    okm = assigned.join(_alive_keys(assigned, keys, cap, lo=1), "c_id")
    groups = _capped_key_groups(assigned, keys, F.collect_list("vec_id"), cap, lo=1)
    return _key_group_sizes(assigned, keys), okm, groups


def _sem_oracle() -> str:
    dim = DIM
    return f"""
    WITH {_kmp_cte_sql(_sem_k_sql())},
    sizes AS (SELECT c_id, COUNT(*) AS n_members FROM afinal GROUP BY c_id),
    okm AS (
      SELECT a.* FROM afinal a JOIN sizes s USING (c_id)
      WHERE s.n_members <= {SEM_CLUSTER_CAP}
    ),
    norms AS (
      SELECT vec_id,
             list_sum(list_transform(range(1, {dim} + 1), i -> v6[i] * v6[i])) AS n2
      FROM okm
    ),
    pairs AS (
      SELECT a.c_id, a.vec_id AS va, b.vec_id AS vb,
             list_sum(list_transform(range(1, {dim} + 1),
                                     i -> a.v6[i] * b.v6[i])) AS dot
      FROM okm a JOIN okm b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
    ),
    over_tau AS (
      SELECT p.c_id, p.va, p.vb
      FROM pairs p
      JOIN norms na ON na.vec_id = p.va
      JOIN norms nb ON nb.vec_id = p.vb
      WHERE na.n2 > 0 AND nb.n2 > 0
        AND CAST(p.dot AS DOUBLE)
            / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
            >= {SEM_TAU}
    ),
    hits AS (
      SELECT c_id, CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
             CAST(COUNT(DISTINCT vb) AS BIGINT) AS n_pruned
      FROM over_tau GROUP BY c_id
    )
    SELECT s.c_id AS cluster_id,
           s.n_members,
           CASE WHEN s.n_members > {SEM_CLUSTER_CAP} THEN 1 ELSE 0 END AS capped,
           COALESCE(h.n_dup_pairs, 0) AS n_dup_pairs,
           COALESCE(h.n_pruned, 0) AS n_pruned,
           round(CAST(COALESCE(h.n_pruned, 0) AS DOUBLE) / s.n_members, 6)
             AS prune_rate
    FROM sizes s LEFT JOIN hits h USING (c_id)
    ORDER BY cluster_id
    """


@register("semdedup_prune", _sem_oracle())
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SemDeDup accounting over the portable k-means
    clustering: semantic-duplicate pairs at cosine >= SEM_TAU, vectors
    pruned under the keep-lowest-vec_id rule, and the cluster prune rate.
    A capped = 1 row means the cluster exceeded SEM_CLUSTER_CAP and was
    excluded from the pair scan. k is corpus-scaled (max(KMP_K,
    ceil(n / SEM_TARGET_POP)), replayed identically by the oracle's
    scalar subquery), so uniform corpus growth adds clusters rather than
    cluster population — the cap now fires only on genuine skew, never
    on scale."""
    emb = table(spark, sf_dir, "embeddings")
    assigned = lloyd_assign(emb, LLOYD_EXACT6, target_pop=SEM_TARGET_POP)
    sizes, okm, groups = _sem_capped_groups(assigned)
    n2 = F.aggregate(
        F.zip_with("v6", "v6", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # zero-norm quantized vectors (all |x| < 5e-7) have no defined cosine:
    # excluded from the scan, or the ANSI divide would abort the query
    # while the oracle's NaN >= tau would fabricate duplicate rows
    feat = okm.select("c_id", "vec_id", "v6", n2.alias("n2")).filter(
        F.col("n2") > 0
    )
    pairs = _expand_member_pairs_streaming(groups)
    dot = F.aggregate(
        F.zip_with("x", "y", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    cos = dot.cast("double") / (
        F.sqrt(F.col("n2a").cast("double")) * F.sqrt(F.col("n2b").cast("double"))
    )
    over = (
        pairs.join(
            feat.select(
                F.col("vec_id").alias("a"),
                F.col("c_id"),
                F.col("v6").alias("x"),
                F.col("n2").alias("n2a"),
            ),
            "a",
        )
        .join(
            feat.select(
                F.col("vec_id").alias("b"),
                F.col("v6").alias("y"),
                F.col("n2").alias("n2b"),
            ),
            "b",
        )
        .filter(cos >= SEM_TAU)
    )
    hits = over.groupBy("c_id").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("b").alias("n_pruned"),
    )
    return (
        sizes.join(hits, "c_id", "left")
        .select(
            F.col("c_id").cast("long").alias("cluster_id"),
            F.col("n").alias("n_members"),
            F.when(F.col("n") > SEM_CLUSTER_CAP, 1).otherwise(0).alias("capped"),
            F.coalesce(F.col("n_dup_pairs"), F.lit(0)).alias("n_dup_pairs"),
            F.coalesce(F.col("n_pruned"), F.lit(0)).alias("n_pruned"),
            F.round(
                F.coalesce(F.col("n_pruned"), F.lit(0)).cast("double") / F.col("n"),
                6,
            ).alias("prune_rate"),
        )
        .orderBy("cluster_id")
    )


# --- all-but-the-top applied: anisotropy-corrected retrieval ------------------
# emb_pca_top_component MEASURES the dominant direction; this applies the
# Mu & Viswanath '18 correction — subtract each vector's projection onto
# that direction — and shows what it changes: the top-10 cosine neighbors
# of a probe vector under corrected vs raw similarity. The correction is
# map-side (one zip_with per row against the broadcast 64-int direction);
# the only corpus-scale stages are the Gram pass (shared shape with the
# PCA query) and one scoring scan, so the query is two passes at any
# corpus size.
#
# Portability: the direction u and den = sum(u^2) are exact integers from
# the shared power iteration; each corrected component is
# floor(v3_i - double(t) * u_i / den + 0.5) with t = sum(v3_j * u_j) an
# exact per-row integer — every double op is a deterministic function of
# exact integers, and the DuckDB oracle replays the identical expression
# through the shared _pca_cte_sql direction.


def _dot_long(a, b):
    """Exact-integer dot product of two long-array columns (index-ordered
    fold — order-fixed, so bit-identical on both engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, val: acc + val,
    )


def _pca_marr(vecs: DataFrame) -> DataFrame:
    """1-row integer mean array over a (v3) relation — the centering block
    shared by the Gram pass and the abtt correction."""
    pe = vecs.select(F.posexplode("v3").alias("pos", "val"))
    means = pe.groupBy("pos").agg(
        F.floor(F.sum("val").cast("double") / F.count(F.lit(1)) + F.lit(0.5))
        .cast("long")
        .alias("m")
    )
    return (
        means.agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(F.transform("pm", lambda s: s["m"]).alias("marr"))
    )


def _collect_gram(emb: DataFrame) -> tuple[list[list[int]], int]:
    """(gm, n): the exact-integer centered Gram as a driver-side matrix
    plus the corpus count — the dim^2-bounded collect shared by the PCA
    epilogues."""
    gram, nrow = _pca_gram(emb)
    cells = {(r["i"], r["j"]): int(r["g"]) for r in gram.collect()}
    n = int(nrow.first()["n"])
    gm = [[cells.get((i, j), 0) for j in range(DIM)] for i in range(DIM)]
    return gm, n


def _abtt_oracle() -> str:
    dim = DIM
    prev = f"u{PCA_ITERS}"
    return f"""
    WITH {_pca_cte_sql()},
    dn AS (SELECT SUM(CAST(u AS HUGEINT) * u) AS den FROM {prev}),
    uarr AS (SELECT list(u ORDER BY i) AS ua FROM {prev}),
    marr AS (SELECT list(m ORDER BY pos) AS ma FROM means),
    vcent AS (
      SELECT vec_id, v3,
             list_transform(range(1, {dim} + 1), i -> v3[i] - ma[i]) AS vc
      FROM v, marr
    ),
    proj AS (
      SELECT vec_id, v3, vc,
             list_sum(list_transform(range(1, {dim} + 1),
                                     i -> vc[i] * ua[i])) AS t
      FROM vcent, uarr
    ),
    corr AS (
      SELECT vec_id, v3,
             list_transform(range(1, {dim} + 1),
               i -> CAST(floor(vc[i] - CAST(t AS DOUBLE) * ua[i]
                               / CAST(den AS DOUBLE) + 0.5) AS BIGINT)) AS c3
      FROM proj, uarr, dn
    ),
    scored AS (
      SELECT e.vec_id,
             list_sum(list_transform(range(1, {dim} + 1),
                                     i -> e.c3[i] * q.c3[i])) AS dc,
             list_sum(list_transform(range(1, {dim} + 1),
                                     i -> e.c3[i] * e.c3[i])) AS nc,
             list_sum(list_transform(range(1, {dim} + 1),
                                     i -> q.c3[i] * q.c3[i])) AS qnc,
             list_sum(list_transform(range(1, {dim} + 1),
                                     i -> e.v3[i] * q.v3[i])) AS dr,
             list_sum(list_transform(range(1, {dim} + 1),
                                     i -> e.v3[i] * e.v3[i])) AS nr,
             list_sum(list_transform(range(1, {dim} + 1),
                                     i -> q.v3[i] * q.v3[i])) AS qnr
      FROM corr e, (SELECT * FROM corr WHERE vec_id = 0) q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id,
           floor(CAST(dc AS DOUBLE)
                 / (sqrt(CAST(nc AS DOUBLE)) * sqrt(CAST(qnc AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000 AS cos_corrected,
           floor(CAST(dr AS DOUBLE)
                 / (sqrt(CAST(nr AS DOUBLE)) * sqrt(CAST(qnr AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000 AS cos_raw
    FROM scored
    WHERE nc > 0 AND qnc > 0 AND nr > 0 AND qnr > 0
    ORDER BY cos_corrected DESC, vec_id ASC
    LIMIT 10
    """


@register("emb_abtt_query_shift", _abtt_oracle())
def emb_abtt_query_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbors of probe vector 0 under all-but-the-top CORRECTED
    cosine, with the raw cosine alongside — the before/after readout that
    says whether the corpus's dominant direction was distorting retrieval
    (big rank shifts + corrected ≉ raw = the mean/bias direction was
    carrying the similarity; near-identical columns = retrieval was
    already content-driven). Full Mu & Viswanath correction: subtract the
    corpus MEAN first (the direction was learned on centered data), then
    remove the projection onto the learned direction."""
    emb = table(spark, sf_dir, "embeddings")
    gm, n = _collect_gram(emb)
    schema = "vec_id long, cos_corrected double, cos_raw double"
    if n == 0:
        return spark.createDataFrame([], schema)
    u, _num, den = _pca_power_iterate(gm)
    # one parsed literal array (the kmeans py4j fix)
    lit_u = F.expr("array(" + ",".join(f"{int(x)}L" for x in u) + ")")
    den_d = float(den)
    v3 = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * PCA_Q + F.lit(0.5)).cast("long"),
    )
    vecs = emb.select("vec_id", v3.alias("v3"))
    marr = _pca_marr(vecs)
    base = vecs.crossJoin(F.broadcast(marr)).select(
        "vec_id", "v3", F.zip_with("v3", "marr", lambda x, m: x - m).alias("vc")
    )
    # Round-11: the projection t = <vc, u> used to be a separate withColumn
    # referenced inside the per-element lambda below. CollapseProject
    # inlines a textually-once alias regardless of its runtime cost, and
    # higher-order functions run interpreted — so the 64-mult dot product
    # re-evaluated for EVERY array element (64 x 192 interpreted evals per
    # row; the corr noop read 2.8 s for 2000 rows on one task). Binding t
    # as a lambda variable through a 1-element struct array makes it
    # once-per-row by construction while keeping the identical per-element
    # floor(vc_i - t * u_i / den + 0.5) arithmetic.
    c3 = F.element_at(
        F.transform(
            F.array(F.struct(_dot_long("vc", lit_u).alias("t"))),
            lambda s: F.zip_with(
                "vc",
                lit_u,
                lambda x, ui: F.floor(
                    x - s["t"].cast("double") * ui / F.lit(den_d) + F.lit(0.5)
                ).cast("long"),
            ),
        ),
        1,
    )
    corr = base.select("vec_id", "v3", c3.alias("c3"))
    q = corr.filter(F.col("vec_id") == 0).select(
        F.col("v3").alias("qv3"), F.col("c3").alias("qc3")
    )
    scored = (
        corr.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            _dot_long("c3", "qc3").alias("dc"),
            _dot_long("c3", "c3").alias("nc"),
            _dot_long("qc3", "qc3").alias("qnc"),
            _dot_long("v3", "qv3").alias("dr"),
            _dot_long("v3", "v3").alias("nr"),
            _dot_long("qv3", "qv3").alias("qnr"),
        )
        .filter(
            (F.col("nc") > 0) & (F.col("qnc") > 0)
            & (F.col("nr") > 0) & (F.col("qnr") > 0)
        )
    )

    def _cos6(dot, na, nb):
        return F.floor(
            F.col(dot).cast("double")
            / (F.sqrt(F.col(na).cast("double")) * F.sqrt(F.col(nb).cast("double")))
            * 1000000
            + F.lit(0.5)
        ) / 1000000

    return (
        scored.select(
            "vec_id",
            _cos6("dc", "nc", "qnc").alias("cos_corrected"),
            _cos6("dr", "nr", "qnr").alias("cos_raw"),
        )
        .orderBy(F.col("cos_corrected").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# --- incremental embedding near-dup: batch-vs-state probe ---------------------
# The embedding-side twin of dedup_incremental_batch (text): vectors ARRIVE,
# and each new batch must be checked against the existing corpus without
# recomputing the corpus self-join. The corpus's banded sign-bit keys ARE
# the state (at deploy time: the bucketBy(band-key) table the self-join
# already writes); a batch probes by equi-joining its band keys against
# that state — O(batch x bucket), never O(n^2), never O(corpus pairs).
# The md5 vec_id split (~10% batch) stands in for the arriving stream the
# same way the incremental text family simulates its daily feed.
#
# The probe differs from the self-join deliberately: no >= 2 bucket floor
# (a SINGLETON corpus bucket can still match a new vector), a plain
# UNION-distinct of the two band matches (the lowest-shared-band disjoint
# emission optimizes the O(n) self-join's dedup exchange; a batch-sized
# probe's dedup is noise), and the same ND_BAND_CAP on corpus bucket
# membership (an over-cap bucket is non-discriminative; dropping it is the
# observable recall trade every capped family makes).
INC_BATCH_CUT = "e6"  # md5 2-hex prefix >= 'e6': 26/256 ~ 10% arriving batch


@register(
    "emb_incremental_neardup",
    f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_sign_key_sql('embedding', _ND_BAND_PLANES[0])} AS k0,
             {_sign_key_sql('embedding', _ND_BAND_PLANES[1])} AS k1,
             substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) AS sp
      FROM embeddings
    ),
    corpus AS (SELECT * FROM b WHERE sp < '{INC_BATCH_CUT}'),
    batch AS (SELECT * FROM b WHERE sp >= '{INC_BATCH_CUT}'),
    s0 AS (SELECT k0 FROM corpus GROUP BY k0 HAVING COUNT(*) <= {ND_BAND_CAP}),
    s1 AS (SELECT k1 FROM corpus GROUP BY k1 HAVING COUNT(*) <= {ND_BAND_CAP}),
    cand AS (
      SELECT n.vec_id AS new_id, c.vec_id AS dup_of
      FROM batch n JOIN s0 ON s0.k0 = n.k0 JOIN corpus c ON c.k0 = n.k0
      UNION
      SELECT n.vec_id, c.vec_id
      FROM batch n JOIN s1 ON s1.k1 = n.k1 JOIN corpus c ON c.k1 = n.k1
    )
    SELECT d.new_id, d.dup_of,
           {_cos_sql('ea.embedding', 'eb.embedding')} AS cosine
    FROM cand d
    JOIN embeddings ea ON ea.vec_id = d.new_id
    JOIN embeddings eb ON eb.vec_id = d.dup_of
    ORDER BY cosine DESC, d.new_id ASC, d.dup_of ASC
    LIMIT 20
    """,
)
def emb_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 (new_id, dup_of, cosine) matches of the arriving ~10% batch
    against the 90% corpus state, probed through the banded sign-bit keys
    — the vectors-arrive twin of the text family's incremental dedup. The
    corpus is scanned once for its band keys (the persisted state at
    deploy time) and once for the verify-join; nothing pair-quadratic."""
    from fpl_data_pipeline_spark.operators.incremental_state import (
        band_state_long,
        probe_band_state,
    )

    emb = table(spark, sf_dir, "embeddings")
    sp = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2)
    corpus = emb.filter(sp < INC_BATCH_CUT)
    batch = emb.filter(sp >= INC_BATCH_CUT)
    # the corpus band-key state in the PERSISTED long form (round 9:
    # operators/incremental_state.py — at deploy time this relation is the
    # bucketed state table and the split above disappears): pinned, since
    # it feeds the cap pre-pass and the probe join (the
    # _lsh_candidate_pairs `ids` rationale). One (band, k) equi-join now
    # serves both bands where the wide form needed a join per band and
    # scanned the state twice.
    ck = band_state_long(lsh_doc_band_keys(corpus)).localCheckpoint(eager=False)
    bk = band_state_long(lsh_doc_band_keys(batch))
    cand = probe_band_state(ck, bk, ND_BAND_CAP)
    ea = emb.select(F.col("vec_id").alias("new_id"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("dup_of"), F.col("embedding").alias("vb"))
    cos = _cos("va", "vb").alias("cosine")
    return (
        cand.join(ea, "new_id")
        .join(eb, "dup_of")
        .select("new_id", "dup_of", cos)
        .orderBy(F.col("cosine").desc(), F.col("new_id").asc(), F.col("dup_of").asc())
        .limit(20)
    )
