"""Deterministic sampling, splitting, reshaping, and profiling operators for
the training-data pipeline track.

Random sampling (``df.sample``) is engine- and partition-order-dependent, so
none of it is reproducible across engines or cluster layouts. Every sampler
here derives its decision from a *content hash* (md5 of the stable key), which
makes the sample (a) deterministic, (b) identical on any engine that has md5
— hence fully oracle-checkable — and (c) stable under repartitioning, the
property a 100 TB pipeline actually needs (re-running a sample stage on a
re-bucketed copy of the corpus must select the same documents)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from fpl_data_pipeline_spark.operators.dedup import (
    _NORM_SQL,
    _norm_text,
    _norm_words,
)
from fpl_data_pipeline_spark.registry import register
from fpl_data_pipeline_spark.tables import table

LANGS = ("de", "en", "es", "fr", "zh")


def _bucket(col):
    """First two hex chars of md5(key) — a uniform 0..255 bucket, identical
    in every md5 implementation. Pure projection, codegen'd, no shuffle."""
    return F.substring(F.md5(col.cast("string")), 1, 2)


_BUCKET_SQL = "substr(md5(CAST({key} AS VARCHAR)), 1, 2)"


@register(
    "sample_hash_bucket",
    f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE {_BUCKET_SQL.format(key='doc_id')} < '20'
    """,
)
def sample_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~12.5% Bernoulli sample (md5 bucket < 0x20 = 32/256).
    Content-hash sampling is repartition-stable and join-stable: the same
    doc_id is always in or always out, so downstream joins between sampled
    tables stay consistent."""
    d = table(spark, sf_dir, "documents")
    return d.filter(_bucket(F.col("doc_id")) < "20").select("doc_id", "lang", "n_chars")


@register(
    "split_train_test",
    f"""
    SELECT CASE WHEN {_BUCKET_SQL.format(key='doc_id')} < 'cc' THEN 'train' ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) AS total_chars
    FROM documents
    GROUP BY 1
    """,
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/20 train/test split (bucket < 0xcc = 204/256). The
    split column is a pure projection — at 100 TB this is the write-side
    partition key (``partitionBy('split')``), so training reads never scan
    eval data."""
    d = table(spark, sf_dir, "documents")
    return (
        d.withColumn(
            "split",
            F.when(_bucket(F.col("doc_id")) < "cc", "train").otherwise("test"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double").alias("total_chars"),
        )
    )


@register(
    "stratified_sample_counts",
    f"""
    SELECT lang, COUNT(*) AS n_sampled
    FROM documents
    WHERE {_BUCKET_SQL.format(key='doc_id')} <
          CASE WHEN lang = 'en' THEN '20' ELSE '80' END
    GROUP BY lang
    """,
)
def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-class rate) deterministic sample: downsample the
    majority class (en at ~12.5%) while keeping half of every minority
    class (~50%) — the standard class-rebalancing step before training.
    Same single-scan projection + one count shuffle as any sampler here."""
    d = table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit("20")).otherwise(F.lit("80"))
    return (
        d.filter(_bucket(F.col("doc_id")) < rate)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


@register(
    "profile_documents",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT lang) AS n_langs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_texts,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents
    """,
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass corpus profile (the data-quality gate before any training
    run): row count, class cardinalities, null counts, length stats. One scan
    + one global agg; the distinct-counts become approx_count_distinct on the
    100 TB path (see approx_distinct_customers)."""
    d = table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(F.col("text").isNull().cast("int")).alias("null_texts"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (
            F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_chars"),
    )


@register(
    "pivot_docs_source_lang",
    """
    SELECT source,
           CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
           CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
           CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
           CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
    FROM documents
    GROUP BY source
    """,
)
def pivot_docs_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: doc counts by source x lang. The pivot value list is explicit —
    without it Spark runs an extra distinct-collect job to discover values,
    a driver round-trip you never want at 100 TB. Missing cells coalesce to 0
    (Spark pivot yields NULL, the conditional-sum oracle yields 0)."""
    d = table(spark, sf_dir, "documents")
    piv = d.groupBy("source").pivot("lang", list(LANGS)).count()
    return piv.select(
        "source", *[F.coalesce(F.col(l), F.lit(0)).alias(l) for l in LANGS]
    )


@register(
    "unpivot_part_measures",
    """
    SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS measure, CAST(p_retailprice AS DOUBLE) AS value FROM part
    """,
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide measures -> long (key, measure, value) — the
    feature-store normalization shape. Spark's ``unpivot`` plans as Expand
    (one output row per measure per input row), no shuffle at all."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "measure", "value")


@register(
    "emb_vector_stats",
    """
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding, x -> x * x))), 6) AS l2_norm,
           round(list_sum(embedding) / len(embedding), 6) AS vmean,
           round(list_aggregate(embedding, 'min'), 6) AS vmin,
           round(list_aggregate(embedding, 'max'), 6) AS vmax
    FROM embeddings
    """,
)
def emb_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order function surface over the embedding column: per-row
    L2 norm, mean, min, max via aggregate/array_min/array_max — all JVM
    built-ins, pure projection (the vector never leaves the row)."""
    e = table(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        "embedding", F.lit(0.0), lambda acc, x: acc + x * x
    )
    el_sum = F.aggregate("embedding", F.lit(0.0), lambda acc, x: acc + x)
    return e.select(
        "vec_id",
        F.round(F.sqrt(sq_sum), 6).alias("l2_norm"),
        F.round(el_sum / F.size("embedding"), 6).alias("vmean"),
        F.round(F.array_min("embedding"), 6).alias("vmin"),
        F.round(F.array_max("embedding"), 6).alias("vmax"),
    )


# --- per-dimension z-normalization (corpus-wide feature scaling) ------------
@register(
    "emb_dimension_znorm",
    """
    WITH flat AS (
      SELECT vec_id, UNNEST(embedding) AS val,
             UNNEST(range(1, len(embedding) + 1)) AS pos
      FROM embeddings
    ),
    stats AS (
      SELECT pos, avg(val) AS mu, stddev_samp(val) AS sigma FROM flat GROUP BY pos
    )
    SELECT f.pos,
           round(s.mu, 6) AS mean_val,
           round(s.sigma, 6) AS std_val,
           round(avg((f.val - s.mu) / s.sigma), 6) + 0.0 AS z_mean,
           round(stddev_samp((f.val - s.mu) / s.sigma), 6) AS z_std
    FROM flat f JOIN stats s ON f.pos = s.pos
    GROUP BY f.pos, s.mu, s.sigma
    """,
)
def emb_dimension_znorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide per-DIMENSION feature scaling (the training-prep
    normalizer): posexplode to (pos, val), one shuffle for per-dimension
    mean/std, broadcast the 64-row stats table back, and verify the
    normalized column has mean 0 / std 1 per dimension. Complements
    emb_vector_stats (per-row) and emb_cluster_centroids (per-cluster):
    this is the reduction that distributes over the VECTOR dimension, so
    no single executor ever holds a full feature matrix. (+ 0.0 on z_mean:
    IEEE -0.0 vs +0.0 differ between engines' rounding and would flip the
    hash and the row sort.)"""
    e = table(spark, sf_dir, "embeddings")
    flat = e.select("vec_id", F.posexplode("embedding").alias("pos0", "val")).select(
        "vec_id", (F.col("pos0") + 1).alias("pos"), "val"
    )
    stats = flat.groupBy("pos").agg(
        F.avg("val").alias("mu"), F.stddev_samp("val").alias("sigma")
    )
    z = (F.col("val") - F.col("mu")) / F.col("sigma")
    return (
        flat.join(F.broadcast(stats), "pos")
        .groupBy("pos", "mu", "sigma")
        .agg(
            (F.round(F.avg(z), 6) + F.lit(0.0)).alias("z_mean"),
            F.round(F.stddev_samp(z), 6).alias("z_std"),
        )
        .select(
            "pos",
            F.round("mu", 6).alias("mean_val"),
            F.round("sigma", 6).alias("std_val"),
            "z_mean",
            "z_std",
        )
    )


# --- multi-aggregate pivot: counts AND exact sums per cell ------------------
@register(
    "pivot_multi_agg_source_lang",
    """
    SELECT source,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en_docs,
           CAST(SUM(CASE WHEN lang = 'en' THEN CAST(n_chars AS DECIMAL(18,2)) ELSE 0 END)
                AS DOUBLE) AS en_chars,
           CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh_docs,
           CAST(SUM(CASE WHEN lang = 'zh' THEN CAST(n_chars AS DECIMAL(18,2)) ELSE 0 END)
                AS DOUBLE) AS zh_chars
    FROM documents
    GROUP BY source
    """,
)
def pivot_multi_agg_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with MULTIPLE aggregates per cell (doc count + exact char sum
    per source x language): Spark's pivot(...).agg(a, b) suffixes each
    value-column with the aggregate alias; we rename to the conventional
    <value>_<measure> and zero-fill. Same single Expand + one shuffle as the
    single-agg pivot — the aggregate list widens the row, not the plan."""
    d = table(spark, sf_dir, "documents")
    piv = (
        d.groupBy("source")
        .pivot("lang", ["en", "zh"])
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double").alias("chars"),
        )
    )
    return piv.select(
        "source",
        F.coalesce(F.col("en_docs"), F.lit(0)).alias("en_docs"),
        F.coalesce(F.col("en_chars"), F.lit(0.0)).alias("en_chars"),
        F.coalesce(F.col("zh_docs"), F.lit(0)).alias("zh_docs"),
        F.coalesce(F.col("zh_chars"), F.lit(0.0)).alias("zh_chars"),
    )


# --- quality-weighted deterministic sampling --------------------------------
@register(
    "sample_quality_weighted",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             CASE WHEN n_chars >= 200 THEN 0.9
                  WHEN n_chars >= 100 THEN 0.5
                  ELSE 0.1 END AS keep_p,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS u
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN u < keep_p THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(SUM(keep_p), 6) AS expected_kept
    FROM scored
    GROUP BY lang
    """,
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling by quality: each document is kept with
    probability proportional to its quality tier (here a length proxy;
    swap in quality_score at will), decided by comparing a CONTENT-HASH
    uniform u = md5(doc_id)[0:8] / 2^32 against the keep probability — the
    deterministic, repartition-stable version of weighted random sampling
    that quality-curated training mixes (DCLM-style) need: re-running the
    sample anywhere selects the same documents, and the realized keep count
    concentrates around sum(keep_p) (reported side by side). Pure
    projection + one count shuffle."""
    d = table(spark, sf_dir, "documents")
    keep_p = (
        F.when(F.col("n_chars") >= 200, 0.9)
        .when(F.col("n_chars") >= 100, 0.5)
        .otherwise(0.1)
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        / F.lit(4294967296.0)
    )
    scored = d.select("lang", keep_p.alias("keep_p"), u.alias("u"))
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("u") < F.col("keep_p")).cast("int")).cast("long").alias("n_kept"),
        F.round(F.sum("keep_p"), 6).alias("expected_kept"),
    )


# --- domain-mixture reweighting ---------------------------------------------
@register(
    "domain_mixture_weights",
    """
    WITH shares AS (
      SELECT source,
             CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) AS domain_chars,
             COUNT(*) AS n_docs
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(domain_chars) AS total_chars, COUNT(*) AS n_domains FROM shares)
    SELECT source, n_docs,
           round(domain_chars / total_chars, 9) AS actual_share,
           round(1.0 / n_domains, 9) AS target_share,
           round((1.0 / n_domains) / (domain_chars / total_chars), 6) AS sample_weight
    FROM shares, tot
    """,
)
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static domain-mixture reweighting: per source (= domain), the actual
    byte share of the corpus vs a target mixture (uniform here; any target
    vector slots in), and the sampling weight that achieves it —
    weight = target / actual, the multiplier fed to the weighted sampler
    (sample_quality_weighted) to hit a curated training mix. One
    domain-cardinality aggregate + a broadcast scalar; exact decimal char
    sums so shares are order-independent."""
    d = table(spark, sf_dir, "documents")
    shares = d.groupBy("source").agg(
        F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double").alias("domain_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tot = shares.agg(
        F.sum("domain_chars").alias("total_chars"),
        F.count(F.lit(1)).alias("n_domains"),
    )
    j = shares.crossJoin(F.broadcast(tot))
    actual = F.col("domain_chars") / F.col("total_chars")
    target = F.lit(1.0) / F.col("n_domains")
    return j.select(
        "source",
        "n_docs",
        F.round(actual, 9).alias("actual_share"),
        F.round(target, 9).alias("target_share"),
        F.round(target / actual, 6).alias("sample_weight"),
    )


# --- deterministic training-order shuffle (epoch-keyed) ---------------------
SHUFFLE_EPOCHS = 2
SHUFFLE_TAKE = 50


@register(
    "training_order_shuffle",
    f"""
    WITH epochs AS (SELECT unnest(range(1, {SHUFFLE_EPOCHS} + 1)) AS epoch),
    keyed AS (
      SELECT e.epoch, d.doc_id,
             md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR))
               AS shuffle_key
      FROM documents d CROSS JOIN epochs e
    )
    SELECT * FROM (
      SELECT epoch, doc_id, shuffle_key,
             row_number() OVER (PARTITION BY epoch
                                ORDER BY shuffle_key ASC, doc_id ASC)
               AS position
      FROM keyed
    ) WHERE position <= {SHUFFLE_TAKE}
    """,
)
def training_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training-order shuffle: every document gets a
    pseudorandom 128-bit sort key md5(doc_id ':' epoch), and the epoch's
    read order is the ascending key order — a stable, seedable permutation
    that changes completely between epochs and is reproducible on any
    cluster layout (key depends only on data, never on partitioning).

    Scale shape: assigning keys is map-side; establishing the order is a
    distributed sort (range-partitioned by Spark's sort machinery) — at
    100 TB you write the epoch order as parquet sorted-by-key shards
    (sortWithinPartitions after a repartitionByRange on the key) rather
    than materializing global row numbers; the query surfaces the first
    {SHUFFLE_TAKE} positions per epoch, which TakeOrdered computes without
    a full global sort."""
    return training_order_shuffle_df(
        spark, table(spark, sf_dir, "documents")
    )


def training_order_shuffle_df(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """DataFrame-in variant of :func:`training_order_shuffle` so callers (and
    the layout-independence test) can feed an arbitrarily partitioned input;
    the registered query is the parquet-backed instantiation."""
    epochs = spark.range(1, SHUFFLE_EPOCHS + 1).select(F.col("id").alias("epoch"))
    d = docs.select("doc_id")
    keyed = d.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(":"), F.col("epoch").cast("string")
            )
        ).alias("shuffle_key"),
    )
    w = Window.partitionBy("epoch").orderBy(
        F.asc("shuffle_key"), F.asc("doc_id")
    )
    return (
        keyed.withColumn("position", F.row_number().over(w))
        .filter(F.col("position") <= SHUFFLE_TAKE)
    )


# --- leakage-safe train/test split (group-aware assignment) -----------------
LS_TEST_CUT = "cc"  # first md5 byte < 0xcc -> train (~80/20), same as splits


@register(
    "split_leakage_safe",
    f"""
    WITH fp AS (
      SELECT doc_id,
             md5({_NORM_SQL}) AS grp
      FROM documents
    ),
    assigned AS (
      SELECT doc_id, grp,
             CASE WHEN substr(md5(grp), 1, 2) < '{LS_TEST_CUT}'
                  THEN 'train' ELSE 'test' END AS split,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{LS_TEST_CUT}'
                  THEN 'train' ELSE 'test' END AS naive_split
      FROM fp
    ),
    leaky AS (
      -- duplicate groups the NAIVE doc-hash split would tear across splits
      SELECT CAST(COUNT(*) AS BIGINT) AS naive_leaky_groups FROM (
        SELECT grp FROM assigned
        GROUP BY grp HAVING COUNT(DISTINCT naive_split) > 1
      )
    ),
    safe AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS group_leaky_groups FROM (
        SELECT grp FROM assigned
        GROUP BY grp HAVING COUNT(DISTINCT split) > 1
      )
    )
    SELECT a.split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT a.grp) AS BIGINT) AS n_groups,
           l.naive_leaky_groups,
           s.group_leaky_groups
    FROM assigned a CROSS JOIN leaky l CROSS JOIN safe s
    GROUP BY a.split, l.naive_leaky_groups, s.group_leaky_groups
    """,
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe splitting: assign train/test by hashing the DUPLICATE
    GROUP (normalized-content fingerprint), not the document — every copy
    of a duplicated document lands in the same split, so the test set can
    never contain a near-copy of a training document. The query also
    quantifies what the naive per-document hash split would have leaked
    (groups torn across splits) vs the group-keyed assignment's zero.

    Scale shape: fingerprint is scan-side; both assignments are pure
    column expressions; the leakage audits are two group-by-fp aggregates.
    For NEAR-dup safety the same construction keys the hash on the
    connected-component cluster_id (operators/dedup.connected_components)
    instead of the exact fp — assignment stays one map-side expression
    over the labeled corpus."""
    d = table(spark, sf_dir, "documents")
    grp = F.md5(_norm_text(F.col("text")))
    assigned = d.select(
        "doc_id",
        grp.alias("grp"),
        F.when(
            F.substring(F.md5(grp), 1, 2) < LS_TEST_CUT, "train"
        ).otherwise("test").alias("split"),
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < LS_TEST_CUT,
            "train",
        ).otherwise("test").alias("naive_split"),
    )
    leaky = (
        assigned.groupBy("grp")
        .agg(F.countDistinct("naive_split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).alias("naive_leaky_groups"))
    )
    safe = (
        assigned.groupBy("grp")
        .agg(F.countDistinct("split").alias("ss"))
        .filter(F.col("ss") > 1)
        .agg(F.count(F.lit(1)).alias("group_leaky_groups"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("grp").alias("n_groups"),
        )
        .crossJoin(F.broadcast(leaky))
        .crossJoin(F.broadcast(safe))
        .select(
            "split", "n_docs", "n_groups", "naive_leaky_groups", "group_leaky_groups"
        )
    )


# --- embedding batch drift (round 4) ----------------------------------------
@register(
    "emb_batch_drift",
    """
    WITH flat AS (
      SELECT vec_id, UNNEST(embedding) AS val,
             UNNEST(range(1, len(embedding) + 1)) AS pos
      FROM embeddings
    ),
    cohorts AS (
      SELECT pos,
             CASE WHEN vec_id % 10 = 0 THEN 'batch' ELSE 'corpus' END AS cohort,
             val
      FROM flat
    ),
    stats AS (
      SELECT pos, cohort, avg(val) AS mu, COUNT(*) AS n
      FROM cohorts GROUP BY pos, cohort
    )
    SELECT c.pos AS pos,
           round(c.mu, 6) + 0.0 AS corpus_mean,
           round(b.mu, 6) + 0.0 AS batch_mean,
           round(b.mu - c.mu, 6) + 0.0 AS drift,
           round(abs(b.mu - c.mu), 6) AS abs_drift
    FROM stats c JOIN stats b ON c.pos = b.pos
    WHERE c.cohort = 'corpus' AND b.cohort = 'batch'
    ORDER BY c.pos ASC
    """,
)
def emb_batch_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution drift between the standing corpus and an
    incoming batch (vec_id % 10 == 0 stands in for the batch): mean shift
    per embedding dimension — the monitor that catches an encoder-version
    bump or a domain shift BEFORE the new vectors poison an ANN index built
    on the old distribution (the vector-store twin of
    source_token_divergence).

    Scale shape: posexplode to (pos, val) — linear in corpus x dim — then
    one hash agg on (pos, cohort) and a 64x64-row self-join; no per-vector
    state, no driver collection. Means are 6-dp rounded with the -0.0 guard
    (IEEE negative zero round-trips differently between engines).
    """
    e = table(spark, sf_dir, "embeddings")
    flat = e.select("vec_id", F.posexplode("embedding").alias("pos0", "val")).select(
        "vec_id", (F.col("pos0") + 1).alias("pos"), "val"
    )
    cohorts = flat.select(
        "pos",
        F.when(F.col("vec_id") % 10 == 0, "batch").otherwise("corpus").alias("cohort"),
        "val",
    )
    stats = cohorts.groupBy("pos", "cohort").agg(
        F.avg("val").alias("mu"), F.count(F.lit(1)).alias("n")
    )
    c = stats.filter(F.col("cohort") == "corpus").select("pos", F.col("mu").alias("cmu"))
    b = stats.filter(F.col("cohort") == "batch").select("pos", F.col("mu").alias("bmu"))
    return (
        c.join(b, "pos")
        .select(
            "pos",
            (F.round("cmu", 6) + F.lit(0.0)).alias("corpus_mean"),
            (F.round("bmu", 6) + F.lit(0.0)).alias("batch_mean"),
            (F.round(F.col("bmu") - F.col("cmu"), 6) + F.lit(0.0)).alias("drift"),
            F.round(F.abs(F.col("bmu") - F.col("cmu")), 6).alias("abs_drift"),
        )
        .orderBy(F.col("pos").asc())
    )


# --- Neyman allocation: optimal stratified sample sizing --------------------
NEYMAN_BUDGET = 1000  # total sample rows to allocate


@register(
    "stratified_neyman_allocation",
    f"""
    WITH s AS (
      SELECT c_mktsegment,
             COUNT(*) AS nh,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS sx,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))
                      * CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(38,4)) AS sxx
      FROM customer GROUP BY c_mktsegment
    ),
    sig AS (
      SELECT c_mktsegment, nh,
             sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / nh)
                  / nh) AS sigma
      FROM s
    ),
    tot AS (SELECT SUM(nh * sigma) AS denom FROM sig)
    SELECT g.c_mktsegment, g.nh AS stratum_size,
           FLOOR(g.sigma * 100 + 0.5) / 100 AS sigma,
           FLOOR(g.nh * g.sigma / t.denom * 1000000 + 0.5) / 1000000
             AS alloc_share,
           CAST(FLOOR({NEYMAN_BUDGET} * g.nh * g.sigma / t.denom + 0.5) AS BIGINT)
             AS alloc_rows
    FROM sig g CROSS JOIN tot t
    ORDER BY g.c_mktsegment
    """,
)
def stratified_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling plan: allocate a {NEYMAN_BUDGET}-
    row budget across strata proportionally to N_h * sigma_h — the
    allocation that minimizes estimator variance for a fixed budget
    (uniform and proportional allocation waste budget on homogeneous
    strata). Pairs with stratified_sample_counts (which EXECUTES a
    proportional plan); this PLANS the optimal one from one pass of
    per-stratum moments.

    Exactness: per-stratum Σx and Σx² are exact decimal sums (2-decimal
    money), so sigma^2 = (Σx² - (Σx)²/N)/N is a ratio of exact values and
    the sqrt/divisions are identical IEEE ops on both engines. The
    denominator Σ N_h·σ_h is a sum of a handful of doubles whose
    accumulation order can differ between engines by ~1e-16 relative —
    far inside the 6-dp rounding band of every output column. One hash
    aggregate + a broadcast 1-row total."""
    c = table(spark, sf_dir, "customer")
    money = F.col("c_acctbal").cast("decimal(12,2)")
    s = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(money).cast("decimal(38,2)").alias("sx"),
        F.sum(money * money).cast("decimal(38,4)").alias("sxx"),
    )
    sigma = F.sqrt(
        (
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double") / F.col("nh")
        )
        / F.col("nh")
    )
    sig = s.select("c_mktsegment", "nh", sigma.alias("sigma"))
    tot = sig.agg(F.sum(F.col("nh") * F.col("sigma")).alias("denom"))
    return (
        sig.crossJoin(F.broadcast(tot))
        .select(
            "c_mktsegment",
            F.col("nh").alias("stratum_size"),
            (F.floor(F.col("sigma") * 100 + F.lit(0.5)) / 100).alias("sigma"),
            (
                F.floor(
                    F.col("nh") * F.col("sigma") / F.col("denom") * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("alloc_share"),
            F.floor(
                F.lit(NEYMAN_BUDGET) * F.col("nh") * F.col("sigma") / F.col("denom")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("alloc_rows"),
        )
        .orderBy("c_mktsegment")
    )


# --- length-bucketed batching: padding-waste accounting ---------------------
BATCH_SIZE = 8
LEN_BUCKET = 32  # token-length bucket width


@register(
    "length_bucket_padding",
    f"""
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(string_split(
               {_NORM_SQL}, ' '),
               w -> w <> '')) AS n
      FROM documents
    ),
    unb AS (
      SELECT 'arrival_order' AS strategy, doc_id // {BATCH_SIZE} AS batch, n
      FROM toks
    ),
    bkt AS (
      SELECT 'length_bucketed' AS strategy,
             (n // {LEN_BUCKET}) * 1000000
               + (ROW_NUMBER() OVER (PARTITION BY n // {LEN_BUCKET}
                                     ORDER BY n ASC, doc_id ASC) - 1)
                 // {BATCH_SIZE} AS batch,
             n
      FROM toks
    ),
    allb AS (SELECT * FROM unb UNION ALL SELECT * FROM bkt),
    per_batch AS (
      SELECT strategy, batch, COUNT(*) AS bsz,
             CAST(SUM(n) AS BIGINT) AS tok, MAX(n) AS mx
      FROM allb GROUP BY strategy, batch
    )
    SELECT strategy,
           COUNT(*) AS n_batches,
           CAST(SUM(tok) AS BIGINT) AS real_tokens,
           CAST(SUM(bsz * mx - tok) AS BIGINT) AS padding_tokens,
           FLOOR(CAST(SUM(bsz * mx - tok) AS DOUBLE)
                 / SUM(bsz * mx) * 1000000 + 0.5) / 1000000 AS waste_frac
    FROM per_batch
    GROUP BY strategy
    ORDER BY strategy
    """,
)
def length_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch padding efficiency: pad-to-longest batches of
    {BATCH_SIZE} formed (a) in arrival order and (b) after grouping docs
    into {LEN_BUCKET}-token length buckets — the measured case for length
    bucketing in a training dataloader (padding tokens burn accelerator
    FLOPs on masked positions; bucketing routinely halves the waste). All
    arithmetic is integer-exact; the bucketed ranking window partitions by
    length bucket (bounded, never global)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(_norm_words(F.col("text"))).alias("n")
    )
    unb = toks.select(
        F.lit("arrival_order").alias("strategy"),
        F.expr(f"doc_id div {BATCH_SIZE}").alias("batch"),
        "n",
    )
    wb = Window.partitionBy(F.expr(f"n div {LEN_BUCKET}")).orderBy(
        F.col("n").asc(), F.col("doc_id").asc()
    )
    bkt = toks.select(
        F.lit("length_bucketed").alias("strategy"),
        (
            F.expr(f"n div {LEN_BUCKET}") * 1000000
            + F.expr(
                f"(row_number() over (partition by n div {LEN_BUCKET} "
                f"order by n asc, doc_id asc) - 1) div {BATCH_SIZE}"
            )
        ).alias("batch"),
        "n",
    )
    both = unb.unionAll(bkt)
    per_batch = both.groupBy("strategy", "batch").agg(
        F.count(F.lit(1)).alias("bsz"),
        F.sum("n").cast("bigint").alias("tok"),
        F.max("n").alias("mx"),
    )
    pad = F.col("bsz") * F.col("mx") - F.col("tok")
    return (
        per_batch.groupBy("strategy")
        .agg(
            F.count(F.lit(1)).alias("n_batches"),
            F.sum("tok").cast("bigint").alias("real_tokens"),
            F.sum(pad).cast("bigint").alias("padding_tokens"),
            (
                F.floor(
                    F.sum(pad).cast("double")
                    / F.sum(F.col("bsz") * F.col("mx"))
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("waste_frac"),
        )
        .orderBy("strategy")
    )


# --- weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES) -------
ARES_K = 20


@register(
    "sample_weighted_ares",
    f"""
    WITH w AS (
      SELECT doc_id, source,
             CAST(GREATEST(n_chars, 1) AS DOUBLE) AS weight,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ares'), 1, 8))::BIGINT
              + 1.0) / 4294967297.0 AS u
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, source, weight,
             FLOOR(ln(u) / weight * 1000000000 + 0.5) / 1000000000 AS k
      FROM w
    )
    SELECT doc_id, source, CAST(weight AS BIGINT) AS weight,
           k AS ares_key
    FROM keyed
    ORDER BY k DESC, doc_id ASC
    LIMIT {ARES_K}
    """,
)
def sample_weighted_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic: the
    Efraimidis-Spirakis A-ES scheme — each row gets key ln(u)/w for a
    hash-derived uniform u (equivalently u^(1/w) in log space, avoiding
    pow()'s cross-platform last-ulp drift), and the top-{ARES_K} keys ARE
    an exact weighted sample without replacement. Complements
    sample_quality_weighted (per-tier rates, WITH replacement semantics):
    this is the draw-k-distinct-docs-by-length shape a curriculum or
    eval-set builder needs, reproducible across runs and mergeable across
    shards (top-k of unioned keys == top-k of the union).

    Keys are 9-dp portable-rounded before ranking (ties then break on
    doc_id identically in both engines); selection is a distributed
    TakeOrdered, never a global sort."""
    d = table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":ares"))), 1, 8),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / 4294967297.0
    weight = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    k = F.floor(F.log(u) / weight * 1000000000 + F.lit(0.5)) / 1000000000
    return (
        d.select(
            "doc_id",
            "source",
            weight.cast("bigint").alias("weight"),
            k.alias("ares_key"),
        )
        .orderBy(F.col("ares_key").desc(), F.col("doc_id").asc())
        .limit(ARES_K)
    )


# --- embedding health audit: degenerate-vector screen ------------------------
# Vector stores assume unit-norm embeddings (cosine == dot); encoder crashes
# and version mixups break that silently: all-zero vectors (failed encode)
# make cosine undefined, off-scale norms (a checkpoint trained without
# normalization) corrupt every dot-product ranking. This is the gate run on
# every embedding batch before it reaches the index. The synthetic corpus
# is perfectly unit-norm, so — the injection protocol again — deterministic
# vec_id-keyed wounds plant both failure classes and the oracle replays
# them: % 23 -> zeroed vector, % 29 -> scaled by 2.5. One scan, per-row
# array fold (vector never leaves the row), one hash agg per label.
@register(
    "emb_health_audit",
    """
    WITH wounded AS (
      SELECT vec_id, label,
             CASE WHEN vec_id % 23 = 0
                  THEN list_transform(embedding, x -> x * 0.0)
                  WHEN vec_id % 29 = 0
                  THEN list_transform(embedding, x -> x * 2.5)
                  ELSE embedding END AS v
      FROM embeddings
    ),
    norms AS (
      SELECT label,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS l2
      FROM wounded
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN l2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(SUM(CASE WHEN l2 > 0 AND abs(l2 - 1) > 0.01
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_offscale,
           CAST(SUM(CASE WHEN abs(l2 - 1) <= 0.01 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ok
    FROM norms
    GROUP BY label
    ORDER BY label
    """,
)
def emb_health_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label degenerate-vector counts over the deterministically
    wounded embedding table: zero vectors, off-scale norms, healthy rest.
    On a real feed the same query runs un-injected."""
    e = table(spark, sf_dir, "embeddings")
    v = (
        F.when(
            F.col("vec_id") % 23 == 0,
            F.transform("embedding", lambda x: x * F.lit(0.0)),
        )
        .when(
            F.col("vec_id") % 29 == 0,
            F.transform("embedding", lambda x: x * F.lit(2.5)),
        )
        .otherwise(F.col("embedding"))
    )
    l2 = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    norms = e.select("label", l2.alias("l2"))
    return (
        norms.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum((F.col("l2") == 0).cast("long")).alias("n_zero"),
            F.sum(
                ((F.col("l2") > 0) & (F.abs(F.col("l2") - 1) > 0.01)).cast("long")
            ).alias("n_offscale"),
            F.sum((F.abs(F.col("l2") - 1) <= 0.01).cast("long")).alias("n_ok"),
        )
        .orderBy("label")
    )


# --- Poisson bootstrap: distributed confidence intervals ---------------------
# The bootstrap at 100 TB cannot resample rows with replacement (that needs
# global coordination); the standard trick (Chamandy et al., Google 2012,
# "Estimating Uncertainty for Massive Data Streams") is the POISSON
# bootstrap: each row enters replica b with weight ~ Poisson(1),
# independently per (row, replica) — one scan computes every replica's
# statistic as a weighted aggregate, embarrassingly parallel. Here the
# Poisson draw is hash-derived (inverse CDF of a 48-bit uniform from
# md5(row:replica) truncated at k=8, exact dyadic-rational thresholds), so
# replicas are deterministic and both engines draw identical weights. The
# CI is the empirical spread of the replica means: bootstrap-SE and the
# replica-min/max envelope, reported with the point estimate.
BOOT_B = 32  # replicas; each adds one conditional-sum column, not a pass

# P(Poisson(1) <= k) thresholds scaled to 2^48, computed once in exact
# integer arithmetic from the series e^-1 * sum 1/i! (floor at 12 dp then
# scaled): the CDF cut points both engines compare the uniform against.
_POIS_CDF = []
_acc = 0.0
_fact = 1
import math as _math  # noqa: E402

for _k in range(9):
    if _k:
        _fact *= _k
    _acc += _math.exp(-1.0) / _fact
    _POIS_CDF.append(min(int(_acc * (1 << 48)), (1 << 48) - 1))


def _poisson_weight_sql(u_expr: str) -> str:
    """SQL CASE mapping a 48-bit uniform to a Poisson(1) draw."""
    branches = "".join(
        f" WHEN {u_expr} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"(CASE{branches} ELSE {len(_POIS_CDF)} END)"


def poisson_weight(u: "F.Column"):
    w = F.lit(len(_POIS_CDF))
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < _POIS_CDF[k], F.lit(k)).otherwise(w)
    return w


@register(
    "poisson_bootstrap_ci",
    f"""
    WITH rows_u AS (
      SELECT o_totalprice,
             b.b AS b,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':'
                                      || CAST(b.b AS VARCHAR)), 1, 12))
                  AS BIGINT) AS u
      FROM orders, (SELECT unnest(range(0, {BOOT_B})) AS b) b
    ),
    weighted AS (
      SELECT b, {_poisson_weight_sql('u')} AS w, o_totalprice
      FROM rows_u
    ),
    replicas AS (
      SELECT b,
             CAST(SUM(w * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / SUM(w) AS rep_mean
      FROM weighted GROUP BY b
    ),
    point AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS mean_price
      FROM orders
    ),
    q AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_replicas,
             MIN(rep_mean) AS rep_min,
             MAX(rep_mean) AS rep_max,
             CAST(SUM(CAST(FLOOR(rep_mean * 1000000 + 0.5) AS BIGINT))
                  AS DOUBLE) / COUNT(*) / 1000000 AS rep_mean_avg,
             CAST(SUM(CAST(FLOOR(rep_mean * rep_mean * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) / COUNT(*) / 100 AS rep_mean_sq_avg
      FROM replicas
    )
    SELECT (SELECT FLOOR(mean_price * 1000000 + 0.5) / 1000000 FROM point)
             AS mean_price,
           n_replicas,
           FLOOR(rep_min * 1000000 + 0.5) / 1000000 AS rep_min,
           FLOOR(rep_max * 1000000 + 0.5) / 1000000 AS rep_max,
           FLOOR(sqrt(rep_mean_sq_avg - rep_mean_avg * rep_mean_avg)
                 * 1000000 + 0.5) / 1000000 AS bootstrap_se
    FROM q
    """,
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap uncertainty for the mean order price via {B} deterministic
    Poisson(1) replicas: point estimate, replica envelope, bootstrap SE —
    one weighted-aggregate pass, no resampling shuffle anywhere.""".replace(
        "{B}", str(BOOT_B)
    )
    o = table(spark, sf_dir, "orders")
    b = spark.range(BOOT_B).select(F.col("id").cast("int").alias("b"))
    rows_u = o.select("o_orderkey", "o_totalprice").crossJoin(F.broadcast(b)).select(
        "o_totalprice",
        "b",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long").alias("u"),
    )
    weighted = rows_u.select("b", poisson_weight(F.col("u")).alias("w"), "o_totalprice")
    replicas = weighted.groupBy("b").agg(
        (
            F.sum(F.col("w") * F.col("o_totalprice").cast("decimal(18,2)")).cast(
                "double"
            )
            / F.sum("w")
        ).alias("rep_mean")
    )
    point = o.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_price")
    )
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    qstats = replicas.agg(
        F.count(F.lit(1)).alias("n_replicas"),
        F.min("rep_mean").alias("rep_min"),
        F.max("rep_mean").alias("rep_max"),
        (
            F.sum(F.floor(F.col("rep_mean") * 1000000 + F.lit(0.5)).cast("long"))
            .cast("double")
            / F.count(F.lit(1))
            / 1000000
        ).alias("rep_mean_avg"),
        (
            F.sum(
                F.floor(
                    F.col("rep_mean") * F.col("rep_mean") * 100 + F.lit(0.5)
                ).cast("long")
            ).cast("double")
            / F.count(F.lit(1))
            / 100
        ).alias("rep_mean_sq_avg"),
    )
    return qstats.crossJoin(F.broadcast(point)).select(
        q6(F.col("mean_price")).alias("mean_price"),
        "n_replicas",
        q6(F.col("rep_min")).alias("rep_min"),
        q6(F.col("rep_max")).alias("rep_max"),
        q6(
            F.sqrt(
                F.col("rep_mean_sq_avg") - F.col("rep_mean_avg") * F.col("rep_mean_avg")
            )
        ).alias("bootstrap_se"),
    )


# --- group-safe k-fold cross-validation assignment ---------------------------
# split_leakage_safe proves the 2-way split; model selection needs K folds
# with the same guarantee: every member of a duplicate group lands in the
# SAME fold (otherwise each fold's eval half contains near-copies of its
# train half). Fold = md5 bucket of the GROUP fingerprint (the doc's exact-
# dedup fingerprint), so assignment is a map-side expression, repartition-
# stable, and adding corpus later never moves existing docs between folds.
# The in-query audit proves zero torn groups.
KFOLDS = 5


@register(
    "kfold_group_assignment",
    f"""
    WITH fps AS (
      SELECT doc_id,
             md5({_NORM_SQL}) AS fp
      FROM documents
    ),
    folded AS (
      SELECT doc_id, fp,
             CAST(('0x' || substr(md5(fp), 1, 8)) AS BIGINT) % {KFOLDS}
               AS fold
      FROM fps
    ),
    torn AS (
      SELECT fp FROM folded GROUP BY fp
      HAVING COUNT(DISTINCT fold) > 1
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_groups,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM torn) AS n_torn_groups
    FROM folded
    GROUP BY fold
    ORDER BY fold
    """,
)
def kfold_group_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold assignment keyed on the duplicate-group fingerprint: per-fold
    doc/group counts plus the in-query zero-torn-groups proof."""
    d = table(spark, sf_dir, "documents")
    fp = F.md5(_norm_text(F.col("text")))
    folded = d.select("doc_id", fp.alias("fp")).withColumn(
        "fold",
        F.pmod(
            F.conv(F.substring(F.md5("fp"), 1, 8), 16, 10).cast("long"),
            F.lit(KFOLDS),
        ).cast("long"),
    )
    torn = (
        folded.groupBy("fp")
        .agg(F.countDistinct("fold").alias("nf"))
        .filter(F.col("nf") > 1)
        .count()
    )
    return (
        folded.groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_groups"),
        )
        .withColumn("n_torn_groups", F.lit(torn).cast("long"))
        .select("fold", "n_docs", "n_groups", "n_torn_groups")
        .orderBy("fold")
    )


# --- negative sampling for implicit-feedback training ------------------------
# Implicit-feedback recommenders (BPR, ALS-implicit, two-tower retrieval)
# train on (user, positive, negative) triples, but the data only RECORDS
# positives; negatives must be sampled from the unobserved items. The
# production concerns this op encodes: determinism (hash-derived draws —
# reproducible epochs), rejection of accidental positives (sampled item
# the user actually bought -> rejected via anti-join), and the
# popularity-bias question (uniform draws over the catalog under-sample
# popular items relative to their exposure — reported, since BPR wants
# popularity-weighted negatives). Draw shape: per (customer, slot) the
# candidate item = hash(user:slot) mod |catalog| — a map-side expression
# against the broadcast catalog size; NO per-user catalog scan.
NEG_PER_USER = 5


@register(
    "cf_negative_samples",
    f"""
    WITH catalog AS (
      SELECT l_partkey AS item,
             ROW_NUMBER() OVER (ORDER BY l_partkey) - 1 AS idx
      FROM (SELECT DISTINCT l_partkey FROM lineitem)
    ),
    csize AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM catalog),
    owned AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    users AS (SELECT DISTINCT cust FROM owned),
    draws AS (
      SELECT u.cust, s.s AS slot,
             CAST(('0x' || substr(md5(CAST(u.cust AS VARCHAR) || ':'
                                      || CAST(s.s AS VARCHAR)), 1, 12))
                  AS BIGINT) % (SELECT nc FROM csize) AS idx
      FROM users u, (SELECT unnest(range(0, {NEG_PER_USER})) AS s) s
    ),
    candidates AS (
      SELECT d.cust, d.slot, c.item
      FROM draws d JOIN catalog c ON c.idx = d.idx
    ),
    kept AS (
      SELECT cd.cust, cd.item
      FROM candidates cd
      LEFT JOIN owned ow ON ow.cust = cd.cust AND ow.item = cd.item
      WHERE ow.item IS NULL
    ),
    pop AS (
      SELECT item, COUNT(*) AS n_buyers FROM owned GROUP BY item
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM users) AS n_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM candidates) AS n_drawn,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           FLOOR(CAST((SELECT COUNT(*) FROM candidates) - COUNT(*) AS DOUBLE)
                 / (SELECT COUNT(*) FROM candidates) * 1000000 + 0.5)
             / 1000000 AS accidental_positive_rate,
           FLOOR(CAST(SUM(COALESCE(p.n_buyers, 0)) AS DOUBLE) / COUNT(*)
                 * 1000000 + 0.5) / 1000000 AS mean_negative_popularity
    FROM kept k LEFT JOIN pop p ON p.item = k.item
    """,
)
def cf_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-sampling accounting: draws per user,
    accidental positives rejected, and the mean popularity of kept
    negatives (the uniform-vs-exposure bias number BPR cares about)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # owned feeds FIVE consumers (catalog, user list, accidental-positive
    # anti-join, popularity counts, candidate join); pin the scan+join+
    # distinct once — Catalyst does not reuse the subtree across branches
    owned = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("item"))
        .distinct()
        .localCheckpoint()
    )
    # dense 0-based catalog index from the range-partitioned global
    # numbering — a builtin row_number here would single-partition-sort the
    # whole item catalog (unbounded at 100 TB)
    from fpl_data_pipeline_spark.plans.scale_primitives import global_row_numbers

    catalog = global_row_numbers(
        owned.select("item").distinct(), [F.col("item").asc()]
    ).withColumn("idx", F.col("global_rn") - 1)
    # NOTE: catalog here = items with >= 1 sale == lineitem's distinct
    # parts, matching the oracle's catalog CTE
    # Round-11: |catalog| == |distinct items| — count the distinct relation
    # directly instead of executing the whole range-partitioned numbering
    # pipeline just to count its rows (the numbering still runs, once, for
    # the candidate join below)
    nc = owned.select("item").distinct().count()
    users = owned.select("cust").distinct()
    slots = users.sparkSession.range(NEG_PER_USER).select(
        F.col("id").cast("int").alias("slot")
    )
    draws = users.crossJoin(F.broadcast(slots)).select(
        "cust",
        "slot",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("cust").cast("string"),
                            F.lit(":"),
                            F.col("slot").cast("string"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(nc),
        ).alias("idx"),
    )
    # Round-11 (guide §5 — the driver should do almost no data work): the
    # old shape ran THREE extra driver actions (catalog.count, n_drawn,
    # n_users) before the stats job. The three scalars become 1-row
    # broadcast-crossJoined aggregates inside ONE action; candidates is
    # lazily pinned so its two consumers (the drawn count and the
    # anti-join) share one materialization. Arithmetic is unchanged: the
    # same double expressions over the same exact counts.
    candidates = (
        draws.join(catalog, "idx")
        .select("cust", "slot", "item")
        .localCheckpoint(eager=False)
    )
    kept = candidates.join(owned, ["cust", "item"], "left_anti")
    pop = owned.groupBy("item").agg(F.count(F.lit(1)).alias("n_buyers"))
    stats = kept.join(pop, "item", "left").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.coalesce("n_buyers", F.lit(0))).alias("pop_sum"),
    )
    users_cnt = users.agg(F.count(F.lit(1)).alias("n_users"))
    drawn_cnt = candidates.agg(F.count(F.lit(1)).alias("n_drawn"))
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return (
        stats.crossJoin(F.broadcast(users_cnt))
        .crossJoin(F.broadcast(drawn_cnt))
        .select(
            F.col("n_users").cast("long").alias("n_users"),
            F.col("n_drawn").cast("long").alias("n_drawn"),
            F.col("n_kept").cast("long").alias("n_kept"),
            q6(
                (F.col("n_drawn") - F.col("n_kept")).cast("double")
                / F.col("n_drawn").cast("double")
            ).alias("accidental_positive_rate"),
            q6(F.col("pop_sum").cast("double") / F.col("n_kept")).alias(
                "mean_negative_popularity"
            ),
        )
    )


# --- temperature-scaled mixture plan ------------------------------------------
# The Gopher/PaLM mixing knob domain_mixture_weights' uniform target can't
# express: sample source s with probability proportional to n_s^alpha,
# alpha in (0, 1) — upweights small high-quality domains without flattening
# the mix entirely. alpha = 0.5 here BECAUSE sqrt is the one power IEEE-754
# requires to be correctly rounded (pow(x, 0.7) is libm-dependent and
# engine-divergent); the per-source sqrt quantizes to micro-units BEFORE
# the normalizing sum, so the denominator is an exact integer and every
# reported ratio is a deterministic function of exact integers.
#
# Scale shape: one token-count scan collapses to the |sources|-row share
# table; the totals are a 1-row broadcast scalar (INTENTIONAL_CROSS, the
# domain_mixture_weights precedent). boost doubles as the per-source epoch
# count at a one-total-pass token budget: boost > 1 means the temperature
# mix repeats that source (the small-domain multi-epoch effect the paper
# formulation implies).
MIX_ALPHA_NOTE = "alpha = 0.5 (sqrt: the only correctly-rounded IEEE power)"


@register(
    "mixture_temperature_plan",
    """
    WITH toks AS (
      SELECT doc_id, source,
             len(list_filter(string_split(lower(trim(regexp_replace(
               text, '\\s+', ' ', 'g'))), ' '), w -> w <> '')) AS n_toks
      FROM documents
    ),
    shares AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
             CAST(floor(sqrt(CAST(SUM(n_toks) AS DOUBLE)) * 1000000 + 0.5)
                  AS BIGINT) AS s6
      FROM toks GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS HUGEINT) AS tot_n,
             CAST(SUM(s6) AS HUGEINT) AS tot_s
      FROM shares
    )
    SELECT source, n_docs, n_tokens,
           floor(CAST(n_tokens AS DOUBLE) / CAST(tot_n AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS p_raw,
           floor(CAST(s6 AS DOUBLE) / CAST(tot_s AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS p_temp,
           floor((CAST(s6 AS DOUBLE) / CAST(tot_s AS DOUBLE))
                 / (CAST(n_tokens AS DOUBLE) / CAST(tot_n AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS boost
    FROM shares, tot
    ORDER BY source
    """,
)
def mixture_temperature_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source temperature-mix plan at alpha = 0.5: (source, n_docs,
    n_tokens, p_raw, p_temp, boost) where p_temp ~ sqrt(n_tokens)
    normalized and boost = p_temp / p_raw is both the sampling multiplier
    and the epoch count at a one-total-pass budget."""
    d = table(spark, sf_dir, "documents")
    n_toks = F.size(_norm_words(F.col("text")))
    shares = (
        d.select("source", n_toks.alias("n_toks"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.floor(
                F.sqrt(F.sum("n_toks").cast("double")) * 1000000 + F.lit(0.5)
            )
            .cast("long")
            .alias("s6"),
        )
    )
    tot = shares.agg(
        F.sum(F.col("n_tokens").cast("decimal(28,0)")).alias("tot_n"),
        F.sum(F.col("s6").cast("decimal(28,0)")).alias("tot_s"),
    )
    j = shares.crossJoin(F.broadcast(tot))
    p_raw = F.col("n_tokens").cast("double") / F.col("tot_n").cast("double")
    p_temp = F.col("s6").cast("double") / F.col("tot_s").cast("double")
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return j.select(
        "source",
        "n_docs",
        "n_tokens",
        q6(p_raw).alias("p_raw"),
        q6(p_temp).alias("p_temp"),
        q6(p_temp / p_raw).alias("boost"),
    ).orderBy("source")
