"""Data-quality operators: the engine-grade generalization of the
reference's two data-quality tests (SURVEY.md §5.1 — known-entity lookup and
join-integrity count).

The reference hard-codes one FK check as SQL (`sql_control_of_joins`,
reference sql_queries.py:194-198, with its latent column bug documented at
SURVEY.md J4 — we implement the intent, a true anti-join). Here the same
idea becomes a reusable suite over any star schema: referential integrity
across every declared FK edge, primary-key uniqueness per declared key, and
per-column null profiling — each a single scan + one aggregate, emitted as
one small summary relation suitable for a quality gate in a 100 TB pipeline
(the summaries are bytes, whatever the input size)."""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from fpl_data_pipeline_spark.operators.dedup import _NORM_SQL, _norm_words
from fpl_data_pipeline_spark.registry import register
from fpl_data_pipeline_spark.tables import table


def fk_orphans(child: DataFrame, child_key, parent: DataFrame, parent_key) -> DataFrame:
    """One-row relation counting ``child`` rows whose key has no match in
    ``parent`` (left_anti). Stays lazy — callers union the edge summaries
    into one plan, so the whole gate is a single Spark job with no driver
    round-trips."""
    return (
        child.select(F.col(child_key).alias("k"))
        .join(parent.select(F.col(parent_key).alias("k")), "k", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )


@register(
    "fk_integrity_summary",
    """
    SELECT 'lineitem->orders' AS edge,
           (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderkey IS NULL) AS n_orphans
    UNION ALL
    SELECT 'orders->customer',
           (SELECT COUNT(*) FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
            WHERE c.c_custkey IS NULL)
    UNION ALL
    SELECT 'customer->nation',
           (SELECT COUNT(*) FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
            WHERE n.n_nationkey IS NULL)
    UNION ALL
    SELECT 'supplier->nation',
           (SELECT COUNT(*) FROM supplier s LEFT JOIN nation n ON n.n_nationkey = s.s_nationkey
            WHERE n.n_nationkey IS NULL)
    """,
)
def fk_integrity_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity across every FK edge of the star schema, one
    anti-join per edge, surfaced as (edge, n_orphans). Every parent side is
    dimension-sized -> broadcast anti-joins; the whole gate costs one scan
    per child table regardless of total size."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    edges = [
        ("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
        ("orders->customer", o, "o_custkey", c, "c_custkey"),
        ("customer->nation", c, "c_nationkey", n, "n_nationkey"),
        ("supplier->nation", s, "s_nationkey", n, "n_nationkey"),
    ]
    rows = [
        fk_orphans(child, ck, parent, pk).select(
            F.lit(name).alias("edge"), "n_orphans"
        )
        for name, child, ck, parent, pk in edges
    ]
    return reduce(lambda a, b: a.unionByName(b), rows)


@register(
    "pk_uniqueness_summary",
    """
    SELECT 'lineitem(l_orderkey,l_linenumber)' AS pk,
           (SELECT COUNT(*) FROM (
              SELECT l_orderkey, l_linenumber FROM lineitem
              GROUP BY 1, 2 HAVING COUNT(*) > 1)) AS n_duplicate_keys
    UNION ALL
    SELECT 'orders(o_orderkey)',
           (SELECT COUNT(*) FROM (
              SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1))
    UNION ALL
    SELECT 'customer(c_custkey)',
           (SELECT COUNT(*) FROM (
              SELECT c_custkey FROM customer GROUP BY 1 HAVING COUNT(*) > 1))
    """,
)
def pk_uniqueness_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness per declared key: group by the key, count
    groups with multiplicity > 1. The reference enforces this with Postgres
    PK constraints + ON CONFLICT; a file-based engine must assert it (and
    the upsert operator restores it, operators/upsert.py)."""

    def dup_keys(name: str, df: DataFrame, cols: list[str]) -> DataFrame:
        return (
            df.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .agg(F.count(F.lit(1)).alias("n_duplicate_keys"))
            .select(F.lit(name).alias("pk"), "n_duplicate_keys")
        )

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    parts = [
        dup_keys("lineitem(l_orderkey,l_linenumber)", li, ["l_orderkey", "l_linenumber"]),
        dup_keys("orders(o_orderkey)", o, ["o_orderkey"]),
        dup_keys("customer(c_custkey)", c, ["c_custkey"]),
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


@register(
    "null_profile_orders",
    """
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_status,
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_totalprice,
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderdate
    FROM orders
    """,
)
def null_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-count profile in one scan + one agg — the completeness half of a
    quality gate (the reference's NOT NULL DDL constraints, as assertions)."""
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.col(col).isNull().cast("int")).alias(alias)
            for col, alias in [
                ("o_custkey", "null_custkey"),
                ("o_orderstatus", "null_status"),
                ("o_totalprice", "null_totalprice"),
                ("o_orderdate", "null_orderdate"),
            ]
        ],
    )


# --- cross-modal integrity: documents <-> embeddings ------------------------
@register(
    "modal_alignment_summary",
    """
    WITH d AS (SELECT doc_id FROM documents),
    e AS (SELECT vec_id FROM embeddings),
    j AS (
      SELECT CASE
               WHEN e.vec_id IS NULL THEN 'doc_missing_embedding'
               WHEN d.doc_id IS NULL THEN 'orphan_embedding'
               ELSE 'aligned'
             END AS status
      FROM d FULL OUTER JOIN e ON d.doc_id = e.vec_id
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n
    FROM j GROUP BY status
    """,
)
def modal_alignment_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gate a multimodal pipeline runs before any embedding-dependent
    stage (ANN dedup, semantic clustering, hybrid rerank): every document
    must have exactly one embedding row and no vector may be orphaned.
    Full-outer join on the shared id, status rollup; at 100 TB both sides
    are bucketed on the id (sources/bucketing.py) so the audit is
    co-located and shuffle-free."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    e = table(spark, sf_dir, "embeddings").select("vec_id")
    j = d.join(e, d.doc_id == e.vec_id, "full_outer")
    status = (
        F.when(F.col("vec_id").isNull(), "doc_missing_embedding")
        .when(F.col("doc_id").isNull(), "orphan_embedding")
        .otherwise("aligned")
    )
    return j.select(status.alias("status")).groupBy("status").agg(
        F.count(F.lit(1)).alias("n")
    )


# --- k-anonymity audit (privacy gate for data releases) ---------------------
KANON_K = 5


@register(
    "kanonymity_audit",
    f"""
    WITH combos AS (
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS group_size
      FROM customer
      GROUP BY c_mktsegment, c_nationkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_combos,
           CAST(SUM(CASE WHEN group_size < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_combos,
           CAST(SUM(CASE WHEN group_size < {KANON_K} THEN group_size ELSE 0 END)
                AS BIGINT) AS n_rows_to_suppress,
           CAST(MIN(group_size) AS BIGINT) AS min_group_size,
           FLOOR(CAST(SUM(CASE WHEN group_size < {KANON_K} THEN group_size ELSE 0 END)
                      AS DOUBLE)
                 / SUM(group_size) * 1000000 + 0.5) / 1000000
             AS suppressed_row_frac
    FROM combos
    """,
)
def kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity gate over the quasi-identifier pair (segment, nation):
    how many attribute combinations identify fewer than k={KANON_K}
    individuals, and what suppressing those rows would cost — the release
    check a training-data pipeline runs after PII scrubbing
    (pii_scrub_summary removes direct identifiers; this catches
    re-identification via rare attribute combinations). One hash aggregate
    on the quasi-identifier key + a 1-row summary; generalization ladders
    (coarser attributes) re-run the same query on remapped columns."""
    c = table(spark, sf_dir, "customer")
    combos = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    viol = F.when(F.col("group_size") < KANON_K, F.col("group_size")).otherwise(0)
    return combos.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_combos"),
        F.sum(F.when(F.col("group_size") < KANON_K, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating_combos"),
        F.sum(viol).cast("bigint").alias("n_rows_to_suppress"),
        F.min("group_size").cast("bigint").alias("min_group_size"),
        (
            F.floor(
                F.sum(viol).cast("double") / F.sum("group_size") * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("suppressed_row_frac"),
    )


# --- threshold source-bias audit (fair filtering) ---------------------------
QB_GLOBAL_CUT = 0.7  # global quality-score cutoff under audit
QB_KEEP_RATE = 0.5  # per-source normalized keep rate


@register(
    "quality_threshold_bias",
    f"""
    WITH feat AS (
      SELECT doc_id, source,
             (CASE WHEN len(list_filter(string_split(
                     {_NORM_SQL}, ' '),
                     w -> w <> '')) >= 10 THEN 0.4 ELSE 0.0 END
              + CASE WHEN len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))
                          < length(text) * 0.1 THEN 0.3 ELSE 0.0 END
              + CASE WHEN length(text) >= 100 THEN 0.3 ELSE 0.0 END)
               AS score
      FROM documents
    ),
    ranked AS (
      SELECT *, PERCENT_RANK() OVER (PARTITION BY source
                                     ORDER BY score ASC, doc_id ASC) AS pr
      FROM feat
    ),
    overall AS (
      SELECT CAST(SUM(CASE WHEN score >= {QB_GLOBAL_CUT} THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*) AS rate
      FROM feat
    )
    SELECT source,
           COUNT(*) AS n_docs,
           FLOOR(CAST(SUM(CASE WHEN score >= {QB_GLOBAL_CUT} THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000
             AS global_keep_frac,
           FLOOR(CAST(SUM(CASE WHEN pr >= 1 - {QB_KEEP_RATE} THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000
             AS norm_keep_frac,
           FLOOR((CAST(SUM(CASE WHEN score >= {QB_GLOBAL_CUT} THEN 1 ELSE 0 END)
                       AS DOUBLE) / COUNT(*) - o.rate) * 1000000 + 0.5) / 1000000
             AS bias_vs_overall
    FROM ranked CROSS JOIN overall o
    GROUP BY source, o.rate
    ORDER BY source
    """,
)
def quality_threshold_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-fairness audit of a GLOBAL quality cutoff: per ingest source,
    the fraction kept by one corpus-wide score threshold vs by a
    source-NORMALIZED percentile rule (keep each source's top
    {int(QB_KEEP_RATE * 100)}%), plus each source's deviation from the
    corpus keep rate. The CCNet/RefinedWeb lesson quantified: global
    perplexity/quality thresholds systematically over-filter domains whose
    score distribution sits lower (code, forums, non-English), and the
    bias_vs_overall column is exactly the evidence a curation review needs
    before choosing global vs per-source calibration
    (quality_threshold_calibration computes the per-source cutpoints).

    One scan-side score, one per-source window (partitioned — never
    global), one broadcast 1-row overall rate."""
    d = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    # Round-12: one-pass tokenizer (see dedup._norm_words) — token-identical,
    # one regex pass; only size(ws) is consumed here.
    ws = _norm_words(F.col("text"))
    score = (
        F.when(F.size(ws) >= 10, 0.4).otherwise(0.0)
        + F.when(
            F.regexp_count("text", F.lit("[^a-zA-Z0-9 ]"))
            < F.length("text") * 0.1,
            0.3,
        ).otherwise(0.0)
        + F.when(F.length("text") >= 100, 0.3).otherwise(0.0)
    )
    feat = d.select("doc_id", "source", score.alias("score"))
    w = Window.partitionBy("source").orderBy(F.col("score").asc(), F.col("doc_id").asc())
    ranked = feat.withColumn("pr", F.percent_rank().over(w))
    overall = F.broadcast(
        feat.agg(
            (
                F.sum(F.when(F.col("score") >= QB_GLOBAL_CUT, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("rate")
        )
    )
    kept_g = F.sum(F.when(F.col("score") >= QB_GLOBAL_CUT, 1).otherwise(0)).cast(
        "double"
    )
    kept_n = F.sum(
        F.when(F.col("pr") >= 1 - QB_KEEP_RATE, 1).otherwise(0)
    ).cast("double")
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return (
        ranked.crossJoin(overall)
        .groupBy("source", "rate")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            q6(kept_g / F.count(F.lit(1))).alias("global_keep_frac"),
            q6(kept_n / F.count(F.lit(1))).alias("norm_keep_frac"),
            q6(kept_g / F.count(F.lit(1)) - F.first("rate")).alias("bias_vs_overall"),
        )
        .drop("rate")
        .orderBy("source")
    )


# --- monotonic-sequence gap/duplicate audit (ingestion QA) ------------------
@register(
    "sequence_gap_audit",
    """
    WITH ids AS (SELECT event_id FROM events),
    stats AS (
      SELECT COUNT(*) AS n_rows,
             COUNT(DISTINCT event_id) AS n_distinct,
             MIN(event_id) AS lo, MAX(event_id) AS hi
      FROM ids
    ),
    gaps AS (
      SELECT event_id,
             event_id - LAG(event_id) OVER (ORDER BY event_id ASC) AS step
      FROM (SELECT DISTINCT event_id FROM ids)
    )
    SELECT s.n_rows,
           CAST(s.n_rows - s.n_distinct AS BIGINT) AS n_duplicate_ids,
           CAST(s.hi - s.lo + 1 - s.n_distinct AS BIGINT) AS n_missing_ids,
           CAST((SELECT MAX(step) FROM gaps) AS BIGINT) AS max_gap,
           CAST((SELECT COUNT(*) FROM gaps WHERE step > 1) AS BIGINT) AS n_gap_runs
    FROM stats s
    """,
)
def sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotonic-id integrity audit over the event stream: duplicate ids
    (at-least-once re-delivery), missing ids vs the dense [min, max] range
    (dropped offsets / partial ingest), the largest single gap and the
    number of gap runs — the Kafka-offset / CDC-LSN completeness check
    that runs before any event-derived table is trusted.

    Adjacent-id steps come from a RANGE-PARTITIONED lag, not a global
    window: range partition the distinct ids (non-overlapping ordered
    ranges), lag WITHIN each partition (a partitioned window), then add the
    <= RANGE_PARTS cross-partition steps by comparing each partition's
    first id to its predecessor's last id (a tiny window over the
    per-partition edge relation).  Same step multiset, no single-partition
    sort of the id set."""
    e = table(spark, sf_dir, "events").select("event_id")
    from pyspark.sql import Window
    from fpl_data_pipeline_spark.plans.scale_primitives import RANGE_PARTS

    stats = e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_distinct"),
        F.min("event_id").alias("lo"),
        F.max("event_id").alias("hi"),
    )
    dist = e.distinct()
    # pin partition ids across the two consumers (lag branch + edge branch)
    ranged = dist.repartitionByRange(RANGE_PARTS, F.col("event_id").asc()).withColumn(
        "pid", F.spark_partition_id()
    ).localCheckpoint()
    w_loc = Window.partitionBy("pid").orderBy(F.col("event_id").asc())
    inner = ranged.select(
        (F.col("event_id") - F.lag("event_id").over(w_loc)).alias("step")
    )
    edges = ranged.groupBy("pid").agg(
        F.min("event_id").alias("first_id"), F.max("event_id").alias("last_id")
    )
    w_edge = Window.orderBy(F.col("pid").asc())
    cross = edges.select(
        (F.col("first_id") - F.lag("last_id").over(w_edge)).alias("step")
    )
    gaps = inner.unionAll(cross)
    gagg = gaps.agg(
        F.max("step").cast("bigint").alias("max_gap"),
        F.sum(F.when(F.col("step") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_gap_runs"),
    )
    return stats.crossJoin(F.broadcast(gagg)).select(
        "n_rows",
        (F.col("n_rows") - F.col("n_distinct")).cast("bigint").alias("n_duplicate_ids"),
        (F.col("hi") - F.col("lo") + 1 - F.col("n_distinct"))
        .cast("bigint")
        .alias("n_missing_ids"),
        "max_gap",
        "n_gap_runs",
    )


# --- Benford first-digit forensics audit ------------------------------------
@register(
    "benford_price_audit",
    """
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
                  AS BIGINT) AS d
      FROM orders WHERE o_totalprice > 0
    ),
    cnt AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT SUM(n) AS t FROM cnt)
    SELECT c.d AS first_digit,
           CAST(c.n AS BIGINT) AS n_values,
           FLOOR(CAST(c.n AS DOUBLE) / t.t * 1000000 + 0.5) / 1000000
             AS observed_freq,
           FLOOR(ln(1.0 + 1.0 / c.d) / ln(10.0) * 1000000 + 0.5) / 1000000
             AS benford_freq,
           FLOOR((CAST(c.n AS DOUBLE) / t.t - ln(1.0 + 1.0 / c.d) / ln(10.0))
                 * 1000000 + 0.5) / 1000000 AS deviation
    FROM cnt c CROSS JOIN tot t
    ORDER BY first_digit
    """,
)
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of the money column: observed vs
    expected log10(1 + 1/d) frequency per leading digit — the forensic
    screen for fabricated or unit-mangled numeric feeds (organic financial
    magnitudes follow Benford; synthetic uniform generators, price floors
    and currency mix-ups bend specific digits). Deviations localize WHICH
    digit is off, the entry point of the audit. First digit comes from the
    DECIMAL(18,2) string rendering (identical in both engines — no float
    formatting); one digit-keyed hash aggregate + a broadcast total."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("bigint")
    cnt = o.select(d.alias("d")).groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = F.broadcast(cnt.agg(F.sum("n").alias("t")))
    obs = F.col("n").cast("double") / F.col("t")
    ben = F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0))
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return (
        cnt.crossJoin(tot)
        .select(
            F.col("d").alias("first_digit"),
            F.col("n").cast("bigint").alias("n_values"),
            q6(obs).alias("observed_freq"),
            q6(ben).alias("benford_freq"),
            q6(obs - ben).alias("deviation"),
        )
        .orderBy("first_digit")
    )


# --- content fingerprints: the replication / data-diff primitive ------------
# "Are these two copies of the table identical?" at 100 TB cannot be
# answered by comparing rows across clusters; the lake answer is an
# ORDER-INDEPENDENT content fingerprint: canonicalize each row to a stable
# string, hash it, and SUM the hashes (sum is commutative/associative, so
# the fingerprint is partition-order-free, mergeable across shards, and
# incrementally maintainable — a Z-set delta adjusts it by adding/
# subtracting row hashes, the ivm_delta_view algebra). Two sides agree ⟺
# contents equal up to 48-bit-collision probability. The canonicalization
# contract is the load-bearing part: doubles go through integer cents and
# timestamps through epoch days, because raw float/timestamp FORMATTING is
# engine-specific while integer rendering is universal.
def row_fingerprint_sum(df: DataFrame, canon: "F.Column") -> DataFrame:
    """SUM of 48-bit md5 row hashes + row count over ``df``; one scan, one
    partial-aggregated global agg — bytes of output at any input size."""
    h = F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("long")
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h.cast("decimal(38,0)")).cast("decimal(38,0)").cast("string").alias(
            "fingerprint"
        ),
    )


@register(
    "table_content_fingerprints",
    f"""
    WITH o AS (
      SELECT COUNT(*) AS n_rows,
             CAST(CAST(SUM(CAST(CAST(('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' ||
               o_orderstatus || '|' ||
               CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)
                 || '|' ||
               CAST(epoch_us(o_orderdate) // 86400000000 AS VARCHAR) || '|' ||
               o_orderpriority), 1, 12)) AS BIGINT) AS DECIMAL(38,0)))
               AS DECIMAL(38,0)) AS VARCHAR) AS fingerprint
      FROM orders
    ),
    c AS (
      SELECT COUNT(*) AS n_rows,
             CAST(CAST(SUM(CAST(CAST(('0x' || substr(md5(
               CAST(c_custkey AS VARCHAR) || '|' ||
               c_name || '|' ||
               CAST(c_nationkey AS VARCHAR) || '|' ||
               CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS VARCHAR)
                 || '|' ||
               c_mktsegment), 1, 12)) AS BIGINT) AS DECIMAL(38,0)))
               AS DECIMAL(38,0)) AS VARCHAR) AS fingerprint
      FROM customer
    ),
    s AS (
      SELECT COUNT(*) AS n_rows,
             CAST(CAST(SUM(CAST(CAST(('0x' || substr(md5(
               CAST(s_suppkey AS VARCHAR) || '|' ||
               s_name || '|' ||
               CAST(s_nationkey AS VARCHAR)), 1, 12)) AS BIGINT)
               AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS fingerprint
      FROM supplier
    )
    SELECT 'orders' AS table_name, n_rows, fingerprint FROM o
    UNION ALL
    SELECT 'customer' AS table_name, n_rows, fingerprint FROM c
    UNION ALL
    SELECT 'supplier' AS table_name, n_rows, fingerprint FROM s
    ORDER BY table_name
    """,
)
def table_content_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content fingerprint + row count for three tables —
    the cross-cluster replication check. The fingerprint is a VARCHAR-
    rendered DECIMAL(38,0) sum of 48-bit row hashes over the documented
    canonicalization (ints verbatim, money as cents, timestamps as epoch
    days)."""
    cents = lambda c: F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long").cast("string")  # noqa: E731
    o = table(spark, sf_dir, "orders")
    o_canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        cents("o_totalprice"),
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").cast(
            "string"
        ),
        F.col("o_orderpriority"),
    )
    c = table(spark, sf_dir, "customer")
    c_canon = F.concat_ws(
        "|",
        F.col("c_custkey").cast("string"),
        F.col("c_name"),
        F.col("c_nationkey").cast("string"),
        cents("c_acctbal"),
        F.col("c_mktsegment"),
    )
    s = table(spark, sf_dir, "supplier")
    s_canon = F.concat_ws(
        "|",
        F.col("s_suppkey").cast("string"),
        F.col("s_name"),
        F.col("s_nationkey").cast("string"),
    )
    parts = [
        row_fingerprint_sum(o, o_canon).select(
            F.lit("orders").alias("table_name"), "n_rows", "fingerprint"
        ),
        row_fingerprint_sum(c, c_canon).select(
            F.lit("customer").alias("table_name"), "n_rows", "fingerprint"
        ),
        row_fingerprint_sum(s, s_canon).select(
            F.lit("supplier").alias("table_name"), "n_rows", "fingerprint"
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("table_name")


# --- differential privacy: Laplace-noised release counts --------------------
# The release mechanism for aggregate statistics over user data: add
# Laplace(sensitivity/epsilon) noise to each count (Dwork et al., TCC'06).
# Counting queries have sensitivity 1; epsilon 1.0 here. Production DP uses
# a cryptographic RNG; an ENGINE needs the mechanism REPRODUCIBLE to test
# and to keep the driver oracle meaningful, so the uniform draw is hash-
# derived per release key (md5(release_tag:key) -> 48-bit uniform) — the
# same derandomization the sampling family uses. The inverse-CDF transform
# u -> -b*sign(u-1/2)*ln(1-2|u-1/2|) is exact-input (the uniform is a
# dyadic rational, representable in a double bit-for-bit) and the ln is
# 9-dp-rounded (the KL convention), so both engines produce the identical
# noisy release. The epsilon ledger is the caller's job: each release_tag
# spends its budget once.
DP_EPSILON = 1.0
DP_RELEASE_TAG = "release-2026-08"


@register(
    "dp_noisy_segment_counts",
    f"""
    WITH counts AS (
      SELECT c_mktsegment, COUNT(*) AS true_count
      FROM customer GROUP BY c_mktsegment
    ),
    draw AS (
      SELECT c_mktsegment, true_count,
             (CAST(('0x' || substr(md5('{DP_RELEASE_TAG}:' || c_mktsegment),
                                   1, 12)) AS BIGINT) + 0.5)
               / 281474976710656.0 AS u
      FROM counts
    ),
    noised AS (
      SELECT c_mktsegment, true_count,
             FLOOR(-(1.0 / {DP_EPSILON})
                   * (CASE WHEN u < 0.5 THEN -1.0 ELSE 1.0 END)
                   * ln(1 - 2 * abs(u - 0.5)) * 1000000000 + 0.5)
               / 1000000000 AS noise
      FROM draw
    )
    SELECT c_mktsegment, true_count,
           FLOOR(noise * 1000000 + 0.5) / 1000000 AS noise,
           FLOOR((true_count + noise) * 1000000 + 0.5) / 1000000
             AS noisy_count
    FROM noised
    ORDER BY c_mktsegment
    """,
)
def dp_noisy_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace mechanism over per-segment customer counts (sensitivity 1,
    epsilon 1.0, reproducible hash-derived noise). The true_count column is
    kept for the mechanism audit — a real release ships only noisy_count."""
    c = table(spark, sf_dir, "customer")
    counts = c.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("true_count"))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(DP_RELEASE_TAG + ":"), F.col("c_mktsegment"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(281474976710656.0)
    sign = F.when(u < 0.5, F.lit(-1.0)).otherwise(F.lit(1.0))
    raw_noise = (
        F.lit(-1.0 / DP_EPSILON) * sign * F.log(F.lit(1) - 2 * F.abs(u - F.lit(0.5)))
    )
    q = lambda c_, m: F.floor(c_ * m + F.lit(0.5)) / m  # noqa: E731
    noised = counts.select(
        "c_mktsegment", "true_count", q(raw_noise, 1000000000).alias("noise9")
    )
    return noised.select(
        "c_mktsegment",
        "true_count",
        q(F.col("noise9"), 1000000).alias("noise"),
        q(F.col("true_count") + F.col("noise9"), 1000000).alias("noisy_count"),
    ).orderBy("c_mktsegment")


# --- l-diversity audit (the k-anonymity companion) ---------------------------
# k-anonymity alone fails the HOMOGENEITY attack: a group of k identical
# quasi-identifier rows that all share one sensitive value reveals it
# anyway. l-diversity (Machanavajjhala et al., ICDE'06) additionally
# requires >= l distinct sensitive values per group. Here: QI =
# (c_mktsegment, c_nationkey), sensitive attribute = the customer's
# account-balance SIGN band (debt / low / high — a plausible sensitive
# financial attribute), l = 2. Same shapes as the k-anonymity gate: one
# hash agg on the QI key + a 1-row summary of violating groups.
LDIV_L = 2


@register(
    "ldiversity_audit",
    f"""
    WITH banded AS (
      SELECT c_mktsegment, c_nationkey,
             CASE WHEN c_acctbal < 0 THEN 'debt'
                  WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS sens
      FROM customer
    ),
    groups AS (
      SELECT c_mktsegment, c_nationkey,
             COUNT(*) AS group_size,
             COUNT(DISTINCT sens) AS n_sens
      FROM banded GROUP BY c_mktsegment, c_nationkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n_sens < {LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_homogeneous_groups,
           CAST(SUM(CASE WHEN n_sens < {LDIV_L} THEN group_size ELSE 0 END)
                AS BIGINT) AS rows_at_risk,
           CAST(MIN(n_sens) AS BIGINT) AS min_diversity
    FROM groups
    """,
)
def ldiversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity gate (l=2) over the (segment, nation) quasi-identifier
    with balance band as the sensitive attribute: groups whose sensitive
    values are homogeneous leak under the homogeneity attack even when
    k-anonymous — the release blocks until they are generalized."""
    c = table(spark, sf_dir, "customer")
    sens = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    groups = (
        c.select("c_mktsegment", "c_nationkey", sens.alias("sens"))
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.countDistinct("sens").alias("n_sens"),
        )
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum((F.col("n_sens") < LDIV_L).cast("long")).alias("n_homogeneous_groups"),
        F.sum(
            F.when(F.col("n_sens") < LDIV_L, F.col("group_size")).otherwise(0)
        )
        .cast("long")
        .alias("rows_at_risk"),
        F.min("n_sens").cast("long").alias("min_diversity"),
    )


# --- user-level DP: bounded-contribution counts ------------------------------
# dp_noisy_segment_counts noises ROW counts (sensitivity 1 assumes each
# user contributes one row). Event streams violate that: one hyperactive
# user contributes thousands of rows, so USER-LEVEL privacy requires
# CONTRIBUTION BOUNDING first — keep at most C rows per (user, partition)
# (the core primitive of DP-SQL / PINQ restricted sensitivity): then the
# per-partition count has user-sensitivity C and Laplace(C/eps) noise
# gives user-level epsilon-DP. The bounding itself is one window rank per
# (user, partition) — and the DETERMINISTIC row selection (order by
# event_id) makes the release reproducible. Reported: raw vs bounded vs
# noised counts per event type, so the clipping bias and the noise scale
# are both visible to the analyst.
DP_USER_CAP = 3  # C: max rows one user contributes per partition
DP_USER_EPS = 1.0


@register(
    "dp_user_bounded_counts",
    f"""
    WITH ranked AS (
      SELECT event_type, user_id,
             ROW_NUMBER() OVER (PARTITION BY event_type, user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    bounded AS (
      SELECT event_type, COUNT(*) AS bounded_count
      FROM ranked WHERE rn <= {DP_USER_CAP}
      GROUP BY event_type
    ),
    raw AS (
      SELECT event_type, COUNT(*) AS raw_count FROM events GROUP BY event_type
    ),
    noised AS (
      SELECT b.event_type, r.raw_count, b.bounded_count,
             (CAST(('0x' || substr(md5('dp-user:' || b.event_type), 1, 12))
                   AS BIGINT) + 0.5) / 281474976710656.0 AS u
      FROM bounded b JOIN raw r ON r.event_type = b.event_type
    )
    SELECT event_type,
           CAST(raw_count AS BIGINT) AS raw_count,
           CAST(bounded_count AS BIGINT) AS bounded_count,
           FLOOR((bounded_count
                  - ({DP_USER_CAP} / {DP_USER_EPS})
                    * (CASE WHEN u < 0.5 THEN -1.0 ELSE 1.0 END)
                    * FLOOR(ln(1 - 2 * abs(u - 0.5)) * 1000000000 + 0.5)
                      / 1000000000)
                 * 1000000 + 0.5) / 1000000 AS released_count
    FROM noised
    ORDER BY event_type
    """,
)
def dp_user_bounded_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level DP release of per-event-type counts: deterministic
    contribution bounding (<= C rows per user per type), then
    Laplace(C/eps) noise from the reproducible hash draw. Raw and bounded
    columns stay for the mechanism audit; a real release ships
    released_count only."""
    e = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    bounded = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= DP_USER_CAP)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("bounded_count"))
    )
    raw = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("raw_count"))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dp-user:"), F.col("event_type"))), 1, 12
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(281474976710656.0)
    sign = F.when(u < 0.5, F.lit(-1.0)).otherwise(F.lit(1.0))
    ln9 = (
        F.floor(F.log(F.lit(1) - 2 * F.abs(u - F.lit(0.5))) * 1000000000 + F.lit(0.5))
        / 1000000000
    )
    noise = -F.lit(DP_USER_CAP / DP_USER_EPS) * sign * ln9
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return (
        bounded.join(raw, "event_type")
        .select(
            "event_type",
            F.col("raw_count").cast("long").alias("raw_count"),
            F.col("bounded_count").cast("long").alias("bounded_count"),
            q6(F.col("bounded_count") + noise).alias("released_count"),
        )
        .orderBy("event_type")
    )
