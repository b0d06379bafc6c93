"""A classifier TRAINED from the corpus, distributed end-to-end.

`text_lang_id` (functions/text_queries.py) ships a fixed trigram scorer;
`quality_model_scores` applies fixed weights.  This module closes the loop a
real training-data pipeline runs: FIT the model from one part of the corpus,
EVALUATE it on a held-out part, all inside the engine — multinomial Naive
Bayes with Laplace smoothing over word unigrams, the classic strong-baseline
language identifier (and the shape of every count-based model a pipeline
distills: the "model" is a handful of hash aggregations).

Scale shape: the train pass is two hash aggregations over the token stream
((lang, term) counts and per-lang totals); the fitted model is a
vocab x n_langs relation — a broadcast dimension, never corpus-sized.  The
eval pass joins each held-out document's term counts against that broadcast
model (eval_terms x 5 langs fan-out), one more hash aggregation per doc to
sum log-likelihoods, and an argmax window partitioned BY DOC (no global
sort).  Nothing collects to the driver.

Determinism discipline: every per-term log-probability is quantized to 6 dp
and scaled to an exact BIGINT before summation, so the per-doc score is an
integer sum — order-independent and bit-identical in DuckDB — and the argmax
cannot flip on float accumulation order (same exact-sum convention as the
surprisal queries in corpus_queries.py).  The train/eval split reuses the
md5-bucket convention of operators/sampling.py (hash < 0xcc ~= 80% train),
so membership is content-determined and layout-independent.

Iterative-trainer oracle convention (shared with operators/tokenizer.py's
BPE trainer): the DuckDB oracle replays the optimizer at a WINDOWABLE step
count (LR_STEPS = 3 unrolled CTEs — every dot product, residual, gradient
and update value-checked by the driver); SCALE is proven by harness
(the same loop at 16/64 steps measured flat per-step cost, BENCH_NOTES
round 9; tools/logreg_scale_ab.py last existed at 88848a7); and
long-horizon SEMANTICS are pinned by bit-exact
replay, not a second engine — the 16-step exact-arithmetic Python reference
in tests/test_round9_ops.py crosses 7 checkpoint boundaries bit-for-bit,
and the cadence-on-vs-off twin pins plan-only-ness directly. An oracle CTE
at 64 steps would add nothing the replay does not already prove, at ~20x
the oracle runtime.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from fpl_data_pipeline_spark.operators.dedup import (
    _NORM_WORDS_SQL,
    _ensure_parallel,
    _norm_words,
)
from fpl_data_pipeline_spark.registry import register
from fpl_data_pipeline_spark.tables import table

NB_TRAIN_CUT = "cc"  # md5 2-hex prefix < 'cc' = 204/256 ~= 80% train split
NB_MIN_LEN = 2  # drop 1-char fragments from the token stream

_NB_TOKS = (
    "list_filter(string_split_regex(lower(text), '[^a-z]+'), "
    f"x -> length(x) >= {NB_MIN_LEN})"
)


@register(
    "nb_lang_train_eval",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, term FROM (
        SELECT doc_id, lang, UNNEST({_NB_TOKS}) AS term FROM documents
      )
    ),
    tf AS (
      SELECT doc_id, lang, term, COUNT(*) AS tf
      FROM toks GROUP BY doc_id, lang, term
    ),
    train AS (
      SELECT * FROM tf
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{NB_TRAIN_CUT}'
    ),
    ev AS (
      SELECT * FROM tf
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= '{NB_TRAIN_CUT}'
    ),
    lang_tot AS (
      SELECT lang, CAST(SUM(tf) AS BIGINT) AS total_l FROM train GROUP BY lang
    ),
    vocab AS (SELECT COUNT(DISTINCT term) AS v FROM train),
    tl AS (
      SELECT lang, term, CAST(SUM(tf) AS BIGINT) AS cnt
      FROM train GROUP BY lang, term
    ),
    docs AS (
      SELECT lang, COUNT(DISTINCT doc_id) AS docs_l FROM train GROUP BY lang
    ),
    dtot AS (SELECT CAST(SUM(docs_l) AS BIGINT) AS docs_tot FROM docs),
    priors AS (
      SELECT lang,
             CAST(floor(ln(CAST(docs_l AS DOUBLE) / docs_tot) * 1000000 + 0.5)
                  AS BIGINT) AS prior_q
      FROM docs CROSS JOIN dtot
    ),
    scored AS (
      SELECT e.doc_id, e.lang AS true_lang, lt.lang AS cand_lang,
             CAST(SUM(e.tf * CAST(floor(
               ln((COALESCE(tl.cnt, 0) + 1)
                  / CAST(lt.total_l + vocab.v AS DOUBLE)) * 1000000 + 0.5)
               AS BIGINT)) AS BIGINT) AS sum_lp
      FROM ev e
      CROSS JOIN lang_tot lt
      CROSS JOIN vocab
      LEFT JOIN tl ON tl.lang = lt.lang AND tl.term = e.term
      GROUP BY e.doc_id, e.lang, lt.lang
    ),
    ranked AS (
      SELECT s.doc_id, s.true_lang, s.cand_lang,
             ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                ORDER BY s.sum_lp + p.prior_q DESC,
                                         s.cand_lang ASC) AS rk
      FROM scored s JOIN priors p ON p.lang = s.cand_lang
    )
    SELECT true_lang, cand_lang AS pred_lang, COUNT(*) AS n
    FROM ranked WHERE rk = 1
    GROUP BY true_lang, cand_lang
    ORDER BY true_lang ASC, pred_lang ASC
    """,
)
def nb_lang_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit multinomial Naive Bayes P(lang | words) on the 80% md5-hash train
    split of `documents`, classify the held-out 20%, and return the held-out
    confusion matrix (true_lang, pred_lang, n) — the trained-model
    counterpart of `lang_id_confusion` (which audits the FIXED trigram
    scorer).  Laplace-1 smoothing over the train vocabulary; priors from
    train doc counts; argmax with lang-asc tiebreak.

    See the module docstring for the scale shape (broadcast model, per-doc
    argmax window) and the exact-integer score discipline.
    """
    return nb_confusion(table(spark, sf_dir, "documents"))


def nb_confusion(d: DataFrame) -> DataFrame:
    """Train/eval NB over any (doc_id, lang, text) frame; see the registered
    query's docstring.  Separate helper so tests can feed planted corpora
    (and arbitrary repartitionings) directly."""
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "filter(split(lower(text), '[^a-z]+'), "
                f"x -> length(x) >= {NB_MIN_LEN})"
            )
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    train = tf.filter(bucket < NB_TRAIN_CUT)
    ev = tf.filter(bucket >= NB_TRAIN_CUT)

    lang_tot = train.groupBy("lang").agg(F.sum("tf").alias("total_l"))
    vocab = train.agg(F.countDistinct("term").alias("v"))
    tl = train.groupBy("lang", "term").agg(F.sum("tf").alias("cnt"))
    docs = train.select("doc_id", "lang").distinct().groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs_l")
    )
    dtot = docs.agg(F.sum("docs_l").alias("docs_tot"))
    priors = docs.crossJoin(F.broadcast(dtot)).select(
        "lang",
        F.floor(
            F.log(F.col("docs_l").cast("double") / F.col("docs_tot")) * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("prior_q"),
    )

    cand = (
        ev.withColumnRenamed("lang", "true_lang")
        .crossJoin(F.broadcast(lang_tot.withColumnRenamed("lang", "cand_lang")))
        .crossJoin(F.broadcast(vocab))
        .join(
            F.broadcast(
                tl.withColumnRenamed("lang", "tl_lang").withColumnRenamed(
                    "term", "t_term"
                )
            ),
            (F.col("tl_lang") == F.col("cand_lang"))
            & (F.col("t_term") == F.col("term")),
            "left",
        )
    )
    lp_q = (
        F.floor(
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + 1)
                / (F.col("total_l") + F.col("v")).cast("double")
            )
            * 1000000
            + F.lit(0.5)
        )
    ).cast("long")
    scored = cand.groupBy("doc_id", "true_lang", "cand_lang").agg(
        F.sum(F.col("tf") * lp_q).alias("sum_lp")
    )
    ranked = scored.join(
        F.broadcast(priors.withColumnRenamed("lang", "cand_lang")), "cand_lang"
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                (F.col("sum_lp") + F.col("prior_q")).desc(), F.col("cand_lang").asc()
            )
        ),
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .groupBy("true_lang", F.col("cand_lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("true_lang").asc(), F.col("pred_lang").asc())
    )


# --- weight-of-evidence categorical encoding + information value ------------

WOE_SMOOTH = 0.5  # additive smoothing so empty cells stay finite


@register(
    "woe_source_encoding",
    f"""
    WITH cells AS (
      SELECT source,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS neg
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS pos_tot,
             CAST(SUM(neg) AS BIGINT) AS neg_tot
      FROM cells
    ),
    enc AS (
      SELECT c.source, c.pos, c.neg,
             (c.pos + {WOE_SMOOTH}) / (t.pos_tot + 2 * {WOE_SMOOTH}) AS p_pos,
             (c.neg + {WOE_SMOOTH}) / (t.neg_tot + 2 * {WOE_SMOOTH}) AS p_neg
      FROM cells c CROSS JOIN tot t
    )
    SELECT source, pos, neg,
           floor(ln(p_pos / p_neg) * 1000000 + 0.5) / 1000000 AS woe_q,
           floor((p_pos - p_neg) * ln(p_pos / p_neg) * 1000000 + 0.5)
             / 1000000 AS iv_term_q
    FROM enc
    ORDER BY source ASC
    """,
)
def woe_source_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding of the `source` categorical against the
    lang='en' target, with each category's information-value term — the
    credit-scoring-style supervised categorical encoder (and leakage gauge:
    a category with an outsized IV term predicts the label suspiciously
    well).  Complements `chi2_term_class_assoc`: chi2 tests independence,
    WOE measures the direction and size of the effect as the log-odds shift
    a model would learn.

    Scale shape: one hash aggregation over the corpus to the per-category
    2-cell table, a 1-row totals broadcast, pure projections after —
    the same shape at any corpus size.  Additive {WOE_SMOOTH} smoothing
    keeps empty cells finite; the ratio arithmetic is identical expression
    trees on both engines, pinned at 6 dp by the portable floor(+0.5)
    convention.
    """
    d = table(spark, sf_dir, "documents")
    cells = d.groupBy("source").agg(
        F.sum((F.col("lang") == "en").cast("long")).alias("pos"),
        F.sum((F.col("lang") != "en").cast("long")).alias("neg"),
    )
    tot = cells.agg(
        F.sum("pos").alias("pos_tot"), F.sum("neg").alias("neg_tot")
    )
    enc = cells.crossJoin(F.broadcast(tot)).select(
        "source",
        "pos",
        "neg",
        ((F.col("pos") + WOE_SMOOTH) / (F.col("pos_tot") + 2 * WOE_SMOOTH)).alias(
            "p_pos"
        ),
        ((F.col("neg") + WOE_SMOOTH) / (F.col("neg_tot") + 2 * WOE_SMOOTH)).alias(
            "p_neg"
        ),
    )
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return enc.select(
        "source",
        "pos",
        "neg",
        q6(F.log(F.col("p_pos") / F.col("p_neg"))).alias("woe_q"),
        q6(
            (F.col("p_pos") - F.col("p_neg")) * F.log(F.col("p_pos") / F.col("p_neg"))
        ).alias("iv_term_q"),
    ).orderBy(F.col("source").asc())


# --- hyperparameter sweep as a broadcast dimension --------------------------

NB_ALPHAS = (0.1, 1.0, 10.0)  # Laplace/Lidstone smoothing grid


@register(
    "nb_alpha_sweep",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, term FROM (
        SELECT doc_id, lang, UNNEST({_NB_TOKS}) AS term FROM documents
      )
    ),
    tf AS (
      SELECT doc_id, lang, term, COUNT(*) AS tf
      FROM toks GROUP BY doc_id, lang, term
    ),
    train AS (
      SELECT * FROM tf
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{NB_TRAIN_CUT}'
    ),
    ev AS (
      SELECT * FROM tf
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= '{NB_TRAIN_CUT}'
    ),
    lang_tot AS (
      SELECT lang, CAST(SUM(tf) AS BIGINT) AS total_l FROM train GROUP BY lang
    ),
    vocab AS (SELECT COUNT(DISTINCT term) AS v FROM train),
    tl AS (
      SELECT lang, term, CAST(SUM(tf) AS BIGINT) AS cnt
      FROM train GROUP BY lang, term
    ),
    docs AS (
      SELECT lang, COUNT(DISTINCT doc_id) AS docs_l FROM train GROUP BY lang
    ),
    dtot AS (SELECT CAST(SUM(docs_l) AS BIGINT) AS docs_tot FROM docs),
    alphas AS (SELECT UNNEST([{", ".join(str(a) for a in NB_ALPHAS)}]) AS alpha),
    priors AS (
      SELECT lang,
             CAST(floor(ln(CAST(docs_l AS DOUBLE) / docs_tot) * 1000000 + 0.5)
                  AS BIGINT) AS prior_q
      FROM docs CROSS JOIN dtot
    ),
    scored AS (
      SELECT e.doc_id, a.alpha, e.lang AS true_lang, lt.lang AS cand_lang,
             CAST(SUM(e.tf * CAST(floor(
               ln((COALESCE(tl.cnt, 0) + a.alpha)
                  / (lt.total_l + a.alpha * vocab.v)) * 1000000 + 0.5)
               AS BIGINT)) AS BIGINT) AS sum_lp
      FROM ev e
      CROSS JOIN lang_tot lt
      CROSS JOIN vocab
      CROSS JOIN alphas a
      LEFT JOIN tl ON tl.lang = lt.lang AND tl.term = e.term
      GROUP BY e.doc_id, a.alpha, e.lang, lt.lang
    ),
    ranked AS (
      SELECT s.doc_id, s.alpha, s.true_lang, s.cand_lang,
             ROW_NUMBER() OVER (PARTITION BY s.doc_id, s.alpha
                                ORDER BY s.sum_lp + p.prior_q DESC,
                                         s.cand_lang ASC) AS rk
      FROM scored s JOIN priors p ON p.lang = s.cand_lang
    )
    SELECT alpha,
           CAST(SUM(CASE WHEN true_lang = cand_lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           COUNT(*) AS n_eval,
           floor(CAST(SUM(CASE WHEN true_lang = cand_lang THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000 AS acc_q
    FROM ranked WHERE rk = 1
    GROUP BY alpha
    ORDER BY alpha ASC
    """,
)
def nb_alpha_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperparameter sweep AS A DIMENSION: held-out accuracy of the NB
    language classifier for each Lidstone smoothing value in {NB_ALPHAS} —
    model selection without retraining passes.  The sufficient statistics
    (term counts, totals, vocab size, priors) do not depend on alpha, so
    they are computed ONCE; alpha enters only the smoothed log-likelihood
    expression, so the grid is a 3-row broadcast crossed into the scoring
    join and the whole sweep costs one extra fan-out factor, not one
    training run per candidate.  The pattern generalizes to any
    count-parameterized model family (thresholds, priors, temperature).

    Same exact-integer score discipline as nb_lang_train_eval; argmax is
    per (doc, alpha)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "filter(split(lower(text), '[^a-z]+'), "
                f"x -> length(x) >= {NB_MIN_LEN})"
            )
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    train = tf.filter(bucket < NB_TRAIN_CUT)
    ev = tf.filter(bucket >= NB_TRAIN_CUT)

    lang_tot = train.groupBy("lang").agg(F.sum("tf").alias("total_l"))
    vocab = train.agg(F.countDistinct("term").alias("v"))
    tl = train.groupBy("lang", "term").agg(F.sum("tf").alias("cnt"))
    docs = train.select("doc_id", "lang").distinct().groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs_l")
    )
    dtot = docs.agg(F.sum("docs_l").alias("docs_tot"))
    priors = docs.crossJoin(F.broadcast(dtot)).select(
        "lang",
        F.floor(
            F.log(F.col("docs_l").cast("double") / F.col("docs_tot")) * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("prior_q"),
    )
    alphas = spark.range(1).select(
        F.explode(F.array(*[F.lit(a) for a in NB_ALPHAS])).alias("alpha")
    )

    cand = (
        ev.withColumnRenamed("lang", "true_lang")
        .crossJoin(F.broadcast(lang_tot.withColumnRenamed("lang", "cand_lang")))
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(alphas))
        .join(
            F.broadcast(
                tl.withColumnRenamed("lang", "tl_lang").withColumnRenamed(
                    "term", "t_term"
                )
            ),
            (F.col("tl_lang") == F.col("cand_lang"))
            & (F.col("t_term") == F.col("term")),
            "left",
        )
    )
    lp_q = (
        F.floor(
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.col("alpha"))
                / (F.col("total_l") + F.col("alpha") * F.col("v"))
            )
            * 1000000
            + F.lit(0.5)
        )
    ).cast("long")
    scored = cand.groupBy("doc_id", "alpha", "true_lang", "cand_lang").agg(
        F.sum(F.col("tf") * lp_q).alias("sum_lp")
    )
    ranked = scored.join(
        F.broadcast(priors.withColumnRenamed("lang", "cand_lang")), "cand_lang"
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id", "alpha").orderBy(
                (F.col("sum_lp") + F.col("prior_q")).desc(), F.col("cand_lang").asc()
            )
        ),
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .groupBy("alpha")
        .agg(
            F.sum((F.col("true_lang") == F.col("cand_lang")).cast("long")).alias(
                "n_correct"
            ),
            F.count(F.lit(1)).alias("n_eval"),
            (
                F.floor(
                    F.sum(
                        (F.col("true_lang") == F.col("cand_lang")).cast("long")
                    ).cast("double")
                    / F.count(F.lit(1))
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("acc_q"),
        )
        .orderBy(F.col("alpha").asc())
    )


# --- logistic regression, gradient-TRAINED in-engine --------------------------
# The fasttext-style linear quality/language filter every LLM data pipeline
# ships: hashed bag-of-words features -> linear score -> threshold. Naive
# Bayes above is count-fitted; this one is fitted by actual GRADIENT
# DESCENT (LR_STEPS full-batch steps, unrolled), making it the engine's
# first iteratively-OPTIMIZED model with value-level oracle parity — the
# same unrolled-CTE discipline as the Lloyd/power-iteration twins.
#
# Determinism (the reason this can be value-oracled at all):
# - the sigmoid is the RATIONAL approximation 0.5 + 0.5*z/(1+|z|), built
#   from +,*,/,abs only — IEEE-exact and bit-identical on both engines,
#   where libm exp() (the true sigmoid) is not;
# - per-doc residuals quantize to integer micro-units BEFORE the gradient
#   sum (a raw double sum is partition-order-dependent);
# - weights are integer micro-unit vectors updated by floor(eta*mean+0.5),
#   so every step's state is exact integers (similarity.LLOYD_EXACT6's
#   convention).
#
# Scale shape: one tokenization pass reduces to the (doc, bucket, n)
# feature relation (pinned; every step reuses it); each step is one
# broadcast join against the LR_B-row weight vector + two hash aggs
# (per-doc dot, per-bucket gradient). Nothing driver-side, nothing
# corpus-quadratic; LR_STEPS bounded, model size LR_B rows.

LR_B = 64  # hashed feature buckets (md5-portable fixed key space)
LR_STEPS = 3
# Lineage cadence (round 9, the BPE_CKPT_EVERY analogue): w feeds TWO
# consumers per step (the dot broadcast and the update join), so an
# untruncated plan DOUBLES per step — worse than the linear
# connected_components creep; a cadence-off arm at just 12 steps (2^12
# tree copies) ran >15 min of driver-side analysis at sf0.1. A LAZY
# localCheckpoint every LR_CKPT_EVERY steps bounds the stacked tree at
# 2^LR_CKPT_EVERY while keeping construction job-free. The cadence is
# MEASURED, not guessed (64 steps at sf0.1, BENCH_NOTES round-9 table;
# tools/logreg_scale_ab.py last existed at 88848a7): every cadence is
# flat across windows (no cross-window creep), but within-window analysis
# doubles, so tighter
# wins outright — total 236 s at cadence 8, 60 s at 4, 18 s at 2.
# Never semantic: the 16-step reference test crosses 7 boundaries
# bit-for-bit, and the on-vs-off twin pins equality directly.
LR_CKPT_EVERY = 2
# Features are per-doc bucket FRACTIONS (quantized to micro-units), not raw
# counts: ||x||_1 = 1 bounds the loss curvature so full-batch descent is
# stable at eta <= ~2 on ANY corpus — raw counts made the step size
# corpus-dependent and oscillated to the all-negative predictor on the
# first try (recorded in BENCH_NOTES round 8).
LR_ETA = 2.0
LR_TRAIN_CUT = "cc"  # same 80% md5 split convention as Naive Bayes

_LR_SPLIT = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)"


def _lr_cte() -> str:
    """Shared WITH-body: hashed features on the train split, label frame,
    w0 = 0, and LR_STEPS unrolled gradient steps ending at w{LR_STEPS} —
    reused by the weights oracle and the held-out eval oracle."""
    parts = [
        f"""toks AS (
      SELECT doc_id, unnest({_NORM_WORDS_SQL}) AS tok FROM documents
    ),
    feat AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % {LR_B} AS bucket
      FROM toks
    ),
    docn AS (
      SELECT doc_id, bucket, COUNT(*) AS n FROM feat
      WHERE {_LR_SPLIT} < '{LR_TRAIN_CUT}'
      GROUP BY 1, 2
    ),
    docfeat AS (
      SELECT doc_id, bucket, n,
             CAST(floor(CAST(n AS DOUBLE)
                        / (SUM(n) OVER (PARTITION BY doc_id))
                        * 1000000 + 0.5) AS BIGINT) AS x6
      FROM docn
    ),
    lab AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    ntr AS (
      SELECT COUNT(*) AS n FROM documents WHERE {_LR_SPLIT} < '{LR_TRAIN_CUT}'
    ),
    w0 AS (
      SELECT unnest(range(0, {LR_B})) AS bucket, CAST(0 AS BIGINT) AS w6
    )"""
    ]
    for t in range(1, LR_STEPS + 1):
        z = "(CAST(s.dot AS DOUBLE) / 1000000000000)"
        parts.append(
            f"""
    s{t} AS (
      SELECT df.doc_id,
             CAST(SUM(CAST(df.x6 * w.w6 AS HUGEINT)) AS BIGINT) AS dot
      FROM docfeat df JOIN w{t - 1} w USING (bucket)
      GROUP BY df.doc_id
    ),
    r{t} AS (
      SELECT s.doc_id,
             CAST(floor(((0.5 + 0.5 * ({z} / (1 + abs({z})))) - l.y)
                        * 1000000 + 0.5) AS BIGINT) AS resid6
      FROM s{t} s JOIN lab l USING (doc_id)
    ),
    g{t} AS (
      SELECT df.bucket, SUM(CAST(df.x6 * r.resid6 AS HUGEINT)) AS g
      FROM docfeat df JOIN r{t} r USING (doc_id)
      GROUP BY df.bucket
    ),
    w{t} AS (
      SELECT w.bucket,
             CASE WHEN n.n > 0 THEN
               w.w6 - CAST(floor({LR_ETA} * (CAST(COALESCE(g.g, 0) AS DOUBLE)
                                             / n.n) / 1000000 + 0.5)
                           AS BIGINT)
             ELSE w.w6 END AS w6
      FROM w{t - 1} w LEFT JOIN g{t} g USING (bucket) CROSS JOIN ntr n
    )"""
        )
    return ",".join(parts)


def _lr_features(d: DataFrame, with_eval: bool = False):
    """(docfeat, lab, ntr_frame[, ev]): hashed train-split features (pinned —
    six consumers across the unrolled steps), labels, and the 1-row train
    count carrying a data-derived join key (least(1, ntr + 1) == 1 for every
    ntr >= 0: a literal key would be constant-folded back into a
    nested-loop join, and the pre-round-9 least(1, ntr) went to 0 on an
    empty train split, silently dropping all LR_B weight rows where the
    oracle kept them — the round-8 ADVICE divergence).

    ``with_eval=True`` additionally returns the EVAL split's (doc_id,
    bucket, n) relation from the SAME tokenize + md5-bucket pass: the split
    key is a function of doc_id alone, so filtering the per-(doc, bucket)
    counts after the groupBy is row-identical to filtering the tokens
    before it — logreg_train_eval used to re-tokenize the whole corpus for
    its eval half (round-12, guide §2.4)."""
    # Round-11: one-pass tokenizer (token-identical, see dedup._norm_words)
    # + conditional fan-out — the 1-split sf0.1 scan ran the tokenize +
    # per-token md5 single-threaded (a 2.7 s 1-task stage in the profile).
    toks = _ensure_parallel(d).select(
        "doc_id",
        F.explode(_norm_words(F.col("text"))).alias("tok"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"), F.lit(LR_B)
    )
    split = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    ev = None
    if with_eval:
        allcnt = (
            toks.groupBy("doc_id", bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=False)
        )
        docn = allcnt.filter(split < LR_TRAIN_CUT)
        ev = allcnt.filter(split >= LR_TRAIN_CUT)
    else:
        docn = (
            toks.filter(split < LR_TRAIN_CUT)
            .groupBy("doc_id", bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
    x6 = F.floor(
        F.col("n").cast("double")
        / F.sum("n").over(Window.partitionBy("doc_id"))
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    docfeat = docn.select(
        "doc_id", "bucket", "n", x6.alias("x6")
    ).localCheckpoint(eager=False)
    lab = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    ntr = (
        d.filter(split < LR_TRAIN_CUT)
        .agg(F.count(F.lit(1)).alias("ntr"))
        .select("ntr", F.least(F.lit(1), F.col("ntr") + 1).alias("k"))
    )
    if with_eval:
        return docfeat, lab, ntr, ev
    return docfeat, lab, ntr


def _lr_step(docfeat: DataFrame, lab: DataFrame, ntr: DataFrame, w: DataFrame):
    """One full-batch gradient step: w (bucket, w6) -> w' (bucket, w6)."""
    dot = (
        docfeat.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum((F.col("x6") * F.col("w6")).cast("decimal(28,0)"))
            .cast("long")
            .alias("dot")
        )
    )
    z = F.col("dot").cast("double") / 1000000000000
    sig = F.lit(0.5) + F.lit(0.5) * (z / (F.lit(1) + F.abs(z)))
    resid = dot.join(lab, "doc_id").select(
        "doc_id",
        F.floor((sig - F.col("y")) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("resid6"),
    )
    grad = (
        docfeat.join(resid, "doc_id")
        .groupBy("bucket")
        .agg(
            F.sum((F.col("x6") * F.col("resid6")).cast("decimal(28,0)")).alias("g")
        )
    )
    upd = F.floor(
        F.lit(LR_ETA)
        * (
            F.coalesce(F.col("g"), F.lit(0).cast("decimal(28,0)")).cast("double")
            / F.col("ntr")
        )
        / 1000000
        + F.lit(0.5)
    ).cast("long")
    return (
        w.join(grad, "bucket", "left")
        .withColumn("k", F.least(F.lit(1), F.col("bucket") + 1))
        .join(F.broadcast(ntr), "k")
        .select(
            "bucket",
            # degenerate-split contract (round-9): with ZERO train docs
            # there is no gradient information, so the step is the
            # identity — matching the oracle's CASE WHEN n > 0 branch
            # exactly instead of the NULL weights DuckDB's 0.0/0 yielded
            # before the guard.
            F.when(F.col("ntr") > 0, F.col("w6") - upd)
            .otherwise(F.col("w6"))
            .alias("w6"),
        )
    )


def lr_train_weights(
    d: DataFrame,
    steps: int = LR_STEPS,
    ckpt_every: int = LR_CKPT_EVERY,
    features: tuple | None = None,
) -> DataFrame:
    """(bucket, w6) after ``steps`` unrolled gradient steps from w0 = 0 —
    the engine half shared by logreg_train_weights and logreg_train_eval
    (both oracles replay it through the same _lr_cte at LR_STEPS; the
    16-step reference test drives the same loop past LR_STEPS).
    Every ``ckpt_every`` steps w takes a LAZY localCheckpoint so the
    analyzed plan stays bounded at a constant number of stacked steps
    (see LR_CKPT_EVERY). The cadence only engages on long-horizon runs
    (steps > LR_STEPS, as in the 16-step reference test): the registered
    LR_STEPS-step queries keep the plain unrolled plan — 2^3 stacked
    trees cost nothing to analyze, and skipping the checkpoint there
    preserves full executor-loss recomputability for the oracled shape
    (round-9 ADVICE: the old guard fired once at t=2 while the docstring
    claimed it never did)."""
    spark = d.sparkSession
    # Round-12: callers that also consume the feature relation (the
    # n_train_tokens readout, the eval half) pass it in so the tokenize +
    # md5-bucket pipeline materializes ONCE per query, not once per use.
    docfeat, lab, ntr = features if features is not None else _lr_features(d)
    w = spark.range(LR_B).select(
        F.col("id").alias("bucket"), F.lit(0).cast("long").alias("w6")
    )
    for t in range(1, steps + 1):
        w = _lr_step(docfeat, lab, ntr, w)
        if ckpt_every and steps > LR_STEPS and t % ckpt_every == 0 and t < steps:
            w = w.localCheckpoint(eager=False)
    return w


@register(
    "logreg_train_weights",
    f"""
    WITH {_lr_cte()}
    SELECT w.bucket AS bucket,
           CAST(w.w6 AS DOUBLE) / 1000000 AS weight,
           CAST(COALESCE(bn.n_toks, 0) AS BIGINT) AS n_train_tokens
    FROM w{LR_STEPS} w
    LEFT JOIN (SELECT bucket, CAST(SUM(n) AS BIGINT) AS n_toks
               FROM docfeat GROUP BY bucket) bn USING (bucket)
    ORDER BY bucket
    """,
)
def logreg_train_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fitted LR_B-bucket linear model after LR_STEPS gradient steps
    on the 80% md5 train split (label: lang = 'en'): (bucket, weight,
    n_train_tokens). The driver value-checks the optimizer itself — every
    step's dot products, residuals, gradient and update are replayed by
    the oracle's unrolled CTEs.

    Degenerate-split contract (round-9): a corpus whose every doc_id
    hashes into the eval split (ntr = 0) yields all LR_B weights at 0.0
    on BOTH engines — the update step is the identity when there is no
    gradient information (guarded CASE/when on both sides), not a
    dropped-rows/NULL-weights divergence."""
    d = table(spark, sf_dir, "documents")
    # Round-12: the n_train_tokens readout used to call _lr_features a
    # SECOND time — two independent pins, two materializations of the
    # tokenize + md5 + per-doc-window pipeline. Share one feature build.
    feats = _lr_features(d)
    w = lr_train_weights(d, features=feats)
    docfeat = feats[0]
    bn = docfeat.groupBy("bucket").agg(F.sum("n").cast("long").alias("n_toks"))
    return (
        w.join(bn, "bucket", "left")
        .select(
            "bucket",
            (F.col("w6").cast("double") / 1000000).alias("weight"),
            F.coalesce(F.col("n_toks"), F.lit(0)).alias("n_train_tokens"),
        )
        .orderBy("bucket")
    )


@register(
    "logreg_train_eval",
    f"""
    WITH {_lr_cte()},
    ev AS (
      SELECT doc_id, bucket, COUNT(*) AS n FROM feat
      WHERE {_LR_SPLIT} >= '{LR_TRAIN_CUT}'
      GROUP BY 1, 2
    ),
    sc AS (
      SELECT e.doc_id,
             CAST(SUM(CAST(e.n * w.w6 AS HUGEINT)) AS BIGINT) AS dot6
      FROM ev e JOIN w{LR_STEPS} w USING (bucket)
      GROUP BY e.doc_id
    ),
    pred AS (
      SELECT d.source, l.y,
             CASE WHEN COALESCE(s.dot6, 0) > 0 THEN 1 ELSE 0 END AS yhat
      FROM documents d
      JOIN lab l USING (doc_id)
      LEFT JOIN sc s USING (doc_id)
      WHERE {_LR_SPLIT.replace('doc_id', 'd.doc_id')} >= '{LR_TRAIN_CUT}'
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN yhat = y THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           floor(CAST(SUM(CASE WHEN yhat = y THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 1000000 + 0.5) / 1000000 AS accuracy
    FROM pred
    GROUP BY source
    ORDER BY source
    """,
)
def logreg_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out (20% md5 split) per-source readout of the gradient-trained
    model: (source, n_docs, n_pos, n_correct, accuracy). Prediction is the
    exact-integer sign test dot6 > 0 (a tokenless doc scores 0 -> negative
    class), so the readout cannot flip on float accumulation."""
    d = table(spark, sf_dir, "documents")
    # Round-12 (guide §2.4): ONE tokenize + md5-bucket pass feeds both the
    # train features and the eval counts (with_eval shares the pinned
    # per-(doc, bucket) relation) — the eval half used to re-tokenize the
    # whole corpus in its own second pass.
    docfeat, lab_feats, ntr, ev = _lr_features(d, with_eval=True)
    w = lr_train_weights(
        d, features=(docfeat, lab_feats, ntr)
    ).localCheckpoint(eager=False)
    split = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    sc = (
        ev.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum((F.col("n") * F.col("w6")).cast("decimal(28,0)"))
            .cast("long")
            .alias("dot6")
        )
    )
    pred = (
        d.filter(split >= LR_TRAIN_CUT)
        .select("doc_id", "source", F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"))
        .join(sc, "doc_id", "left")
        .select(
            "source",
            "y",
            F.when(F.coalesce(F.col("dot6"), F.lit(0)) > 0, 1)
            .otherwise(0)
            .alias("yhat"),
        )
    )
    correct = F.sum(F.when(F.col("yhat") == F.col("y"), 1).otherwise(0))
    return (
        pred.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("y").alias("n_pos"),
            correct.alias("n_correct"),
            (
                F.floor(
                    correct.cast("double") / F.count(F.lit(1)) * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("accuracy"),
        )
        .orderBy("source")
    )
