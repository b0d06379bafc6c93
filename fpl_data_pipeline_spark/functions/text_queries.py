"""Text-analysis operators over the ``documents`` table: token counting,
quality scoring, language identification, n-gram stats. All pure built-in
column expressions (JVM-side, whole-stage codegen) — no Python UDFs — and all
oracle-checked against DuckDB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from fpl_data_pipeline_spark.operators.dedup import (
    _NORM_SQL,
    _NORM_WORDS_SQL,
    _ensure_parallel,
    _norm_text,
    _norm_words,
    _word_ngrams,
    _words,  # noqa: F401  (re-exported next to _norm_text)
)
from fpl_data_pipeline_spark.registry import register
from fpl_data_pipeline_spark.tables import table


# --- token counting: whitespace + BPE-ish regex tokens ----------------------
@register(
    "text_token_counts",
    f"""
    SELECT doc_id,
           len({_NORM_WORDS_SQL}) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_bpeish_tokens,
           length(text) AS n_chars_actual
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_norm_words(F.col("text"))).alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]")).alias(
            "n_bpeish_tokens"
        ),
        F.length("text").alias("n_chars_actual"),
    )


# --- quality scoring: length/punct/stopword/digit signals -------------------
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


@register(
    "text_quality_scores",
    f"""
    WITH feat AS (
      SELECT doc_id,
             length(text) AS n_chars_actual,
             len({_NORM_WORDS_SQL}) AS n_tokens,
             len(list_filter(string_split({_NORM_SQL}, ' '),
                             w -> w IN {tuple(_STOPWORDS)!r})) AS n_stop,
             len(regexp_extract_all(text, '[0-9]')) AS n_digits,
             len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct
      FROM documents
    )
    SELECT doc_id, n_chars_actual, n_tokens,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_digits AS DOUBLE) / n_chars_actual AS digit_ratio,
           CAST(n_punct AS DOUBLE) / n_chars_actual AS punct_ratio,
           CAST(n_chars_actual AS DOUBLE) / n_tokens AS avg_token_len,
           (CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END
            + CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens BETWEEN 0.05 AND 0.6
                   THEN 0.3 ELSE 0.0 END
            + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars_actual < 0.1
                   THEN 0.2 ELSE 0.0 END
            + CASE WHEN CAST(n_digits AS DOUBLE) / n_chars_actual < 0.2
                   THEN 0.1 ELSE 0.0 END) AS quality_score
    FROM feat
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    ws = _norm_words(F.col("text"))
    feat = d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        F.size(ws).alias("n_tokens"),
        F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS))).alias("n_stop"),
        F.regexp_count("text", F.lit("[0-9]")).alias("n_digits"),
        F.regexp_count("text", F.lit("[^a-zA-Z0-9 ]")).alias("n_punct"),
    )
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    digit_ratio = F.col("n_digits").cast("double") / F.col("n_chars_actual")
    punct_ratio = F.col("n_punct").cast("double") / F.col("n_chars_actual")
    score = (
        F.when(F.col("n_tokens") >= 10, 0.4).otherwise(0.0)
        + F.when((stop_ratio >= 0.05) & (stop_ratio <= 0.6), 0.3).otherwise(0.0)
        + F.when(punct_ratio < 0.1, 0.2).otherwise(0.0)
        + F.when(digit_ratio < 0.2, 0.1).otherwise(0.0)
    )
    return feat.select(
        "doc_id",
        "n_chars_actual",
        "n_tokens",
        stop_ratio.alias("stopword_ratio"),
        digit_ratio.alias("digit_ratio"),
        punct_ratio.alias("punct_ratio"),
        (F.col("n_chars_actual").cast("double") / F.col("n_tokens")).alias("avg_token_len"),
        score.alias("quality_score"),
    )


# --- language identification ------------------------------------------------
# Two generations of the classifier, both pure column expressions:
#
# 1. Stopword-marker heuristic (_LANG_MARKERS): counts exact function-word
#    tokens. Kept as the comparison baseline — it misses inflected/accented
#    text entirely (no exact token match -> 'unknown').
# 2. Char-n-gram scorer (_LANG_TRIGRAMS, the registered classifier): counts
#    high-frequency character sequences of each language (public n-gram
#    frequency knowledge — ' the ', 'tion', 'ción', 'sch', ' und ', 'eau')
#    inside the space-padded normalized text, so it scores SUBSTRINGS of
#    inflected words, not just exact tokens. Counting is
#    (length(s) - length(replace(s, g, ''))) / length(g) — identical
#    semantics in Spark and DuckDB, so the oracle reproduces the argmax
#    exactly. tests/test_operators.py proves the accuracy gain over the
#    marker baseline on a fixture of genuine en/es/de/fr sentences.
#
# NOTE on the synthetic corpus: documents.lang is independent of the text
# (all 31 vocabulary words occur in every language at uniform frequency —
# verified in round 4), so NO content classifier can beat chance there;
# lang_id_confusion audits the classifier's behavior, and the real-text
# fixture test is where accuracy is demonstrated.
_LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to", "is"),
    "es": ("el", "la", "de", "y", "que", "los"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "de", "et", "les", "un"),
}

_LANG_TRIGRAMS = {
    "en": ("the ", " and ", "ing ", " of ", "tion"),
    "es": (" el ", " los ", " que ", "ción", " una "),
    "de": (" der ", " und ", " die ", "sch", "ein "),
    "fr": (" le ", " les ", " dans ", " est ", "eau"),
}


def _marker_score(ws, markers):
    # NB: the lambda must take exactly one arg — a second (even defaulted)
    # parameter makes PySpark treat it as the (element, index) form.
    return F.size(F.filter(ws, lambda w: w.isin(*markers)))


def _padded_text(col):
    """Space-padded normalized text so word-boundary grams (' der ') match
    at string start/end too."""
    return F.concat(F.lit(" "), _norm_text(col), F.lit(" "))


def _trigram_score(padded, grams):
    """Total occurrence count of a language's gram set in the padded text —
    occurrences via length-difference after removal (exact, JVM-side)."""
    total = None
    for g in grams:
        cnt = (
            F.length(padded) - F.length(F.replace(padded, F.lit(g), F.lit("")))
        ) / F.lit(float(len(g)))
        total = cnt if total is None else total + cnt
    return total.cast("bigint")


def _trigram_scores_sql() -> str:
    lines = []
    for lang, grams in _LANG_TRIGRAMS.items():
        terms = " + ".join(
            f"(length(padded) - length(replace(padded, '{g}', ''))) / {len(g)}"
            for g in grams
        )
        lines.append(f"CAST({terms} AS BIGINT) AS score_{lang}")
    return ",\n             ".join(lines)


_ARGMAX_LANG_SQL = """CASE
             WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr
                  AND score_en > 0 THEN 'en'
             WHEN score_es >= score_de AND score_es >= score_fr AND score_es > 0 THEN 'es'
             WHEN score_de >= score_fr AND score_de > 0 THEN 'de'
             WHEN score_fr > 0 THEN 'fr'
             ELSE 'unknown'
           END"""


def _argmax_lang(s: dict) -> "F.Column":
    """Deterministic argmax with preference order en > es > de > fr >
    unknown — identical tie behavior to _ARGMAX_LANG_SQL."""
    return (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] > 0),
            "en",
        )
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]) & (s["es"] > 0), "es")
        .when((s["de"] >= s["fr"]) & (s["de"] > 0), "de")
        .when(s["fr"] > 0, "fr")
        .otherwise("unknown")
    )


def predict_lang_trigrams(col) -> "F.Column":
    """text column -> predicted-language column (char-n-gram scorer)."""
    padded = _padded_text(col)
    return _argmax_lang(
        {lang: _trigram_score(padded, g) for lang, g in _LANG_TRIGRAMS.items()}
    )


def predict_lang_markers(col) -> "F.Column":
    """text column -> predicted-language column (stopword-marker baseline)."""
    ws = _norm_words(col)
    return _argmax_lang(
        {lang: _marker_score(ws, m) for lang, m in _LANG_MARKERS.items()}
    )


@register(
    "text_lang_id",
    f"""
    WITH padded AS (
      SELECT doc_id, lang AS labeled_lang,
             ' ' || {_NORM_SQL} || ' ' AS padded
      FROM documents
    ),
    scored AS (
      SELECT doc_id, labeled_lang,
             {_trigram_scores_sql()}
      FROM padded
    )
    SELECT doc_id, labeled_lang,
           {_ARGMAX_LANG_SQL} AS predicted_lang
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-n-gram language identification with a deterministic argmax
    preference order (en > es > de > fr > unknown) — see the module-level
    classifier notes."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        predict_lang_trigrams(F.col("text")).alias("predicted_lang"),
    )


# --- corpus-level n-gram stats: top-25 bigrams ------------------------------
def doc_bigrams(d: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id -> exploded word bigrams (engine operator); a doc with <2
    words emits none (the :func:`dedup._word_ngrams` guard).

    Perf: the tokenization is projected into a real column first — inlining
    it in the transform lambda re-ran the regex split ~2x per bigram per doc
    (text_top_bigrams measured 8.9 s warm at sf0.1; the same defect
    phrase_search_topdocs carried until round 6, 9.2 -> 1.6 s). The
    multi-reference alias keeps CollapseProject from re-inlining, and small
    scans fan out to session parallelism first — the shingles() pattern at
    operators/dedup.py."""
    words = _ensure_parallel(d).select(
        "doc_id", _norm_words(F.col(text_col)).alias("ws")
    )
    return words.select(
        "doc_id", F.explode(_word_ngrams(F.col("ws"), 2)).alias("bigram")
    )


@register(
    "text_top_bigrams",
    f"""
    WITH words AS (
      SELECT doc_id, {_NORM_WORDS_SQL} AS ws
      FROM documents
    ),
    bigrams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(ws), 1)),
                                   i -> ws[i] || ' ' || ws[i+1])) AS bigram
      FROM words
    )
    SELECT bigram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
    FROM bigrams
    GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 25
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        doc_bigrams(d)
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(25)
    )


# --- feature hashing: text -> fixed-dim count vector (HashingTF semantics) --
FH_DIM = 64
# Block-size cap for the hashed-vector near-dup blocking (FS_BLOCK_CAP
# precedent, fuzzy_join.py): with a fixed key space, per-block membership
# grows with the corpus, and Zipfian token mass concentrates most docs in
# the block of the commonest token — the round-5 10x probe OOMed the pair
# expansion on exactly that mega-block. Oversized blocks carry no dedup
# signal (the key stopped discriminating), so they are dropped BEFORE the
# member collect, on both engines.
HV_BLOCK_CAP = 1000


def feature_vectors(
    df: DataFrame,
    text_col: str = "text",
    dim: int = FH_DIM,
    hash_fn: str = "xxhash64",
    words: DataFrame | None = None,
) -> DataFrame:
    """doc_id -> dense int count vector of hashed tokens (the HashingTF
    trick, built-ins only): token -> bucket = hash mod dim, count per
    bucket, then densify via map_from_entries + per-index lookup. One
    explode + one shuffle on doc_id; the dense array is dim ints per doc —
    the embedding-generation step for corpora too large to train a real
    encoder over every row.

    hash_fn: 'xxhash64' (default — fastest, JVM-side, engine-specific) or
    'md5' (portable: every md5 implementation agrees, so results are
    reproducible across engines — the choice the oracle-checked query
    makes, at ~2-3x the per-token hash cost)."""
    from fpl_data_pipeline_spark.operators.dedup import _ensure_parallel

    # Round-11: the sf0.1 documents scan is one 118 MB split, so the
    # tokenize + per-token md5 ran single-threaded (a 2.4 s 1-task stage in
    # the text_hash_vector_dups profile); the same conditional fan-out the
    # shingle pipelines use parallelizes it without adding an Exchange to
    # an already-parallel scan.
    # Round-12: one-pass tokenizer (see dedup._norm_words) — token-identical
    # to the collapse-then-split it replaces, one regex pass per doc.
    # ``words`` optionally supplies a precomputed doc_words(df) relation
    # (the multi-family-consumer tokenize-once path).
    if words is None:
        toks = _ensure_parallel(df).select(
            "doc_id",
            F.explode(_norm_words(F.col(text_col))).alias("tok"),
        )
    else:
        toks = words.select("doc_id", F.explode("ws").alias("tok"))
    if hash_fn == "md5":
        bucket = F.pmod(
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"), F.lit(dim)
        )
    else:
        bucket = F.pmod(F.xxhash64("tok"), F.lit(dim))
    counts = (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # The explicit doc_id repartition pins the densify stage at session
    # parallelism: the sparse maps are small in BYTES, so AQE's byte-based
    # partition coalescing was folding the post-agg stage to ONE task and
    # the dim-wide densify (plus everything fused after it) serialized —
    # two 3 s single-task stages in the text_hash_vector_dups profile.
    # User-specified repartitions are exempt from AQE coalescing, and the
    # exchange moves one map row per doc, not the token explode.
    sparse = (
        counts.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("bucket", "n")))
            ).alias("m")
        )
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "doc_id")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at("m", i), F.lit(0)).cast("double"),
    )
    return sparse.select("doc_id", dense.alias("fv"))


def hv_block_keyed_vectors(d: DataFrame, words: DataFrame | None = None) -> DataFrame:
    """(doc_id, fv, k1, k2): portable hashed count vectors plus the
    unordered two-dominant-bucket blocking key — the keyed relation under
    text_hash_vector_dups, split out so candidate_cap_audit can report
    HV_BLOCK_CAP drops from the same code.

    vh1 = 1-based argmax position (first occurrence = smallest bucket on
    count ties, matching the oracle's ORDER BY n DESC, bucket ASC); vh2 =
    argmax with position vh1 masked to -1; sentinel 0 when the doc has a
    single nonzero bucket (oracle uses -1 — both sides are a uniform +1
    shift, so least/greatest induce the same partition of docs)."""
    return (
        feature_vectors(d, hash_fn="md5", words=words)
        .withColumn("vh1", F.array_position(F.col("fv"), F.array_max("fv")))
        .withColumn(
            "fvm",
            F.transform(
                F.col("fv"),
                lambda x, i: F.when(i == F.col("vh1") - 1, F.lit(-1.0)).otherwise(x),
            ),
        )
        .withColumn("m2", F.array_max("fvm"))
        .withColumn(
            "vh2",
            F.when(F.col("m2") <= 0, F.lit(0).cast("long")).otherwise(
                F.array_position(F.col("fvm"), F.col("m2"))
            ),
        )
        .withColumn("k1", F.least("vh1", "vh2"))
        .withColumn("k2", F.greatest("vh1", "vh2"))
        .drop("vh1", "fvm", "m2", "vh2")
    )


@register(
    "text_hash_vector_dups",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_NORM_WORDS_SQL}) AS tok FROM documents
    ),
    counts AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % {FH_DIM} AS bucket,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM toks GROUP BY doc_id, bucket
    ),
    norms AS (SELECT doc_id, sqrt(SUM(n * n)) AS nrm FROM counts GROUP BY doc_id),
    ranked AS (
      SELECT doc_id, bucket,
             row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, bucket ASC) AS rn
      FROM counts
    ),
    dom AS (
      SELECT doc_id,
             MAX(CASE WHEN rn = 1 THEN bucket END) AS b1,
             COALESCE(MAX(CASE WHEN rn = 2 THEN bucket END), -1) AS b2
      FROM ranked WHERE rn <= 2 GROUP BY doc_id
    ),
    blocks AS (
      SELECT doc_id, LEAST(b1, b2) AS k1, GREATEST(b1, b2) AS k2 FROM dom
    ),
    oksz AS (
      SELECT k1, k2 FROM blocks GROUP BY k1, k2
      HAVING COUNT(*) <= {HV_BLOCK_CAP}
    ),
    cand AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM blocks a
      JOIN oksz s ON s.k1 = a.k1 AND s.k2 = a.k2
      JOIN blocks b ON a.k1 = b.k1 AND a.k2 = b.k2 AND a.doc_id < b.doc_id
    ),
    dots AS (
      SELECT c.doc_id_a, c.doc_id_b, SUM(ca.n * cb.n) AS dot
      FROM cand c
      JOIN counts ca ON ca.doc_id = c.doc_id_a
      JOIN counts cb ON cb.doc_id = c.doc_id_b AND cb.bucket = ca.bucket
      GROUP BY c.doc_id_a, c.doc_id_b
    )
    SELECT d.doc_id_a, d.doc_id_b,
           round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_id_a
    JOIN norms nb ON nb.doc_id = d.doc_id_b
    ORDER BY cosine DESC, d.doc_id_a ASC, d.doc_id_b ASC
    LIMIT 20
    """,
)
def text_hash_vector_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection in hashed-feature space: cosine over the
    feature-hashed count vectors, candidates blocked on the UNORDERED pair
    of the vector's two dominant buckets (argmax + masked second argmax —
    identical/near-identical token distributions share both, and the
    unordered key also catches swapped dominance between two close counts).
    Top-20 pairs. The two-bucket key exists because the single dominant
    bucket degenerates under Zipf: most docs' argmax is the bucket of the
    commonest token, so one mega-block holds most of the corpus and pair
    generation goes quadratic — the round-5 10x probe OOMed there. The
    composite key multiplies effective block count ~dim/2 x, and blocks
    still over HV_BLOCK_CAP are dropped before the member collect (they
    carry no signal; FS_BLOCK_CAP precedent). Uses the portable md5
    bucket so the DuckDB oracle reproduces the vectors exactly (counts are
    integer-valued doubles: dot products and norms are exact on both
    engines); production corpora switch hash_fn='xxhash64' for speed with
    identical semantics."""
    from fpl_data_pipeline_spark.operators.dedup import (
        _expand_member_pairs_streaming,
    )

    d = table(spark, sf_dir, "documents")
    # localCheckpoint: the vector frame feeds three consumers (the block
    # relation + both score-join sides) — materialize the hash-explode
    # pipeline once instead of compiling it per consumer.
    fv = hv_block_keyed_vectors(d).localCheckpoint(eager=False)
    # id-only in-array group expansion on the blocking key (ARCHITECTURE.md
    # §7): the dense count vectors do NOT ride the expansion — pairs dedup
    # as two longs, then the vectors join back and each distinct pair is
    # scored exactly once (same join-back rationale as _lsh_candidate_pairs).
    # oksz is bounded by the key space (<= ~dim^2/2 rows at ANY corpus
    # size), so Catalyst broadcasts it and the cap filter runs map-side.
    blocks = fv.select("doc_id", "k1", "k2")
    oksz = (
        blocks.groupBy("k1", "k2")
        .agg(F.count(F.lit(1)).alias("bs"))
        .filter((F.col("bs") >= 2) & (F.col("bs") <= HV_BLOCK_CAP))
        .drop("bs")
    )
    groups = (
        blocks.join(oksz, ["k1", "k2"])
        .groupBy("k1", "k2")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("members"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    pairs = _expand_member_pairs_streaming(groups).select(
        F.col("a").alias("doc_id_a"), F.col("b").alias("doc_id_b")
    )
    fa = fv.select(F.col("doc_id").alias("doc_id_a"), F.col("fv").alias("fa"))
    fb = fv.select(F.col("doc_id").alias("doc_id_b"), F.col("fv").alias("fb"))
    dot = F.aggregate(
        F.zip_with("fa", "fb", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(
        F.aggregate(F.transform("fa", lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )
    nb = F.sqrt(
        F.aggregate(F.transform("fb", lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )
    return (
        pairs.join(fa, "doc_id_a")
        .join(fb, "doc_id_b")
        .select(
            "doc_id_a", "doc_id_b", F.round(dot / (na * nb), 6).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("doc_id_a").asc(), F.col("doc_id_b").asc())
        .limit(20)
    )


# --- PII scrubbing: entity detection + placeholder replacement --------------
# Patterns chosen for identical semantics under Java regex (Spark) and RE2
# (DuckDB): greedy quantifiers over disjoint character classes, no
# backreferences, no word-boundary anchors.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"555-[0-9]{4}"
_PII_IP = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"

# The synthetic corpus contains no natural PII (verified: zero docs with
# '@', digits, or 'http'), so the scrub harness injects deterministic
# synthetic PII derived from doc_id — the standard way to test a scrubber
# with known ground truth. Every doc gains an email; every 3rd a phone;
# every 5th an IP.
_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || CASE WHEN doc_id % 3 = 0 THEN ' tel 555-'"
    "   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' host 10.0.'"
    "   || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id // 7) % 256 AS VARCHAR)"
    " ELSE '' END"
)


@register(
    "pii_scrub_summary",
    f"""
    WITH aug AS (
      SELECT doc_id, source, {_AUG_SQL} AS text_aug FROM documents
    ),
    scrubbed AS (
      SELECT doc_id, source, text_aug,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text_aug, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IP}', '<IP>', 'g') AS text_clean,
             len(regexp_extract_all(text_aug, '{_PII_EMAIL}')) AS n_emails,
             len(regexp_extract_all(text_aug, '{_PII_PHONE}')) AS n_phones,
             len(regexp_extract_all(text_aug, '{_PII_IP}')) AS n_ips
      FROM aug
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_emails) AS BIGINT) AS total_emails,
           CAST(SUM(n_phones) AS BIGINT) AS total_phones,
           CAST(SUM(n_ips) AS BIGINT) AS total_ips,
           CAST(SUM(CASE WHEN n_emails + n_phones + n_ips > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_with_pii,
           CAST(SUM(length(text_aug) - length(text_clean)) AS BIGINT)
             AS chars_delta
    FROM scrubbed
    GROUP BY source
    """,
)
def pii_scrub_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub for training corpora: detect email/phone/IP entities with
    RE2-compatible patterns, replace each with a typed placeholder, and
    report per-source entity counts plus the byte delta of the rewrite —
    the audit artifact a release pipeline stores next to the scrubbed
    shard. Detection and replacement are single-pass JVM regex over the
    text column (whole-stage codegen, no UDFs); the rollup is one
    hash aggregate on source.

    The corpus is synthetic word salad with no natural PII, so the query
    injects deterministic doc_id-derived entities first (emails on every
    doc, phones on doc_id%3==0, IPs on doc_id%5==0) — ground truth is
    exact and the oracle verifies both detection counts and the scrubbed
    lengths."""
    d = table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" tel 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit("."),
                    # integer floor division (matches the oracle's doc_id // 7
                    # exactly; double true-division would lose integer
                    # precision past 2^53)
                    (F.expr("doc_id div 7") % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text_aug"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text_aug", _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    scrubbed = aug.select(
        "source",
        F.length("text_aug").alias("len_aug"),
        F.length(clean).alias("len_clean"),
        F.regexp_count("text_aug", F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count("text_aug", F.lit(_PII_PHONE)).alias("n_phones"),
        F.regexp_count("text_aug", F.lit(_PII_IP)).alias("n_ips"),
    )
    return scrubbed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_emails").alias("total_emails"),
        F.sum("n_phones").alias("total_phones"),
        F.sum("n_ips").alias("total_ips"),
        F.sum(
            F.when(
                F.col("n_emails") + F.col("n_phones") + F.col("n_ips") > 0, 1
            ).otherwise(0)
        ).alias("docs_with_pii"),
        F.sum(F.col("len_aug") - F.col("len_clean")).alias("chars_delta"),
    )


# --- quality-threshold calibration (per-language percentile cutoff) ---------
KEEP_RATE = 0.7  # target: keep the top 70% of docs per language
# The percentile fraction is computed ONCE and embedded with full precision
# into BOTH engines: 1 - 0.7 is 0.30000000000000004 in binary doubles, and a
# rounded "0.3" literal on the oracle side would put the two engines an
# epsilon apart at integer ranks, where the threshold lands exactly on a data
# value and the >= comparison can flip for the cutoff doc.
_CALIB_P = 1 - KEEP_RATE


@register(
    "quality_threshold_calibration",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(len({{words}}) AS DOUBLE) / length(text) AS density
      FROM documents
    ),
    thresholds AS (
      SELECT lang,
             COUNT(*) AS n_docs,
             percentile_cont({_CALIB_P!r}) WITHIN GROUP (ORDER BY density)
               AS thr
      FROM scored GROUP BY lang
    )
    SELECT t.lang,
           CAST(t.n_docs AS BIGINT) AS n_docs,
           round(t.thr, 6) AS threshold,
           CAST(SUM(CASE WHEN s.density >= t.thr THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_kept,
           round(CAST(SUM(CASE WHEN s.density >= t.thr THEN 1 ELSE 0 END) AS DOUBLE)
                   / t.n_docs, 6) AS actual_keep_rate
    FROM scored s JOIN thresholds t USING (lang)
    GROUP BY t.lang, t.n_docs, t.thr
    """.replace("{words}", _NORM_WORDS_SQL),
)
def quality_threshold_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-gate calibration: given a target keep rate, find
    the score threshold (exact interpolated percentile of the quality
    signal — token density here; any score column slots in) and report the
    realized keep rate, which deviates from the target under score ties.
    This is the operator a filtering pipeline runs on a sample before
    freezing thresholds for the full corpus pass.

    Scale shape: one scoring scan, one per-group exact percentile (per-lang
    sort at calibration-sample size; the 100 TB full-corpus variant swaps
    in approx_percentile's mergeable sketch), one broadcast threshold map
    joined back for the keep count. Threshold comparisons reuse the
    UNROUNDED percentile on both engines, and both engines receive the
    IDENTICAL fraction literal (_CALIB_P, full precision) — at integer
    ranks the percentile is an exact data value, so an epsilon-different
    fraction would interpolate the two engines onto opposite sides of the
    >= comparison for the cutoff doc."""
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        (
            F.size(_norm_words(F.col("text"))).cast("double")
            / F.length("text")
        ).alias("density"),
    )
    thresholds = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.percentile("density", F.lit(_CALIB_P)).alias("thr"),
    )
    j = scored.join(F.broadcast(thresholds), "lang")
    return j.groupBy("lang", "n_docs", "thr").agg(
        F.sum(F.when(F.col("density") >= F.col("thr"), 1).otherwise(0)).alias(
            "docs_kept"
        ),
    ).select(
        "lang",
        "n_docs",
        F.round("thr", 6).alias("threshold"),
        "docs_kept",
        F.round(F.col("docs_kept").cast("double") / F.col("n_docs"), 6).alias(
            "actual_keep_rate"
        ),
    )


# --- language-ID confusion matrix (classifier audit) ------------------------
@register(
    "lang_id_confusion",
    f"""
    WITH padded AS (
      SELECT doc_id, lang AS labeled_lang,
             ' ' || {_NORM_SQL} || ' ' AS padded
      FROM documents
    ),
    scored AS (
      SELECT doc_id, labeled_lang,
             {_trigram_scores_sql()}
      FROM padded
    ),
    pred AS (
      SELECT labeled_lang,
             {_ARGMAX_LANG_SQL} AS predicted_lang
      FROM scored
    )
    SELECT labeled_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred
    GROUP BY labeled_lang, predicted_lang
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier audit: the labeled-vs-predicted confusion matrix of the
    char-n-gram language identifier (text_lang_id) over the labeled corpus
    — the accuracy surface a pipeline monitors when tuning gram sets or
    swapping in a real LID model. One scan + one two-key hash aggregate.
    On the synthetic corpus the labels are text-independent (see the
    classifier notes above), so this audit shows behavior, not achievable
    accuracy; the real-text accuracy comparison lives in
    tests/test_operators.py."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("lang").alias("labeled_lang"),
            predict_lang_trigrams(F.col("text")).alias("predicted_lang"),
        )
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- model-based quality scoring (round 4) ----------------------------------
# Linear quality classifier with FIXED literal weights (a distilled stand-in
# for a fasttext/logreg quality model). Portability: the squash is the
# rational "fast sigmoid" 0.5 + z/(2*(1+|z|)) — pure IEEE +-*/ in a fixed
# evaluation order, bitwise identical across engines, unlike exp()-based
# sigmoid whose libm last-ulp behavior differs between JVM and DuckDB.
QM_BIAS = -1.5
QM_W_STOP = 2.2  # stopword ratio: natural text evidence
QM_W_TOK = 0.012  # per-token length reward
QM_W_PUNCT = -3.0  # punctuation soup penalty
QM_W_DIGIT = -1.8  # digit-heavy (tables/serial dumps) penalty
QM_KEEP = 0.6
QM_REVIEW = 0.45


@register(
    "quality_model_scores",
    f"""
    WITH feat AS (
      SELECT doc_id, source,
             length(text) AS n_chars_actual,
             len({_NORM_WORDS_SQL}) AS n_tokens,
             len(list_filter(string_split({_NORM_SQL}, ' '),
                             w -> w IN {tuple(_STOPWORDS)!r})) AS n_stop,
             len(regexp_extract_all(text, '[0-9]')) AS n_digits,
             len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct
      FROM documents
    ),
    scored AS (
      SELECT doc_id, source,
             {QM_BIAS} + {QM_W_STOP} * (CAST(n_stop AS DOUBLE) / n_tokens)
               + {QM_W_TOK} * n_tokens
               + {QM_W_PUNCT} * (CAST(n_punct AS DOUBLE) / n_chars_actual)
               + {QM_W_DIGIT} * (CAST(n_digits AS DOUBLE) / n_chars_actual) AS z
      FROM feat
    ),
    squashed AS (
      SELECT doc_id, source, 0.5 + z / (2 * (1 + abs(z))) AS score
      FROM scored
    ),
    verdicts AS (
      SELECT source,
             CASE WHEN score >= {QM_KEEP} THEN 'keep'
                  WHEN score >= {QM_REVIEW} THEN 'review'
                  ELSE 'drop' END AS verdict,
             floor(score * 1000000 + 0.5) / 1000000 AS score_q
      FROM squashed
    )
    SELECT source, verdict,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(score_q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS mean_score
    FROM verdicts
    GROUP BY source, verdict
    ORDER BY source ASC, verdict ASC
    """,
)
def quality_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: every document is scored by a linear
    classifier over the engineered features (stopword ratio, token count,
    punctuation/digit density) and squashed to [0,1], then bucketed into
    keep / review / drop per source — the classifier-driven complement to
    the rule-based text_quality_scores, and the shape a distilled fasttext
    quality model runs at 100 TB (weights broadcast in the closure; one
    scan, one 2-key hash agg, no shuffle before the agg).

    The squash is a rational fast-sigmoid (no exp()), so scores are bitwise
    reproducible on any engine — the property that makes a corpus release
    auditable months later. Mean score goes through 6-dp portable rounding +
    DECIMAL so the per-cell mean is order-independent.
    """
    d = table(spark, sf_dir, "documents")
    ws = _norm_words(F.col("text"))
    feat = d.select(
        "doc_id",
        "source",
        F.length("text").alias("n_chars_actual"),
        F.size(ws).alias("n_tokens"),
        F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS))).alias("n_stop"),
        F.regexp_count("text", F.lit("[0-9]")).alias("n_digits"),
        F.regexp_count("text", F.lit("[^a-zA-Z0-9 ]")).alias("n_punct"),
    )
    z = (
        F.lit(QM_BIAS)
        + F.lit(QM_W_STOP) * (F.col("n_stop").cast("double") / F.col("n_tokens"))
        + F.lit(QM_W_TOK) * F.col("n_tokens")
        + F.lit(QM_W_PUNCT) * (F.col("n_punct").cast("double") / F.col("n_chars_actual"))
        + F.lit(QM_W_DIGIT) * (F.col("n_digits").cast("double") / F.col("n_chars_actual"))
    )
    scored = feat.select("doc_id", "source", z.alias("z"))
    score = F.lit(0.5) + F.col("z") / (F.lit(2) * (F.lit(1) + F.abs(F.col("z"))))
    verdict = (
        F.when(F.col("score") >= QM_KEEP, "keep")
        .when(F.col("score") >= QM_REVIEW, "review")
        .otherwise("drop")
    )
    squashed = scored.select("doc_id", "source", score.alias("score"))
    verdicts = squashed.select(
        "source",
        verdict.alias("verdict"),
        (F.floor(F.col("score") * 1000000 + F.lit(0.5)) / 1000000).alias("score_q"),
    )
    return (
        verdicts.groupBy("source", "verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.col("score_q").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_score"),
        )
        .orderBy(F.col("source").asc(), F.col("verdict").asc())
    )


# --- count-min sketch heavy hitters (sketch family: KMV, Bloom, CMS) --------
CMS_D = 4  # hash rows
CMS_W = 1024  # cells per row

_CMS_CELL_SQL = (
    "(('0x' || substr(md5(word || ':' || {j}), 1, 8))::BIGINT % " + str(CMS_W) + ")"
)


@register(
    "cms_heavy_hitters",
    f"""
    WITH norm AS (SELECT {_NORM_SQL} AS t FROM documents),
    words AS (
      SELECT unnest(list_filter(string_split(t, ' '), w -> w <> '')) AS word
      FROM norm
    ),
    exact AS (SELECT word, COUNT(*) AS exact_count FROM words GROUP BY word),
    hashed AS (
      SELECT word, exact_count, j, {_CMS_CELL_SQL.format(j='j')} AS cell
      FROM exact CROSS JOIN (SELECT unnest(range({CMS_D})) AS j)
    ),
    cells AS (
      SELECT j, cell, CAST(SUM(exact_count) AS BIGINT) AS cell_count
      FROM hashed GROUP BY j, cell
    ),
    est AS (
      SELECT h.word, MAX(h.exact_count) AS exact_count,
             MIN(c.cell_count) AS cms_estimate
      FROM hashed h JOIN cells c ON c.j = h.j AND c.cell = h.cell
      GROUP BY h.word
    )
    SELECT word, exact_count, cms_estimate,
           cms_estimate - exact_count AS overestimate
    FROM est
    ORDER BY exact_count DESC, word ASC
    LIMIT 20
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus unigram stream: a {CMS_D}x{CMS_W}
    deterministic-md5 sketch, its estimate for the top-20 true heavy
    hitters, and the realized overestimate (CMS error is one-sided:
    estimate >= truth always, so ``overestimate`` is the per-key realized
    error the width/depth trade-off is tuned against).

    Completes the mergeable-sketch family next to KMV (distinct count) and
    the Bloom blocklist (membership): CMS answers point frequency queries
    in {CMS_D}*{CMS_W} counters regardless of vocabulary size. Scale shape:
    the sketch is built FROM the per-word partial counts (one word-key
    shuffle — the same aggregate the exact counts need), so the cell
    aggregation fans out {CMS_D} rows per DISTINCT word, not per token;
    cell counts and estimates are two tiny hash aggregates. The sketch is
    mergeable across corpus shards by cell-wise addition.
    """
    d = table(spark, sf_dir, "documents")
    words = d.select(F.explode(_norm_words(F.col("text"))).alias("word"))
    exact = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_count"))
    hashed = exact.select(
        "word",
        "exact_count",
        F.explode(F.array(*[F.lit(j) for j in range(CMS_D)])).alias("j"),
    ).withColumn(
        "cell",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("word"), F.lit(":"), F.col("j"))), 1, 8
                ),
                16,
                10,
            ).cast("long"),
            F.lit(CMS_W),
        ),
    )
    cells = hashed.groupBy("j", "cell").agg(
        F.sum("exact_count").alias("cell_count")
    )
    est = (
        hashed.join(cells, ["j", "cell"])
        .groupBy("word")
        .agg(
            F.max("exact_count").alias("exact_count"),
            F.min("cell_count").alias("cms_estimate"),
        )
    )
    return (
        est.select(
            "word",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
        )
        .orderBy(F.col("exact_count").desc(), F.col("word").asc())
        .limit(20)
    )


# --- tokenizer vocabulary coverage (OOV audit) ------------------------------
VOCAB_K = 16  # small enough to bite on the 31-word synthetic vocab; a real corpus uses 30-100k


@register(
    "vocab_oov_rates",
    f"""
    WITH norm AS (SELECT source, {_NORM_SQL} AS t FROM documents),
    toks AS (
      SELECT source,
             unnest(list_filter(string_split(t, ' '), w -> w <> '')) AS word
      FROM norm
    ),
    cnt AS (SELECT word, COUNT(*) AS c FROM toks GROUP BY word),
    vocab AS (
      SELECT word FROM (
        SELECT word, ROW_NUMBER() OVER (ORDER BY c DESC, word ASC) AS r FROM cnt
      ) WHERE r <= {VOCAB_K}
    ),
    j AS (
      SELECT t.source, CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
      FROM toks t LEFT JOIN vocab v USING (word)
    )
    SELECT source, COUNT(*) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           FLOOR(CAST(SUM(oov) AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000
             AS oov_rate
    FROM j GROUP BY source ORDER BY source ASC
    """,
)
def vocab_oov_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage audit: fix the vocabulary at the corpus's top-VOCAB_K
    words (deterministic tie-break) and measure each ingest source's
    out-of-vocabulary token rate — the signal for when a tokenizer retrain
    or a source-specific normalization pass is due (a source drifting to
    high OOV inflates sequence lengths and degrades token budgets).

    Scale shape: vocab selection is one word-keyed aggregate + a top-k; the
    coverage join broadcasts the {VOCAB_K}-row vocab against the token
    stream (map-side, no shuffle) and the audit is a per-source hash agg.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(_norm_words(F.col("text"))).alias("word")
    )
    cnt = toks.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    # top-k via orderBy+limit -> TakeOrderedAndProject (per-partition heaps
    # + driver merge of k rows), NOT a global row_number window whose single
    # unpartitioned sort would bottleneck the distinct-word table at scale
    vocab = (
        cnt.orderBy(F.col("c").desc(), F.col("word").asc())
        .limit(VOCAB_K)
        .select("word", F.lit(1).alias("in_vocab"))
    )
    j = toks.join(F.broadcast(vocab), "word", "left").select(
        "source",
        F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov"),
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("oov").cast("bigint").alias("n_oov"),
            (
                F.floor(
                    F.sum("oov").cast("double")
                    / F.count(F.lit(1))
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("oov_rate"),
        )
        .orderBy(F.col("source").asc())
    )


# --- bigram-LM surprisal (conditional perplexity proxy) ---------------------
@register(
    "quality_bigram_surprisal",
    f"""
    WITH words AS (
      SELECT doc_id, {_NORM_WORDS_SQL} AS ws
      FROM documents
    ),
    bigrams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(ws), 1)),
                                   i -> ws[i] || ' ' || ws[i+1])) AS bigram
      FROM words
    ),
    bc AS (SELECT bigram, COUNT(*) AS cb FROM bigrams GROUP BY bigram),
    ctx AS (
      SELECT split_part(bigram, ' ', 1) AS w1, COUNT(*) AS cc
      FROM bigrams GROUP BY 1
    ),
    scored AS (
      SELECT g.doc_id, ln(CAST(c.cc AS DOUBLE) / b.cb) AS surprisal
      FROM bigrams g
      JOIN bc b USING (bigram)
      JOIN ctx c ON c.w1 = split_part(g.bigram, ' ', 1)
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           round(SUM(surprisal) / COUNT(*), 6) AS avg_surprisal
    FROM scored GROUP BY doc_id
    """,
)
def quality_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional (bigram-LM) surprisal per document: -ln p(w2 | w1) from
    corpus bigram/context counts, averaged per doc — a strictly sharper
    perplexity proxy than quality_unigram_surprisal (word order now
    matters: scrambled boilerplate scores high even when its unigram mix is
    corpus-typical). The LM is trained on the corpus itself so every doc
    bigram has count >= 1 — no smoothing needed for finiteness.

    Three word-keyed hash aggregates (bigram counts, context counts,
    per-doc mean) — same shuffle budget as the unigram variant plus one
    map-side split_part. The double SUM's ~1e-15 order noise is absorbed by
    the 6-dp round (precedent: quality_unigram_surprisal).
    """
    d = table(spark, sf_dir, "documents")
    grams = doc_bigrams(d)
    bc = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("cb"))
    ctx = (
        grams.select(F.expr("split_part(bigram, ' ', 1)").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("cc"))
    )
    scored = (
        grams.join(bc, "bigram")
        .withColumn("w1", F.expr("split_part(bigram, ' ', 1)"))
        .join(ctx, "w1")
        .select(
            "doc_id", F.log(F.col("cc").cast("double") / F.col("cb")).alias("surprisal")
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("surprisal") / F.count(F.lit(1)), 6).alias("avg_surprisal"),
    )


# --- lexical diversity per source (vocabulary-richness monitor) -------------
@register(
    "source_lexical_diversity",
    f"""
    WITH toks AS (
      SELECT source,
             unnest({_NORM_WORDS_SQL}) AS word
      FROM documents
    ),
    cnt AS (SELECT source, word, COUNT(*) AS c FROM toks GROUP BY source, word),
    stats AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             COUNT(*) AS n_types,
             CAST(SUM(c * (c - 1)) AS BIGINT) AS pairs
      FROM cnt GROUP BY source
    )
    SELECT source, n_tokens, CAST(n_types AS BIGINT) AS n_types,
           FLOOR(CAST(n_types AS DOUBLE) / n_tokens * 1000000 + 0.5) / 1000000
             AS type_token_ratio,
           FLOOR(CAST(pairs AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1))
                 * 1000000 + 0.5) / 1000000 AS simpson_index
    FROM stats
    ORDER BY source
    """,
)
def source_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary richness per ingest source: type-token ratio and the
    Simpson repeat-probability index (the chance two tokens drawn without
    replacement are the same word). A source whose TTR collapses or whose
    Simpson index spikes has gone templated/boilerplate — the lexical
    health gauge next to the volume (source_trend_slopes) and content-KL
    (source_token_divergence) monitors. Integer-exact moments from one
    (source, word) hash aggregate; only the two final ratios touch
    floating point, portable-rounded."""
    d = table(spark, sf_dir, "documents")
    cnt = (
        d.select("source", F.explode(_norm_words(F.col("text"))).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = cnt.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("bigint").alias("pairs"),
    )
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return stats.select(
        "source",
        "n_tokens",
        F.col("n_types").cast("bigint").alias("n_types"),
        q6(F.col("n_types").cast("double") / F.col("n_tokens")).alias(
            "type_token_ratio"
        ),
        q6(
            F.col("pairs").cast("double")
            / (F.col("n_tokens").cast("double") * (F.col("n_tokens") - 1))
        ).alias("simpson_index"),
    ).orderBy("source")


# --- model-calibration audit: reliability bins + gap ------------------------
# A quality model gates million-dollar corpus decisions; before its scores
# are trusted as probabilities (e.g. for quality-weighted sampling), the
# standard check is a reliability diagram: bucket predictions into deciles
# and compare each bucket's mean predicted score against the observed
# positive rate (here: the independent rule-based quality gate passing at
# >= 0.7). |gap| per bin is the calibration error the ECE weights by bin
# mass. One scan computes both scorers' features, one 1-key hash agg bins
# them — no shuffle before the agg, no Python.
@register(
    "quality_calibration_bins",
    f"""
    WITH feat AS (
      SELECT doc_id,
             length(text) AS n_chars_actual,
             len({_NORM_WORDS_SQL}) AS n_tokens,
             len(list_filter(string_split({_NORM_SQL}, ' '),
                             w -> w IN {tuple(_STOPWORDS)!r})) AS n_stop,
             len(regexp_extract_all(text, '[0-9]')) AS n_digits,
             len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct
      FROM documents
    ),
    both_scores AS (
      SELECT doc_id,
             floor((0.5 + z / (2 * (1 + abs(z)))) * 1000000 + 0.5) / 1000000
               AS score_q,
             CASE WHEN rule_score >= 0.7 THEN 1 ELSE 0 END AS label
      FROM (
        SELECT doc_id,
               {QM_BIAS} + {QM_W_STOP} * (CAST(n_stop AS DOUBLE) / n_tokens)
                 + {QM_W_TOK} * n_tokens
                 + {QM_W_PUNCT} * (CAST(n_punct AS DOUBLE) / n_chars_actual)
                 + {QM_W_DIGIT} * (CAST(n_digits AS DOUBLE) / n_chars_actual)
                 AS z,
               (CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END
                + CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens
                         BETWEEN 0.05 AND 0.6 THEN 0.3 ELSE 0.0 END
                + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars_actual < 0.1
                       THEN 0.2 ELSE 0.0 END
                + CASE WHEN CAST(n_digits AS DOUBLE) / n_chars_actual < 0.2
                       THEN 0.1 ELSE 0.0 END) AS rule_score
        FROM feat
      )
    )
    SELECT CAST(least(floor(score_q * 10), 9) AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(score_q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS mean_pred,
           CAST(SUM(label) AS DOUBLE) / COUNT(*) AS pos_rate
    FROM both_scores
    GROUP BY 1
    ORDER BY bin
    """,
)
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the model-based quality scorer against the
    independent rule-based gate: decile bins of predicted score vs observed
    pass rate — the audit run before scores are used as sampling weights.

    Per-bin mean prediction goes through the 6-dp-quantized exact-decimal
    convention; pass rate is a ratio of exact integers."""
    d = table(spark, sf_dir, "documents")
    ws = _norm_words(F.col("text"))
    feat = d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        F.size(ws).alias("n_tokens"),
        F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS))).alias("n_stop"),
        F.regexp_count("text", F.lit("[0-9]")).alias("n_digits"),
        F.regexp_count("text", F.lit("[^a-zA-Z0-9 ]")).alias("n_punct"),
    )
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    digit_ratio = F.col("n_digits").cast("double") / F.col("n_chars_actual")
    punct_ratio = F.col("n_punct").cast("double") / F.col("n_chars_actual")
    z = (
        F.lit(QM_BIAS)
        + F.lit(QM_W_STOP) * stop_ratio
        + F.lit(QM_W_TOK) * F.col("n_tokens")
        + F.lit(QM_W_PUNCT) * punct_ratio
        + F.lit(QM_W_DIGIT) * digit_ratio
    )
    rule_score = (
        F.when(F.col("n_tokens") >= 10, 0.4).otherwise(0.0)
        + F.when((stop_ratio >= 0.05) & (stop_ratio <= 0.6), 0.3).otherwise(0.0)
        + F.when(punct_ratio < 0.1, 0.2).otherwise(0.0)
        + F.when(digit_ratio < 0.2, 0.1).otherwise(0.0)
    )
    score = F.lit(0.5) + z / (F.lit(2) * (F.lit(1) + F.abs(z)))
    scored = feat.select(
        (F.floor(score * 1000000 + F.lit(0.5)) / 1000000).alias("score_q"),
        F.when(rule_score >= 0.7, F.lit(1)).otherwise(F.lit(0)).alias("label"),
    )
    return (
        scored.groupBy(
            F.least(F.floor(F.col("score_q") * 10), F.lit(9))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.col("score_q").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_pred"),
            (F.sum("label").cast("double") / F.count(F.lit(1))).alias("pos_rate"),
        )
        .orderBy("bin")
    )


# --- encoding-health audit: mojibake / control chars / invisible chars ------
# Web-crawl corpora arrive with three classic encoding wounds: U+FFFD
# replacement chars (decode already failed upstream), UTF-8-read-as-Latin-1
# mojibake ("â€™", "Ã©"), and invisible characters (zero-width space/BOM,
# NBSP) that poison tokenization and dedup (visually identical docs hash
# apart). This audits all three plus raw C0 controls, per source.
# The synthetic corpus is clean ASCII, so — same protocol as
# pii_scrub_summary — a deterministic doc_id-keyed injection plants each
# wound class; the oracle replays the injection and the audit must find
# EXACTLY the planted population (plus any organic hits). One scan,
# map-side regexp counts, one hash agg.
_ENC_CTRL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"
_ENC_MOJI_RE = "(â€™|â€œ|Ã©|Â )"
_ENC_REP = "�"
_ENC_ZW = "​"


@register(
    "text_encoding_audit",
    f"""
    WITH injected AS (
      SELECT doc_id, source,
             text
               || CASE WHEN doc_id % 11 = 0 THEN ' caf' || chr(65533) ELSE '' END
               || CASE WHEN doc_id % 13 = 0 THEN ' donâ€™t' ELSE '' END
               || CASE WHEN doc_id % 17 = 0 THEN chr(7) ELSE '' END
               || CASE WHEN doc_id % 19 = 0 THEN 'a' || chr(8203) || 'b' ELSE '' END
               AS t
      FROM documents
    ),
    audited AS (
      SELECT source,
             len(regexp_extract_all(t, chr(65533))) AS n_rep,
             len(regexp_extract_all(t, '{_ENC_CTRL_RE}')) AS n_ctrl,
             len(regexp_extract_all(t, '{_ENC_MOJI_RE}')) AS n_moji,
             len(regexp_extract_all(t, chr(8203))) AS n_zw
      FROM injected
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_rep > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_replacement,
           CAST(SUM(CASE WHEN n_ctrl > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_control,
           CAST(SUM(CASE WHEN n_moji > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_mojibake,
           CAST(SUM(CASE WHEN n_zw > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_zerowidth,
           CAST(SUM(CASE WHEN n_rep = 0 AND n_ctrl = 0 AND n_moji = 0
                          AND n_zw = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_clean
    FROM audited
    GROUP BY source
    ORDER BY source
    """,
)
def text_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding-health audit over the deterministically wounded
    corpus: documents carrying replacement chars, C0 controls, Latin-1
    mojibake signatures, and zero-width characters, plus the clean count.
    The injection is the oracle's ground truth; on a real crawl the same
    query runs un-injected."""
    d = table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" caf" + _ENC_REP)).otherwise(""),
        F.when(F.col("doc_id") % 13 == 0, F.lit(" donâ€™t")).otherwise(""),
        F.when(F.col("doc_id") % 17 == 0, F.lit("\x07")).otherwise(""),
        F.when(F.col("doc_id") % 19 == 0, F.lit("a" + _ENC_ZW + "b")).otherwise(""),
    )
    audited = d.select(
        "source",
        F.regexp_count(t, F.lit(_ENC_REP)).alias("n_rep"),
        F.regexp_count(t, F.lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")).alias("n_ctrl"),
        F.regexp_count(t, F.lit(_ENC_MOJI_RE)).alias("n_moji"),
        F.regexp_count(t, F.lit(_ENC_ZW)).alias("n_zw"),
    )
    clean = (
        (F.col("n_rep") == 0)
        & (F.col("n_ctrl") == 0)
        & (F.col("n_moji") == 0)
        & (F.col("n_zw") == 0)
    )
    return (
        audited.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_rep") > 0).cast("long")).alias("docs_replacement"),
            F.sum((F.col("n_ctrl") > 0).cast("long")).alias("docs_control"),
            F.sum((F.col("n_moji") > 0).cast("long")).alias("docs_mojibake"),
            F.sum((F.col("n_zw") > 0).cast("long")).alias("docs_zerowidth"),
            F.sum(clean.cast("long")).alias("docs_clean"),
        )
        .orderBy("source")
    )


# --- distinctive terms per source: weighted log-odds ------------------------
# "Which words CHARACTERIZE this source?" — TF-IDF answers for documents;
# for corpus-vs-corpus comparison the standard is the log-odds ratio with
# an informative Dirichlet prior (Monroe, Colaresi & Quinn 2008, "Fightin'
# Words"): delta = ln((y_i + a_i)/(n + a0 - y_i - a_i))
#               - ln((Y_i + a_i)/(N + a0 - Y_i - a_i)),
# z = delta / sqrt(1/(y_i + a_i) + 1/(Y_i + a_i)), where Y/N are the rest
# of the corpus and the prior a is the corpus distribution scaled to a0.
# Unlike raw ratios it damps rare-word noise; unlike TF-IDF it is
# comparative and signed. All counts integer-exact; lns 9-dp-rounded (KL
# convention); top-3 terms per source by z with full tiebreak.
LOGODDS_A0 = 100  # prior strength (pseudo-token budget)


@register(
    "source_distinctive_terms",
    f"""
    WITH toks AS (
      SELECT source,
             unnest({_NORM_WORDS_SQL})
               AS word
      FROM documents
    ),
    sw AS (SELECT source, word, COUNT(*) AS y FROM toks GROUP BY source, word),
    wtot AS (SELECT word, CAST(SUM(y) AS BIGINT) AS yc FROM sw GROUP BY word),
    stot AS (SELECT source, CAST(SUM(y) AS BIGINT) AS n FROM sw GROUP BY source),
    ctot AS (SELECT CAST(SUM(y) AS BIGINT) AS nc FROM sw),
    scored AS (
      SELECT s.source, s.word,
             s.y, t.yc - s.y AS yr, st.n, ct.nc - st.n AS nr,
             CAST(t.yc AS DOUBLE) * {LOGODDS_A0} / ct.nc AS a
      FROM sw s
      JOIN wtot t USING (word)
      JOIN stot st ON st.source = s.source
      CROSS JOIN ctot ct
    ),
    z AS (
      SELECT source, word, y,
             FLOOR((
               FLOOR(ln((y + a) / (n + {LOGODDS_A0} - y - a)) * 1000000000
                     + 0.5) / 1000000000
               - FLOOR(ln((yr + a) / (nr + {LOGODDS_A0} - yr - a))
                       * 1000000000 + 0.5) / 1000000000
             ) / sqrt(1.0 / (y + a) + 1.0 / (yr + a)) * 1000000 + 0.5)
               / 1000000 AS zscore
      FROM scored
    ),
    ranked AS (
      SELECT source, word, y AS n_occurrences, zscore,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY zscore DESC, word ASC) AS r
      FROM z
    )
    SELECT source, word, n_occurrences, zscore
    FROM ranked WHERE r <= 3
    ORDER BY source, zscore DESC, word ASC
    """,
)
def source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 source-characterizing words by prior-damped weighted log-odds
    z (Monroe et al. 'Fightin' Words') — the comparative complement to
    TF-IDF for corpus composition reporting."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(_norm_words(F.col("text"))).alias("word")
    )
    sw = toks.groupBy("source", "word").agg(F.count(F.lit(1)).alias("y"))
    wtot = sw.groupBy("word").agg(F.sum("y").cast("long").alias("yc"))
    stot = sw.groupBy("source").agg(F.sum("y").cast("long").alias("n"))
    ctot = sw.agg(F.sum("y").cast("long").alias("nc"))
    scored = (
        sw.join(wtot, "word")
        .join(stot, "source")
        .crossJoin(F.broadcast(ctot))
        .select(
            "source",
            "word",
            "y",
            (F.col("yc") - F.col("y")).alias("yr"),
            "n",
            (F.col("nc") - F.col("n")).alias("nr"),
            (F.col("yc").cast("double") * LOGODDS_A0 / F.col("nc")).alias("a"),
        )
    )
    ln9 = lambda c: F.floor(F.log(c) * 1000000000 + F.lit(0.5)) / 1000000000  # noqa: E731
    delta = ln9(
        (F.col("y") + F.col("a"))
        / (F.col("n") + F.lit(LOGODDS_A0) - F.col("y") - F.col("a"))
    ) - ln9(
        (F.col("yr") + F.col("a"))
        / (F.col("nr") + F.lit(LOGODDS_A0) - F.col("yr") - F.col("a"))
    )
    se = F.sqrt(
        F.lit(1.0) / (F.col("y") + F.col("a")) + F.lit(1.0) / (F.col("yr") + F.col("a"))
    )
    zscore = F.floor(delta / se * 1000000 + F.lit(0.5)) / 1000000
    z = scored.select("source", "word", F.col("y").alias("n_occurrences"), zscore.alias("zscore"))
    w = Window.partitionBy("source").orderBy(F.col("zscore").desc(), F.col("word").asc())
    return (
        z.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 3)
        .drop("r")
        .orderBy("source", F.col("zscore").desc(), F.col("word").asc())
    )


# --- Zipf tail exponent (Hill estimator) ------------------------------------
# Vocabulary planning (how big a token vocab pays off), shard sizing for
# inverted indexes, and cache provisioning all hinge on HOW HEAVY the
# word-frequency tail is — summarized by the Zipf/power-law exponent.
# The Hill estimator over the top-k order statistics is the standard MLE
# for the FREQUENCY-DISTRIBUTION tail index a (P(freq > x) ~ x^-a):
# alpha_hill = k / sum ln(f_i / f_(k+1)) over the k most frequent words.
# Note the two conventional exponents: rank-frequency Zipf slope s
# (f_r ~ r^-s) and tail index a relate as a ~ 1/s — English text with
# s ~ 1 has a ~ 1; the query reports a (what Hill actually estimates). One word-count agg, one top-(k+1) rank,
# exact-decimal sum of 9-dp-rounded ln ratios — deterministic both
# engines. Reported with the tail mass the top-k covers.
HILL_K = 100


@register(
    "zipf_alpha_words",
    f"""
    WITH counts AS (
      SELECT word, COUNT(*) AS f FROM (
        SELECT unnest({_NORM_WORDS_SQL})
          AS word
        FROM documents
      ) GROUP BY word
    ),
    ranked AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, word ASC) AS r
      FROM counts
    ),
    kv AS (
      SELECT CAST(LEAST({HILL_K}, COUNT(*) - 1) AS BIGINT) AS k FROM counts
    ),
    ref AS (
      SELECT f AS fk1 FROM ranked WHERE r = (SELECT k FROM kv) + 1
    ),
    terms AS (
      SELECT CAST(FLOOR(ln(CAST(f AS DOUBLE) / (SELECT fk1 FROM ref))
                        * 1000000000 + 0.5) AS DECIMAL(28,0)) AS t9,
             f
      FROM ranked WHERE r <= (SELECT k FROM kv)
    ),
    tot AS (SELECT CAST(SUM(f) AS BIGINT) AS n_tokens FROM counts)
    SELECT (SELECT k FROM kv) AS k,
           FLOOR((SELECT k FROM kv)
                 / (CAST(SUM(t9) AS DOUBLE) / 1000000000)
                 * 1000000 + 0.5) / 1000000 AS alpha_hill,
           CAST(SUM(f) AS BIGINT) AS topk_tokens,
           FLOOR(CAST(SUM(f) AS DOUBLE) / (SELECT n_tokens FROM tot)
                 * 1000000 + 0.5) / 1000000 AS topk_mass
    FROM terms
    """,
)
def zipf_alpha_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimate of the word-frequency tail index (a ~ 1/Zipf-slope)
    over the top-k words, plus the token mass that head covers."""
    d = table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(_norm_words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    # adaptive k: the synthetic corpus's word pool can be smaller than the
    # default head size, so k = min(HILL_K, |vocab| - 1) on both engines
    k = min(HILL_K, counts.count() - 1)
    # only ranks <= k+1 are consumed, so rank WITHIN the TakeOrdered head:
    # orderBy+limit is a distributed top-k (per-partition heads merged),
    # and the row_number window then runs over k+1 rows — never a global
    # sort of the whole vocabulary (Heaps-law unbounded at corpus scale)
    head = counts.orderBy(F.col("f").desc(), F.col("word").asc()).limit(k + 1)
    w = Window.orderBy(F.col("f").desc(), F.col("word").asc())
    ranked = head.select("f", F.row_number().over(w).alias("r"))
    fk1 = ranked.filter(F.col("r") == k + 1).select(F.col("f").alias("fk1"))
    n_tokens = counts.agg(F.sum("f").cast("long").alias("n_tokens"))
    t9 = F.floor(
        F.log(F.col("f").cast("double") / F.col("fk1")) * 1000000000 + F.lit(0.5)
    ).cast("decimal(28,0)")
    terms = (
        ranked.filter(F.col("r") <= k)
        .crossJoin(F.broadcast(fk1))
        .select(t9.alias("t9"), "f")
    )
    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return (
        terms.agg(
            q6(
                F.lit(float(k)) / (F.sum("t9").cast("double") / 1000000000)
            ).alias("alpha_hill"),
            F.sum("f").cast("long").alias("topk_tokens"),
            F.sum("f").cast("double").alias("__tk"),
        )
        .crossJoin(F.broadcast(n_tokens))
        .select(
            F.lit(k).cast("long").alias("k"),
            "alpha_hill",
            "topk_tokens",
            q6(F.col("__tk") / F.col("n_tokens")).alias("topk_mass"),
        )
    )
