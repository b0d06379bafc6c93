"""Subword tokenizer ENCODE — the apply side of tokenizer training.

bpe_pair_stats (functions/corpus_queries.py) counts merge candidates — the
training side. This module applies a trained subword vocabulary to the
corpus: greedy longest-match-first segmentation (the WordPiece/BPE-dropout-
free inference algorithm; Wu et al. 2016 §4.1 "greedy longest-match-first"),
with a fixed literal vocab standing in for the trained merge table (the
same protocol as the quality model's literal weights).

Scale design — the vocab-first collapse, same insight as bpe_pair_stats:
the corpus is NOT tokenized row by row. Distinct normalized words are
encoded ONCE each (|distinct words| ~ 10^5-10^6 even at 100 TB — Heaps'
law), then the per-word subword counts are joined back onto per-source word
frequencies and weighted. The Python segmentation loop therefore runs on
the word VOCABULARY, not the corpus: an Arrow-batched pandas UDF over at
most a few hundred thousand short strings, while every corpus-sized
operation is a scan-side explode and two hash aggs.

Determinism: greedy segmentation over a fixed vocab is a pure string
function — integer outputs, no floats until the final weighted averages
(which follow the exact-decimal ratio convention). The DuckDB oracle
replays the EXACT greedy algorithm as a recursive CTE (one recursion level
per emitted subword, bounded by max word length), so the driver
value-checks the tokenizer itself, not just its aggregate shape.
"""

from __future__ import annotations

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf

from fpl_data_pipeline_spark.operators.dedup import (
    _NORM_SQL,
    _NORM_WORDS_SQL,
    _norm_words,
)
from fpl_data_pipeline_spark.registry import register
from fpl_data_pipeline_spark.tables import table

# The trained-vocab stand-in: multi-char subword units + every lowercase
# letter and digit as fallback singles. Characters outside the vocab
# (punctuation bound into words, unicode) emit <unk> and advance one char.
VOCAB_UNITS = [
    "the", "ing", "tion", "and", "ent", "ion", "ter", "ate", "ers",
    "est", "ed", "er", "re", "an", "at", "in", "on", "or", "en", "es",
    "th", "ti", "st", "ar", "al", "le", "is", "it", "ou", "of",
] + [chr(c) for c in range(ord("a"), ord("z") + 1)] + [str(d) for d in range(10)]

_BY_LEN: dict[int, frozenset] = {}
for _u in VOCAB_UNITS:
    _BY_LEN.setdefault(len(_u), set()).add(_u)
_BY_LEN = {k: frozenset(v) for k, v in _BY_LEN.items()}
_MAX_UNIT = max(_BY_LEN)


def greedy_encode_counts(word: str) -> tuple[int, int]:
    """(n_subwords, n_unk) for one word under greedy longest-match-first.

    The reference semantics the oracle CTE replays: at each position take
    the LONGEST vocab unit matching there; if none matches, emit one <unk>
    and advance a single character. <unk> counts as a subword."""
    pos, n_sub, n_unk = 0, 0, 0
    n = len(word)
    while pos < n:
        step = 0
        for length in range(min(_MAX_UNIT, n - pos), 0, -1):
            if word[pos : pos + length] in _BY_LEN.get(length, ()):
                step = length
                break
        if step == 0:
            step, n_unk = 1, n_unk + 1
        pos += step
        n_sub += 1
    return n_sub, n_unk


def _make_encode_udf():
    # built lazily: pandas_udf resolves its DDL return type against the
    # active session, so it must not be constructed at import time
    @pandas_udf("n_subwords int, n_unk int")
    def _encode_udf(words: pd.Series) -> pd.DataFrame:
        out = [greedy_encode_counts(w) for w in words]
        return pd.DataFrame(out, columns=["n_subwords", "n_unk"])

    return _encode_udf


def encode_words(distinct_words: DataFrame, word_col: str = "word") -> DataFrame:
    """word -> (word, n_subwords, n_unk); input should already be distinct."""
    enc = _make_encode_udf()(F.col(word_col)).alias("enc")
    return distinct_words.select(word_col, enc).select(
        word_col, F.col("enc.n_subwords").alias("n_subwords"),
        F.col("enc.n_unk").alias("n_unk"),
    )


_VOCAB_VALUES = ", ".join(f"('{u}')" for u in VOCAB_UNITS)


@register(
    "wordpiece_encode_stats",
    f"""
    WITH RECURSIVE vocab(u) AS (SELECT * FROM (VALUES {_VOCAB_VALUES})),
    toks AS (
      SELECT source,
             unnest(list_filter(string_split(
               {_NORM_SQL}, ' '),
               w -> w <> '')) AS word
      FROM documents
    ),
    word_freq AS (
      SELECT source, word, COUNT(*) AS cnt FROM toks GROUP BY source, word
    ),
    distinct_words AS (SELECT DISTINCT word FROM word_freq),
    seg AS (
      SELECT word, 1 AS pos, 0 AS n_sub, 0 AS n_unk FROM distinct_words
      UNION ALL
      SELECT word,
             pos + COALESCE(best_len, 1),
             n_sub + 1,
             n_unk + CASE WHEN best_len IS NULL THEN 1 ELSE 0 END
      FROM (
        SELECT word, pos, n_sub, n_unk,
               (SELECT MAX(length(u)) FROM vocab
                 WHERE substr(word, pos, length(u)) = u) AS best_len
        FROM seg WHERE pos <= length(word)
      )
    ),
    encoded AS (
      SELECT word, n_sub AS n_subwords, n_unk
      FROM seg WHERE pos > length(word)
    )
    SELECT f.source,
           CAST(SUM(f.cnt) AS BIGINT) AS n_words,
           CAST(SUM(f.cnt * e.n_subwords) AS BIGINT) AS n_subwords,
           CAST(SUM(f.cnt * e.n_unk) AS BIGINT) AS n_unk,
           FLOOR(CAST(SUM(f.cnt * e.n_subwords) AS DOUBLE)
                 / SUM(f.cnt) * 1000000 + 0.5) / 1000000
             AS subwords_per_word
    FROM word_freq f JOIN encoded e USING (word)
    GROUP BY f.source
    ORDER BY f.source
    """,
)
def wordpiece_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the subword vocab to the corpus via the vocab-first collapse:
    encode each distinct word once (pandas UDF over the word vocabulary),
    weight by per-source word frequency, report fertility (subwords/word)
    and <unk> volume per source — the serving-cost audit run before a
    tokenizer change ships."""
    d = table(spark, sf_dir, "documents")
    # Round-12: the last collapse-then-split site joins the one-pass
    # tokenizer (dedup._norm_words, round-11: token-identical by the
    # split-on-runs == collapse-then-split-on-space argument, A/B-verified
    # corpus-wide) — one regex pass, no materialized collapsed string.
    toks = d.select(
        "source", F.explode(_norm_words(F.col("text"))).alias("word")
    )
    word_freq = toks.groupBy("source", "word").agg(F.count(F.lit(1)).alias("cnt"))
    encoded = encode_words(word_freq.select("word").distinct())
    joined = word_freq.join(encoded, "word")
    return (
        joined.groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_subwords")).cast("long").alias("n_subwords"),
            F.sum(F.col("cnt") * F.col("n_unk")).cast("long").alias("n_unk"),
            (
                F.floor(
                    F.sum(F.col("cnt") * F.col("n_subwords")).cast("double")
                    / F.sum("cnt")
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("subwords_per_word"),
        )
        .orderBy("source")
    )


# --- BPE merge training: the iterative half bpe_pair_stats only counts ------
# Sennrich et al. '16: repeatedly merge the corpus's most frequent adjacent
# symbol pair. bpe_pair_stats (functions/corpus_queries.py) surfaces merge
# candidate #1; this runs the actual training loop for BPE_MERGES rounds
# and emits the learned merge table — the artifact a tokenizer ships.
#
# Scale design: the corpus collapses ONCE to the (word, freq) vocabulary
# (Heaps' law keeps it ~10^5-10^6 rows at any corpus size; the pin makes
# the corpus pass run exactly once), and every training round is
# vocabulary-sized: one pair hash-agg for the argmax, one broadcast of the
# 1-row winner, one builtin replace() to apply it. No collects, no UDFs —
# the whole loop is one lazy plan.
#
# The symbol sequence is a DELIMITED STRING, each symbol wrapped _sym_
# ("hello" -> "_h__e__l__l__o_"): applying merge (a, b) is then
# replace(seq, '_a__b_', '_ab_'), and because both engines' replace() is
# left-to-right non-overlapping, it IS the BPE merge rule (in "aaa" the
# first two a's merge, the third survives: "_a__a__a_" -> "_aa__a_").
# Training is restricted to ^[a-z0-9]+$ words so '_' cannot occur inside a
# symbol (the standard practice: a byte-level alphabet handles the rest;
# the restriction is the documented contract of this trainer).
BPE_MERGES = 4
# Lineage cadence (round 8): each round's vocab plan is one crossJoin +
# replace() on top of the previous round's, so without truncation the
# analyzed plan grows linearly with the merge count — the same
# lineage-creep class connected_components hit at 442 joins. A LAZY
# checkpoint every BPE_CKPT_EVERY rounds bounds the chain at a constant
# number of stacked rounds while keeping construction job-free (the
# plan-only doctrine); the A/B at 16/32 merges (BENCH_NOTES "BPE trainer
# beyond 4 merges"; its harness tools/bpe_scale_ab.py last existed at
# 88848a7) is the flat-per-round-cost evidence.
BPE_CKPT_EVERY = 8


# DuckDB expression for the _sym_-delimited char sequence of {col}
_SEQ0_SQL = (
    "'_' || array_to_string(list_transform(range(1, length({col}) + 1),"
    " i -> substr({col}, i, 1)), '__') || '_'"
)


def _bpe_rounds_cte() -> str:
    """The shared WITH-body: toks -> v0 (trainable vocab) -> BPE_MERGES
    unrolled training rounds, each exposing its 1-row winner t{{it}} and
    merged vocab v{{it}} — reused by the bpe_train_merges oracle and by
    every oracle that consumes the learned merges (bpe_encode_fertility)."""
    its = []
    prev = "v0"
    for it in range(1, BPE_MERGES + 1):
        its.append(
            f"""
    p{it} AS (
      SELECT s[i] AS a, s[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS pair_count
      FROM (SELECT freq, list_filter(string_split(seq, '_'), x -> x <> '') AS s
            FROM {prev}) t,
           unnest(range(1, greatest(len(s), 1))) AS r(i)
      WHERE len(s) >= 2
      GROUP BY 1, 2
    ),
    t{it} AS (
      SELECT a, b, pair_count FROM p{it}
      ORDER BY pair_count DESC, a ASC, b ASC LIMIT 1
    ),
    v{it} AS (
      SELECT freq,
             replace(seq, '_' || a || '__' || b || '_', '_' || a || b || '_')
               AS seq
      FROM {prev}, t{it}
    )"""
        )
        prev = f"v{it}"
    seq0 = _SEQ0_SQL.format(col="word")
    return f"""toks AS (
      SELECT unnest({{words}}) AS word FROM documents
    ),
    v0 AS (
      SELECT COUNT(*) AS freq,
             {seq0} AS seq
      FROM toks WHERE regexp_matches(word, '^[a-z0-9]+$')
      GROUP BY word
    ),{",".join(its)}"""


def _bpe_merge_oracle() -> str:
    selects = [
        f"SELECT {it} AS merge_rank, a AS sym_a, b AS sym_b,"
        f" a || b AS merged, pair_count FROM t{it}"
        for it in range(1, BPE_MERGES + 1)
    ]
    return f"""
    WITH {_bpe_rounds_cte()}
    {" UNION ALL ".join(selects)}
    ORDER BY merge_rank
    """


@register(
    "bpe_train_merges",
    _bpe_merge_oracle().format(words=_NORM_WORDS_SQL),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table after BPE_MERGES training rounds:
    (merge_rank, sym_a, sym_b, merged, pair_count), most frequent pair
    first — step 2 of tokenizer training, where bpe_pair_stats stops at
    counting candidates. Deterministic: exact integer pair counts with
    (count DESC, a ASC, b ASC) tiebreak; the DuckDB oracle replays every
    round as unrolled CTEs, so the driver value-checks the training loop
    itself.

    Exhaustion contract: if a round finds NO adjacent pair (every vocab
    word already collapsed to a single symbol), that round's 1-row argmax
    is empty, its cross join applies no merge, and the output carries
    FEWER than BPE_MERGES rows — with no sentinel. Consumers must treat
    merge_rank as 1..row_count, not 1..BPE_MERGES. Identical on both
    engines (the oracle's LIMIT 1 over an empty p{it} is the same empty
    relation)."""
    return bpe_merge_table(bpe_vocab(table(spark, sf_dir, "documents")), BPE_MERGES)


def bpe_vocab(d: DataFrame) -> DataFrame:
    """The one corpus-sized pass: documents -> (freq, seq) trainable
    vocabulary (Heaps' law keeps it ~10^5-10^6 rows at any corpus size),
    lazily checkpointed so every training round reads the collapsed table,
    never the corpus. Only [a-z0-9]+ words are trainable units."""
    words = d.select(
        F.explode(_norm_words(F.col("text"))).alias("word")
    )
    return (
        words.filter(F.col("word").rlike("^[a-z0-9]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("freq", _seq0_col().alias("seq"))
        .localCheckpoint(eager=False)
    )


def _seq0_col(word_col: str = "word"):
    """The _sym_-delimited char-sequence expression for a word column —
    Spark twin of _SEQ0_SQL, shared by the trainer vocab and the encode
    apply (bpe_encode_fertility)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word_col)),
        lambda i: F.col(word_col).substr(i, F.lit(1)),
    )
    return F.concat(F.lit("_"), F.array_join(chars, "__"), F.lit("_"))


def bpe_round(v: DataFrame, it: int) -> tuple[DataFrame, DataFrame]:
    """One training round over the (freq, seq) vocabulary: returns
    (merge_row, next_v) — the 1-row winner labeled with merge_rank=it and
    the vocabulary with that merge applied. The winner is lazily
    checkpointed (it feeds both the output union and next_v's broadcast)."""
    syms = F.filter(F.split("seq", "_"), lambda x: x != "")
    pairs = (
        v.select("freq", syms.alias("s"))
        .filter(F.size("s") >= 2)
        .select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("s") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("s"), i).alias("a"),
                        F.element_at(F.col("s"), i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("pair_count"))
    )
    top = (
        pairs.orderBy(
            F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc()
        )
        .limit(1)
        .localCheckpoint(eager=False)  # 1-row winner feeds two consumers
    )
    merge_row = top.select(
        F.lit(it).alias("merge_rank"),
        F.col("a").alias("sym_a"),
        F.col("b").alias("sym_b"),
        F.concat("a", "b").alias("merged"),
        "pair_count",
    )
    applied = F.replace(
        F.col("seq"),
        F.concat(F.lit("_"), F.col("a"), F.lit("__"), F.col("b"), F.lit("_")),
        F.concat(F.lit("_"), F.col("a"), F.col("b"), F.lit("_")),
    )
    next_v = v.crossJoin(F.broadcast(top.select("a", "b"))).select(
        "freq", applied.alias("seq")
    )
    return merge_row, next_v


def bpe_merge_table(vocab: DataFrame, n_merges: int) -> DataFrame:
    """n_merges training rounds over a (freq, seq) vocabulary, lineage
    truncated every BPE_CKPT_EVERY rounds (lazy — construction stays
    job-free; the checkpoint materializes on first evaluation and bounds
    the stacked-round plan depth at the cadence)."""
    tops = []
    v = vocab
    for it in range(1, n_merges + 1):
        merge_row, v = bpe_round(v, it)
        tops.append(merge_row)
        if it % BPE_CKPT_EVERY == 0 and it < n_merges:
            v = v.localCheckpoint(eager=False)
    out = tops[0]
    for t in tops[1:]:
        out = out.unionByName(t)
    return out.orderBy("merge_rank")


# --- BPE apply: encode fertility of the LEARNED merges --------------------
# Completes the tokenizer story (pair counts -> trained merges -> applied
# encode): trains the BPE_MERGES merge table on the corpus, applies it to
# the corpus vocabulary, and reports per-source FERTILITY — tokens per
# word and chars per token — the metric tokenizer teams actually gate on
# (a source whose fertility stays near chars-per-token ~1 is being
# shattered to characters; one near words ~1 compresses well).
#
# Scale shape: ONE corpus tokenization pass builds (source, word, cnt);
# the trainer vocab is its word-marginal (vocab-sized, Heaps-bounded) and
# the merge APPLICATION runs over DISTINCT words only — never the corpus —
# with each 1-row merge broadcast; per-source stats then join the
# vocab-sized token counts back to the (source, word) counts. All
# arithmetic is exact integers until the two final divisions.
#
# Merge application uses a LEFT join on TRUE (not a crossJoin) so the
# exhaustion contract degrades correctly: an empty round's winner leaves
# the vocabulary unchanged instead of annihilating it.


def _bpe_fertility_oracle() -> str:
    seq0 = _SEQ0_SQL.format(col="word")
    apply_its = []
    prev = "w0"
    for it in range(1, BPE_MERGES + 1):
        apply_its.append(
            f"""
    w{it} AS (
      SELECT word,
             CASE WHEN t.a IS NULL THEN seq
                  ELSE replace(seq, '_' || t.a || '__' || t.b || '_',
                               '_' || t.a || t.b || '_')
             END AS seq
      FROM {prev} LEFT JOIN t{it} t ON TRUE
    )"""
        )
        prev = f"w{it}"
    return f"""
    WITH {_bpe_rounds_cte()},
    swf AS (
      SELECT source, word, COUNT(*) AS cnt
      FROM (SELECT source, unnest({{words}}) AS word FROM documents)
      WHERE regexp_matches(word, '^[a-z0-9]+$')
      GROUP BY source, word
    ),
    w0 AS (
      SELECT word, {seq0} AS seq
      FROM (SELECT DISTINCT word FROM swf)
    ),{",".join(apply_its)},
    wtok AS (
      SELECT word,
             len(list_filter(string_split(seq, '_'), x -> x <> '')) AS tok
      FROM {prev}
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_words,
           CAST(SUM(cnt * tok) AS BIGINT) AS n_tokens,
           CAST(SUM(cnt * length(word)) AS BIGINT) AS n_chars,
           floor(CAST(SUM(cnt * tok) AS DOUBLE) / SUM(cnt) * 1000000 + 0.5)
             / 1000000 AS tokens_per_word,
           floor(CAST(SUM(cnt * length(word)) AS DOUBLE) / SUM(cnt * tok)
                 * 1000000 + 0.5) / 1000000 AS chars_per_token
    FROM swf JOIN wtok USING (word)
    GROUP BY source
    ORDER BY source
    """


@register(
    "bpe_encode_fertility",
    _bpe_fertility_oracle().format(words=_NORM_WORDS_SQL),
)
def bpe_encode_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encode fertility under the LEARNED BPE merge table:
    (source, n_words, n_tokens, n_chars, tokens_per_word,
    chars_per_token), trainable words only ([a-z0-9]+, the trainer's
    contract). The oracle replays training AND application as unrolled
    CTEs, so the driver value-checks the full train->encode path."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(_norm_words(F.col("text"))).alias("word"),
    ).filter(F.col("word").rlike("^[a-z0-9]+$"))
    # the one corpus-sized pass; everything downstream is vocab-sized
    swf = (
        toks.groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    vocab = (
        swf.groupBy("word")
        .agg(F.sum("cnt").alias("freq"))
        .select("freq", _seq0_col().alias("seq"))
    )
    merges = bpe_merge_table(vocab, BPE_MERGES)
    # the whole (<= BPE_MERGES)-row merge table collapses to ONE array row,
    # attached to the vocabulary by a broadcast EQUI-join whose key is
    # data-derived on both sides (least(1, size/length) — a literal key
    # would be constant-folded back into the nested-loop join the explain
    # audit red-flags), then applied as one rank-ordered fold. A fully
    # exhausted training run (empty merge table) yields k=0 on the build
    # side: the LEFT join misses and the vocabulary passes through intact.
    marr = merges.agg(
        F.array_sort(
            F.collect_list(F.struct("merge_rank", "sym_a", "sym_b"))
        ).alias("marr")
    ).select("marr", F.least(F.lit(1), F.size("marr")).alias("k"))
    wseq = (
        swf.select("word")
        .distinct()
        .select(
            "word",
            _seq0_col().alias("seq"),
            F.least(F.lit(1), F.length("word")).alias("k"),  # words nonempty
        )
    )
    applied = F.when(F.col("marr").isNull(), F.col("seq")).otherwise(
        F.aggregate(
            "marr",
            F.col("seq"),
            lambda acc, m: F.replace(
                acc,
                F.concat(
                    F.lit("_"), m["sym_a"], F.lit("__"), m["sym_b"], F.lit("_")
                ),
                F.concat(F.lit("_"), m["sym_a"], m["sym_b"], F.lit("_")),
            ),
        )
    )
    wseq = wseq.join(F.broadcast(marr), "k", "left").select(
        "word", applied.alias("seq")
    )
    wtok = wseq.select(
        "word",
        F.size(F.filter(F.split("seq", "_"), lambda x: x != "")).alias("tok"),
    )
    g = swf.join(wtok, "word").groupBy("source")
    n_words = F.sum("cnt")
    n_tokens = F.sum(F.col("cnt") * F.col("tok"))
    n_chars = F.sum(F.col("cnt") * F.length("word"))
    return (
        g.agg(
            n_words.alias("n_words"),
            n_tokens.alias("n_tokens"),
            n_chars.alias("n_chars"),
            (
                F.floor(
                    n_tokens.cast("double") / n_words * 1000000 + F.lit(0.5)
                )
                / 1000000
            ).alias("tokens_per_word"),
            (
                F.floor(
                    n_chars.cast("double") / n_tokens * 1000000 + F.lit(0.5)
                )
                / 1000000
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )
