"""Positional inverted index + phrase query — the search-engine primitive.

hybrid_search_topk (functions/corpus_queries.py) ranks whole documents by
BM25; what it cannot answer is an EXACT PHRASE query ("these words,
adjacent, in this order") — that needs a positional index: the classic
(term, doc_id, position) postings relation every search engine builds
(Manning/Raghavan/Schütze IR ch.2). As DataFrames:

- index build: one posexplode of the tokenized corpus — linear scan-side
  work, partitioned however the corpus is;
- phrase query: filter the postings to the phrase's terms (the "index
  lookup" — at scale this is a partition-pruned/bucketed read of just
  those terms' postings, NOT a corpus scan), then self-join adjacent terms
  on (doc_id, pos+1). Join input is postings-of-two-terms-sized; the
  corpus never re-enters.

The registered query composes the whole flow in one plan: find the
corpus's top bigram (deterministic tie-break), phrase-search it through
the positional index, return per-doc occurrence counts for the top
documents. The oracle replays index build + positional join in SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from fpl_data_pipeline_spark.registry import register
from fpl_data_pipeline_spark.tables import table
from fpl_data_pipeline_spark.operators.dedup import (
    _NORM_SQL,
    _ensure_parallel,
    _norm_words,
    _word_ngrams,
)


def build_positional_index(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(term, doc_id, pos) postings from the normalized tokenization —
    pos is 0-based word offset. Small scans fan out to session parallelism
    first (the shingles/_ensure_parallel conditional): sf0.1 documents read
    as ONE split, serializing the tokenize on one core."""
    words = _ensure_parallel(docs).select(
        "doc_id", F.posexplode(_norm_words(F.col(text_col))).alias("pos", "term")
    )
    return words.select("term", "doc_id", "pos")


def phrase_match_positions(index: DataFrame, terms: list[str]) -> DataFrame:
    """(doc_id, pos) of each full-phrase match (pos = first word's offset).

    Adjacent-term positional joins; each join key is (doc_id, pos) so a
    phrase of k terms costs k-1 postings-sized joins."""
    if not terms:
        raise ValueError("phrase must have at least one term")
    out = index.filter(F.col("term") == terms[0]).select("doc_id", "pos")
    for i, t in enumerate(terms[1:], start=1):
        nxt = index.filter(F.col("term") == t).select(
            "doc_id", (F.col("pos") - i).alias("pos")
        )
        out = out.join(nxt, ["doc_id", "pos"])
    return out


@register(
    "phrase_search_topdocs",
    f"""
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split(
               {_NORM_SQL}, ' '),
               w -> w <> '') AS ws
      FROM documents
    ),
    index0 AS (
      SELECT doc_id, unnest(ws) AS term,
             unnest(range(0, len(ws))) AS pos
      FROM words
    ),
    bigrams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(ws), 1)),
                                   i -> ws[i] || ' ' || ws[i+1])) AS bigram
      FROM words
    ),
    top_bigram AS (
      SELECT bigram FROM bigrams
      GROUP BY bigram ORDER BY COUNT(*) DESC, bigram ASC LIMIT 1
    ),
    t1 AS (SELECT string_split(bigram, ' ')[1] AS w FROM top_bigram),
    t2 AS (SELECT string_split(bigram, ' ')[2] AS w FROM top_bigram),
    matches AS (
      SELECT a.doc_id, a.pos
      FROM index0 a
      JOIN index0 b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      WHERE a.term = (SELECT w FROM t1) AND b.term = (SELECT w FROM t2)
    )
    SELECT (SELECT bigram FROM top_bigram) AS phrase,
           doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM matches
    GROUP BY doc_id
    ORDER BY n_occurrences DESC, doc_id ASC
    LIMIT 10
    """,
)
def phrase_search_topdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Find the corpus's most frequent bigram and phrase-search it through
    the positional inverted index: top documents by exact adjacent-pair
    occurrence count. Index lookup filters postings to the two phrase
    terms before any join."""
    d = table(spark, sf_dir, "documents")
    index = build_positional_index(d)

    # Project the tokenization into a REAL column before the per-element
    # references: inlining `ws` re-runs the regex split once per
    # element_at — 2x(len-1) splits per doc (the shingles lesson; profiled
    # at 7.4 s of the query's 9.2 s before this round-6 fix). Fan the
    # single-split scan out first so the transform parallelizes.
    wsd = _ensure_parallel(d).select(_norm_words(F.col("text")).alias("ws"))
    top = (
        wsd.select(F.explode(_word_ngrams(F.col("ws"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(1)
        .select("bigram")
    )
    # broadcast the single phrase row and split it into the two terms
    t = top.select(
        F.split(F.col("bigram"), " ").getItem(0).alias("w1"),
        F.split(F.col("bigram"), " ").getItem(1).alias("w2"),
        "bigram",
    )
    # One postings pass for BOTH phrase terms, pinned with localCheckpoint:
    # referencing `index` twice (one side per term) made Catalyst compile
    # the corpus tokenize+posexplode subtree twice — at 100 TB that is two
    # full-corpus scans where one suffices (round-6 fix; at deploy scale
    # the index is a materialized bucketed table and this is a pruned read
    # of two terms' postings). The checkpointed relation is postings-of-
    # two-terms-sized, tiny relative to the corpus.
    post2 = (
        index.crossJoin(F.broadcast(t))
        .filter((F.col("term") == F.col("w1")) | (F.col("term") == F.col("w2")))
        .localCheckpoint(eager=False)
    )
    p1 = post2.filter(F.col("term") == F.col("w1")).select("doc_id", "pos", "bigram")
    p2 = post2.filter(F.col("term") == F.col("w2")).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    matches = p1.join(p2, ["doc_id", "pos"])
    return (
        matches.groupBy("bigram", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .select(F.col("bigram").alias("phrase"), "doc_id", "n_occurrences")
        .orderBy(F.col("n_occurrences").desc(), F.col("doc_id").asc())
        .limit(10)
    )
