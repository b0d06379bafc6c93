"""Distributed graph analytics over the near-duplicate document graph.

The dedup family (operators/dedup.py) already builds the Jaccard>=0.5 graph
and runs connected components over it; this module adds the two other graph
primitives a corpus-curation pipeline uses on that graph:

- PageRank: centrality of a document inside its duplication neighborhood —
  high-rank nodes are the "canonical" members of mirror farms, the natural
  keeper choice (vs the arbitrary min-doc_id keeper dedup_clusters uses).
- Triangle count / global clustering coefficient: whether near-dup clusters
  are cliquish (true mirror sets — triangles everywhere) or chain-like
  (A~B~C drift without A~C — transitive-closure dedup is then risky).

Scale design: edges come from the df-capped shingle equi-join
(dedup._ngram_jaccard_pairs — never n^2); each PageRank iteration is ONE
shuffle (join pr on src + groupBy dst) over the edge list, the scale shape
of Pregel/GraphX; triangle counting orients edges by degree-then-id (the
standard fan-out bound: every wedge is enumerated at its lowest-degree
vertex) and joins edge lists, never materializing neighbor sets.

Determinism / oracle: PageRank's per-node sums are order-independent exact
decimal sums of 12-dp-rounded contributions (functions/exact.py convention),
and every iteration re-rounds to 12 dp, so Spark and DuckDB carry bitwise
identical values through all iterations; the oracle unrolls the 3 iterations
as CTEs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from fpl_data_pipeline_spark.registry import register
from fpl_data_pipeline_spark.tables import table
from fpl_data_pipeline_spark.functions.exact import portable_round
from fpl_data_pipeline_spark.operators.dedup import (
    _CAPPED_SHINGLES_SQL,
    _GRAMS_SQL,
    _ngram_jaccard_pairs,
)

DAMPING = 0.85
N_ITER = 3
_R = 10**12  # 12-dp portable rounding factor carried through iterations


# Jaccard>=0.5 edge list over word-3-gram shingles — the same graph
# dupgraph_degree_stats / dedup_clusters_exact use (SQL mirror of
# dedup._ngram_jaccard_pairs).
_EDGES_SQL = f"""
    WITH {_GRAMS_SQL},
    {_CAPPED_SHINGLES_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM exploded GROUP BY doc_id),
    pair_inter AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS n_common
      FROM exploded a JOIN exploded b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    ed AS (
      SELECT doc_id_a, doc_id_b
      FROM pair_inter
      JOIN sizes sa ON sa.doc_id = doc_id_a
      JOIN sizes sb ON sb.doc_id = doc_id_b
      WHERE CAST(n_common AS DOUBLE)
              / (sa.n_shingles + sb.n_shingles - n_common) >= 0.5
    )
"""


def _dup_edges(d: DataFrame) -> DataFrame:
    """(doc_id_a, doc_id_b) near-dup edges, a < b."""
    return (
        _ngram_jaccard_pairs(d)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_id_a", "doc_id_b")
    )


def pagerank(edges: DataFrame, n_iter: int = N_ITER, damping: float = DAMPING) -> DataFrame:
    """Engine operator: PageRank over an undirected edge list
    (doc_id_a, doc_id_b) -> (doc_id, pagerank).

    Symmetrizes the edges (so there are no dangling nodes: every node has
    out-degree >= 1), initializes uniformly, and runs ``n_iter`` power
    iterations. Each iteration: join rank onto edge sources (shuffle on
    src), aggregate contributions per destination (shuffle on dst) — the
    Pregel message-passing shape, linear in |E| per iteration. The edge list
    and degree table are localCheckpoint'd once so each iteration's lineage
    is one join, not the whole shingle pipeline re-derived.
    """
    sym = (
        edges.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
        .unionAll(
            edges.select(F.col("doc_id_b").alias("src"), F.col("doc_id_a").alias("dst"))
        )
        .localCheckpoint()
    )
    # Size-adaptive layout: the checkpoint already materialized the edge
    # list, so its count is free — a SMALL graph (the common case for
    # near-dup components; here ~10^2-10^3 edges) collapses to one
    # partition so each power iteration is one task instead of
    # shuffle_partitions tasks of scheduling overhead (measured 2.5 s ->
    # ~0.3 s for 3 iterations on a 477-node graph at sf0.1). A LARGE edge
    # list keeps its partitioning and the iterations stay fully
    # distributed — the 100 TB path is unchanged.
    if sym.count() <= 200_000:
        sym = sym.coalesce(1)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).localCheckpoint()
    nodes = sym.select(F.col("src").alias("doc_id")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "doc_id", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(n_iter):
        contrib = (
            sym.join(pr.withColumnRenamed("doc_id", "src"), "src")
            .join(deg, "src")
            .select(
                "dst",
                portable_round(F.col("pr") / F.col("outdeg"), 12)
                .cast("decimal(28,12)")
                .alias("c"),
            )
        )
        pr = (
            contrib.groupBy("dst")
            .agg(F.sum("c").cast("double").alias("s"))
            .crossJoin(F.broadcast(nn))
            .select(
                F.col("dst").alias("doc_id"),
                portable_round(
                    F.lit(1.0 - damping) / F.col("n") + F.lit(damping) * F.col("s"), 12
                ).alias("pr"),
            )
        )
    return pr


def _iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT s.dst AS doc_id,
             FLOOR((CAST(0.15 AS DOUBLE) / nn.n
                    + CAST(0.85 AS DOUBLE)
                      * CAST(SUM(CAST(FLOOR(p.pr / g.outdeg * {_R} + 0.5) / {_R}
                                      AS DECIMAL(28,12))) AS DOUBLE))
                   * {_R} + 0.5) / {_R} AS pr
      FROM sym s
      JOIN {prev} p ON p.doc_id = s.src
      JOIN deg g ON g.src = s.src
      CROSS JOIN nn
      GROUP BY s.dst, nn.n
    )"""


@register(
    "pagerank_dupgraph",
    _EDGES_SQL
    + f"""
    , sym AS (
      SELECT doc_id_a AS src, doc_id_b AS dst FROM ed
      UNION ALL
      SELECT doc_id_b AS src, doc_id_a AS dst FROM ed
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM sym),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM sym GROUP BY src),
    pr0 AS (SELECT doc_id, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),
    {_iter_sql('pr0', 'it1')},
    {_iter_sql('it1', 'it2')},
    {_iter_sql('it2', 'it3')}
    SELECT i.doc_id, i.pr AS pagerank, g.outdeg AS degree
    FROM it3 i JOIN deg g ON g.src = i.doc_id
    ORDER BY pagerank DESC, doc_id ASC
    LIMIT 20
    """,
)
def pagerank_dupgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank centralities of the near-dup graph: the canonical-
    keeper ranking for duplicate clusters (the highest-rank member of a
    mirror set is the best-connected exemplar). 3 power iterations at
    damping 0.85, bitwise-portable arithmetic (see module docstring)."""
    d = table(spark, sf_dir, "documents")
    # one materialization: the edge list feeds pagerank() AND the degree
    # decoration below — without the checkpoint the whole shingle pipeline
    # would be derived twice
    edges = _dup_edges(d).localCheckpoint()
    pr = pagerank(edges)
    sym = edges.select(F.col("doc_id_a").alias("src")).unionAll(
        edges.select(F.col("doc_id_b").alias("src"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (
        pr.join(deg, pr.doc_id == deg.src)
        .select("doc_id", F.col("pr").alias("pagerank"), "degree")
        .orderBy(F.col("pagerank").desc(), F.col("doc_id").asc())
        .limit(20)
    )


@register(
    "dupgraph_triangle_stats",
    _EDGES_SQL
    + """
    , tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM ed e1
      JOIN ed e2 ON e2.doc_id_a = e1.doc_id_b
      JOIN ed e3 ON e3.doc_id_a = e1.doc_id_a AND e3.doc_id_b = e2.doc_id_b
    ),
    sym AS (
      SELECT doc_id_a AS v FROM ed
      UNION ALL
      SELECT doc_id_b AS v FROM ed
    ),
    deg AS (SELECT v, COUNT(*) AS d FROM sym GROUP BY v),
    wed AS (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg)
    SELECT t.n_triangles, w.n_wedges,
           CASE WHEN w.n_wedges = 0 THEN 0.0
                ELSE FLOOR(CAST(3 * t.n_triangles AS DOUBLE) / w.n_wedges
                           * 1000000 + 0.5) / 1000000 END AS clustering_coeff
    FROM tri t CROSS JOIN wed w
    """,
)
def dupgraph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup graph: n_triangles, open wedges, and
    the global clustering coefficient 3*tri/wedges. Near-1 clustering means
    duplicate clusters are cliques (safe to transitively merge); low
    clustering means chained drift (A~B~C without A~C), where the
    connected-components merge over-groups.

    Edges are kept oriented a<b, so each triangle a<b<c is counted exactly
    once by the two-join enumeration; join fan-out is bounded by the df-cap
    on the underlying candidate generation. Wedge counts are a per-node
    expression over the degree table — no second traversal.
    """
    d = table(spark, sf_dir, "documents")
    ed = _dup_edges(d).localCheckpoint()
    e1 = ed.select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b"))
    e2 = ed.select(F.col("doc_id_a").alias("b"), F.col("doc_id_b").alias("c"))
    e3 = ed.select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    sym = ed.select(F.col("doc_id_a").alias("v")).unionAll(
        ed.select(F.col("doc_id_b").alias("v"))
    )
    wed = (
        sym.groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges"))
    )
    return tri.crossJoin(F.broadcast(wed)).select(
        "n_triangles",
        "n_wedges",
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(
            portable_round(
                (3 * F.col("n_triangles")).cast("double") / F.col("n_wedges"), 6
            )
        )
        .alias("clustering_coeff"),
    )


# --- k-core peeling (bounded rounds) ----------------------------------------
# The dedup planner's cluster-shape question, sharpened: the 2-CORE of the
# near-dup graph (maximal subgraph where every node keeps degree >= 2)
# separates robust duplicate communities from fragile chain/pendant
# attachments that transitive-closure dedup should NOT merge through.
# Peeling is iterative (remove degree<k nodes, recompute, repeat); rounds
# are BOUNDED here (3) so the oracle can unroll them as CTEs — each round
# is one degree agg + one semi-join on the retained node set, the same
# one-shuffle-per-iteration shape as pagerank. Peeling monotonically
# shrinks, so round counts also certify convergence (round 3 == round 2
# means the fixpoint was reached).
KCORE_K = 2
KCORE_ROUNDS = 3


def _peel_sql(prev_edges: str, out: str) -> str:
    # MATERIALIZED is load-bearing: each round references the previous
    # round's edges 3x (both degree-union arms + the join base) and keep_*
    # 2x — inlined, the reference count COMPOUNDS per round (3^rounds
    # recomputations of the full shingle-pair join; measured: the sf0.1
    # oracle spilled past 60 GB before the parity temp cap existed).
    # Materializing pins each round to one evaluation, like the Spark
    # side's localCheckpoint per peel round.
    return f"""
    deg_{out} AS MATERIALIZED (
      SELECT v, COUNT(*) AS d FROM (
        SELECT doc_id_a AS v FROM {prev_edges}
        UNION ALL SELECT doc_id_b AS v FROM {prev_edges}
      ) GROUP BY v
    ),
    keep_{out} AS MATERIALIZED (SELECT v FROM deg_{out} WHERE d >= {KCORE_K}),
    {out} AS MATERIALIZED (
      SELECT e.doc_id_a, e.doc_id_b FROM {prev_edges} e
      JOIN keep_{out} ka ON ka.v = e.doc_id_a
      JOIN keep_{out} kb ON kb.v = e.doc_id_b
    )"""


@register(
    "dupgraph_kcore_peel",
    _EDGES_SQL
    + f""",
    e0 AS MATERIALIZED (SELECT doc_id_a, doc_id_b FROM ed),
    {_peel_sql('e0', 'e1')},
    {_peel_sql('e1', 'e2')},
    {_peel_sql('e2', 'e3')},
    rounds AS (
      SELECT 0 AS round,
             (SELECT COUNT(*) FROM (
                SELECT DISTINCT v FROM (SELECT doc_id_a AS v FROM e0
                                        UNION ALL SELECT doc_id_b FROM e0)))
               AS n_nodes,
             (SELECT COUNT(*) FROM e0) AS n_edges
      UNION ALL SELECT 1, (SELECT COUNT(*) FROM keep_e1 k
                            WHERE EXISTS (SELECT 1 FROM e1
                                          WHERE doc_id_a = k.v OR doc_id_b = k.v)),
                (SELECT COUNT(*) FROM e1)
      UNION ALL SELECT 2, (SELECT COUNT(*) FROM keep_e2 k
                            WHERE EXISTS (SELECT 1 FROM e2
                                          WHERE doc_id_a = k.v OR doc_id_b = k.v)),
                (SELECT COUNT(*) FROM e2)
      UNION ALL SELECT 3, (SELECT COUNT(*) FROM keep_e3 k
                            WHERE EXISTS (SELECT 1 FROM e3
                                          WHERE doc_id_a = k.v OR doc_id_b = k.v)),
                (SELECT COUNT(*) FROM e3)
    )
    SELECT CAST(round AS BIGINT) AS round,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges
    FROM rounds ORDER BY round
    """,
)
def dupgraph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three peel rounds toward the 2-core of the near-dup graph: nodes
    and edges surviving each round (node counts are nodes with >= 1
    incident edge after the peel — isolated survivors drop out, matching
    the edge-derived universe)."""
    d = table(spark, sf_dir, "documents")
    edges = _dup_edges(d).localCheckpoint()

    def node_edge_counts(e: DataFrame) -> tuple:
        # Round-12 (guide §1.2 "don't compute things twice"): node and
        # edge counts fused into ONE aggregation job over the endpoint
        # union — each edge contributes exactly 2 endpoint rows, so
        # n_edges == union rows / 2 and n_nodes == distinct endpoints.
        # Was two actions (distinct().count() + e.count()) per peel round:
        # 8 passes over the checkpointed edge list became 4.
        r = (
            e.select(F.col("doc_id_a").alias("v"))
            .unionAll(e.select(F.col("doc_id_b").alias("v")))
            .agg(
                F.count_distinct(F.col("v")).alias("n"),
                (F.count(F.lit(1)) / 2).cast("long").alias("m"),
            )
            .first()
        )
        return r["n"], r["m"]

    rows = []
    cur = edges
    n, m = node_edge_counts(cur)
    rows.append((0, n, m))
    for rnd in range(1, KCORE_ROUNDS + 1):
        deg = (
            cur.select(F.col("doc_id_a").alias("v"))
            .unionAll(cur.select(F.col("doc_id_b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= KCORE_K).select("v").localCheckpoint()
        cur = (
            cur.join(keep.withColumnRenamed("v", "doc_id_a"), "doc_id_a", "left_semi")
            .join(keep.withColumnRenamed("v", "doc_id_b"), "doc_id_b", "left_semi")
            .localCheckpoint()
        )
        n, m = node_edge_counts(cur)
        rows.append((rnd, n, m))
    return spark.createDataFrame(rows, "round long, n_nodes long, n_edges long").orderBy(
        "round"
    )


# --- label propagation communities (LPA, Raghavan et al. '07) ----------------
# The fourth graph primitive of the curation pipeline: CC gives the
# transitive-closure clusters (too coarse when boilerplate chains bridge
# unrelated mirror sets), k-core separates robust members from pendants;
# LPA finds the DENSITY communities in between — each node adopts the
# label most common among its neighbors, so mirror farms collapse to one
# label in a round or two while thin bridges fail to propagate across.
# Deterministic variant: synchronous updates, ties broken by smallest
# label (the classic formulation's random tiebreak has no place in a
# value-oracled engine); seed label = own doc_id.
#
# Scale shape: one shuffle per round (labels join on the undirected edge
# list + per-node argmax window keyed by node — never global), identical
# to the Pregel shape PageRank uses; LPA_ITER bounded, oracle unrolls the
# rounds as CTEs.
#
# Known semantic caveat of the SYNCHRONOUS variant: on bipartite-ish
# regions labels can oscillate with period 2, so odd vs even LPA_ITER can
# report different (each internally consistent, engine-identical)
# labelings. Deterministic and oracle-matched at any fixed LPA_ITER — but
# treat the round count as part of the operator's definition, not a mere
# convergence knob.
LPA_ITER = 3


def _lpa_rounds_sql() -> str:
    its = []
    prev = "l0"
    for it in range(1, LPA_ITER + 1):
        its.append(
            f"""
    r{it} AS (
      SELECT u.src AS node, l.label, COUNT(*) AS c
      FROM und u JOIN {prev} l ON l.node = u.dst
      GROUP BY 1, 2
    ),
    l{it} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label ASC) AS rn
        FROM r{it}
      ) WHERE rn = 1
    )"""
        )
        prev = f"l{it}"
    return ",".join(its)


def lpa_labels(edges: DataFrame, iters: int = LPA_ITER) -> DataFrame:
    """(node, label) after ``iters`` synchronous LPA rounds over an
    undirected (doc_id_a, doc_id_b) edge list — split out so the planted
    bridge-graph test drives the exact production loop."""
    from pyspark.sql import Window

    und = edges.select(
        F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
    ).unionAll(
        edges.select(F.col("doc_id_b").alias("src"), F.col("doc_id_a").alias("dst"))
    )
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(iters):
        votes = (
            und.join(labels.select(F.col("node").alias("dst"), "label"), "dst")
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("label").asc()
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels


@register(
    "dupgraph_lpa_communities",
    _EDGES_SQL
    + f"""
    , und AS (
      SELECT doc_id_a AS src, doc_id_b AS dst FROM ed
      UNION ALL
      SELECT doc_id_b, doc_id_a FROM ed
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),{_lpa_rounds_sql()}
    SELECT label AS community, COUNT(*) AS n_members
    FROM l{LPA_ITER}
    GROUP BY label
    ORDER BY n_members DESC, community ASC
    LIMIT 20
    """,
)
def dupgraph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 LPA communities of the near-dup graph after LPA_ITER
    synchronous rounds: density communities between CC's transitive
    closure (over-merges across boilerplate bridges) and k-core's robust
    cores — the cluster granularity a dedup keeper policy actually wants.
    Smallest-label tiebreak makes every round bit-deterministic."""
    d = table(spark, sf_dir, "documents")
    edges = _dup_edges(d).localCheckpoint(eager=False)  # feeds all rounds
    return (
        lpa_labels(edges)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(F.col("label").alias("community"), "n_members")
        .orderBy(F.col("n_members").desc(), F.col("community").asc())
        .limit(20)
    )
