"""Query registry: named DataFrame programs + their DuckDB oracle SQL.

Every operator from SURVEY.md §2 claims completion by registering here; the
driver (and tests/test_oracle_parity.py) runs the Spark side and the oracle
side against the same parquet tables and compares row-count + schema +
order-insensitive value hash.

Conventions (SURVEY.md §4.3) that make the hash comparison deterministic:
- every computed column is aliased identically in Spark and SQL;
- every top-k has a total-order tiebreaker (metric DESC, key ASC);
- sums over double columns go through DECIMAL(18,2) (exact, order-independent)
  and are CAST to DOUBLE at the end — bitwise identical in Spark and DuckDB;
- averages/ratios are double divisions of those exact doubles.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a (spark, sf_dir) -> DataFrame program under ``name``.

    ``oracle`` is the equivalent ANSI SQL for DuckDB (tables region nation
    customer supplier part orders lineitem events documents embeddings are
    pre-registered views over the same parquet). Omit it only for genuinely
    non-SQL-expressible ops (the driver then records a rows-only check).
    """

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# The driver's correctness gate checks the FIRST 50 registered queries per
# round. Window policy (round-8, encoding the round-7 verdict's task #5):
#
#   1. the continuity anchor (flagship) first;
#   2. then EVERY oracled query whose physical plan or UDF behavior
#      changed this round (the changed-plans-in-window invariant);
#   3. every REMAINING slot goes to the OLDEST-GREEN queries first —
#      staleness = the most recent round whose CORRECTNESS_r0N.json shows
#      the name green — so no cumulative green can age unboundedly (by
#      round 7 some round-1 greens were six rounds stale; under this rule
#      the staleness ceiling is ceil(229 unchanged names / ~40 spare
#      slots) ≈ 6 windows and FALLS as the changed set shrinks). Ties
#      break alphabetically for reproducibility.
#
# The four rows-only-by-design names (dedup_minhash_pairs,
# dedup_simhash_pairs, dedup_clusters, kmeans_embeddings) stay out: a
# driver rows-only check adds nothing over the planted-pair VALUE checks
# in tests/test_cap_guards.py, which pin them to oracle-checked md5 twins.
#
# Current window (anchor + 4 changed + 45 staleness-fillers = 50).
# Slots 2-5 are the plans changed since the last window: the pair-expansion
# fan-out moved into _expand_member_pairs_streaming, which adds it to
# semdedup_prune, moves it below the eager basket pin in
# cf_item_similarity and below a Project in cf_holdout_hitrate; and
# ann_ivf_rebalance takes its total from the two count sums. The fillers
# are the oldest greens over CORRECTNESS_r01-r12: the 4 names last green
# in r5 (source_template_spans, which the previous comment also listed,
# is not a registered query), all 36 last green in r6, and the 5
# alphabetically-first of the 18 last green in r7. The 4 rows-only names
# stay out as always.
DRIVER_WINDOW_PRIORITY = [
    "flagship_customer_activity",
    # --- plan-changed since the last window ---
    "semdedup_prune",
    "cf_item_similarity",
    "cf_holdout_hitrate",
    "ann_ivf_rebalance",
    # --- staleness rotation: every last-green-r5 and -r6 name ---
    "text_encoding_audit",
    "trimmed_mean_price",
    "window_ntile_cume",
    "zipf_alpha_words",
    "benford_price_audit",
    "bitemporal_revenue_asof",
    "cdc_net_effect_summary",
    "chi2_term_class_assoc",
    "compaction_plan",
    "curriculum_interleave_stats",
    "customer_survival_curve",
    "datasource_element_week_totals",
    "dp_noisy_segment_counts",
    "dp_user_bounded_counts",
    "events_ab_mannwhitney",
    "events_ab_readout",
    "events_attribution_credit",
    "events_diff_in_diff",
    "events_pattern_matches",
    "events_session_paths",
    "events_slo_burn",
    "events_user_entropy",
    "fact_temporal_dim_join",
    "global_row_number",
    "ivm_delta_view",
    "json_dead_letter_summary",
    "ks_price_drift",
    "ldiversity_audit",
    "nb_alpha_sweep",
    "nb_lang_train_eval",
    "pareto_frontier_by_brand",
    "pareto_frontier_lineitem",
    "quality_score_auc",
    "quality_score_auc_by_source",
    "rollup_routed_revenue",
    "sample_weighted_reservoir",
    "sample_weighted_stratified",
    "scd2_asof_snapshot",
    "table_content_fingerprints",
    "woe_source_encoding",
    # --- then the 5 alphabetically-first last-green-r7 names ---
    "contamination_overlap",
    "dedup_apply_summary",
    "dedup_clusters_portable",
    "dedup_cross_source_matrix",
    "dedup_exact_groups",
]


def load_all() -> None:
    """Import every module that registers queries (idempotent), then order
    the registry: DRIVER_WINDOW_PRIORITY first, everything else after in
    registration order (dict insertion order is the driver's check order)."""
    from fpl_data_pipeline_spark.plans import (  # noqa: F401
        flagship,
        core_relational,
        aggregates,
        windows,
        topk,
        advanced_relational,
    )
    from fpl_data_pipeline_spark.operators import (  # noqa: F401
        dedup,
        similarity,
        upsert_queries,
        sampling,
    )
    from fpl_data_pipeline_spark.functions import (  # noqa: F401
        text_queries,
        scalar_queries,
        quality,
    )
    from fpl_data_pipeline_spark.streaming import event_queries  # noqa: F401
    from fpl_data_pipeline_spark.operators import multimodal  # noqa: F401
    from fpl_data_pipeline_spark.plans import fpl_queries  # noqa: F401
    from fpl_data_pipeline_spark.plans import changelog  # noqa: F401
    from fpl_data_pipeline_spark.operators import graph  # noqa: F401
    from fpl_data_pipeline_spark.sources import bucketing  # noqa: F401
    from fpl_data_pipeline_spark.functions import corpus_queries  # noqa: F401
    from fpl_data_pipeline_spark.sources import python_datasource  # noqa: F401
    from fpl_data_pipeline_spark.operators import ivm  # noqa: F401
    from fpl_data_pipeline_spark.sources import compaction  # noqa: F401
    from fpl_data_pipeline_spark.operators import fuzzy_join  # noqa: F401
    from fpl_data_pipeline_spark.operators import tokenizer  # noqa: F401
    from fpl_data_pipeline_spark.operators import search_index  # noqa: F401
    from fpl_data_pipeline_spark.operators import geo  # noqa: F401
    from fpl_data_pipeline_spark.plans import rollup_router  # noqa: F401
    from fpl_data_pipeline_spark.sources import ingest  # noqa: F401
    from fpl_data_pipeline_spark.plans import scale_primitives  # noqa: F401
    from fpl_data_pipeline_spark.functions import learned  # noqa: F401

    missing = [n for n in DRIVER_WINDOW_PRIORITY if n not in QUERIES]
    if missing:
        # not assert: stripped under python -O, and this guards the driver's
        # first-50 correctness window naming real queries
        raise RuntimeError(f"DRIVER_WINDOW_PRIORITY names unknown queries: {missing}")
    ordered = DRIVER_WINDOW_PRIORITY + [
        n for n in QUERIES if n not in set(DRIVER_WINDOW_PRIORITY)
    ]
    for d in (QUERIES, ORACLE_SQL):
        snapshot = dict(d)
        d.clear()
        d.update({n: snapshot[n] for n in ordered if n in snapshot})
