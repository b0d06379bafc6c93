"""Physical-plan audit across every registered query: prints, per query, the
join strategies, scan pushdown evidence, and red flags (cartesian products,
row-at-a-time Python evaluation, unpartitioned windows over large inputs).

This is the structural half of the 100 TB argument (ARCHITECTURE.md §1):
local data can't demonstrate cluster behavior, but the *plan shape* — what
broadcasts, what shuffles, what prunes — is scale-invariant and checkable
here.

    python tools/explain_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from fpl_data_pipeline_spark import get_spark  # noqa: E402
from fpl_data_pipeline_spark.registry import QUERIES, load_all  # noqa: E402

INTENTIONAL_CROSS = {
    # tiny broadcast grids / query-vector blocks, by design (see docstrings)
    "gap_fill_monthly_revenue",
    "ann_ivf_probe",
    "ann_cosine_topk",
    "ann_batch_topk",
    "kmeans_embeddings",
    # broadcast 8-row integer centroid block (exact-Lloyd assignment scans)
    "kmeans_portable",
    # final 1-row x 1-row summary combine
    "contamination_overlap",
    # final 1-row x 1-row combine of the hash-agg stats pass with the
    # buffer-cheap string-min/max pass (round-11 SortAggregate fix)
    "table_stats_orders",
    # final 1-row x 1-row combine of n_eligible with n_hits (round-12
    # single-DAG restructure: the two driver-side counts became lazy
    # 1-row aggregates crossJoined so the whole query is ONE plan)
    "cf_holdout_hitrate",
    # broadcast 1-row totals scalar
    "domain_mixture_weights",
    "events_error_spikes",
    "source_token_divergence",
    # broadcast 8-row query block against the corpus scan (exact eval side)
    "ann_recall_eval",
    # broadcast 2-row epoch grid
    "training_order_shuffle",
    # broadcast 16-row centroid block (assignment scans) + 1-row total
    "ann_ivf_rebalance",
    # broadcast 1-row mean-array block (the centering pass of the Gram
    # accumulation); the eigen-solve epilogue is a dim^2-bounded collect
    "emb_pca_top_component",
    # broadcast 1-row bucket-LM totals + 1-row corpus mean-weight scalar
    "dsir_importance_weights",
    # broadcast 1-row corrected-query block against the scoring scan (the
    # ann_cosine_topk shape) + the 1-row mean-array block of the Gram pass
    "emb_abtt_query_shift",
    # broadcast 1-row source-count scalar
    "token_budget_plan",
    # broadcast 1-row corpus-totals scalar (the domain_mixture_weights shape)
    "mixture_temperature_plan",
    # broadcast 1-row corpus stats + 1-row query vector
    "hybrid_search_topk",
    # broadcast 4-row subspace grid + 8-row codebook block (PQ assignment)
    "emb_pq_codebook_stats",
    # final 1-row x 1-row summary combine
    "bloom_blocklist_summary",
    # broadcast 1-row node-count scalar per power iteration
    "pagerank_dupgraph",
    # final 1-row x 1-row summary combine (triangles x wedges)
    "dupgraph_triangle_stats",
    # broadcast 1-row min/max grid bounds against the orders scan
    "zorder_layout_stats",
    # broadcast 8-row anchor block against the embeddings scan (mining pass)
    "contrastive_hard_negatives",
    # broadcast 1-row totals / boundary arrays
    "table_histogram_price",
    "cms_join_size_estimate",
    # broadcast 1-row max-day scalar onto the per-customer frame
    "customer_rfm_segments",
    # broadcast 1-row max-day / n-total scalars (bounds, risk-set totals)
    "customer_survival_curve",
    "events_cusum_changepoints",
    # final 1-row sample-deciles x 1-row exact-deciles combine
    "hash_sample_quantiles",
    # chained 1-row cohort/cascade count combines
    "gdpr_erasure_audit",
    # 1-row merged-sketch x 1-row exact-union combine
    "kmv_distinct_union",
    # 1-row leakage-summary combines
    "split_leakage_safe",
    # broadcast 1-row allocation denominator
    "stratified_neyman_allocation",
    # broadcast 1-row overall keep-rate
    "quality_threshold_bias",
    # broadcast 1-row corpus-total (chi2 marginals)
    "chi2_term_class_assoc",
    # broadcast 1-row bin-total + 3-row quantile grid
    "histogram_quantile_sketch",
    # broadcast 1-row vocab-size / doc-total scalars + 5-row lang dim
    "nb_lang_train_eval",
    # broadcast 8-row query block (eval set) + 1-row rank totals
    "ann_ranking_metrics",
    # 9-row digit counts x 1-row total combine
    "benford_price_audit",
    # broadcast 1-row max-knowledge-date scalar
    "bitemporal_revenue_asof",
    # broadcast k-row draw-slot grid per user
    "cf_negative_samples",
    # broadcast 3-row percentile grid / 1-row bounds scalars
    "events_conversion_latency",
    # broadcast 1-row window bounds + 1-row DiD point estimate
    "events_diff_in_diff",
    # broadcast 1-row window bounds + 1-row merged-sketch row
    "events_sliding_distinct_kmv",
    # broadcast B-row bootstrap-replica grid + 1-row point estimate
    "poisson_bootstrap_ci",
    # broadcast query vector + bounded (top-N)^2 candidate pairs (MMR steps)
    "rag_mmr_rerank",
    # broadcast 1-row period cut date
    "revenue_mix_shift",
    # broadcast 1-row overall-mean scalar + 1-row period cut
    "revenue_seasonality_index",
    # 1-row per-user-gap stats x 1-row global stats combine
    "sequence_gap_audit",
    # broadcast 1-row corpus totals (log-odds prior denominators)
    "source_distinctive_terms",
    # broadcast 1-row rank-1 frequency + 1-row token total (Hill estimator)
    "zipf_alpha_words",
    # broadcast 1-row median cut + 1-row bucket-bounds array + 1-row totals
    "psi_price_drift",
    # broadcast 8-row codebook + 4-row subspace grid + 1-row query vector
    "emb_pq_adc_topk",
    # broadcast 1-row vocab/doc-total scalars + 5-row lang dim + 3-row alpha grid
    "nb_alpha_sweep",
    # broadcast 1-row pos/neg totals (WOE denominators)
    "woe_source_encoding",
    # broadcast 1-row cohort totals (CDF denominators)
    "ks_price_drift",
    # broadcast 8-row source dim (pair fan-out) onto the (source,tok) agg
    "source_js_matrix",
    # broadcast 1-row total-count scalar (range-partitioned rank + ntile)
    "trimmed_mean_price",
    "customer_spend_deciles",
    "window_ntile_cume",
    # final 1-row boundary-count x 1-row seam-correction combine
    "layout_rle_advisor",
}


# Queries whose unpartitioned window runs over an input PROVABLY bounded
# independent of corpus size (reason recorded per entry) — the check flags
# every other global window as the single-partition-sort anti-pattern the
# global_row_number probe measured (one core, OOM at cluster scale).
# Two bounded shapes need no entry because the subtree walker recognizes
# them structurally: the global_row_numbers/global_prefix_sums offsets
# prefix-sum (aggregate keyed on the spark_partition_id column) and windows
# over a LIMIT/TakeOrdered head.
INTENTIONAL_GLOBAL_WINDOW: dict[str, str] = {
    "agg_avg_const_divisor": "rank over DISTINCT calendar periods (<= ~84 months)",
    "window_rank_periods": "rank over DISTINCT calendar periods (<= ~84 months)",
    "flagship_customer_activity": "last-4 selector ranks DISTINCT periods (calendar-bounded)",
    "flagship_sql": "same plan as flagship_customer_activity via spark.sql",
    "customer_survival_curve": "cumulation over DISTINCT day-grain lifetimes (max-age-bounded)",
    "events_ab_mannwhitney": "cumulation over 4-dp-quantized revenue (<= 10^4 distinct)",
    "events_cusum_changepoints": "cumulation over the day-grain series (calendar-bounded)",
    "events_sliding_distinct_kmv": "sliding merge over the hour-grain series (calendar-bounded)",
    "events_slo_burn": "rolling ratio over the hour-grain series (calendar-bounded)",
    "histogram_quantile_sketch": "cumulation over bounded histogram bins",
    "ks_price_drift": "CDF cumulation over quantized prices (bounded distinct)",
    "quality_score_auc": "cumulation over 4-dp-quantized scores (<= 10^4 distinct)",
    "revenue_forecast_eval": "lag over the day-grain revenue series (calendar-bounded)",
}


def _bracket_groups(s: str) -> list[str]:
    """Top-level [...] groups of a plan node line."""
    groups, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def _node_depth(line: str) -> int:
    """Tree depth of a plan line = length of the indent/branch prefix."""
    i = 0
    while i < len(line) and line[i] in " :+|-":
        i += 1
    return i


def unpartitioned_windows(plan: str) -> int:
    """Count Window nodes with an EMPTY partition spec whose input is not
    the sanctioned range-partition offsets relation.

    A ``Window [exprs], [partSpec], [orderSpec]`` line prints 3 top-level
    bracket groups when partitioned+ordered, 2 when one spec is empty, 1
    when both are: 2 groups whose second carries ASC/DESC (order, no
    partition) or a single group (global frame agg) are the
    single-partition shapes.  The one sanctioned shape is
    ``global_row_numbers``'s prefix-sum over the per-partition count
    relation (<= RANGE_PARTS rows by construction): its subtree aggregates
    on the ``pid`` spark_partition_id column, which is the signature the
    walker accepts."""
    lines = plan.splitlines()
    hits = 0
    for i, line in enumerate(lines):
        m = re.search(r"\bWindow(?:GroupLimit)?\s+\[", line)
        if not m or "WindowGroupLimit" in line:
            continue
        groups = _bracket_groups(line[m.start():])
        unpart = len(groups) == 1 or (
            len(groups) == 2 and re.search(r"\b(ASC|DESC)\b", groups[1])
        )
        if not unpart:
            continue
        depth = _node_depth(line)
        subtree = []
        for nxt in lines[i + 1:]:
            if nxt.strip() and _node_depth(nxt) <= depth and re.search(r"\w", nxt):
                break
            subtree.append(nxt)
        sub = "\n".join(subtree)
        # HashAggregate prints keys=[...], SortAggregate prints key=[...]
        if re.search(r"keys?=\[pid#", sub) or "SPARK_PARTITION_ID" in sub:
            continue  # offsets prefix-sum over <= RANGE_PARTS rows
        if "GlobalLimit" in sub or "TakeOrderedAndProject" in sub:
            continue  # window over a LIMIT-bounded head (k rows)
        hits += 1
    return hits


# Queries that cap a collected-array's size AFTER the collect (a
# ``Filter (size(col) <= N)`` above a collect_list/collect_set aggregate).
# That shape still buffers the uncapped mega-group inside the aggregation
# buffer — the round-5/6 OOM trap the count-agg PRE-pass caps fix
# (ARCHITECTURE.md §7). Entries here are known, reasoned carry-overs; the
# check flags everything else so a refactor can't silently reintroduce the
# shape in a family that already fixed it (tests/test_cap_guards.py pins
# the fixed families; this is the registry-wide net).
INTENTIONAL_POST_COLLECT_CAP: dict[str, str] = {
    # Empty since round 7: WINNOW_FP_CAP and _set_overlap_stats' df_cap —
    # the last two post-collect caps — were migrated to count-agg
    # pre-passes (tests/test_cap_guards.py pins the plan shapes). Any new
    # entry here needs a written reason and a migration round.
}


def post_collect_caps(plan: str) -> int:
    """Count Filter nodes applying an UPPER bound to a collected array's
    size — ``size(x) <= N`` / ``size(x) < N``. Lower bounds (``size(x) >=
    2``, Catalyst's inferred ``size(x) > 0``) are fine: they prune, they
    don't pretend to bound the aggregation buffer.

    Two expression shapes are matched: a plain column (``size(docs#12)``)
    and the array_distinct wrapper (``size(array_distinct(transform(
    members...`` — the span family's pre-round-7 form, which the plain
    pattern could not see because the first ``)`` closes an inner call).
    The wrapper pattern is deliberately NOT generalized to any computed
    argument: scan-side quality filters legitimately bound ratios derived
    from per-row ``size(filter(split(text)))`` expressions
    (corpus_release_summary), and those are row features, not collected
    aggregation buffers."""
    plain = len(re.findall(r"Filter [^\n]*\bsize\([^)(]+\)\s*<=?\s*\d", plan))
    wrapper = len(
        re.findall(r"Filter [^\n]*\bsize\(array_distinct\([^\n]*?\)\s*<=?\s*\d", plan)
    )
    return plain + wrapper


# Queries where >= 3 identical scans of one table are the intended shape
# (reason per entry) — everything else with that pattern and NO cache /
# checkpoint in the plan is flagged RECOMPUTE (the round-5 CF finding:
# Catalyst compiled 3-5 copies of a shared scan+join+distinct subtree).
INTENTIONAL_RESCAN: dict[str, str] = {}


def repeated_scans(plan: str) -> list[str]:
    """Tables scanned >= 3x with identical column sets, in a plan with no
    cached/checkpointed subtree.  A cached (InMemoryTableScan) or
    checkpointed (Scan ExistingRDD) relation re-prints its child scan per
    consumer in explain text but computes ONCE at runtime, so any plan
    using them is skipped (conservative: those authors already pinned the
    shared frame)."""
    if "InMemoryTableScan" in plan or "Scan ExistingRDD" in plan:
        return []
    scans = re.findall(
        r"FileScan parquet \[([^\]]*)\].*?\[file:[^\]]*?/(\w+)\.parquet\]", plan
    )
    counts: dict[tuple, int] = {}
    for cols, tbl in scans:
        counts[(tbl, cols)] = counts.get((tbl, cols), 0) + 1
    return [f"{t}x{c}" for (t, _), c in counts.items() if c >= 3]


def audit(name: str, plan: str) -> list[str]:
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
    if "BroadcastNestedLoopJoin" in plan and name not in INTENTIONAL_CROSS:
        flags.append("NESTED-LOOP")
    if "BatchEvalPython" in plan:
        flags.append("ROW-PYTHON-UDF")
    n_gw = unpartitioned_windows(plan)
    if n_gw and name not in INTENTIONAL_GLOBAL_WINDOW:
        flags.append(f"GLOBAL-WINDOW:{n_gw}")
    rescans = repeated_scans(plan)
    if rescans and name not in INTENTIONAL_RESCAN:
        flags.append("RECOMPUTE:" + ",".join(rescans))
    n_pcc = post_collect_caps(plan)
    if n_pcc and name not in INTENTIONAL_POST_COLLECT_CAP:
        flags.append(f"POST-COLLECT-CAP:{n_pcc}")
    return flags


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]
    load_all()
    spark = get_spark("audit")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")

    bad = 0
    for name in sorted(QUERIES):
        if only and name not in only:
            continue
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR {name}: {exc}")
            bad += 1
            continue
        joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)", plan)
        counts = {j: joins.count(j) for j in set(joins)}
        flags = audit(name, plan)
        status = "FLAG " + ",".join(flags) if flags else "ok"
        print(f"{status:24s} {name}: {counts if counts else 'no joins'}")
        bad += bool(flags)
    print(f"\n{bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
