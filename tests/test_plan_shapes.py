"""Physical-plan regression guards over every registered query.

Correctness gates catch wrong answers; these catch *scale* regressions —
a lost broadcast hint, a predicate that stopped pushing down, or an
accidental cartesian would still produce right answers at sf0.001 while
being catastrophic at 100 TB. Asserting on plan text pins the shapes.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

# Streaming entries EXECUTE their stream when called (replay-to-sink),
# so their returned table has no interesting plan to audit here (the
# incremental plans are pytest-covered in test_fixture_streaming.py).
STREAMING = {
    "stream_hourly_stats",
    "stream_user_nation_stats",
    "stream_value_anomalies",
    "stream_hourly_users",
    "stream_sliding_stats",
    "stream_click_attribution",
    "stream_session_stats",
    "stream_click_funnel_loss",
    "stream_funnel_two_sided",
    "stream_pack_sequences",
}

# Bounded-side nested-loop joins that are the documented design:
# brute-force ANN broadcasts the (small, filtered) query side against
# the corpus — the correctness tier that LSH/IVF recall is tested
# against; the others broadcast a ONE-ROW scalar-threshold relation
# (the scalar-subquery pattern: avg balance, revenue total), which is
# size-invariant at any SF.
NESTED_LOOP_OK = {
    "ann_brute_topk",
    "ann_brute_topk_pandas",
    "embedding_near_pairs",
    "q22_idle_rich_customers",
    "idle_customers",
    "q11_important_parts",
    # broadcasts the ONE-ROW corpus-size aggregate (N for the idf term)
    "tfidf_top_terms",
    # broadcasts the ONE-ROW corpus-token-total aggregate (ln N term)
    "unigram_logprob",
    # broadcasts the ONE-ROW transition-total aggregate (share_bp)
    "event_transitions",
    # broadcasts the |quantiles|-row q relation across cumulative bins
    "histogram_quantiles",
    # round-6: all broadcast ONE-ROW scalar aggregates (totals/counts),
    # the same designed pattern as unigram_logprob above
    "dsir_selection",  # (Nt, Nr, V) totals
    "bm25_topk",  # (N, sum dl) totals
    "hybrid_rrf_topk",  # inherits bm25's totals crossJoin
    "corpus_report",  # base metrics x types count
    "negative_samples",  # corpus count n
    "cms_join_estimate",  # est x true 1-row join
    "curriculum_phases",  # inherits unigram_logprob's totals crossJoin
    "events_hourly_forecast",  # broadcast ONE-ROW observed-day count
    "near_dup_triangles",  # edge/wedge/triangle ONE-ROW count join
    "mmr_diverse_topk",  # C x C candidate-pair sims, C re-rank constant
    # round-4 second batch: all broadcast ONE-ROW scalar aggregates
    "bigram_logprob",  # vocabulary-size (V) one-row crossJoin
    "source_mixture_weights",  # corpus-total + weight-sum one-row joins
    # round-7: same class — broadcast ONE-ROW scalar aggregates
    "semdedup_threshold_curve",  # per-tau (n_pairs x n_docs) 1-row folds
    "mixture_epochs_plan",  # inherits mixture's totals + z/n_total rows
    # |ks|-row (3-row literal) broadcast with a rank<=k theta join —
    # size-invariant at any SF (same class as histogram_quantiles)
    "vocab_coverage_curve",
    # broadcasts the ONE-ROW session-count aggregate (the N in PMI)
    "event_type_pmi",
    # round-4 third batch:
    # broadcast fixed-size query sample vs corpus (brute_topk class)
    "knn_label_agreement",
    # ONE-ROW weight-total broadcast (Σ N_h·σ_h denominator)
    "neyman_allocation",
    # margins × margins grid (|lang|·|source| cells, metadata-sized)
    # plus the ONE-ROW totals broadcast
    "lang_source_chi2",
    # |thresholds|×|bins| theta join, both metadata-sized
    "quality_threshold_curve",
    # ONE-ROW basket-count broadcast (the lift denominator's N)
    "part_affinity",
    # ONE-ROW observation-edge (max ts) broadcast into the censor rule
    "kaplan_meier_churn",
    # same ONE-ROW observation-edge broadcast (shared duration relation)
    "nelson_aalen_churn",
    # ONE-ROW bigram-type-count broadcast (the N1+(··) denominator)
    "bigram_kn_logprob",
    # ONE-ROW observation-edge broadcast (the decay anchor)
    "decayed_engagement",
    # ONE-ROW recency-anchor (max order date) broadcast — round 9
    # replaced an unpartitioned max() WINDOW over the customer-sized
    # relation with this scalar-subquery crossJoin
    "rfm_segments",
    # ONE-ROW corpus-token-total broadcast (the N in the alpha^2 tier),
    # same designed class as unigram_logprob
    "trigram_sb_logprob",
    # ONE-ROW sample-size (k) and mismatch-count broadcasts onto the
    # 5-row q grid — sketch metadata only (hll_rollup_merge class)
    "quantile_bottomk_merge",
    # 5-row q grid × |buckets| digest + ONE-ROW mismatch fold
    "hdr_quantile_audit",
    # distinct-values × |sources| KS evaluation grid — METADATA ×
    # METADATA (bounded statistic domain × bounded source registry)
    "ks_drift_by_source",
    # ONE-ROW full-sample mean × B-row bootstrap-CI relation
    "bootstrap_mean_ci",
    # vocabulary × |sources| JSD grid — the statistic's inherent
    # support (absent terms still contribute ½·q·ln2); |sources|-row
    # totals broadcast, vocabulary sublinear (Heaps)
    "js_divergence_by_source",
    # ONE-ROW point estimate × B-row bootstrap-CI relation
    "ab_uplift_bootstrap_ci",
    # ONE-ROW bigram-total + unigram-total broadcasts (PMI denominators)
    "bigram_pmi_collocations",
    # ONE-ROW doc-count broadcast (the N in mean/var closed forms)
    "term_burstiness",
    # k-row depth × k-row max-rank theta join — METADATA × METADATA
    "rbo_rank_compare",
    # B-bin interval relation (B² rows) and j≤i≤k minimax join (≤B³,
    # B=32) — METADATA × METADATA after the binning aggregate
    "isotonic_calibration",
    # round-5: calendar grid × event-type registry broadcast (both
    # metadata-sized; the shared-clock gap-fill grid)
    "seasonal_forecast_eval",
    # daily-series self theta-join (calendar² pairs, data-size
    # invariant) + ONE-ROW OLS-moments broadcast
    "theil_sen_trend",
    # |sources|-row statistic relation self theta-join (src < src) —
    # source-registry-bounded, never data-sized
    "welch_ttest_sources",
    # two ONE-ROW marginal-entropy broadcasts onto the one-row MI agg
    "mutual_info_lang_source",
    # ONE-ROW residual-MAD broadcast onto the calendar-metadata series
    "seasonal_residual_anomalies",
    # calendar grid × event-type registry broadcast (same class as
    # seasonal_forecast_eval); the lag shift itself is an equi-join
    "ccf_event_types",
    # |types|²/2 pair grid over the type registry (metadata × metadata;
    # register folds and the exact branch are all equi-joins)
    "hll_source_overlap",
    # daily-series self theta-join (calendar² pairs, data-size
    # invariant) — same class as theil_sen_trend
    "kendall_tau_daily",
    # four ONE-ROW count aggregates crossJoined (metadata combine)
    "blocking_quality_eval",
    # per-Newton-step broadcast of the ONE-ROW beta relation (the
    # unrolled IRLS loop), same designed class as unigram_logprob
    "logistic_irls_lang",
    # inherits brute_topk's broadcast fixed-query-panel scan (the
    # declared exact eval tier it grades LSH against)
    "ann_ndcg_eval",
    # ONE-ROW global-moment broadcast onto the |nations|-row relation
    "simpson_flip_audit",
    # value-domain × k-fold grid broadcast (metadata × 5-row literal)
    "stump_cv_eval",
    # inherits brute_topk's broadcast fixed-query-panel scan
    "ivf_ndcg_eval",
    # ONE-ROW node-count broadcast onto the 1-row moment aggregate
    "near_dup_assortativity",
    # per-k ONE-ROW (sum_top) x ONE-ROW (threshold) joins over the
    # 1001-row top-k metadata; the literal join key folds to a BNLJ
    "hill_tail_index",
    # per-Newton-step broadcast of the ONE-ROW propensity beta (same
    # unrolled-IRLS class as logistic_irls_lang)
    "ipw_click_uplift",
    # ONE-ROW coalition-count broadcast onto the 4-row channel relation
    "shapley_attribution",
    # ONE-ROW fit / k / radius broadcasts onto the calendar relation
    # (the scalar-subquery class); windows only over calendar metadata
    "conformal_revenue_interval",
    # ONE-ROW corpus-count broadcast for the idf quantization (same
    # class as tfidf_top_terms)
    "tfidf_cosine_pairs",
    # inherits dsir_selection's (Nt, Nr, V) ONE-ROW totals crossJoin
    "importance_weight_ess",
    # two ONE-ROW broadcasts: token total, then the p^alpha normalizer
    "lang_temperature_weights",
    # ONE-ROW observed-contrast broadcast onto the R-fold explode and
    # the R-row permutation relation (the Poisson-bootstrap class)
    "permutation_test_chars",
    # vocab x |langs| likelihood grid + ONE-ROW V and n broadcasts --
    # all vocabulary-sized metadata, never corpus-sized
    "nb_lang_confusion",
    # inherits brute_topk's broadcast fixed-query-panel scan (eval tier)
    "ivf_nprobe_curve",
    # file-stats x |preds|-literal grid (both metadata-sized), plus the
    # ONE-ROW key-domain broadcast
    "layout_skipping_audit",
    # ONE-ROW raw-totals broadcast onto each tier's one-row fold
    "dedup_funnel_report",
    # four ONE-ROW folds (daily sum, merged est, mismatches, exact)
    # crossJoined -- register/day-cardinality metadata only
    "hll_rollup_merge",
    # ONE-ROW max(doc_id) broadcast onto the gram relation (the bucket
    # rule's denominator — scalar-subquery class)
    "ngram_novelty_curve",
    # three ONE-ROW pair-count aggregates crossJoined (the
    # blocking_quality_eval class)
    "lexical_semantic_agreement",
    # ONE-ROW assignment-total broadcast onto the |cells|-row relation
    "ivf_cell_balance",
    # ONE-ROW max(doc_id) broadcast (same bucket-rule class as
    # ngram_novelty_curve)
    "ingestion_drift_curve",
    # ONE-ROW weight-total broadcast per MW round (renormalization),
    # the unigram_logprob scalar-aggregate class × |rounds|
    "mixture_reweigh_mw",
    # inherits brute_topk's broadcast fixed-query panel (truth at k=1)
    "ann_mrr_eval",
    "ivf_mrr_eval",
    # ONE-ROW audit/estimate/source-count broadcasts (hll_rollup class)
    "cms_rollup_merge",
    # inherits brute_topk's broadcast fixed-query panel at max(ks)
    "lsh_recall_curve",
    # ONE-ROW stats × folded-counts broadcasts per shingle-size arm
    "shingle_n_curve",
    # ONE-ROW totals broadcast in the shared mixture-shift fold
    "filter_bias_audit",
    "dedup_bias_audit",
    # ONE-ROW totals + cap-sum broadcasts onto the |sources| relation
    "budget_waterfill_plan",
    # ONE-ROW distinct-fingerprint total broadcast onto the |ttl| fold
    "dedup_state_ttl_curve",
    # round 8: metadata × metadata grid (distinct lengths × |sources|
    # broadcast), same designed class as the KS screen's grid
    "wasserstein_length_by_source",
    # |sources|-row broadcast stats relation onto the R-fold explode +
    # ONE-ROW totals; BH window runs over |sources| metadata rows
    "fdr_bh_source_tests",
    # ONE-ROW field-stats broadcast onto the ≤16-row pattern table
    "fellegi_sunter_scores",
    # inherits unigram_logprob's totals crossJoin (scalar-aggregate class)
    "perplexity_band_prune",
    # ONE-ROW smoothed-mass normalizer broadcast onto the vocabulary
    "negative_sampling_table",
    # inherits brute_topk's broadcast fixed-query panel, once per
    # projection width (the ann_brute designed class)
    "ann_recall_vs_dim",
    # brute truth panel + broadcast query vectors onto bucket-keyed
    # candidates (the lsh_topk + ann_brute designed classes)
    "lsh_probe_curve",
}


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def query_dfs(spark, sf_dir):
    out = {}
    for name, fn in entrymod.queries().items():
        if name in STREAMING:
            continue
        out[name] = fn(spark, sf_dir)
    return out


@pytest.fixture(scope="module")
def plans(query_dfs):
    return {name: _plan(df) for name, df in query_dfs.items()}


def test_no_cartesian_product_anywhere(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not offenders, f"cartesian product in: {offenders}"


def test_nested_loop_joins_only_where_designed(plans):
    offenders = [
        n
        for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in NESTED_LOOP_OK
    ]
    assert not offenders, f"undeclared nested-loop join in: {offenders}"


def test_dimension_joins_broadcast(plans):
    # queries whose dimension joins must stay broadcast, not sort-merge
    for name in (
        "q3_shipping_priority",
        "q5_region_revenue",
        "customers_per_region",
        "q2_min_cost_supplier",
        "q9_profit_by_nation",
        "q16_supplier_part_counts",
        "stream_user_nation_stats",
    ):
        if name in STREAMING or name not in plans:
            continue
        assert "BroadcastHashJoin" in plans[name], f"{name} lost its broadcast"


def test_scans_prune_columns(plans):
    # the flagship wordcount reads ONE column of documents
    p = plans["word_count"]
    assert "ReadSchema: struct<text:string>" in p
    # q6 reads only the filter/agg columns of lineitem
    p6 = plans["q6_forecast_revenue"]
    assert "l_comment" not in p6
    for col in ("l_returnflag", "l_linestatus", "l_orderkey"):
        assert col not in p6.split("ReadSchema")[-1]


def test_filters_push_down(plans):
    assert "PushedFilters: [" in plans["q6_forecast_revenue"]
    # at least one non-empty pushdown across the TPC-H set
    assert any(
        "PushedFilters: [Is" in p or "PushedFilters: [In" in p
        or "PushedFilters: [GreaterThan" in p or "PushedFilters: [EqualTo" in p
        for p in plans.values()
    )


def test_aggregates_are_partial(plans):
    # map-side combine before every shuffle in the core aggregation path
    for name in ("word_count", "q1_pricing_summary", "events_hourly"):
        assert "partial_" in plans[name], f"{name} lost map-side partial aggs"


def test_topk_uses_take_ordered(plans):
    for name in ("top10_words", "q3_shipping_priority", "q18_large_orders"):
        assert "TakeOrderedAndProject" in plans[name], (
            f"{name} does a global sort for a top-k"
        )


def test_asof_plan_is_single_exchange_window(plans):
    p = plans["asof_last_order"]
    assert "Window" in p and "Union" in p
    # no join node at all: the as-of is the union+window carry
    assert "Join" not in p


def test_langid_kappa_is_one_linear_fold(plans):
    """The confusion margins fold in two aggregates: no join back of
    margins onto totals, no persisted confusion relation."""
    p = plans["langid_kappa"]
    assert "Join" not in p and "InMemoryTableScan" not in p


def test_clean_corpus_filters_quality_in_place(plans):
    """The quality gate is a filter on the one documents scan; the only
    semi join is dedup's keep-first."""
    assert plans["clean_corpus"].count("Join type: LeftSemi") == 1


def test_banded_range_join_is_equi_join(plans):
    p = plans["events_followups_1h"]
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_aqe_runtime_broadcast_conversion(spark, tables):
    """Runtime re-planning evidence: a join whose build side only
    becomes provably small AFTER its filter runs must be converted by
    AQE to a broadcast join at runtime (the final adaptive plan shows
    BroadcastHashJoin + AQEShuffleRead), even though the static
    optimizer cannot prove it."""
    from pyspark.sql import functions as F

    # negative-balance customers: selective, size unknown statically
    dim = tables["customer"].filter(F.col("c_acctbal") < 0).select("c_custkey")
    # block the static broadcast decision: hide sizes behind a shuffle
    dim = dim.repartition(16, "c_custkey")
    fact = tables["orders"].repartition(16, "o_custkey")
    joined = fact.join(dim, fact["o_custkey"] == dim["c_custkey"]).groupBy(
        "o_orderpriority"
    ).count()
    joined.collect()  # execute so AQE finalizes the plan
    final_plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in final_plan
    assert "BroadcastHashJoin" in final_plan or "BroadcastQueryStage" in (
        final_plan
    )


def test_quantization_curve_plan_stays_collapsed(plans):
    """Round-7 lesson, pinned: quantization_error_curve's plan must
    keep exactly 4 O(dim) folds × 3 arms and one transform per arm.
    A filter or CASE guard on a derived column (or un-staging the
    scale/dequant projections) re-inlines the fold chain through
    predicate pushdown / CollapseProject — measured 90 folds and
    9.7 s instead of 12 folds and 2.8 s at sf0.1."""
    p = plans["quantization_error_curve"]
    folds = p.count("aggregate(")
    transforms = p.count("transform(")
    assert folds == 12, f"fold chain re-inlined: {folds} aggregate() nodes"
    assert transforms == 3, f"dequant transform duplicated: {transforms}"


# Queries allowed to feed an Exchange SinglePartition into a Sort /
# Window node — each sorts METADATA-sized relations only (calendar
# series, source/type registries, fixed bucket grids, B-row bootstrap
# replicates), never a data-sized relation. Same rationale-carrying
# style as NESTED_LOOP_OK: a new entry here needs a written reason.
# (This assertion exists because curriculum_phases shipped a
# single-task global ntile over the whole corpus for eight rounds
# before a manual plan read caught it.)
SINGLE_PARTITION_WINDOW_OK = {
    # calendar-day series (|days| rows, data-size invariant)
    "daily_revenue_trend": "calendar-day revenue series",
    "revenue_trailing_7d": "calendar-day series",
    "cusum_changepoint": "calendar-day series",
    "conformal_revenue_interval": "calendar-day series (5 windows)",
    # registry / group-count relations (|sources|, |langs|, |nations|)
    "corpus_mix": "min-over-window on the |groups|-row count relation",
    "js_divergence_by_source": "|sources|-row totals window",
    "jackknife_source_mean": "|sources|-row leave-one-out relation",
    "stratified_kfold": "|langs|-row stratum-offset prefix sum",
    "revenue_pareto_cumshare": "|nations|-row cumulative share",
    "anova_bartlett_sources": "|sources|-row group stats",
    "budget_waterfill_plan": "|sources|-row water-filling relation",
    "wasserstein_length_by_source": "distinct-length value domain grid",
    "fdr_bh_source_tests": "|sources|-row BH step-up + source-rank",
    "transition_entropy": "event-type-registry rows",
    "mutual_info_lang_source": "lang x source marginal grids",
    "dp_noisy_counts": "lang x source cell grid",
    "t_closeness_audit": "value-domain bin grid",
    # fixed bucket / bin grids (size chosen at query-authoring time)
    "corpus_shuffle": "prefix-sum over the <=256-row bucket counts",
    "watermark_lateness_audit": "fixed lateness-bucket grid",
    "pareto_skyline": "fixed bucket grid",
    "benford_digit_audit": "9 leading-digit rows",
    "isotonic_calibration": "B-bin (32) interval relation",
    "gini_split_stump": "value-domain split-candidate bins",
    "ngram_novelty_curve": "fixed bucket grid",
    "normalization_dup_gain": "tier metadata rows",
    # bounded statistic domains
    "bootstrap_mean_ci": "B-row bootstrap-replicate relation",
    "ab_uplift_bootstrap_ci": "B-row bootstrap-replicate relation",
    "ab_test_zscore": "per-arm totals (2 rows)",
    "rbo_rank_compare": "k-row depth relation",
    "kaplan_meier_churn": "distinct whole-day durations (calendar-bounded)",
    "nelson_aalen_churn": "distinct whole-day durations",
    "file_compaction_plan": "file-registry metadata rows",
}


def _tree_depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _single_partition_sort_window_nodes(plan: str) -> list[str]:
    """Parent nodes of every `Exchange SinglePartition` in a physical
    plan tree string, filtered to Sort / Window / WindowGroupLimit —
    the shape that funnels a whole relation through one task."""
    lines = plan.splitlines()
    hits = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        d = _tree_depth(line)
        for j in range(i - 1, -1, -1):
            if _tree_depth(lines[j]) < d:
                parent = lines[j].strip(" :+-")
                if parent.startswith("*("):  # codegen stage marker
                    parent = parent.split(") ", 1)[1]
                if parent.startswith(
                    ("Sort ", "Sort[", "Window ", "Window[",
                     "WindowGroupLimit")
                ):
                    hits.append(parent[:80])
                break
    return hits


@pytest.fixture(scope="module")
def physical_plans(query_dfs):
    return {
        name: df._jdf.queryExecution().executedPlan().toString()
        for name, df in query_dfs.items()
    }


def test_no_single_partition_window_sorts(physical_plans):
    """No query may sort a data-sized relation through ONE task: an
    `Exchange SinglePartition` feeding Sort/Window is only legal over
    metadata-sized relations, declared (with rationale) above."""
    offenders = {
        n: nodes
        for n, p in physical_plans.items()
        if n not in SINGLE_PARTITION_WINDOW_OK
        and (nodes := _single_partition_sort_window_nodes(p))
    }
    assert not offenders, (
        "undeclared single-partition Sort/Window (use "
        "distrank.with_global_order or a 1-row broadcast aggregate, "
        f"or allowlist with rationale): {offenders}"
    )


# ---------------------------------------------------------------------------
# round-10: the blind spot the round-9 detector left open. That
# detector keys on the `Exchange SinglePartition` NODE — but Spark only
# inserts the exchange when the window's input is multi-partition. An
# unpartitioned Window over a relation that is ALREADY single-partition
# (post-limit, post-coalesce(1)) emits no exchange and shipped silently
# (quantile_bottomk_merge's benign `WindowExec: No Partition Defined`
# runtime warnings proved the class exists in-tree). This detector keys
# on the WINDOW node itself: a windowspecdefinition whose first
# argument is an ORDER column (`... ASC/DESC NULLS ...`) or directly a
# specifiedwindowframe(...) has NO partition spec. Such a window is
# auto-legal only when its input spine — walked through row-narrow
# nodes (Project/Filter/Sort/Window/exchanges) — reaches a node that
# BOUNDS the row count regardless of data size: TakeOrderedAndProject /
# Global/LocalLimit (Catalyst pushes these below rank<=k windows),
# LocalTableScan (literal rows), or a scalar (keys=[]) aggregate.
# Anything else (a coalesce(1), a grouped aggregate, a join, a scan)
# needs a written rationale below. Unpartitioned global Sorts are NOT
# audited here: a global Sort self-heals at scale (Spark inserts an
# Exchange rangepartitioning the moment the child is multi-partition),
# while an unpartitioned Window NEVER distributes at any size.

# Unpartitioned windows over metadata-sized relations that are not
# produced by a limit spine (grouped aggregates over bounded key
# domains). Entries in SINGLE_PARTITION_WINDOW_OK are honored too —
# same relations, merely reached through an explicit exchange.
PARTITIONLESS_WINDOW_OK = {
    "acf_hourly": "calendar-hour series (|hours| rows; lag windows)",
    "quantile_bottomk_merge": (
        "bounded-K sketch relations: every window runs over a "
        "TakeOrderedAndProject(K<=10k)-derived per-day or merged "
        "sketch, grouped to |days| rows before the window"
    ),
}


def _first_windowspec_arg(node: str) -> str | None:
    """First top-level argument of the node's first
    windowspecdefinition(...): a plain column means PARTITIONED; an
    `X ASC/DESC NULLS ...` order column or a direct
    specifiedwindowframe(...) means NO partition spec."""
    key = "windowspecdefinition("
    start = node.find(key)
    if start < 0:
        return None
    depth = 0
    buf = []
    for ch in node[start + len(key):]:
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                break
            depth -= 1
        elif ch == "," and depth == 0:
            break
        buf.append(ch)
    return "".join(buf).strip()


def _is_unpartitioned_window(node: str) -> bool:
    arg = _first_windowspec_arg(node)
    if arg is None:
        return False
    return arg.startswith("specifiedwindowframe(") or (
        " ASC NULLS" in arg or " DESC NULLS" in arg
    )


_SPINE_PASS_THROUGH = (
    "Project ", "Project[", "Filter ", "Filter(", "Sort ", "Sort[",
    "Window ", "Window[", "WindowGroupLimit", "Exchange ",
    "ReusedExchange", "ShuffleQueryStage", "AQEShuffleRead",
    "ColumnarToRow", "InputAdapter", "AdaptiveSparkPlan",
    "ResultQueryStage", "CollectMetrics",
)
_SPINE_BOUNDED = (
    "TakeOrderedAndProject", "GlobalLimit", "LocalLimit",
    "LocalTableScan",
)


def _strip_node(line: str) -> str:
    node = line.strip(" :+-")
    if node.startswith("*("):  # codegen stage marker
        node = node.split(") ", 1)[1]
    return node


def _spine_is_bounded(lines: list[str], i: int) -> bool:
    """Walk the first-child spine below ``lines[i]`` through row-narrow
    nodes; True iff it reaches a bounded node before anything that can
    be data-sized (join, grouped aggregate, Generate, Union, scan)."""
    depth = _tree_depth(lines[i])
    j = i
    while True:
        # in plan-tree toString a node's FIRST child is always the
        # next line (deeper indent); a shallower next line = leaf
        child = j + 1
        if child >= len(lines) or _tree_depth(lines[child]) <= depth:
            return False
        node = _strip_node(lines[child])
        if node.startswith(_SPINE_BOUNDED):
            return True
        if node.startswith(("HashAggregate(keys=[],",
                            "SortAggregate(keys=[],",
                            "ObjectHashAggregate(keys=[],")):
            return True  # scalar aggregate: one row at any SF
        if not node.startswith(_SPINE_PASS_THROUGH):
            return False
        j, depth = child, _tree_depth(lines[child])


def _unbounded_partitionless_windows(plan: str) -> list[str]:
    lines = plan.splitlines()
    hits = []
    for i, line in enumerate(lines):
        node = _strip_node(line)
        flagged = False
        if node.startswith(("Window ", "Window[")):
            flagged = _is_unpartitioned_window(node)
        elif node.startswith("WindowGroupLimit"):
            # WindowGroupLimit [part], [order], fn, k, mode — two
            # top-level bracket groups when partitioned, one when not
            depth = 0
            groups = 0
            for ch in node[len("WindowGroupLimit"):]:
                if ch == "[":
                    if depth == 0:
                        groups += 1
                    depth += 1
                elif ch == "]":
                    depth -= 1
            flagged = groups < 2
        if flagged and not _spine_is_bounded(lines, i):
            hits.append(node[:100])
    return hits


def test_no_unbounded_partitionless_windows(physical_plans):
    """No query may run an UNPARTITIONED window over a relation that is
    not provably bounded (limit spine / scalar aggregate) — even when
    no `Exchange SinglePartition` node appears because the input is
    already single-partition. Declared metadata-window queries are
    allowlisted with rationale above."""
    ok = set(SINGLE_PARTITION_WINDOW_OK) | set(PARTITIONLESS_WINDOW_OK)
    offenders = {
        n: nodes
        for n, p in physical_plans.items()
        if n not in ok and (nodes := _unbounded_partitionless_windows(p))
    }
    assert not offenders, (
        "unpartitioned Window over an unbounded relation (partition it, "
        "use distrank.with_global_order, or allowlist with rationale): "
        f"{offenders}"
    )


def test_partitionless_detector_catches_coalesce1_window(spark, tables):
    """The exact shape the round-9 detector was blind to: coalesce(1)
    makes the window's input single-partition, so NO Exchange
    SinglePartition is emitted — the old detector passes it, the new
    one must flag it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = tables["customer"].select("c_custkey", "c_acctbal").coalesce(1)
    out = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("c_acctbal"))
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not _single_partition_sort_window_nodes(plan), (
        "expected the round-9 exchange-keyed detector to be blind here"
        " (if this fails, Spark started inserting an exchange and the"
        " new detector is redundant — re-evaluate)"
    )
    assert _unbounded_partitionless_windows(plan), (
        "detector missed a coalesce(1)-then-window over a data-sized"
        " relation"
    )


def test_partitionless_detector_passes_bounded_spine(spark, tables):
    """Catalyst rewrites rank<=k into TakeOrderedAndProject BELOW the
    window; such bounded-input windows are legal and must NOT flag."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = tables["customer"].select("c_custkey", "c_acctbal")
    out = (
        df.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.desc("c_acctbal"), "c_custkey")
            ),
        )
        .where(F.col("rn") <= 10)
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan
    assert not _unbounded_partitionless_windows(plan)


def test_single_partition_detector_catches_global_ntile(spark, tables):
    """The detector itself must flag the exact shape that shipped
    silently for eight rounds: ntile over an un-partitioned window
    (Exchange SinglePartition -> Sort -> Window)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = tables["customer"].select("c_custkey", "c_acctbal")
    out = df.withColumn(
        "q", F.ntile(4).over(Window.orderBy("c_acctbal"))
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert _single_partition_sort_window_nodes(plan), (
        "detector missed a global-window ntile"
    )
