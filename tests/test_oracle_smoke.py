"""Fast oracle smoke sweep: a deterministic ~40-query stride of the
registry, differentially checked against DuckDB at sf0.001 on every
default pytest run.

The FULL 389-query sweep (test_oracle_sweep.py) takes ~45 min and is
now opt-in (`-m slow`) so the default suite finishes inside the
driver's verify window; this smoke keeps end-to-end Spark-vs-oracle
coverage in every run. The stride is over registry (insertion) order,
so it is stable across runs and drifts only when queries are appended —
which is exactly when new coverage should rotate in.
"""

from __future__ import annotations

import sys

import pytest

import __spark_entry__ as entrymod

from tools import check_oracle, explain_all

STRIDE = 10

# Families touched by recent optimization rounds: always smoke-checked
# regardless of where the stride lands.
ALWAYS = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_edit_distance",
    "lsh_recall_eval",
    "bottomk_containment",
    "jaccard_threshold_curve",
    "token_loop_stats",
    "substring_dup_stats",
    "decontaminate_spans",
    "lexical_semantic_agreement",
    "kmeans_clusters",
    "corpus_pipeline_e2e",
    # twins built on the shared MinHash band-index / estimator CTEs and
    # the shared logistic Newton solver
    "incremental_near_dup",
    "blocking_quality_eval",
    "lsh_cost_advisor",
    "minhash_estimate_error",
    "minhash_perm_tradeoff",
    "incremental_pipeline_e2e",
    "logistic_irls_lang",
    "ipw_click_uplift",
    # queries on the shared HLL register/fold and CMS cell-map helpers
    # and the one stream-stream join
    "hll_user_estimate",
    "hll_source_overlap",
    "hll_rollup_merge",
    "sketch_user_stats",
    "data_profile_lineitem_approx",
    "stream_hll_users",
    "heavy_hitters_cms",
    "cms_join_estimate",
    "cms_error_audit",
    "cms_rollup_merge",
    "stream_click_attribution",
    "stream_click_funnel_loss",
    "stream_funnel_two_sided",
    # twins and engines on the shared vector-search stages (one top-k
    # tail, one exact re-rank, one LSH probe, one unit-quantized
    # prelude, one Lloyd chain, one recall fold) and the one survival
    # risk set
    "ann_brute_topk",
    "ann_brute_topk_pandas",
    "ann_filtered_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "semantic_dedup",
    "hybrid_rrf_topk",
    "kmeans_silhouette",
    "kmeans_elbow_curve",
    "ivf_nprobe_curve",
    "ivf_cell_balance",
    "lsh_recall_curve",
    "ann_recall_vs_dim",
    "lsh_probe_curve",
    "ann_ndcg_eval",
    "ivf_ndcg_eval",
    "ann_mrr_eval",
    "ivf_mrr_eval",
    "knn_label_agreement",
    "knn_label_suspects",
    "kaplan_meier_churn",
    "nelson_aalen_churn",
]


def smoke_set() -> list[str]:
    names = list(entrymod.queries())
    picked = names[::STRIDE]
    picked += [n for n in ALWAYS if n in names and n not in picked]
    return picked


def test_oracle_smoke_subset(spark, sf_dir):
    only = smoke_set()
    assert len(only) >= 40
    report = check_oracle.sweep(spark, sf_dir, only=only)
    assert set(report) == set(only)
    failures = {n: p for n, p in report.items() if p}
    assert not failures, (
        f"{len(failures)} oracle mismatches in smoke subset: "
        + "; ".join(f"{n}: {p}" for n, p in failures.items())
    )


@pytest.mark.parametrize(
    "tool", [check_oracle, explain_all], ids=["check_oracle", "explain_all"]
)
def test_tool_rejects_unknown_query_names(tool, monkeypatch, capsys, sf_dir):
    argv = ["tool.py", sf_dir, "dedup_exact", "no_such_query"]
    monkeypatch.setattr(sys, "argv", argv)
    assert tool.main() == 2
    out = capsys.readouterr().out
    assert "no_such_query" in out
    assert "dedup_exact" not in out
    assert "all queries match" not in out
