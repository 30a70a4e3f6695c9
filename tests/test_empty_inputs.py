"""Empty-input robustness: every doc/embedding operator must return an
empty (or well-defined) result on zero rows — not crash. Empty
partitions are routine at scale (filters, skew, small tails)."""

from __future__ import annotations

import pytest

from training_etl_demo_2_spark.operators import (
    dedup,
    multimodal,
    similarity,
    text,
    wordcount,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], DOC_SCHEMA)


@pytest.fixture(scope="module")
def empty_emb(spark):
    return spark.createDataFrame([], EMB_SCHEMA)


def test_text_ops_empty(empty_docs):
    assert text.language_id(empty_docs).count() == 0
    assert text.text_quality(empty_docs).count() == 0
    assert text.token_stats(empty_docs).count() == 0
    assert text.doc_fingerprints(empty_docs).count() == 0
    assert text.ngram_counts(empty_docs).count() == 0


def test_wordcount_empty(empty_docs):
    assert wordcount.word_counts(empty_docs).count() == 0
    assert wordcount.word_counts_salted(empty_docs).count() == 0


def test_dedup_empty(empty_docs):
    assert dedup.exact_dedup_groups(empty_docs).count() == 0
    assert dedup.ngram_jaccard_pairs(empty_docs).count() == 0
    assert dedup.minhash_lsh_pairs(empty_docs).count() == 0
    assert dedup.simhash_fingerprints(empty_docs).count() == 0
    assert dedup.simhash_near_pairs(empty_docs).count() == 0


def test_similarity_empty(empty_emb):
    assert similarity.brute_topk(empty_emb).count() == 0
    assert similarity.brute_topk_pandas(empty_emb).count() == 0
    assert similarity.lsh_topk(empty_emb).count() == 0
    assert similarity.cosine_near_pairs(empty_emb).count() == 0
    assert similarity.ivf_topk(empty_emb).count() == 0


def test_multimodal_empty(empty_docs):
    media = multimodal.attach_fake_payload(empty_docs)
    assert multimodal.extract_features(media).count() == 0
    assert multimodal.resize_images(media).count() == 0
    assert multimodal.sample_frames(media).count() == 0
    assert multimodal.audio_features(media).count() == 0


def test_validation_and_behavior_empty(spark):
    from training_etl_demo_2_spark.operators import behavior, merge, validation

    empty_events = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    assert validation.value_anomalies(empty_events).count() == 0
    assert behavior.cohort_retention(empty_events).count() == 0
    funnel = {r.stage: r.n_users for r in behavior.event_funnel(empty_events).collect()}
    assert funnel == {"view": 0, "click": 0, "purchase": 0}

    empty_kv = spark.createDataFrame([], "k long, v double")
    assert merge.merge_upsert(empty_kv, empty_kv, "k").count() == 0
    prof = validation.profile_columns(empty_kv).collect()
    assert {r.col_name: r.n_rows for r in prof} == {"k": 0, "v": 0}


def test_fuzzy_and_histogram_empty(spark):
    from training_etl_demo_2_spark.operators import dedup, sketches

    empty_named = spark.createDataFrame([], "id long, name string")
    assert dedup.fuzzy_name_pairs(empty_named, "name").count() == 0

    empty_hist = spark.createDataFrame([], "day string, event_type string, bin long, n long")
    assert sketches.histogram_quantiles(empty_hist).count() == 0


def test_round5_ops_empty(spark, empty_docs, empty_emb):
    from training_etl_demo_2_spark.operators import tokenizer
    from training_etl_demo_2_spark.operators.merge import snapshot_diff

    assert dedup.line_dedup(empty_docs).count() == 0
    assert text.unigram_logprob(empty_docs).count() == 0
    assert text.quality_classifier(empty_docs).count() == 0
    assert similarity.semantic_dedup(empty_emb).count() == 0
    assert tokenizer.train_bpe(empty_docs, n_merges=5) == []
    assert tokenizer.bpe_token_counts(empty_docs, merges=[]).count() == 0
    e = spark.createDataFrame([], "k long, v string")
    assert snapshot_diff(e, e, "k").count() == 0


def test_round6_ops_empty(spark, empty_docs, empty_emb):
    from training_etl_demo_2_spark.operators import (
        curation,
        pipeline,
    )

    assert dedup.substring_dup_stats(empty_docs).count() == 0
    assert dedup.pagerank_near_dup_graph(empty_docs).count() == 0
    assert dedup.hard_negative_pairs(empty_docs).count() == 0
    assert dedup.source_overlap_matrix(empty_docs).count() == 0
    assert curation.dsir_importance(empty_docs).count() == 0
    assert curation.negative_samples(empty_docs).count() == 0
    assert curation.split_leakage(empty_docs).count() == 0
    assert text.bm25_topk(empty_docs).count() == 0
    assert text.vocab_stats_by_source(empty_docs).count() == 0
    assert similarity.distributed_kmeans(empty_emb).count() == 0
    assert similarity.label_centroid_stats(empty_emb).count() == 0
    report = {
        r.metric: r.value
        for r in pipeline.corpus_report({"documents": empty_docs}).collect()
    }
    assert report["n_docs"] == 0.0 and report["dup_rate"] == 0.0


def test_negative_samples_single_doc_yields_nothing(spark):
    """A 1-row corpus has no valid negatives: empty output, not a
    divide-by-zero in the self-exclusion modulus."""
    from training_etl_demo_2_spark.operators.curation import negative_samples

    one = spark.createDataFrame(
        [(0, "solo", "en", "s0", 4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    assert negative_samples(one).count() == 0


def test_session_final_ops_empty(spark, empty_docs, empty_emb):
    from training_etl_demo_2_spark.operators import (
        curation,
        relational_ext,
        validation,
    )

    # gram/PCA: zero vectors -> zero stat rows / zero projections
    assert similarity.embedding_gram_matrix(empty_emb).count() == 0
    assert similarity.pca_project(empty_emb).count() == 0
    assert similarity.pca_project_power(empty_emb).count() == 0
    assert similarity.mmr_diverse_topk(empty_emb).count() == 0
    # A-ES: k > n returns all n (= 0) rows
    assert curation.weighted_sample_topk(empty_docs, k=5).count() == 0
    # triangle census still emits its one row of zero counts
    row = dedup.near_dup_triangles(empty_docs).collect()[0]
    assert (row.n_edges, row.n_wedges, row.n_triangles) == (0, 0, 0)
    # robust anomalies / OLS / hashed features on empty events/docs
    empty_events = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    assert validation.robust_value_anomalies(empty_events).count() == 0
    assert (
        relational_ext.events_value_trend_ols({"events": empty_events}).count()
        == 0
    )
    assert text.hashed_features(empty_docs).count() == 0
    # incremental near-dup with an empty corpus: no pairs
    assert (
        dedup.incremental_near_dup(empty_docs, empty_docs).count() == 0
    )


def test_ols_single_point_group_is_null_guarded(spark):
    import datetime

    from training_etl_demo_2_spark.operators import relational_ext

    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), 1, "solo", 5.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    rows = relational_ext.events_value_trend_ols({"events": df}).collect()
    assert len(rows) == 1
    assert rows[0].slope_t4_per_hour is None


def test_robust_anomalies_single_row_type_not_flagged(spark):
    from training_etl_demo_2_spark.operators.validation import (
        robust_value_anomalies,
    )

    df = spark.createDataFrame(
        [(1, "solo", 42.0)], "event_id long, event_type string, value double"
    )
    # median == the value, dev == 0, MAD == 0: 0 > 0 is false
    assert robust_value_anomalies(df).count() == 0


EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_totalprice double, "
    "o_orderdate string"
)


@pytest.fixture(scope="module")
def empty_ev(spark):
    return spark.createDataFrame([], EV_SCHEMA)


def test_round5_doc_ops_empty(spark, empty_docs):
    from training_etl_demo_2_spark.operators import curation, validation

    t = {"documents": empty_docs}
    assert text.readability_by_source(t).count() == 0
    assert text.script_mismatch_audit(t).count() == 0
    assert curation.gini_split_stump(t).count() == 0
    assert curation.stump_cv_eval(t).count() == 0
    # single-row report ops return one all-null/zero row on empty input
    row = validation.anova_bartlett_sources(t).collect()
    assert len(row) <= 1


def test_round5_event_ops_empty(spark, empty_ev):
    from training_etl_demo_2_spark.operators import (
        behavior,
        temporal,
        validation,
    )

    t = {"events": empty_ev}
    assert temporal.ccf_event_types(t).count() == 0
    assert behavior.transition_entropy(empty_ev).count() <= 1
    assert behavior.position_attribution(empty_ev).count() == 0
    assert validation.hill_tail_index(t).count() == 0
    # one-row reports stay well-defined (null stats, zero counts)
    pow_row = behavior.ab_power_mde(t).collect()
    assert len(pow_row) <= 1
    od = validation.event_overdispersion(t).collect()
    assert len(od) <= 1


def test_round5_orders_ops_empty(spark):
    from training_etl_demo_2_spark.operators import validation

    empty_ord = spark.createDataFrame([], ORD_SCHEMA)
    out = validation.kendall_tau_daily({"orders": empty_ord}).collect()
    assert len(out) <= 1
    if out:
        assert out[0]["n_pairs"] in (0, None)


def test_round5_embedding_ops_empty(spark, empty_emb):
    from training_etl_demo_2_spark.operators import similarity

    t = {"embeddings": empty_emb}
    assert similarity.ann_ndcg_eval(t).count() == 0
    assert similarity.kmeans_silhouette(t).count() == 0


def test_round7_session6_ops_empty(spark, empty_docs, empty_emb):
    from training_etl_demo_2_spark.operators import curation, sketches

    assert dedup.normalization_dup_gain(empty_docs).count() == 0
    assert dedup.chunk_overlap_pairs(empty_docs).count() == 0
    assert sketches.cms_error_audit(empty_docs).count() == 0
    assert text.ngram_novelty_curve(empty_docs).count() == 0
    assert text.pii_source_report(empty_docs).count() == 0
    assert text.ingestion_drift_curve(empty_docs).count() == 0
    assert curation.pack_boundary_audit(empty_docs).count() == 1  # one-row fold (zeros)
    assert curation.shard_mixing_audit(empty_docs).count() == 0
    t = {"documents": empty_docs, "embeddings": empty_emb}
    assert similarity.quantization_error_curve(t).count() == 0
    assert similarity.lexical_semantic_agreement(t).count() == 1  # one-row zeros


# Every consumer of the distributed rank (distrank.with_global_order),
# run on 0-row copies of every fixture table and compared with its
# DuckDB twin: an empty relation must flow through the rank exactly as
# it flows through the twin's single-node window.
RANK_CONSUMERS = [
    "customer_value_deciles",
    "perplexity_band_prune",
    "zorder_files",
    "layout_skipping_audit",
    "forget_user_rewrite_plan",
    "curriculum_phases",
    "heaps_law_fit",
    "spearman_lineitem",
    "rfm_segments",
    "token_budget_selection",
    "quantile_normalize_lengths",
    "stratified_kfold",
    "snm_fuzzy_pairs",
    "striped_shard_plan",
    "quantile_bottomk_merge",
    "vocab_coverage_curve",
    "join_skew_audit",
]


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory, sf_dir):
    """The fixture tables sliced to 0 rows: schemas and physical
    encodings kept, so every reader path sees what it sees at sf0.001."""
    import os

    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("empty_sf")
    for name in os.listdir(sf_dir):
        if name.endswith(".parquet"):
            table = pq.read_table(os.path.join(sf_dir, name))
            pq.write_table(table.slice(0, 0), str(out / name))
    return str(out)


def _assert_matches_twin(spark, sf_dir, name):
    import __spark_entry__ as entrymod

    from tools import check_oracle

    con = check_oracle.duck_connect(sf_dir)
    problems = check_oracle.compare_one(
        spark,
        con,
        name,
        entrymod.queries()[name],
        entrymod.oracle_sql()[name],
        sf_dir,
    )
    assert problems == [], problems


@pytest.mark.parametrize("name", RANK_CONSUMERS)
def test_rank_consumer_on_empty_tables_matches_twin(spark, empty_sf_dir, name):
    _assert_matches_twin(spark, empty_sf_dir, name)


# Ratio and filter queries on the same 0-row tables: a ratio over no
# rows is NULL on both engines, never DIVIDE_BY_ZERO.
RATIO_QUERIES = [
    "dedup_funnel_report",
    "dictionary_encode_audit",
    "langid_kappa",
    "clean_corpus",
]


@pytest.mark.parametrize("name", RATIO_QUERIES)
def test_ratio_query_on_empty_tables_matches_twin(spark, empty_sf_dir, name):
    _assert_matches_twin(spark, empty_sf_dir, name)


# The three text formula families (written as Spark SQL text) and the
# folds over them, on the same 0-row tables: no documents means no
# failures, 0 on both engines.
TEXT_FAMILY_QUERIES = [
    "language_id",
    "doc_lang_consistency",
    "text_quality",
    "gopher_quality_rules",
    "gopher_rule_overlap_matrix",
    "stream_quality_gate",
]


@pytest.mark.parametrize("name", TEXT_FAMILY_QUERIES)
def test_text_family_on_empty_tables_matches_twin(spark, empty_sf_dir, name):
    _assert_matches_twin(spark, empty_sf_dir, name)
