"""Text-analysis operator tests."""

from __future__ import annotations

import pytest

from training_etl_demo_2_spark.operators import text


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog", "en"),
            (2, "der hund und die katze ist nicht", "de"),
            (3, "zzz qqq www", "zh"),
        ],
        "doc_id long, text string, lang string",
    )
    got = {r.doc_id: r.lang_pred for r in text.language_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "unknown"}


def test_quality_bounds(tables):
    rows = text.text_quality(tables["documents"]).collect()
    for r in rows:
        assert 0.0 <= r.quality_score <= 1.0
        assert 0.0 <= r.alpha_ratio <= 1.0
        assert r.n_chars > 0


def test_quality_empty_text(spark):
    df = spark.createDataFrame([(1, "")], "doc_id long, text string")
    r = text.text_quality(df).collect()[0]
    assert r.alpha_ratio == 0.0 and r.punct_ratio == 0.0


def test_token_stats(spark):
    df = spark.createDataFrame(
        [(1, "hello, world 42!")], "doc_id long, text string"
    )
    r = text.token_stats(df).collect()[0]
    assert r.ws_tokens == 3
    # hello , world 42 !  -> 5 regex tokens
    assert r.regex_tokens == 5


def test_fingerprints_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in text.doc_fingerprints(df).collect()}
    assert rows[1].fp_raw != rows[2].fp_raw
    assert rows[1].fp_norm == rows[2].fp_norm


def test_ngram_counts_bigrams(spark):
    df = spark.createDataFrame(
        [(1, "a b c a b"), (2, "a b x")], "doc_id long, text string"
    )
    rows = {r.ngram: r.cnt for r in text.ngram_counts(df, n=2, min_count=1).collect()}
    assert rows["a b"] == 3  # twice in doc 1, once in doc 2
    assert rows["b c"] == 1
    assert "b x" in rows


def test_ngram_counts_short_docs_empty(spark):
    df = spark.createDataFrame([(1, "one")], "doc_id long, text string")
    assert text.ngram_counts(df, n=2, min_count=1).count() == 0


def test_remove_stopwords(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the hat")], "doc_id long, text string"
    )
    r = text.remove_stopwords(df).collect()[0]
    assert list(r.tokens) == ["cat", "hat"]
    assert r.clean_text == "cat hat"
    assert r.n_tokens == 2


def test_scrub_pii_redacts_and_counts(spark):
    from training_etl_demo_2_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "mail bob@example.com and carol.smith+x@sub.domain.org now"),
            (2, "call +1 (555) 123-4567 or +49 30 901820 today"),
            (3, "host 192.168.0.1 and 10.0.255.254 up"),
            (4, "clean text with no pii at all"),
            (5, "mix a@b.io +441234567890 8.8.8.8"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text_ops.scrub_pii(df).collect()}
    assert out[1]["n_email"] == 2 and "<EMAIL>" in out[1]["clean_text"]
    assert "bob@example.com" not in out[1]["clean_text"]
    assert out[2]["n_phone"] == 2 and out[2]["clean_text"].count("<PHONE>") == 2
    assert out[3]["n_ipv4"] == 2 and "<IPV4>" in out[3]["clean_text"]
    assert out[4]["clean_text"] == "clean text with no pii at all"
    assert (out[4]["n_email"], out[4]["n_phone"], out[4]["n_ipv4"]) == (0, 0, 0)
    assert (out[5]["n_email"], out[5]["n_phone"], out[5]["n_ipv4"]) == (1, 1, 1)


def test_repetition_stats_bounds_and_signal(spark):
    from training_etl_demo_2_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # all dup words
            (2, "all words here are distinct"),  # none
            (3, "x"),                            # single token: no bigrams
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text_ops.repetition_stats(df).collect()}
    assert out[1]["word_dup_bp"] == 7500   # 4 tokens, 1 distinct
    assert out[1]["bigram_dup_bp"] == 6666  # 3 bigrams, 1 distinct
    assert out[2]["word_dup_bp"] == 0 and out[2]["bigram_dup_bp"] == 0
    assert out[3]["n_words"] == 1 and out[3]["bigram_dup_bp"] == 0


def test_unigram_logprob_ranks_common_below_rare(spark):
    """Docs made of corpus-frequent tokens score higher (closer to 0)
    than docs of rare tokens; scores are <= 0 and finite."""
    from training_etl_demo_2_spark.operators.text import unigram_logprob

    rows = [(i, "the the the common words") for i in range(5)]
    rows.append((99, "zyzzyva qwerty plugh"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.avg_logprob for r in unigram_logprob(df).collect()}
    assert all(v <= 0 for v in out.values())
    assert out[0] > out[99]  # frequent vocabulary beats rare


def test_quality_classifier_label_matches_prob(tables):
    from training_etl_demo_2_spark.operators.text import quality_classifier

    out = quality_classifier(tables["documents"]).collect()
    assert len(out) == tables["documents"].count()
    for r in out:
        assert 0.0 <= r.quality_prob <= 1.0
        if abs(r.quality_prob - 0.5) > 1e-5:  # off the rounding boundary
            assert r.keep == (1 if r.quality_prob > 0.5 else 0)


def test_bm25_ranks_term_dense_doc_first(spark):
    """A doc dense in query terms outranks one with a single hit; docs
    with no query terms don't appear; scores are positive."""
    from training_etl_demo_2_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark join stream spark join stream"),
            (2, "spark is mentioned once in this much longer document body here"),
            (3, "nothing relevant lives in this document at all"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(df, k=10).collect()
    assert [r.doc_id for r in out] == [1, 2]
    assert out[0].bm25 > out[1].bm25 > 0


def test_bm25_fixture_topk_shape(tables):
    """Fixture run: exactly k rows, strictly ordered by (score desc,
    doc_id asc)."""
    from training_etl_demo_2_spark.operators.text import bm25_topk

    out = bm25_topk(tables["documents"], k=20).collect()
    assert len(out) == 20
    keys = [(-r.bm25, r.doc_id) for r in out]
    assert keys == sorted(keys)


def test_vocab_stats_by_source(spark):
    from training_etl_demo_2_spark.operators.text import vocab_stats_by_source

    df = spark.createDataFrame(
        [
            (1, "a a a b", "s1"),  # 4 tokens, 2 types, 1 hapax (b)
            (2, "x y z", "s2"),  # 3 tokens, 3 types, 3 hapax
        ],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in vocab_stats_by_source(df).collect()}
    assert (out["s1"].n_tokens, out["s1"].n_types, out["s1"].n_hapax) == (4, 2, 1)
    assert (out["s2"].n_tokens, out["s2"].n_types, out["s2"].n_hapax) == (3, 3, 3)
    assert out["s2"].ttr == 1.0


def test_zipf_fit_recovers_planted_slope(spark):
    """A corpus built with exact freq = C / rank must fit slope = -1."""
    from training_etl_demo_2_spark.operators.text import zipf_fit

    words = []
    for rank in range(1, 21):
        words += [f"w{rank:02d}"] * (1200 // rank)  # freq ∝ 1/rank
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    row = zipf_fit(df, top_n=20).collect()[0]
    assert row.n_terms == 20
    assert abs(row.zipf_slope - (-1.0)) < 0.01


def test_language_confusion_structure(spark, tables):
    """Matrix cells partition the corpus; predictions stay in the
    classifier's label space. (The fixture's texts are synthetic
    shared-vocabulary — the labels do NOT match the content, and the
    confusion matrix is exactly the query that exposes that: on a
    planted marker-bearing corpus the diagonal wins.)"""
    from training_etl_demo_2_spark.operators.text import (
        LANG_MARKERS,
        language_confusion,
    )

    docs = tables["documents"]
    cells = language_confusion(docs).collect()
    assert sum(r.n for r in cells) == docs.count()
    assert {r.lang_pred for r in cells} <= set(LANG_MARKERS) | {"unknown"}

    planted = spark.createDataFrame(
        [
            (1, "the cat and the dog is in town", "en"),
            (2, "der hund und die katze ist nicht da", "de"),
            (3, "le chat et les chiens est une idee", "fr"),
        ],
        "doc_id long, text string, lang string",
    )
    m = {
        (r.lang_actual, r.lang_pred): r.n
        for r in language_confusion(planted).collect()
    }
    assert m == {("en", "en"): 1, ("de", "de"): 1, ("fr", "fr"): 1}


def test_hashed_features_sparse_exact(spark):
    """Hashed TF cells: mass conservation (sum tf == token count),
    bucket range, identical tokens share a bucket, determinism."""
    from training_etl_demo_2_spark.operators.text import hashed_features

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "a a a"), (3, "")],
        "doc_id long, text string",
    )
    rows = hashed_features(df, dim=64).collect()
    by_doc = {}
    for r in rows:
        assert 0 <= r.bucket < 64
        by_doc.setdefault(r.doc_id, {})[r.bucket] = r.tf
    assert sum(by_doc[1].values()) == 4
    assert by_doc[2] and list(by_doc[2].values()) == [3]  # one bucket, tf 3
    assert 3 not in by_doc  # empty doc emits nothing
    # 'a' hashes identically in both docs
    a_bucket = [b for b, tf in by_doc[2].items()][0]
    assert by_doc[1][a_bucket] == 2


def test_top_terms_and_entropy_planted(spark):
    from training_etl_demo_2_spark.operators.text import (
        source_token_entropy,
        top_terms_by_source,
    )

    df = spark.createDataFrame(
        [
            (1, "a a a b b c", "web"),
            (2, "a b", "web"),
            (3, "x x x x", "spam"),  # single type: entropy exactly 0
        ],
        "doc_id long, text string, source string",
    )
    top = {
        (r.source, r.rk): (r.term, r.tf)
        for r in top_terms_by_source(df, k=2).collect()
    }
    assert top[("web", 1)] == ("a", 4)
    assert top[("web", 2)] == ("b", 3)
    assert top[("spam", 1)] == ("x", 4)

    ent = {r.source: r for r in source_token_entropy(df).collect()}
    assert ent["spam"].entropy_nano == 0
    assert ent["spam"].n_types == 1
    # web: p = (4/8, 3/8, 1/8) -> H ~ 1.0136 nats
    import math

    want = -sum(p * math.log(p) for p in (0.5, 0.375, 0.125))
    assert abs(ent["web"].entropy_nano / 1e9 - want) < 1e-6
    # integer-sum order invariance
    ent2 = {
        r.source: r.entropy_nano
        for r in source_token_entropy(df.repartition(5)).collect()
    }
    assert ent2 == {s: r.entropy_nano for s, r in ent.items()}


def test_strip_markup_and_compression_ratio(spark):
    from training_etl_demo_2_spark.operators.text import (
        compression_ratio,
        strip_markup,
    )

    df = spark.createDataFrame(
        [
            (1, "<p>Hello &amp; welcome</p>  <b>friends</b>"),
            (2, "plain text stays"),
            (3, "ab " * 200),  # highly repetitive
            (4, ""),
        ],
        "doc_id long, text string",
    )
    clean = {r.doc_id: r.clean_text for r in strip_markup(df).collect()}
    assert clean[1] == "Hello & welcome friends"
    assert clean[2] == "plain text stays"

    ratios = {r.doc_id: r.zlib_ratio for r in compression_ratio(df).collect()}
    assert ratios[4] == 0.0
    # repetitive text compresses far more than short plain text
    assert ratios[3] < 0.1 < ratios[2]
    # determinism across partitionings
    ratios2 = {
        r.doc_id: r.zlib_ratio
        for r in compression_ratio(df.repartition(3)).collect()
    }
    assert ratios2 == ratios


def test_bigram_logprob_rewards_word_order(spark):
    """Same tokens, different order: the doc whose bigrams repeat
    corpus-frequent transitions outscores the scrambled sibling — the
    signal a unigram LM cannot produce (it scores both identically)."""
    from training_etl_demo_2_spark.operators.text import bigram_logprob

    coherent = "the cat sat on the mat"
    docs = [(i, coherent) for i in range(10)] + [(100, "mat the on sat cat the")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.doc_id: r for r in bigram_logprob(df).collect()}
    assert rows[0].n_bigrams == 5
    avg = lambda r: r.logprob_nano / r.n_bigrams
    assert avg(rows[0]) > avg(rows[100])
    # single-token doc yields no bigrams and no row
    df2 = spark.createDataFrame([(1, "hello"), (2, "a b")], "doc_id long, text string")
    got = {r.doc_id for r in bigram_logprob(df2).collect()}
    assert got == {2}


def test_vocab_coverage_and_oov_planted(spark):
    """Zipf-ish planted corpus: top-1 term covers exactly its share;
    OOV counts the non-vocab occurrences."""
    from training_etl_demo_2_spark.operators.text import oov_rate, vocab_coverage_curve

    # 'a' x 6, 'b' x 3, 'c' x 1 across two docs
    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a a a b")], "doc_id long, text string"
    )
    curve = {r.k: r for r in vocab_coverage_curve(df, ks=(1, 2)).collect()}
    assert curve[1].covered_tokens == 6 and curve[1].coverage_bp == 6000
    assert curve[2].covered_tokens == 9 and curve[2].coverage_bp == 9000
    assert curve[1].n_terms == 1 and curve[2].n_terms == 2
    rates = {r.doc_id: r for r in oov_rate(df, vocab_k=2).collect()}
    # vocab = {a, b}; doc 1 has one 'c' OOV of 6 tokens
    assert rates[1].n_oov == 1 and rates[1].oov_bp == 1667
    assert rates[2].n_oov == 0 and rates[2].oov_bp == 0


def test_doc_lang_consistency_mixed(spark):
    """A half-English half-French concatenation scores ~50% agreement;
    a monolingual doc scores 10000 bp."""
    from training_etl_demo_2_spark.operators.text import (
        LANG_MARKERS,
        doc_lang_consistency,
    )

    en = " ".join((LANG_MARKERS["en"] * 10)[:20])
    fr = " ".join((LANG_MARKERS["fr"] * 10)[:20])
    df = spark.createDataFrame(
        [(1, f"{en} {fr}"), (2, en)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in doc_lang_consistency(df).collect()}
    assert rows[2].agree_bp == 10000
    assert rows[1].n_chunks == 2 and rows[1].n_agree == 1
    assert rows[1].agree_bp == 5000


def test_langid_kappa_perfect_and_chance(spark):
    """Perfect agreement gives kappa == 1; the kappa denominator and
    margins follow the confusion matrix exactly."""
    from training_etl_demo_2_spark.operators.text import langid_kappa

    # marker-heavy texts the classifier identifies correctly
    docs = spark.createDataFrame(
        [
            (1, "the of and to in is that it was for", "en", "s", 10),
            (2, "el la de que y en un ser se no", "es", "s", 10),
            (3, "le de un être et à il avoir ne je", "fr", "s", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = langid_kappa(docs).collect()[0]
    assert r.n == 3
    assert r.p_o == 1.0
    assert r.kappa == 1.0


EN = "the of and to in is that it was for"
KAPPA_CORPORA = {
    # p_e = 1: kappa's denominator is 0, so kappa is NULL
    "one_label": [(1, EN, "en"), (2, EN, "en")],
    # NULL labels count in n but match no label in the margins
    "nulls": [
        (1, EN, "en"),
        (2, "el la de que y en un ser se no", "es"),
        (3, EN, None),
        (4, None, "fr"),
        (5, None, None),
        (6, "le de un être et à il avoir ne je", "en"),
    ],
}


@pytest.mark.parametrize("corpus", sorted(KAPPA_CORPORA))
def test_langid_kappa_matches_twin_on_edge_corpora(spark, corpus):
    import duckdb

    from training_etl_demo_2_spark.operators.text import (
        langid_kappa,
        langid_kappa_sql,
    )

    rows = KAPPA_CORPORA[corpus]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = [tuple(r) for r in langid_kappa(docs).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    assert got == con.sql(langid_kappa_sql()).fetchall()
    if corpus == "one_label":
        assert got == [(2, 1.0, 1.0, None)]


def test_quality_threshold_curve_monotone(tables):
    from training_etl_demo_2_spark.operators.text import (
        QT_BINS,
        quality_threshold_curve,
    )

    rows = {r.thr_bin: r for r in quality_threshold_curve(
        tables["documents"]).collect()}
    assert set(rows) == set(range(QT_BINS + 1))
    # survivors are non-increasing in the threshold; thr=0 is everyone
    n_docs = tables["documents"].count()
    assert rows[0].n_survivors == n_docs
    for k in range(1, QT_BINS + 1):
        assert rows[k].n_survivors <= rows[k - 1].n_survivors


def test_kn_prefers_diverse_context_words(spark):
    """The KN signature: with equal unigram frequency, a word seen
    after MANY different contexts gets a higher continuation weight in
    unseen-ish contexts than a word welded to one context. Construct a
    corpus where 'b' follows 4 distinct words and 'z' always follows
    the same word; the doc pairing a fresh-but-seen context with each
    shows the ordering (scored via per-bigram P through the corpus
    stats)."""
    from training_etl_demo_2_spark.operators.text import bigram_kn_logprob

    docs = spark.createDataFrame(
        [
            (1, "p b q b r b s b", "en", "s", 10),   # b: 4 distinct contexts
            (2, "k z k z k z k z", "en", "s", 10),   # z: always after k
            (3, "p q r s k p q r", "en", "s", 10),   # background
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.doc_id: r for r in bigram_kn_logprob(docs).collect()}
    assert set(out) == {1, 2, 3}
    # every doc gets negative logprob mass and the right bigram counts
    assert out[1].n_bigrams == 7
    assert all(r.logprob_nano < 0 for r in out.values())


def test_kn_matches_python_reference(spark):
    """Hand-computed interpolated KN on a tiny corpus."""
    import math

    from training_etl_demo_2_spark.operators.text import (
        KN_DISCOUNT,
        bigram_kn_logprob,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b", "en", "s", 4), (2, "a c", "en", "s", 2)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # bigram types: ab(2), ba(1), ac(1); ctx a: cnt 3, nfol 2; ctx b: 1,1
    # prec: b<-1 type, a<-1, c<-1; nbb = 3
    d = KN_DISCOUNT

    def p(c, ctx, nfol, nprec):
        return (max(c - d, 0.0) + (d * nfol) * (nprec * 1.0 / 3)) / ctx

    def q(c, ctx, nfol, nprec):
        return math.floor(math.log(p(c, ctx, nfol, nprec)) * 1e9 + 0.5)

    exp_doc1 = 2 * q(2, 3, 2, 1) + 1 * q(1, 1, 1, 1)   # ab ab ba
    exp_doc2 = 1 * q(1, 3, 2, 1)                        # ac
    out = {r.doc_id: r.logprob_nano for r in bigram_kn_logprob(docs).collect()}
    assert out == {1: exp_doc1, 2: exp_doc2}
