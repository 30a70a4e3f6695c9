"""Text-analysis kit for training-data pipelines (north-star ops,
SURVEY §2.12): language ID, quality scoring, token counting, document
fingerprinting. All pure ``F.*`` column expressions — no Python UDFs —
so they run inside whole-stage codegen and scale as narrow,
shuffle-free per-row transforms (embarrassingly parallel at 100 TB; the
only cost is the scan).

Each op is deterministic and reproducible in ANSI SQL (the DuckDB
oracle twins live in __spark_entry__.py). Regex patterns stick to
constructs with identical semantics in Java regex and RE2.

The three constant formula families that the corpus queries share (the
language-ID marker rule, the Gopher rule battery, the quality features
and score) are Spark SQL text, parsed in one ``selectExpr``/``F.expr``
call: built one ``F.*`` call at a time, each call is at least one py4j
round trip to the JVM (``langid_kappa`` sent 469 per build, the
streaming Gopher gate 560). Rules for that text:

* A Python float literal is a DOUBLE, but SQL ``0.4`` is a DECIMAL:
  write ``0.4D``, or the arithmetic and the rounded values change.
* A regex backslash inside a SQL string literal is doubled: the Python
  regex ``\\s`` is ``'\\\\s'`` in the text (a raw ``rf"..."`` string
  keeps that readable).
* The engine's text helpers (``_LANG_PRED``, ``_quality_exprs``,
  ``_gopher_rules``, ...) are named apart from the DuckDB twins
  (``*_sql``), and ``oracle_text.py`` never imports them: the twins
  share constants with the engine, never text, so the differential
  keeps comparing two formulations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import (
    normalize_text,
    rolling_hash,
    spread_scan,
    tokens_regex,
    word_ngram_hashes,
    word_ngram_hashes_composed,
    word_ngrams,
)

# Marker stopwords per language for the n-gram/stopword-count heuristic.
# Deterministic tie-break: preference order en > de > fr > es.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "les", "et", "des", "est", "une"],
    "es": ["el", "los", "que", "por", "una", "para"],
}

STOPWORDS_EN = ["the", "a", "and", "of", "to", "is", "in", "it", "on", "for"]


def _tokens(col: str = "text") -> Column:
    return F.split(F.lower(F.col(col)), " ")


def _split_lower(col: str) -> str:
    return f"split(lower(`{col}`), ' ')"


def _count_in(toks: str, words: list[str]) -> str:
    """How many entries of the token array ``toks`` are in ``words``."""
    arr = ", ".join(f"'{w}'" for w in words)
    return f"size(filter({toks}, t -> array_contains(array({arr}), t)))"


def _marker_scores(col: str) -> list[str]:
    """Per-language marker-token counts over ``col``, as score_<lang>."""
    toks = _split_lower(col)
    return [f"{_count_in(toks, m)} AS score_{lang}" for lang, m in LANG_MARKERS.items()]


# The marker rule over the score_<lang> columns: the greatest marker
# count wins, ties go to the LANG_MARKERS order (en > de > fr > es),
# unknown on zero hits.
_BEST = f"greatest({', '.join(f'score_{lang}' for lang in LANG_MARKERS)})"
_LANG_PRED = (
    f"CASE WHEN {_BEST} <= 0 THEN 'unknown'"
    + "".join(f" WHEN score_{lang} = {_BEST} THEN '{lang}'" for lang in LANG_MARKERS)
    + " END"
)


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID heuristic: count per-language marker tokens, argmax
    with a fixed preference order (unknown if no marker hits)."""
    return df.selectExpr(
        "doc_id", *_marker_scores(text_col), "lang AS lang_actual"
    ).selectExpr("*", f"{_LANG_PRED} AS lang_pred")


LANG_CHUNK_WORDS = 20


def doc_lang_consistency(
    df: DataFrame, text_col: str = "text", seg_words: int = LANG_CHUNK_WORDS
) -> DataFrame:
    """Mixed-language detection: classify fixed word-count chunks with
    the SAME marker rule as ``language_id`` and measure how many agree
    with the whole-document prediction. Code-switched or concatenated
    multi-language pages — which a doc-level classifier silently
    averages over — surface as low agree_bp; monolingual docs sit at
    10000. The standard curation gate before per-language routing.

    Output: (doc_id, lang_doc, n_chunks, n_agree, agree_bp) — exact
    integers, agree_bp = floor(1e4·n_agree/n_chunks + 0.5).

    Physical shape: two narrow scans (doc-level predict; chunk explode
    + predict — marker scoring is pure JVM array logic inside codegen),
    a doc_id-keyed join, and one aggregate. The chunk relation never
    carries text past its own scan stage — only (doc_id, lang_chunk).
    """
    from .dedup import _fixed_segments

    doc_pred = df.selectExpr("doc_id", *_marker_scores(text_col)).selectExpr(
        "doc_id", f"{_LANG_PRED} AS lang_doc"
    )
    chunk_pred = (
        df.select(
            "doc_id",
            F.explode(_fixed_segments(text_col, seg_words)).alias("seg"),
        )
        .selectExpr("doc_id", *_marker_scores("seg"))
        .selectExpr("doc_id", f"{_LANG_PRED} AS lang_chunk")
    )
    n_chunks = F.count(F.lit(1)).cast("long")
    n_agree = F.sum(
        F.when(F.col("lang_chunk") == F.col("lang_doc"), 1).otherwise(0)
    ).cast("long")
    return (
        chunk_pred.join(doc_pred, "doc_id")
        .groupBy("doc_id", "lang_doc")
        .agg(
            n_chunks.alias("n_chunks"),
            n_agree.alias("n_agree"),
            F.floor(F.lit(1e4) * n_agree / n_chunks + F.lit(0.5))
            .cast("long")
            .alias("agree_bp"),
        )
    )


def _quality_exprs(text_col: str) -> dict[str, str]:
    """``text_quality``'s formulas: n_chars, n_tokens, the unrounded
    alpha, punctuation and stopword ratios, and the composite score in
    [0,1] rounded to 6 places (the one definition ``clean_corpus``
    filters on)."""
    c, toks = f"`{text_col}`", _split_lower(text_col)
    n_chars, n_tokens = f"length({c})", f"size({toks})"
    safe = lambda num, den: (
        f"CASE WHEN {den} > 0 THEN CAST({num} AS DOUBLE) / {den} ELSE 0.0D END"
    )
    alpha = safe(f"length(regexp_replace({c}, '[^A-Za-z]', ''))", n_chars)
    punct = safe(rf"length(regexp_replace({c}, '[A-Za-z0-9\\s]', ''))", n_chars)
    stop = safe(_count_in(toks, STOPWORDS_EN), n_tokens)
    score = (
        f"round(0.4D * least(CAST({n_tokens} AS DOUBLE) / 20.0D, 1.0D)"
        f" + 0.3D * {alpha} + 0.2D * (1.0D - {punct})"
        f" + 0.1D * least({stop} * 5.0D, 1.0D), 6)"
    )
    return {"n_chars": n_chars, "n_tokens": n_tokens, "alpha_ratio": alpha,
            "punct_ratio": punct, "stopword_ratio": stop, "quality_score": score}


def quality_score(text_col: str = "text") -> Column:
    """The composite quality score in [0,1], rounded to 6 places: the
    value ``text_quality`` reports and ``clean_corpus`` filters on."""
    return F.expr(_quality_exprs(text_col)["quality_score"])


def text_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality features: char/token counts, alpha & punctuation ratios,
    stopword ratio, and a composite score in [0,1]."""
    q = _quality_exprs(text_col)
    ratios = ("alpha_ratio", "punct_ratio", "stopword_ratio")
    return df.selectExpr(
        "doc_id",
        *[f"round({q[k]}, 6) AS {k}" if k in ratios else f"{q[k]} AS {k}" for k in q],
    )


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting two ways: whitespace tokens and BPE-ish regex
    tokens (letter runs / digit runs / single punctuation)."""
    return df.select(
        "doc_id",
        F.size(F.split(F.col(text_col), " ")).alias("ws_tokens"),
        F.size(tokens_regex(text_col)).alias("regex_tokens"),
        F.length(text_col).alias("n_chars"),
    )


def ngram_counts(
    df: DataFrame, n: int = 2, text_col: str = "text", min_count: int = 2
) -> DataFrame:
    """Corpus-level n-gram frequency (vocabulary building / contamination
    checks). Same physical shape as word_counts — narrow shingle
    generation, partial agg, one shuffle on the n-gram key. At 100 TB
    hash the n-gram (``rolling_hash``) before the shuffle and join the
    strings back only for the surviving rows."""
    from ..functions import word_ngrams

    tokens = F.split(F.col(text_col), " ")
    return (
        df.select(F.explode(word_ngrams(tokens, n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def tfidf_top_terms(
    df: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Per-document top-k characteristic terms by TF-IDF:
    (doc_id, term, tf, df, tfidf, rnk).

    score = tf * ln((N+1)/(df+1)), ranked per doc on (score desc,
    term asc). Empty tokens (multi-space runs) are dropped — they are
    separators here, not vocabulary.

    Physical shape: one shuffle on (doc_id, term) for TF, one on term
    for DF, a term-keyed join of the two, and the per-doc top-k window.
    The corpus size N joins in as a broadcast 1-row aggregate (no
    driver-side count action — the whole thing is ONE Catalyst plan).
    At 100 TB the df relation is vocabulary-sized (≪ corpus) and the
    top-k window partitions by doc_id — no global sort anywhere."""
    from pyspark.sql import Window

    terms = df.select(
        "doc_id", F.explode(_tokens(text_col)).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = df.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", F.round("tfidf", 4).alias("tfidf"), "rnk")
    )


def unigram_logprob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unigram-LM document scoring — the perplexity-proxy quality
    signal of LLM data pipelines (CCNet ranks documents by LM score;
    here the LM is the corpus's own unigram distribution, so the score
    is self-contained and oracle-reproducible).

    avg_logprob = sum_t tf_t * (ln cnt_t - ln N) / n_d  — the mean log
    probability of the document's tokens under the corpus unigram
    distribution. Low scores = rare/garbled vocabulary; high scores =
    generic text. No smoothing needed: every scored token exists in
    the corpus by construction (cnt >= tf >= 1).

    Scale shape: one shuffle on (doc_id, term) for TF, one on term for
    the corpus counts (vocabulary-sized output), a term-keyed join
    back, and the per-doc aggregate. The corpus total N rides in as a
    broadcast 1-row aggregate — one Catalyst plan, no driver action.
    Float note: the per-doc sum is order-nondeterministic double
    accumulation; its error (~1e-13 relative) sits far inside the
    round-6 output grid, the same argument as text_quality's ratios.
    """
    tf = (
        df.select("doc_id", F.explode(_tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    cnt = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("cnt"))
    tot = cnt.agg(F.sum("cnt").cast("long").alias("n_total"))
    return (
        tf.join(cnt, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(
                F.sum(
                    F.col("tf") * (F.log("cnt") - F.log("n_total"))
                )
                / F.sum("tf"),
                6,
            ).alias("avg_logprob"),
        )
    )


UNIGRAM_LOGPROB_SQL = """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks WHERE term != '' GROUP BY doc_id, term
    ),
    cnt AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY term),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM cnt)
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(sum(tf * (ln(cnt) - ln(n_total))) / sum(tf), 6) AS avg_logprob
    FROM tf JOIN cnt USING (term) CROSS JOIN tot
    GROUP BY doc_id
"""


VOCAB_CURVE_KS = (100, 1_000, 10_000)


def vocab_coverage_curve(
    df: DataFrame, ks: tuple[int, ...] = VOCAB_CURVE_KS, text_col: str = "text"
) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocab size k, the
    fraction of ALL corpus token occurrences covered by the k most
    frequent terms — the sizing curve behind every tokenizer/vocab
    decision (where does coverage flatten?) and a skew gauge (a corpus
    whose top-100 covers 80% is template-heavy).

    Ranking is fully tie-broken (cnt desc, term asc) so each k's term
    set — and therefore the coverage number — is deterministic on both
    engines. coverage_bp is exact integer basis points
    (floor(1e4·covered/total + 0.5) over exact longs).

    Physical shape: one corpus pass to the (term, cnt) vocabulary
    relation, a broadcast join against the tiny k-list, and a k-keyed
    aggregate; the corpus total rides in as a broadcast 1-row
    aggregate. The vocabulary rank is the exact DISTRIBUTED rank
    (``distrank.with_global_order``) — a global
    ``row_number() OVER (ORDER BY cnt DESC)`` window would funnel the
    whole vocabulary relation through one task.

    Output: (k, n_terms, covered_tokens, coverage_bp).
    """
    from .distrank import with_global_order

    tf = (
        df.select(F.explode(_tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    tot = tf.agg(F.sum("cnt").cast("long").alias("total"))
    granked, _n, _ = with_global_order(tf, [F.desc("cnt"), F.asc("term")])
    # rk stays long: an int cast would silently overflow past ~2.1e9
    # distinct terms, corrupting the k-threshold join below fixture
    # scale claims but above what a 100 TB corpus vocabulary can hit.
    ranked = granked.withColumn("rk", F.col("grank") + 1)
    k_list = df.sparkSession.createDataFrame([(k,) for k in ks], "k long")
    return (
        ranked.join(F.broadcast(k_list), F.col("rk") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("cnt").cast("long").alias("covered_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n_terms",
            "covered_tokens",
            F.floor(F.lit(1e4) * F.col("covered_tokens") / F.col("total") + F.lit(0.5))
            .cast("long")
            .alias("coverage_bp"),
        )
    )


def vocab_coverage_curve_sql(ks: tuple[int, ...] = VOCAB_CURVE_KS) -> str:
    values = ", ".join(f"({k})" for k in ks)
    return f"""
    WITH tf AS (
        SELECT term, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents)
        WHERE term != '' GROUP BY term
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM tf),
    ranked AS (
        SELECT term, cnt,
               row_number() OVER (ORDER BY cnt DESC, term ASC) AS rk
        FROM tf
    ),
    ks(k) AS (VALUES {values})
    SELECT CAST(k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(cnt) AS BIGINT) AS covered_tokens,
           CAST(floor(1e4 * sum(cnt) / total + 0.5) AS BIGINT) AS coverage_bp
    FROM ranked JOIN ks ON rk <= k CROSS JOIN tot
    GROUP BY k, total
    """


OOV_VOCAB_K = 1_000


def oov_rate(
    df: DataFrame, vocab_k: int = OOV_VOCAB_K, text_col: str = "text"
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-``vocab_k`` vocabulary — the doc-level twin of
    ``vocab_coverage_curve``: documents dense in tail terms fragment
    into long subword sequences (wasted context window) or are plain
    garbled; pipelines cap or downweight high-OOV docs before
    tokenizer-expensive stages.

    Same deterministic (cnt desc, term asc) vocabulary cut as the
    curve; oov_bp is exact integer basis points. Physical shape: the
    vocabulary relation reduces to ``vocab_k`` rows — broadcast to the
    per-doc term join (AQE picks broadcast; the corpus-sized side
    never reshuffles for it) — then one doc-keyed aggregate.

    Output: (doc_id, n_tokens, n_oov, oov_bp).
    """
    from pyspark.sql import Window

    doc_tf = (
        df.select("doc_id", F.explode(_tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    vocab = (
        doc_tf.groupBy("term")
        .agg(F.sum("tf").cast("long").alias("cnt"))
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("term"))),
        )
        .filter(F.col("rk") <= vocab_k)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        doc_tf.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), F.col("tf")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.floor(F.lit(1e4) * F.col("n_oov") / F.col("n_tokens") + F.lit(0.5))
            .cast("long")
            .alias("oov_bp"),
        )
    )


def oov_rate_sql(vocab_k: int = OOV_VOCAB_K) -> str:
    return f"""
    WITH doc_tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        )
        WHERE term != '' GROUP BY doc_id, term
    ),
    vocab AS (
        SELECT term FROM (
            SELECT term,
                   row_number() OVER (
                       ORDER BY sum(tf) DESC, term ASC
                   ) AS rk
            FROM doc_tf GROUP BY term
        ) WHERE rk <= {vocab_k}
    )
    SELECT d.doc_id,
           CAST(sum(d.tf) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.term IS NULL THEN d.tf ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(floor(1e4 * sum(CASE WHEN v.term IS NULL THEN d.tf ELSE 0 END)
                      / sum(d.tf) + 0.5) AS BIGINT) AS oov_bp
    FROM doc_tf d LEFT JOIN vocab v ON v.term = d.term
    GROUP BY d.doc_id
    """


BIGRAM_LM_K = 1  # add-k smoothing constant


def bigram_logprob(df: DataFrame, text_col: str = "text", k: int = BIGRAM_LM_K) -> DataFrame:
    """Smoothed bigram-LM document scoring — the perplexity proxy one
    order above ``unigram_logprob`` (closer to what CCNet's KenLM
    filter measures: word-order coherence, not just vocabulary):

        P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + k) / (c(w_{i-1} ·) + k·V)

    with corpus bigram counts c(·,·), context counts c(w ·) = Σ over
    bigrams starting with w, vocabulary size V (distinct corpus
    tokens), add-k smoothing. Shuffled-word-salad documents score near
    the smoothing floor even when every token is common — the failure
    mode a unigram LM cannot see.

    Exact-integer discipline: each bigram TYPE's log-probability is
    rounded to integer NANO-NATS through one shared IEEE sequence
    before being multiplied by its (exact long) per-doc frequency and
    summed — the per-doc aggregate is pure integer arithmetic,
    order-invariant and engine-agreeing (the source_token_entropy
    rule). Documents with < 2 tokens have no bigrams and no row.

    Physical shape: one shuffle on (doc_id, bigram) for per-doc TF,
    one on the bigram for corpus counts, one on the context word
    (bigram-vocabulary-sized input), a bigram-keyed join back, and the
    per-doc aggregate; V and nothing else rides in as a broadcast
    1-row relation. At 100 TB hash the bigram before every shuffle and
    join strings back only if a human needs them.

    Output: (doc_id, n_bigrams, logprob_nano) — consumers divide
    logprob_nano / n_bigrams / 1e9 for the per-token average.
    """
    toks = _tokens(text_col)
    bg = (
        spread_scan(df).select("doc_id", F.explode(word_ngrams(toks, 2)).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    cnt = bg.groupBy("bg").agg(F.sum("tf").cast("long").alias("cnt"))
    ctx = cnt.select(
        F.element_at(F.split(F.col("bg"), " "), 1).alias("w1"), "cnt"
    ).groupBy("w1").agg(F.sum("cnt").cast("long").alias("ctx_cnt"))
    vocab = (
        df.select(F.explode(toks).alias("term"))
        .filter(F.col("term") != "")
        .agg(F.count_distinct("term").cast("long").alias("v"))
    )
    q = F.floor(
        F.log(
            (F.col("cnt") + F.lit(k)).cast("double")
            / (F.col("ctx_cnt") + F.lit(k) * F.col("v")).cast("double")
        )
        * 1e9
        + F.lit(0.5)
    ).cast("long")
    scored = (
        cnt.withColumn("w1", F.element_at(F.split(F.col("bg"), " "), 1))
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("bg", q.alias("q"))
    )
    return (
        bg.join(scored, "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("q")).cast("long").alias("logprob_nano"),
        )
    )


BIGRAM_LOGPROB_SQL = f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(w) - 1, 0) + 1),
                   i -> array_to_string(w[i:i+1], ' '))) AS bg
        FROM toks
    ),
    tf AS (
        SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS tf
        FROM grams GROUP BY doc_id, bg
    ),
    cnt AS (SELECT bg, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY bg),
    ctx AS (
        SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(cnt) AS BIGINT) AS ctx_cnt
        FROM cnt GROUP BY 1
    ),
    vocab AS (
        SELECT CAST(count(DISTINCT term) AS BIGINT) AS v
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents)
        WHERE term != ''
    ),
    scored AS (
        SELECT c.bg,
               CAST(floor(ln(CAST(c.cnt + {BIGRAM_LM_K} AS DOUBLE)
                             / CAST(x.ctx_cnt + {BIGRAM_LM_K} * v.v AS DOUBLE))
                          * 1e9 + 0.5) AS BIGINT) AS q
        FROM cnt c
        JOIN ctx x ON x.w1 = string_split(c.bg, ' ')[1]
        CROSS JOIN vocab v
    )
    SELECT t.doc_id,
           CAST(sum(t.tf) AS BIGINT) AS n_bigrams,
           CAST(sum(t.tf * s.q) AS BIGINT) AS logprob_nano
    FROM tf t JOIN scored s ON s.bg = t.bg
    GROUP BY t.doc_id
"""


# Fixed public classifier weights (logistic over the text_quality /
# repetition feature set) — the shape of a fasttext-style quality
# filter with the learned weights replaced by documented constants, so
# the whole stage is deterministic and SQL-reproducible.
QC_WEIGHTS = {
    "bias": -2.0,
    "len": 3.0,  # * min(n_tokens/50, 1)
    "alpha": 2.0,  # * alpha_ratio
    "stop": 1.5,  # * min(stop_ratio*5, 1)
    "punct": -4.0,  # * punct_ratio
    "dup": -2.0,  # * word-duplicate fraction
}


def quality_logit(text_col: str = "text") -> Column:
    """The classifier's raw logit z as a reusable Column — ONE
    definition of the feature/weight arithmetic, shared by
    ``quality_classifier`` and the ensemble gate's keep rule (z >= 0)
    so the two can never diverge."""
    text = F.col(text_col)
    toks = _tokens(text_col)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    sw = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    safe = lambda num, den: F.when(den > 0, num.cast("double") / den).otherwise(0.0)
    dup_frac = safe(
        (n_tokens - F.size(F.array_distinct(toks))), n_tokens
    )
    w = QC_WEIGHTS
    return (
        F.lit(w["bias"])
        + w["len"] * F.least(n_tokens.cast("double") / 50.0, F.lit(1.0))
        + w["alpha"] * safe(n_alpha, n_chars)
        + w["stop"] * F.least(safe(n_stop, n_tokens) * 5.0, F.lit(1.0))
        + w["punct"] * safe(n_punct, n_chars)
        + w["dup"] * dup_frac
    )


def quality_classifier(
    df: DataFrame, text_col: str = "text", carry: tuple = ()
) -> DataFrame:
    """Linear quality classifier: logistic score over the quality and
    repetition features, with a hard keep/drop label — the
    classifier-filter stage of an LLM pipeline with fixed, auditable
    weights (``QC_WEIGHTS``).

    keep = (z >= 0): the label compares the raw logit, which is the
    same per-row IEEE op sequence on both engines — bit-identical, no
    rounding boundary. Narrow per-row transform; the cost is the scan.
    """
    z = quality_logit(text_col)
    return df.select(
        "doc_id",
        # ``carry`` forwards input columns (e.g. source) through the
        # scoring scan so consumers don't re-scan + re-join for them
        *carry,
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("quality_prob"),
        F.when(z >= 0, F.lit(1)).otherwise(F.lit(0)).cast("int").alias("keep"),
    )


def quality_classifier_sql() -> str:
    w = QC_WEIGHTS
    z = (
        f"{w['bias']} "
        f"+ {w['len']} * least(n_tokens * 1.0 / 50.0, 1.0) "
        f"+ {w['alpha']} * alpha_ratio "
        f"+ {w['stop']} * least(stop_ratio * 5.0, 1.0) "
        f"+ {w['punct']} * punct_ratio "
        f"+ {w['dup']} * dup_frac"
    )
    sw = ", ".join(f"'{x}'" for x in STOPWORDS_EN)
    return f"""
    WITH base AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len(string_split(lower(text), ' ')) AS n_tokens,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
               length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
               len(list_filter(string_split(lower(text), ' '),
                   x -> list_contains([{sw}], x))) AS n_stop,
               len(string_split(lower(text), ' '))
                   - len(list_distinct(string_split(lower(text), ' '))) AS n_dup
        FROM documents
    ),
    feats AS (
        SELECT doc_id, n_tokens,
               CASE WHEN n_chars > 0 THEN n_alpha * 1.0 / n_chars ELSE 0.0 END AS alpha_ratio,
               CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END AS punct_ratio,
               CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END AS stop_ratio,
               CASE WHEN n_tokens > 0 THEN n_dup * 1.0 / n_tokens ELSE 0.0 END AS dup_frac
        FROM base
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-({z}))), 6) AS quality_prob,
           CAST(CASE WHEN ({z}) >= 0 THEN 1 ELSE 0 END AS INT) AS keep
    FROM feats
    """


def remove_stopwords(
    df: DataFrame, text_col: str = "text", stopwords: list[str] | None = None
) -> DataFrame:
    """Stopword filter (SURVEY §2.12): tokenize, drop stopwords, emit
    both the surviving token array and the re-joined cleaned text.
    Narrow per-row array ops — no shuffle, no UDF."""
    sw = stopwords if stopwords is not None else STOPWORDS_EN
    arr = F.array(*[F.lit(w) for w in sw])
    kept = F.filter(
        _tokens(text_col), lambda tok: ~F.array_contains(arr, tok)
    )
    return df.select(
        "doc_id",
        kept.alias("tokens"),
        F.array_join(kept, " ").alias("clean_text"),
        F.size(kept).alias("n_tokens"),
    )


def doc_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprints: polynomial rolling hash of
    the raw and the normalized text (the dedup-key primitive)."""
    return df.select(
        "doc_id",
        rolling_hash(text_col).alias("fp_raw"),
        rolling_hash(normalize_text(text_col)).alias("fp_norm"),
    )


# PII patterns — the common Java-regex/RE2 subset (no backrefs, no
# lookaround), so the DuckDB oracle applies the exact same automaton.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+[0-9][0-9()\- ]{6,}[0-9]",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}
_PII_ORDER = ("email", "phone", "ipv4")


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction for training corpora: emails, phone numbers and
    IPv4 addresses replaced with typed placeholders, with per-category
    match counts kept for audit/filter decisions downstream.

    Pure regexp_replace / regexp_extract_all column expressions —
    narrow, shuffle-free, codegen'd; at 100 TB the cost is the scan.
    Patterns are applied in a fixed order (email before phone before
    ip) so replacement composition is deterministic.
    """
    scrubbed = F.col(text_col)
    for kind in _PII_ORDER:
        scrubbed = F.regexp_replace(
            scrubbed, PII_PATTERNS[kind], f"<{kind.upper()}>"
        )
    return df.select(
        "doc_id",
        scrubbed.alias("clean_text"),
        *[
            F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(PII_PATTERNS[k]), 0)
            )
            .cast("long")
            .alias(f"n_{k}")
            for k in _PII_ORDER
        ],
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition/boilerplate signals per document: the
    fraction of duplicate words and duplicate word-bigrams, in exact
    basis points (integer — no float reaches the output).

    dup_bp = floor((n_total - n_distinct) * 10000 / n_total): heavily
    repetitive documents (boilerplate, keyword stuffing, template spam)
    score high and get filtered before training. Array-native
    (split / array_distinct / size) — shuffle-free per-row transform.
    """
    toks = _tokens(text_col)
    bigrams = word_ngrams(toks, 2)

    def dup_bp(arr: Column) -> Column:
        n = F.size(arr)
        nd = F.size(F.array_distinct(arr))
        return F.when(n <= 0, F.lit(0).cast("long")).otherwise(
            F.floor((n - nd) * F.lit(10000) / n).cast("long")
        )

    return df.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        dup_bp(toks).alias("word_dup_bp"),
        dup_bp(bigrams).alias("bigram_dup_bp"),
    )


# ---------------------------------------------------------------------------
# BM25 lexical retrieval
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "join", "stream")  # fixture query terms
BM25_TOPK = 20


def bm25_topk(
    df: DataFrame,
    query_terms: tuple[str, ...] = BM25_QUERY,
    k: int = BM25_TOPK,
    text_col: str = "text",
) -> DataFrame:
    """BM25 top-k lexical retrieval for a fixed query — the sparse
    complement to the embedding ANN operators (hybrid retrieval runs
    both and fuses). Okapi BM25 (Robertson et al.), idf in the
    +1 form so scores stay positive:

        idf_t  = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)
        s(d,t) = idf_t * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Ranking uses the ROUNDED score (round 6) with doc_id tiebreak, so
    both engines order by identical values.

    Scale shape: the token stream is filtered to the query terms BEFORE
    the (doc, term) aggregate, so the tf relation is |query|-bounded per
    doc; df and the (N, sum dl) totals are one vocabulary-row and one
    1-row broadcast aggregate; the final top-k is a
    TakeOrderedAndProject, never a global sort. avgdl is written as
    sum/count (one IEEE division) rather than avg() so both engines
    produce the identical double.
    """
    terms = F.array(*[F.lit(t) for t in query_terms])
    toks = _tokens(text_col)
    dl = df.select("doc_id", F.size(toks).cast("long").alias("dl"))
    totals = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    tf = (
        df.select("doc_id", F.explode(toks).alias("term"))
        .filter(F.array_contains(terms, F.col("term")))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    contrib = idf * (
        F.col("tf") * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / avgdl)
        )
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def bm25_topk_sql(
    query_terms: tuple[str, ...] = BM25_QUERY,
    k: int = BM25_TOPK,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    terms = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
    WITH dl AS (
        SELECT doc_id,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
        FROM documents
    ),
    totals AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS sum_dl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id,
                     unnest(string_split(lower(text), ' ')) AS term
              FROM documents)
        WHERE term IN ({terms})
        GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
    SELECT doc_id,
           round(sum(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * ({k1} + 1)
                  / (tf + {k1} * (1.0 - {b}
                                  + {b} * dl / (CAST(sum_dl AS DOUBLE) / n_docs))))
           ), 6) AS bm25
    FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN totals
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT {k}
    """


def vocab_stats_by_source(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source vocabulary profile: token count, type count (distinct
    terms), hapax count (terms appearing exactly once within the
    source) and type-token ratio — the corpus-composition diagnostics
    that drive mixture decisions (a source whose TTR collapses is
    boilerplate; one that is all hapaxes is noise).

    Scale shape: one (source, term) shuffle with map-side partial
    counts; the output is |sources| rows. TTR is a single IEEE division
    of two exact longs, identical on both engines.
    """
    tf = (
        df.select("source", F.explode(_tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    return tf.groupBy("source").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("tf") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("tf").cast("double"), 6
        ).alias("ttr"),
    )


VOCAB_STATS_BY_SOURCE_SQL = """
    WITH tf AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS tf
        FROM (
            SELECT source, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        )
        WHERE term != ''
        GROUP BY source, term
    )
    SELECT source,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           round(CAST(count(*) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6) AS ttr
    FROM tf
    GROUP BY source
"""


ZIPF_TOP_N = 100


def zipf_fit(df: DataFrame, text_col: str = "text", top_n: int = ZIPF_TOP_N) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: OLS slope of
    ln(freq) against ln(rank) for the top-N terms. Natural corpora run
    slope ≈ -1; a collapsed slope means template/boilerplate text, a
    flat one means shuffled/garbled tokens — a one-row corpus health
    gauge.

    Ranks are fully tie-broken (count desc, term asc), the top-N cut is
    a TakeOrderedAndProject, and the OLS sums run over N=100 rows —
    round-6 output, identical closed form on both engines.
    """
    cnt = (
        df.select(F.explode(_tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    from pyspark.sql import Window

    top = cnt.orderBy(F.col("cnt").desc(), F.col("term").asc()).limit(top_n)
    ranked = top.select(
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), F.col("term").asc()))
        .alias("rnk"),
        "cnt",
    ).select(F.log("rnk").alias("x"), F.log("cnt").alias("y"))
    n = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxy, sxx = F.sum(F.col("x") * F.col("y")), F.sum(F.col("x") * F.col("x"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("zipf_intercept"),
    )


def zipf_fit_sql(top_n: int = ZIPF_TOP_N) -> str:
    return f"""
    WITH cnt AS (
        SELECT term, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
              FROM documents)
        WHERE term != ''
        GROUP BY term
    ),
    top AS (
        SELECT cnt FROM cnt ORDER BY cnt DESC, term ASC LIMIT {top_n}
    ),
    ranked AS (
        SELECT ln(row_number() OVER (ORDER BY cnt DESC)) AS x,
               ln(cnt) AS y
        FROM top
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           round((count(*) * sum(x*y) - sum(x) * sum(y))
                 / (count(*) * sum(x*x) - sum(x) * sum(x)), 6) AS zipf_slope,
           round((sum(y) - ((count(*) * sum(x*y) - sum(x) * sum(y))
                 / (count(*) * sum(x*x) - sum(x) * sum(x))) * sum(x))
                 / count(*), 6) AS zipf_intercept
    FROM ranked
    """


def language_confusion(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID evaluation as a query: the (actual, predicted)
    confusion matrix of the marker-token classifier against the
    fixture's ground-truth ``lang`` labels — the accuracy harness any
    lang-ID filter ships with, computed corpus-side (one metadata-sized
    aggregate over the per-doc predictions; no collect)."""
    preds = language_id(df, text_col)
    return (
        preds.groupBy("lang_actual", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def language_confusion_sql() -> str:
    from .oracle_text import language_id_sql

    return f"""
    WITH preds AS ({language_id_sql()})
    SELECT lang_actual, lang_pred, CAST(count(*) AS BIGINT) AS n
    FROM preds
    GROUP BY lang_actual, lang_pred
    """


# ---------------------------------------------------------------------------
# hashing-trick featurization
# ---------------------------------------------------------------------------

HASHED_DIM = 1024


def hashed_features(
    df: DataFrame, text_col: str = "text", dim: int = HASHED_DIM
) -> DataFrame:
    """Hashing-trick featurization: sparse token-frequency features in
    a FIXED ``dim``-bucket space (token → rolling_hash % dim) — how
    fastText-class quality/lang classifiers featurize web corpora at
    scale: no vocabulary build, no vocabulary shuffle, no OOV problem,
    and the (doc, bucket, tf) relation feeds a linear model as-is.

    Physical shape: narrow explode → one (doc, bucket) partial-agg
    shuffle. Emits only non-zero cells (sparse by construction);
    collisions are the accepted trade of the trick (dim controls the
    collision rate, the model absorbs the rest). Buckets are the
    engine-portable rolling hash, so features are reproducible
    anywhere — and the whole relation is exact integers.
    """
    toks = df.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.select(
            "doc_id", (rolling_hash(F.col("tok")) % dim).alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def hashed_features_sql(dim: int = HASHED_DIM) -> str:
    from .oracle import ROLLING_HASH

    h = ROLLING_HASH.format(s="tok")
    return f"""
    SELECT doc_id, ({h}) % {dim} AS bucket,
           CAST(count(*) AS BIGINT) AS tf
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    )
    WHERE tok <> ''
    GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# per-source top terms + token entropy
# ---------------------------------------------------------------------------

TOP_TERMS_K = 10


def top_terms_by_source(
    df: DataFrame, text_col: str = "text", k: int = TOP_TERMS_K
) -> DataFrame:
    """Frequency signature per source: the k most frequent tokens and
    their counts — what a curator actually LOOKS at when a mixture
    weight or dedup threshold misbehaves ("why is this source 40%
    boilerplate tokens?"). Complements vocab_stats_by_source (which
    gives totals, not the terms).

    One (source, term) shuffle with map-side partial counts, then a
    window over the AGGREGATED relation (|vocab x sources| rows —
    orders of magnitude below the corpus, so a per-source window is
    cheap at any corpus size). Ties break (count desc, term asc):
    fully deterministic, exact integers only.
    """
    from pyspark.sql.window import Window

    tf = (
        df.select("source", F.explode(_tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("tf"), F.asc("term")
    )
    return (
        tf.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("source", "rk", "term", "tf")
    )


def top_terms_by_source_sql(k: int = TOP_TERMS_K) -> str:
    return f"""
    WITH tf AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS tf
        FROM (
            SELECT source, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        )
        WHERE term != ''
        GROUP BY source, term
    )
    SELECT source, CAST(rk AS INTEGER) AS rk, term, tf
    FROM (
        SELECT source, term, tf,
               row_number() OVER (
                   PARTITION BY source ORDER BY tf DESC, term ASC
               ) AS rk
        FROM tf
    )
    WHERE rk <= {k}
    """


def source_token_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unigram entropy per source (nats, in exact 1e-9 units): the
    diversity gauge behind mixture decisions — a source whose entropy
    collapses is template spam regardless of its size.

    Order-invariance trick for a float reduction: each term's
    -p·ln(p) contribution is computed through one shared IEEE sequence
    (p = tf/total, both exact longs) and ROUNDED TO INTEGER nano-nats
    BEFORE the sum, so the aggregate is an integer sum — bit-equal
    under any partitioning and on both engines (the same rule that
    keeps every other float accumulation out of the gate hashes).
    Per-term rounding error is ≤ 0.5e-9 x n_types — beneath any
    decision this metric feeds.
    """
    tf = (
        df.select("source", F.explode(_tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    totals = tf.groupBy("source").agg(
        F.sum("tf").cast("long").alias("total")
    )
    p = F.col("tf").cast("double") / F.col("total").cast("double")
    term_q = F.floor(-p * F.log(p) * 1e9 + F.lit(0.5)).cast("long")
    return (
        tf.join(totals, "source")
        .groupBy("source")
        .agg(
            F.max("total").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(term_q).cast("long").alias("entropy_nano"),
        )
    )


SOURCE_TOKEN_ENTROPY_SQL = """
    WITH tf AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS tf
        FROM (
            SELECT source, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        )
        WHERE term != ''
        GROUP BY source, term
    ),
    totals AS (
        SELECT source, CAST(sum(tf) AS BIGINT) AS total FROM tf
        GROUP BY source
    )
    SELECT t.source,
           max(z.total) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CAST(floor(
               -(CAST(t.tf AS DOUBLE) / CAST(z.total AS DOUBLE))
               * ln(CAST(t.tf AS DOUBLE) / CAST(z.total AS DOUBLE))
               * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS entropy_nano
    FROM tf t JOIN totals z ON t.source = z.source
    GROUP BY t.source
"""


# ---------------------------------------------------------------------------
# compression-ratio quality proxy + markup stripping
# ---------------------------------------------------------------------------


def compression_ratio(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Compression-ratio quality proxy (Gopher / RefinedWeb rule):
    zlib-compressed length / raw length per document. Highly
    repetitive or templated text compresses far below natural prose,
    making the ratio a cheap model-free redundancy signal; the
    canonical filters drop documents below ~0.3 or above ~1.1.

    Arrow-batched pandas UDF over Python's zlib (level 6) — the same
    honest Python boundary as the BPE encoder: the computation is a
    per-row codec, there is nothing relational to push down, and the
    blob never shuffles (ratio computed in the scan stage).
    Rows-only by design: DuckDB has no zlib twin; determinism and
    direction invariants are pytest-pinned instead.
    """
    def ratio_batches(batches):
        import zlib

        def one(t):
            if not t:
                return 0.0
            raw = t.encode("utf-8")
            return round(len(zlib.compress(raw, 6)) / len(raw), 6)

        for pdf in batches:
            if not len(pdf):
                continue
            yield pdf.assign(
                n_chars=pdf["txt"].str.len().astype("int64"),
                zlib_ratio=pdf["txt"].map(one),
            )[["doc_id", "n_chars", "zlib_ratio"]]

    return df.select(
        "doc_id", F.col(text_col).alias("txt")
    ).mapInPandas(
        ratio_batches, schema="doc_id long, n_chars long, zlib_ratio double"
    )


def strip_markup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Markup stripping — the first transform every web-scraped corpus
    needs: remove HTML/XML tags, decode the common entities, collapse
    the leftover whitespace. Pure JVM regex expressions (narrow,
    codegen'd, shuffle-free); the tag pattern ``<[^>]*>`` and the
    entity map behave identically under Java regex and RE2, so the
    oracle match is exact.
    """
    c = F.col(text_col)
    no_tags = F.regexp_replace(c, "<[^>]*>", " ")
    for ent, ch in (
        ("&amp;", "&"),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&nbsp;", " "),
    ):
        no_tags = F.regexp_replace(no_tags, ent, ch)
    cleaned = F.trim(F.regexp_replace(no_tags, "\\s+", " "))
    return df.select(
        "doc_id",
        cleaned.alias("clean_text"),
        F.length(cleaned).cast("long").alias("n_clean_chars"),
    )


STRIP_MARKUP_SQL = """
    SELECT doc_id,
           trim(regexp_replace(
               replace(replace(replace(replace(replace(
                   regexp_replace(text, '<[^>]*>', ' ', 'g'),
                   '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                   '&quot;', '"'), '&nbsp;', ' '),
               '\\s+', ' ', 'g')) AS clean_text,
           CAST(length(trim(regexp_replace(
               replace(replace(replace(replace(replace(
                   regexp_replace(text, '<[^>]*>', ' ', 'g'),
                   '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                   '&quot;', '"'), '&nbsp;', ' '),
               '\\s+', ' ', 'g'))) AS BIGINT) AS n_clean_chars
    FROM documents
"""


# ---------------------------------------------------------------------------
# chance-corrected classifier agreement (Cohen's kappa)
# ---------------------------------------------------------------------------


def langid_kappa(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Cohen's kappa of the language-ID classifier against the
    ground-truth labels — the chance-corrected agreement score
    (accuracy alone flatters a classifier on skewed label mixes; kappa
    subtracts the agreement a label-marginal-preserving random
    classifier would get). One row: (n, p_o, p_e, kappa).

    One linear fold: each prediction becomes two label rows,
    (k=lang_actual, r=1, c=0, agree) and (k=lang_pred, r=0, c=1, 0);
    a groupBy on k gives each label's margins rt and ct, and one global
    aggregate gives n = Σrt, n_agree and Σ rt·ct over non-NULL k only
    (a NULL label matches none, as in an equi-join of the margins). No
    persist and no join; each map task ships at most |labels| partial
    rows, so a skewed label mix cannot overload a task. Counts are exact
    BIGINTs (Σ rt·ct ≤ N²; where N² nears 2^63, divide the margins by
    N first). A one-label corpus has p_e = 1 and a NULL kappa.
    """
    margins = (
        language_id(df, text_col)
        .selectExpr(
            "stack(2, lang_actual, 1, 0, if(lang_actual = lang_pred, 1, 0),"
            " lang_pred, 0, 1, 0) AS (k, r, c, agree)"
        )
        .groupBy("k")
        .agg(F.expr("sum(r) AS rt"), F.expr("sum(c) AS ct"), F.expr("sum(agree) AS ag"))
    )
    po = "CAST(n_agree AS DOUBLE) / n_total"
    pe = "CAST(pe_num AS DOUBLE) / (CAST(n_total AS DOUBLE) * n_total)"
    return margins.selectExpr(
        "sum(rt) AS n_total",
        "sum(ag) AS n_agree",
        "sum(CASE WHEN k IS NOT NULL THEN rt * ct END) AS pe_num",
    ).selectExpr(
        "CAST(n_total AS BIGINT) AS n",
        f"round({po}, 6) AS p_o",
        f"round({pe}, 6) AS p_e",
        f"round(try_divide({po} - ({pe}), 1.0D - ({pe})), 6) AS kappa",
    )


def langid_kappa_sql() -> str:
    from .oracle_text import language_id_sql

    return f"""
    WITH preds AS ({language_id_sql()}),
    conf AS (
        SELECT lang_actual, lang_pred, count(*) AS n
        FROM preds GROUP BY 1, 2
    ),
    rows_m AS (SELECT lang_actual AS k, sum(n) AS rt FROM conf GROUP BY 1),
    cols_m AS (SELECT lang_pred AS k, sum(n) AS ct FROM conf GROUP BY 1),
    pe AS (
        SELECT CAST(sum(rt * ct) AS BIGINT) AS pe_num
        FROM rows_m JOIN cols_m USING (k)
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN lang_actual = lang_pred THEN n ELSE 0 END)
                    AS BIGINT) AS n_agree
        FROM conf
    )
    SELECT n_total AS n,
           round(n_agree * 1.0 / n_total, 6) AS p_o,
           round(pe_num / (n_total * 1.0 * n_total), 6) AS p_e,
           round((n_agree * 1.0 / n_total - pe_num / (n_total * 1.0 * n_total))
                 / (1.0 - pe_num / (n_total * 1.0 * n_total)), 6) AS kappa
    FROM tot CROSS JOIN pe
    """


# ---------------------------------------------------------------------------
# quality threshold survivor curve
# ---------------------------------------------------------------------------

QT_BINS = 20


def quality_threshold_curve(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Survivor curve of the quality classifier: how many documents
    survive a keep-threshold of k/20 for k = 0..20 — the picture you
    look at before choosing a quality cutoff (a cliff between two
    thresholds means the score distribution is bimodal there; a flat
    curve means the knob does nothing).

    Scale shape: per-doc scores reduce to a 21-bin histogram in ONE
    aggregate; the tail-sums come from a |thresholds|×|bins| theta
    join over two metadata-sized relations, never from the corpus —
    the same histogram-then-curve pattern as ``vocab_coverage_curve``.
    Bin edges compare the ROUNDED score, so engine and oracle bucket
    identically.
    """
    scores = quality_classifier(df, text_col)
    binned = scores.select(
        F.least(
            F.floor(F.col("quality_prob") * QT_BINS).cast("int"),
            F.lit(QT_BINS),
        ).alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # every threshold 0..QT_BINS, including ones past the occupied bins
    thr = df.sparkSession.range(QT_BINS + 1).select(
        F.col("id").cast("int").alias("thr_bin")
    )
    return (
        F.broadcast(thr)
        .join(hist, hist.bin >= thr.thr_bin, "left")
        .groupBy("thr_bin")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_survivors"))
        .select(
            "thr_bin",
            F.round(F.col("thr_bin") / QT_BINS, 2).alias("threshold"),
            "n_survivors",
        )
    )


def quality_threshold_curve_sql() -> str:
    return f"""
    WITH scores AS ({quality_classifier_sql()}),
    binned AS (
        SELECT least(CAST(floor(quality_prob * {QT_BINS}) AS INT), {QT_BINS})
                   AS bin
        FROM scores
    ),
    hist AS (SELECT bin, count(*) AS c FROM binned GROUP BY 1),
    thresholds AS (
        SELECT CAST(range AS INT) AS thr_bin FROM range(0, {QT_BINS + 1})
    )
    SELECT t.thr_bin,
           round(t.thr_bin * 1.0 / {QT_BINS}, 2) AS threshold,
           CAST(coalesce(sum(h.c), 0) AS BIGINT) AS n_survivors
    FROM thresholds t
    LEFT JOIN hist h ON h.bin >= t.thr_bin
    GROUP BY t.thr_bin
    """


# ---------------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM
# ---------------------------------------------------------------------------

KN_DISCOUNT = 0.75


def bigram_kn_logprob(
    df: DataFrame, text_col: str = "text", d: float = KN_DISCOUNT
) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the smoothing KenLM
    actually uses (and the reason its scores beat add-k: the backoff
    weight of a word is its CONTEXT DIVERSITY, not its raw frequency —
    "Francisco" is frequent but follows almost only "San", so KN
    correctly refuses to predict it in fresh contexts):

        P(w2|w1) = max(c(w1,w2) − d, 0)/c(w1·)
                   + [d·N1+(w1,·)/c(w1·)] · N1+(·,w2)/N1+(·,·)

    Every statistic is an exact BIGINT count over bigram TYPES
    (continuation counts are distinct-context counts — one groupBy on
    each side of the bigram relation; c(w1·) and N1+(w1,·) come out of
    the SAME aggregate); only the final per-type probability is a
    double, rounded to integer nano-nats through one shared IEEE
    sequence before the per-doc integer aggregate (the
    ``bigram_logprob`` discipline). Scoring corpus == counting corpus,
    so every scored bigram has c > 0 and P > 0 without a zero branch.
    Output: (doc_id, n_bigrams, logprob_nano).
    """
    toks = _tokens(text_col)
    bg = (
        spread_scan(df).select("doc_id", F.explode(word_ngrams(toks, 2)).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    cnt = bg.groupBy("bg").agg(F.sum("tf").cast("long").alias("cnt"))
    typed = cnt.select(
        "bg",
        "cnt",
        F.element_at(F.split(F.col("bg"), " "), 1).alias("w1"),
        F.element_at(F.split(F.col("bg"), " "), 2).alias("w2"),
    )
    # c(w1·) and N1+(w1,·) from ONE aggregate over bigram types
    ctx = typed.groupBy("w1").agg(
        F.sum("cnt").cast("long").alias("ctx_cnt"),
        F.count(F.lit(1)).cast("long").alias("nfol"),
    )
    prec = typed.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("nprec")
    )
    nbb = cnt.agg(F.count(F.lit(1)).cast("long").alias("nbb"))
    p = (
        F.greatest(F.col("cnt") - F.lit(d), F.lit(0.0))
        + (F.lit(d) * F.col("nfol"))
        * (F.col("nprec").cast("double") / F.col("nbb"))
    ) / F.col("ctx_cnt")
    q = F.floor(F.log(p) * 1e9 + F.lit(0.5)).cast("long")
    scored = (
        typed.join(ctx, "w1")
        .join(prec, "w2")
        .crossJoin(F.broadcast(nbb))
        .select("bg", q.alias("q"))
    )
    return (
        bg.join(scored, "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("q")).cast("long").alias("logprob_nano"),
        )
    )


BIGRAM_KN_LOGPROB_SQL = f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(w) - 1, 0) + 1),
                   i -> array_to_string(w[i:i+1], ' '))) AS bg
        FROM toks
    ),
    tf AS (
        SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS tf
        FROM grams GROUP BY doc_id, bg
    ),
    cnt AS (SELECT bg, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY bg),
    typed AS (
        SELECT bg, cnt,
               string_split(bg, ' ')[1] AS w1,
               string_split(bg, ' ')[2] AS w2
        FROM cnt
    ),
    ctx AS (
        SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx_cnt,
               CAST(count(*) AS BIGINT) AS nfol
        FROM typed GROUP BY 1
    ),
    prec AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS nprec FROM typed GROUP BY 1
    ),
    nbb AS (SELECT CAST(count(*) AS BIGINT) AS nbb FROM cnt),
    scored AS (
        SELECT t.bg,
               CAST(floor(ln(
                   (greatest(t.cnt - {KN_DISCOUNT}, 0.0)
                    + ({KN_DISCOUNT} * x.nfol)
                      * (p.nprec * 1.0 / n.nbb))
                   / x.ctx_cnt) * 1e9 + 0.5) AS BIGINT) AS q
        FROM typed t
        JOIN ctx x USING (w1)
        JOIN prec p USING (w2)
        CROSS JOIN nbb n
    )
    SELECT t.doc_id,
           CAST(sum(t.tf) AS BIGINT) AS n_bigrams,
           CAST(sum(t.tf * s.q) AS BIGINT) AS logprob_nano
    FROM tf t JOIN scored s ON s.bg = t.bg
    GROUP BY t.doc_id
"""


def quality_pct_by_source(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source percentile of the quality score — the normalization
    that makes quality cutoffs comparable ACROSS sources: a global
    threshold silently drops entire low-scoring sources (often just a
    different register, not worse data); ranking within the source
    measures each doc against its own population, so "keep the top 60%
    of every source" becomes expressible. percent_rank over the ROUNDED
    score (ties share a rank — engine-identical); ``source`` rides
    through the scoring scan (``carry``), so the whole plan is ONE
    documents scan + one window shuffle on the source key. Output:
    (doc_id, source, quality_prob, pct).
    """
    from pyspark.sql import Window

    scores = quality_classifier(df, text_col, carry=("source",))
    w = Window.partitionBy("source").orderBy("quality_prob")
    return scores.select(
        "doc_id",
        "source",
        "quality_prob",
        F.round(F.percent_rank().over(w), 6).alias("pct"),
    )


def quality_pct_by_source_sql() -> str:
    return f"""
    WITH scores AS ({quality_classifier_sql()})
    SELECT s.doc_id, d.source, s.quality_prob,
           round(percent_rank() OVER (
               PARTITION BY d.source ORDER BY s.quality_prob
           ), 6) AS pct
    FROM scores s JOIN documents d ON d.doc_id = s.doc_id
    """


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence per source
# ---------------------------------------------------------------------------

LN2 = 0.6931471805599453  # shared literal: both engines divide by this


def js_divergence_by_source(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Jensen-Shannon divergence between each source's unigram
    distribution and the REST of the corpus — the symmetric, bounded
    ([0, ln 2]) companion to the chi2/PSI screens: 0 means the source
    speaks the corpus's language, ln 2 means disjoint vocabularies.
    JSD = ½·KL(P‖M) + ½·KL(Q‖M), M = ½(P+Q).

    Order-invariance: each term's contribution is computed through
    one shared IEEE sequence from exact integer counts and rounded to
    integer nano-nats BEFORE the sum (the repo-wide float-reduction
    rule), so the per-source aggregate is an integer sum.

    Scale shape: token explode collapses to the (source, term) and
    (term) frequency relations; the evaluation grid is
    vocabulary × |sources| — the statistic's inherent support (a term
    absent from a source still contributes ½·q·ln 2); vocabulary
    grows sublinearly (Heaps) and the grid is a broadcast of the
    |sources|-row totals, not a join blow-up. Output: one row per
    source.
    """
    tf_sw = (
        df.select("source", F.explode(_tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c_sw"))
    )
    tf_w = tf_sw.groupBy("term").agg(F.sum("c_sw").cast("long").alias("c_w"))
    totals = tf_sw.groupBy("source").agg(
        F.sum("c_sw").cast("long").alias("t_s")
    )
    from pyspark.sql.window import Window as _W

    totals = totals.withColumn(
        "t_all", F.sum("t_s").over(_W.partitionBy()).cast("long")
    )
    grid = tf_w.crossJoin(F.broadcast(totals))
    j = grid.join(tf_sw, ["source", "term"], "left").withColumn(
        "c_sw", F.coalesce(F.col("c_sw"), F.lit(0))
    )
    c_rw = F.col("c_w") - F.col("c_sw")
    t_r = F.col("t_all") - F.col("t_s")
    p = F.col("c_sw").cast("double") / F.col("t_s").cast("double")
    q = c_rw.cast("double") / t_r.cast("double")
    m = (p + q) / 2.0
    kl_p = F.when(F.col("c_sw") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
    kl_q = F.when(c_rw > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    term_nano = F.floor((kl_p + kl_q) / 2.0 * 1e9 + F.lit(0.5)).cast("long")
    out = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(F.when(F.col("c_sw") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_terms_in_source"),
        F.sum(term_nano).cast("long").alias("jsd_nano"),
    )
    return out.select(
        "source",
        "n_terms",
        "n_terms_in_source",
        "jsd_nano",
        F.round(F.col("jsd_nano").cast("double") / 1e9 / F.lit(LN2), 6)
        .alias("jsd_bits_r6"),
    )


def js_divergence_by_source_sql() -> str:
    """Twin of js_divergence_by_source: identical grid, nano rounding,
    shared ln 2 literal."""
    return f"""
    WITH tf_sw AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS c_sw
        FROM (
            SELECT source, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        )
        WHERE term != ''
        GROUP BY 1, 2
    ),
    tf_w AS (
        SELECT term, CAST(sum(c_sw) AS BIGINT) AS c_w FROM tf_sw GROUP BY 1
    ),
    totals AS (
        SELECT source, CAST(sum(c_sw) AS BIGINT) AS t_s,
               CAST(sum(sum(c_sw)) OVER () AS BIGINT) AS t_all
        FROM tf_sw GROUP BY 1
    ),
    grid AS (
        SELECT tf_w.term, tf_w.c_w, totals.source, totals.t_s, totals.t_all
        FROM tf_w CROSS JOIN totals
    ),
    j AS (
        SELECT grid.*, coalesce(tf_sw.c_sw, 0) AS c_sw
        FROM grid LEFT JOIN tf_sw
             ON tf_sw.source = grid.source AND tf_sw.term = grid.term
    ),
    terms AS (
        SELECT source, c_sw,
               CAST(floor((
                   CASE WHEN c_sw > 0
                        THEN (CAST(c_sw AS DOUBLE) / CAST(t_s AS DOUBLE))
                             * ln((CAST(c_sw AS DOUBLE)
                                   / CAST(t_s AS DOUBLE))
                                  / ((CAST(c_sw AS DOUBLE)
                                      / CAST(t_s AS DOUBLE)
                                      + CAST(c_w - c_sw AS DOUBLE)
                                        / CAST(t_all - t_s AS DOUBLE))
                                     / 2.0))
                        ELSE 0.0 END
                   + CASE WHEN c_w - c_sw > 0
                          THEN (CAST(c_w - c_sw AS DOUBLE)
                                / CAST(t_all - t_s AS DOUBLE))
                               * ln((CAST(c_w - c_sw AS DOUBLE)
                                     / CAST(t_all - t_s AS DOUBLE))
                                    / ((CAST(c_sw AS DOUBLE)
                                        / CAST(t_s AS DOUBLE)
                                        + CAST(c_w - c_sw AS DOUBLE)
                                          / CAST(t_all - t_s AS DOUBLE))
                                       / 2.0))
                          ELSE 0.0 END
               ) / 2.0 * 1e9 + 0.5) AS BIGINT) AS term_nano
        FROM j
    ),
    agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_terms,
               CAST(sum(CASE WHEN c_sw > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_terms_in_source,
               CAST(sum(term_nano) AS BIGINT) AS jsd_nano
        FROM terms GROUP BY 1
    )
    SELECT source, n_terms, n_terms_in_source, jsd_nano,
           round(CAST(jsd_nano AS DOUBLE) / 1e9 / {LN2!r}, 6) AS jsd_bits_r6
    FROM agg
    """


def vocab_richness(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source vocabulary-richness estimators: Chao1 total-vocabulary
    lower bound and the Good-Turing unseen-probability mass — the
    "how much vocabulary have we NOT crawled yet" audit that guides
    corpus-expansion decisions (no reference counterpart; north-star
    text analysis, SURVEY §2.12).

    From each source's term-frequency relation: ``vocab`` distinct
    terms, ``f1``/``f2`` singleton/doubleton counts,
    Chao1 = V + f1·(f1−1)/(2·(f2+1)) (bias-corrected form — defined
    even when f2 = 0), and Good-Turing p0 = f1/N, the probability the
    next token drawn from that source is an unseen type.

    Scale shape: token explode collapses immediately to the
    (source, term) frequency relation (one shuffle); everything after
    is a per-source aggregate of exact integer counts — floats enter
    only in the final one-row-per-source projection, so no
    order-invariance machinery is needed. Output: one row per source.
    """
    tf = (
        df.select("source", F.explode(_tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = tf.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("f2"),
    )
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    return agg.select(
        "source",
        "n_tokens",
        "vocab",
        "f1",
        "f2",
        F.round(
            F.col("vocab").cast("double")
            + f1 * (f1 - 1.0) / (2.0 * (f2 + 1.0)),
            4,
        ).alias("chao1_r4"),
        F.round(f1 / F.col("n_tokens").cast("double"), 6).alias(
            "gt_unseen_r6"
        ),
    )


def vocab_richness_sql() -> str:
    """Twin of vocab_richness: identical integer counts and float
    expression sequence."""
    return """
    WITH tf AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS c
        FROM (
            SELECT source, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        )
        WHERE term != ''
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT source,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS vocab,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
               CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        FROM tf GROUP BY 1
    )
    SELECT source, n_tokens, vocab, f1, f2,
           round(CAST(vocab AS DOUBLE)
                 + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
                   / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), 4) AS chao1_r4,
           round(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
               AS gt_unseen_r6
    FROM agg
    """


PMI_MIN_COUNT = 5
PMI_TOP_N = 100


def bigram_pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = PMI_MIN_COUNT,
    top_n: int = PMI_TOP_N,
) -> DataFrame:
    """Collocation extraction: top adjacent word pairs by pointwise
    mutual information, PMI = ln(p(w1,w2) / (p(w1)·p(w2))) with
    bigram/unigram probabilities from the same lowercased token
    stream. The word-level sibling of the session-level
    ``event_type_pmi`` — finds multi-word expressions ("new york")
    that tokenizer vocabularies and dedup shingles should treat as
    units.

    Determinism: the min-count floor (apriori-style) prunes before any
    float; PMI is computed once per surviving pair from exact integer
    counts and rounded to integer nano-nats; ordering is
    (pmi_nano DESC, w1, w2) — fully tie-broken.

    Scale shape: two frequency relations (unigram, bigram) — one
    shuffle each — then a bigram⋈unigram⋈unigram join on term keys
    that AQE plans as broadcasts once the floor has pruned the pair
    relation; corpus totals ride along as one-row broadcast
    aggregates. Top-n via TakeOrderedAndProject. At 100 TB raise
    ``min_count`` with corpus size (the floor is the candidate bound).
    """
    toks = F.filter(_tokens(text_col), lambda t: t != "")
    base = spread_scan(df).select(toks.alias("toks"))
    uni = (
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    uni_tot = uni.agg(F.sum("c1").cast("long").alias("n_uni"))
    bi = (
        base.select(F.explode(word_ngrams(F.col("toks"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .filter(F.col("c12") >= min_count)
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
    )
    n_bi = (
        base.select(
            F.greatest(F.size("toks") - 1, F.lit(0)).alias("nb")
        )
        .agg(F.sum("nb").cast("long").alias("n_bi"))
    )
    j = (
        bi.crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(uni_tot))
        .join(
            uni.select(F.col("w").alias("w1"), F.col("c1").alias("ca")),
            "w1",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c1").alias("cb")),
            "w2",
        )
    )
    pmi = F.log(
        (F.col("c12").cast("double") / F.col("n_bi").cast("double"))
        / (
            (F.col("ca").cast("double") / F.col("n_uni").cast("double"))
            * (F.col("cb").cast("double") / F.col("n_uni").cast("double"))
        )
    )
    out = j.select(
        "w1",
        "w2",
        "c12",
        F.col("ca").cast("long").alias("c_w1"),
        F.col("cb").cast("long").alias("c_w2"),
        F.floor(pmi * 1e9 + F.lit(0.5)).cast("long").alias("pmi_nano"),
    )
    return out.orderBy(
        F.col("pmi_nano").desc(), F.col("w1"), F.col("w2")
    ).limit(top_n)


def bigram_pmi_collocations_sql(
    min_count: int = PMI_MIN_COUNT, top_n: int = PMI_TOP_N
) -> str:
    """Twin of bigram_pmi_collocations: same token stream, floor,
    nano rounding, and full tie-break."""
    return f"""
    WITH base AS (
        SELECT list_filter(string_split(lower(text), ' '),
                           t -> t != '') AS toks
        FROM documents
    ),
    uni AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c1
        FROM (SELECT unnest(toks) AS w FROM base) GROUP BY 1
    ),
    uni_tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n_uni FROM uni),
    bi AS (
        SELECT bg, CAST(count(*) AS BIGINT) AS c12,
               string_split(bg, ' ')[1] AS w1,
               string_split(bg, ' ')[2] AS w2
        FROM (
            SELECT unnest(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i+1])) AS bg
            FROM base
        )
        GROUP BY 1 HAVING count(*) >= {min_count}
    ),
    bi_tot AS (
        SELECT CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT) AS n_bi
        FROM base
    )
    SELECT bi.w1, bi.w2, bi.c12,
           ua.c1 AS c_w1, ub.c1 AS c_w2,
           CAST(floor(ln(
               (CAST(bi.c12 AS DOUBLE) / CAST(bi_tot.n_bi AS DOUBLE))
               / ((CAST(ua.c1 AS DOUBLE) / CAST(uni_tot.n_uni AS DOUBLE))
                  * (CAST(ub.c1 AS DOUBLE) / CAST(uni_tot.n_uni AS DOUBLE)))
           ) * 1e9 + 0.5) AS BIGINT) AS pmi_nano
    FROM bi
    CROSS JOIN bi_tot CROSS JOIN uni_tot
    JOIN uni ua ON ua.w = bi.w1
    JOIN uni ub ON ub.w = bi.w2
    ORDER BY pmi_nano DESC, w1, w2 LIMIT {top_n}
    """


BURST_MIN_DOCS = 3
BURST_TOP_N = 200


def term_burstiness(
    df: DataFrame,
    text_col: str = "text",
    min_docs: int = BURST_MIN_DOCS,
    top_n: int = BURST_TOP_N,
) -> DataFrame:
    """Term burstiness: variance-to-mean ratio (index of dispersion) of
    each term's per-document count over ALL documents (zeros
    included). VMR ≈ 1 means Poisson background scatter (function
    words); VMR ≫ 1 means the term clumps into few documents —
    topical/keyword behavior. Complements TF-IDF: IDF measures
    breadth, burstiness measures clumping among occurrences.

    With N docs, total count c and per-doc sum-of-squares ss:
    mean = c/N, var = ss/N − mean² (population), VMR = var/mean.
    All inputs are exact integers; the float enters once per term and
    is nano-rounded for the (vmr_nano DESC, term) tie-broken top-n.

    Scale shape: explode → (doc, term) counts → per-term aggregate of
    (df_t, c, ss): two shuffles, both key-partitioned; the doc-count
    N rides along as a one-row broadcast. Top-n via
    TakeOrderedAndProject.
    """
    per_doc = (
        df.select("doc_id", F.explode(_tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n_docs = df.select(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    per_term = per_doc.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df_t"),
        F.sum("c").cast("long").alias("c_total"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    )
    j = per_term.filter(F.col("df_t") >= min_docs).crossJoin(
        F.broadcast(n_docs)
    )
    mean = F.col("c_total").cast("double") / F.col("n_docs").cast("double")
    var = F.col("ss").cast("double") / F.col("n_docs").cast("double") - mean * mean
    out = j.select(
        "term",
        "df_t",
        "c_total",
        F.floor(var / mean * 1e9 + F.lit(0.5)).cast("long").alias("vmr_nano"),
    )
    return out.orderBy(F.col("vmr_nano").desc(), F.col("term")).limit(top_n)


def term_burstiness_sql(
    min_docs: int = BURST_MIN_DOCS, top_n: int = BURST_TOP_N
) -> str:
    """Twin of term_burstiness: identical integer inputs and float
    expression sequence."""
    return f"""
    WITH per_doc AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
        FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        )
        WHERE term != ''
        GROUP BY 1, 2
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    per_term AS (
        SELECT term,
               CAST(count(*) AS BIGINT) AS df_t,
               CAST(sum(c) AS BIGINT) AS c_total,
               CAST(sum(c * c) AS BIGINT) AS ss
        FROM per_doc GROUP BY 1
    )
    SELECT term, df_t, c_total,
           CAST(floor(
               (CAST(ss AS DOUBLE) / CAST(n_docs AS DOUBLE)
                - (CAST(c_total AS DOUBLE) / CAST(n_docs AS DOUBLE))
                  * (CAST(c_total AS DOUBLE) / CAST(n_docs AS DOUBLE)))
               / (CAST(c_total AS DOUBLE) / CAST(n_docs AS DOUBLE))
               * 1e9 + 0.5) AS BIGINT) AS vmr_nano
    FROM per_term CROSS JOIN n
    WHERE df_t >= {min_docs}
    ORDER BY vmr_nano DESC, term LIMIT {top_n}
    """


def heaps_law_fit(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heaps'-law fit V = K·N^beta of vocabulary growth: log-log OLS
    over the cumulative (tokens-seen, distinct-types-seen) curve in
    doc_id order — the growth-rate companion to the static Zipf fit
    (``zipf_fit``) and the sampled ``vocab_coverage_curve``: beta
    well below 1 means vocabulary saturates and continued crawling
    buys few new types.

    Every doc contributes one curve point. Exactness: both cumulative
    sums are exact integers from the distributed prefix sums of
    ``distrank.with_global_order`` (NO unpartitioned window); each
    point's (ln N_i, ln V_i) is nano-rounded to integers, the OLS
    moments are exact decimal(38,0) integer sums (order-invariant),
    and the slope/intercept/r² enter doubles once through one shared
    expression sequence. Output: one row.
    """
    from .distrank import with_global_order

    toks = F.filter(_tokens(text_col), lambda t: t != "")
    per_doc = df.select("doc_id", F.size(toks).alias("n_tok"))
    firsts = (
        spread_scan(df).select("doc_id", F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    base = (
        per_doc.join(firsts, "doc_id", "left")
        .withColumn("n_new", F.coalesce(F.col("n_new"), F.lit(0)))
    )
    cum, _n, _tot = with_global_order(
        base, [F.col("doc_id")], weights=["n_tok", "n_new"], inclusive=True
    )
    pts = cum.filter(
        (F.col("cum_n_tok") > 0) & (F.col("cum_n_new") > 0)
    ).select(
        F.floor(F.log(F.col("cum_n_tok").cast("double")) * 1e9 + F.lit(0.5))
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("cum_n_new").cast("double")) * 1e9 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    dec = "decimal(38,0)"
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x").cast(dec) * F.col("y"))).cast("double").alias("sxy"),
        F.sum((F.col("x").cast(dec) * F.col("x"))).cast("double").alias("sxx"),
        F.sum((F.col("y").cast(dec) * F.col("y"))).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    sp = n * sxy - sx * sy
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    beta = F.when(dx != 0.0, sp / dx)
    k = F.when(dx != 0.0, F.exp((sy / n - (sp / dx) * (sx / n)) / F.lit(1e9)))
    r2 = F.when((dx != 0.0) & (dy != 0.0), (sp * sp) / (dx * dy))
    return s.select(
        n.cast("long").alias("n_points"),
        F.round(beta, 6).alias("beta_r6"),
        F.round(k, 2).alias("k_r2"),
        F.round(r2, 6).alias("r2_r6"),
    )


def heaps_law_fit_sql() -> str:
    """Twin of heaps_law_fit: window cumsums stand in for the
    distributed prefix sums; identical nano rounding, exact HUGEINT
    moments, and final float sequence."""
    return """
    WITH per_doc AS (
        SELECT doc_id,
               len(list_filter(string_split(lower(text), ' '),
                               t -> t != '')) AS n_tok
        FROM documents
    ),
    firsts AS (
        SELECT term, min(doc_id) AS first_doc
        FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        )
        WHERE term != ''
        GROUP BY 1
    ),
    new_per_doc AS (
        SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_new
        FROM firsts GROUP BY 1
    ),
    base AS (
        SELECT d.doc_id, d.n_tok, coalesce(n.n_new, 0) AS n_new
        FROM per_doc d LEFT JOIN new_per_doc n USING (doc_id)
    ),
    cum AS (
        SELECT doc_id,
               sum(n_tok) OVER (ORDER BY doc_id) AS big_n,
               sum(n_new) OVER (ORDER BY doc_id) AS big_v
        FROM base
    ),
    pts AS (
        SELECT CAST(floor(ln(CAST(big_n AS DOUBLE)) * 1e9 + 0.5)
                    AS BIGINT) AS x,
               CAST(floor(ln(CAST(big_v AS DOUBLE)) * 1e9 + 0.5)
                    AS BIGINT) AS y
        FROM cum WHERE big_n > 0 AND big_v > 0
    ),
    s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
               CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           round(CASE WHEN n * sxx - sx * sx != 0.0
                 THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6)
               AS beta_r6,
           round(CASE WHEN n * sxx - sx * sx != 0.0
                 THEN exp((sy / n
                           - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                             * (sx / n)) / 1e9) END, 2) AS k_r2,
           round(CASE WHEN n * sxx - sx * sx != 0.0
                      AND n * syy - sy * sy != 0.0
                 THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                      / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6)
               AS r2_r6
    FROM s
    """


def gini_doc_length(df: DataFrame) -> DataFrame:
    """Per-source Gini coefficient of document lengths (n_chars) —
    the inequality audit for corpus mixing: a source whose token
    budget is dominated by a few giant documents (G near 1) behaves
    very differently under doc-level sampling than a uniform one
    (G near 0), so mixing weights should see concentration, not just
    means.

    With x sorted ascending and 1-based in-source rank i:
    G = 2·Σ i·x_i / (n·Σx) − (n+1)/n. Ties cannot affect the sum
    (equal x values swap ranks, Σ i over the tie group is constant),
    so the (n_chars, doc_id) tie-break is for plan determinism only.
    Ranks come from a per-source window (key-partitioned — scales);
    Σ i·x_i is an exact decimal(38,0) integer sum; floats enter once
    per source. Output: one row per source.
    """
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = df.select("source", "n_chars", "doc_id").withColumn(
        "i", F.row_number().over(w).cast("long")
    )
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("n_chars"))
        .cast("double")
        .alias("s_rank_x"),
    )
    n_d = F.col("n_docs").cast("double")
    t_d = F.col("total_chars").cast("double")
    gini = 2.0 * F.col("s_rank_x") / (n_d * t_d) - (n_d + 1.0) / n_d
    return agg.select(
        "source",
        "n_docs",
        "total_chars",
        F.round(gini, 6).alias("gini_r6"),
    )


def gini_doc_length_sql() -> str:
    """Twin of gini_doc_length: identical rank construction, HUGEINT
    moment, and float sequence."""
    return """
    WITH ranked AS (
        SELECT source, n_chars,
               CAST(row_number() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id
               ) AS BIGINT) AS i
        FROM documents
    ),
    agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(CAST(i AS HUGEINT) * n_chars) AS DOUBLE) AS s_rank_x
        FROM ranked GROUP BY 1
    )
    SELECT source, n_docs, total_chars,
           round(2.0 * s_rank_x
                 / (CAST(n_docs AS DOUBLE) * CAST(total_chars AS DOUBLE))
                 - (CAST(n_docs AS DOUBLE) + 1.0)
                   / CAST(n_docs AS DOUBLE), 6) AS gini_r6
    FROM agg
    """


# ---------------------------------------------------------------------------
# readability scoring (Flesch reading ease, portable approximation)
# ---------------------------------------------------------------------------

# Flesch reading-ease constants (Flesch 1948), shared literals
FLESCH_BASE = 206.835
FLESCH_WPS = 1.015
FLESCH_SPW = 84.6
# engine-portable proxies: a sentence break is a [.!?]+ run, a syllable
# is a vowel-group run in the lowercased text (the standard
# dictionary-free approximation)
_SENT_RE = "[.!?]+"
_SYL_RE = "[aeiouy]+"


def readability_by_source(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source mean Flesch reading ease — the fluency/complexity
    axis of corpus quality (a source whose score collapses is boiler-
    plate or OCR noise, one that saturates is word-salad), computed
    with the dictionary-free proxies every large-scale pipeline uses:
    vowel-group runs for syllables, [.!?]+ runs for sentence breaks
    (floored at 1), whitespace tokens for words.

    Exactness: all three counts are integers from identical regex
    semantics (character-class patterns only — portable between Java
    regex and RE2); each doc's score is nano-rounded BEFORE the
    per-source integer sum (order-invariant), one division at the end.
    Docs with zero words are excluded (counted separately).

    Scale shape: pure per-row regexp counting (narrow map, no
    shuffle) + one per-source aggregate. Output: one row per source.
    """
    d = t["documents"]
    words = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    ).cast("long")
    sents = F.greatest(
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(_SENT_RE), F.lit(0))
        ).cast("long"),
        F.lit(1).cast("long"),
    )
    syls = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_SYL_RE), F.lit(0))
    ).cast("long")
    score = (
        F.lit(FLESCH_BASE)
        - F.lit(FLESCH_WPS) * (words.cast("double") / sents.cast("double"))
        - F.lit(FLESCH_SPW) * (syls.cast("double") / words.cast("double"))
    )
    per_doc = d.select(
        "source",
        words.alias("w"),
        F.when(
            words > 0,
            F.floor(score * 1e9 + F.lit(0.5)).cast("long"),
        ).alias("score_nano"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("score_nano").isNull()).cast("long"))
            .cast("long")
            .alias("n_empty"),
            F.sum("w").cast("long").alias("n_words"),
            F.sum("score_nano").cast("long").alias("s_nano"),
            F.sum((F.col("score_nano").isNotNull()).cast("long"))
            .cast("long")
            .alias("n_scored"),
        )
        .select(
            "source",
            "n_docs",
            "n_empty",
            "n_words",
            F.when(
                F.col("n_scored") > 0,
                F.round(
                    F.col("s_nano").cast("double")
                    / 1e9
                    / F.col("n_scored").cast("double"),
                    6,
                ),
            ).alias("mean_flesch_r6"),
        )
        .orderBy("source")
    )


def readability_by_source_sql() -> str:
    """Twin of readability_by_source: identical regex proxies and
    nano lattice."""
    return f"""
    WITH per_doc AS (
        SELECT source,
               CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x != '')) AS BIGINT) AS w,
               greatest(CAST(len(regexp_extract_all(text, '{_SENT_RE}'))
                             AS BIGINT), 1) AS s,
               CAST(len(regexp_extract_all(lower(text), '{_SYL_RE}'))
                    AS BIGINT) AS syl
        FROM documents
    ),
    scored AS (
        SELECT source, w,
               CASE WHEN w > 0 THEN CAST(floor(
                   ({FLESCH_BASE!r}
                    - {FLESCH_WPS!r} * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                    - {FLESCH_SPW!r} * (CAST(syl AS DOUBLE)
                                        / CAST(w AS DOUBLE)))
                   * 1e9 + 0.5) AS BIGINT)
               END AS score_nano
        FROM per_doc
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN score_nano IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_empty,
           CAST(sum(w) AS BIGINT) AS n_words,
           CASE WHEN count(score_nano) > 0
                THEN round(CAST(sum(score_nano) AS DOUBLE) / 1e9
                           / CAST(count(score_nano) AS DOUBLE), 6)
           END AS mean_flesch_r6
    FROM scored
    GROUP BY source
    ORDER BY source
    """


# ---------------------------------------------------------------------------
# Unicode-script distribution / declared-language mismatch audit
# ---------------------------------------------------------------------------

# char-class patterns, spelled per engine (Java regex vs RE2) but
# matching the same code-point sets
_SCRIPT_CLASSES_SPARK = (
    ("latin", "[A-Za-z]"),
    ("cjk", "[\\u4E00-\\u9FFF\\u3040-\\u30FF]"),
    ("cyr", "[\\u0400-\\u04FF]"),
    ("digit", "[0-9]"),
    ("space", "\\s"),
)
_SCRIPT_CLASSES_SQL = (
    ("latin", "[A-Za-z]"),
    ("cjk", "[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}]"),
    ("cyr", "[\\x{0400}-\\x{04FF}]"),
    ("digit", "[0-9]"),
    ("space", "\\s"),
)
# declared language -> script its text should be dominated by
_LANG_EXPECTED_SCRIPT = (("zh", "cjk"), ("ja", "cjk"), ("ru", "cyr"))


def script_mismatch_audit(t: dict[str, DataFrame]) -> DataFrame:
    """Unicode-script distribution per declared language + the
    mislabel catch: a doc tagged ``zh`` whose characters are
    Latin-dominant is either mislabeled, transliterated, or mojibake —
    the class of corpus rot a lang-id model trained on clean data
    never sees. Reports, per lang, how many docs' DOMINANT script
    (latin vs CJK vs Cyrillic, ties broken in that order) disagrees
    with the script the label implies, plus the exact corpus-level
    character-class mix in basis points.

    Exactness: each class count is length(text) −
    length(regexp_replace(text, class, '')) — exact integer code-point
    counts under identical class semantics (both engines count code
    points); shares use integer floor-division to bp. No doubles
    anywhere.

    Scale shape: pure per-row regexp counting (narrow map, no UDF, no
    shuffle) + one per-lang aggregate. Output: one row per lang.
    """
    d = t["documents"]

    def cnt(pat):
        return (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), pat, F.lit("")))
        ).cast("long")

    cls = {name: cnt(pat) for name, pat in _SCRIPT_CLASSES_SPARK}
    per = d.select(
        "lang",
        F.length("text").cast("long").alias("n_chars_total"),
        *[c.alias(f"n_{n}") for n, c in cls.items()],
    )
    nl, nc, ny = F.col("n_latin"), F.col("n_cjk"), F.col("n_cyr")
    dominant = (
        F.when((nl >= nc) & (nl >= ny) & (nl > 0), "latin")
        .when((nc >= ny) & (nc > 0), "cjk")
        .when(ny > 0, "cyr")
        .otherwise("none")
    )
    expected = F.lit("latin")
    for lang, script in _LANG_EXPECTED_SCRIPT:
        expected = F.when(F.col("lang") == lang, script).otherwise(expected)
    scored = per.select(
        "lang",
        "n_chars_total",
        *[f"n_{n}" for n in cls],
        (
            (dominant != F.lit("none")) & (dominant != expected)
        )
        .cast("long")
        .alias("mismatch"),
    )
    agg = scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("mismatch").cast("long").alias("n_mismatched"),
        F.sum("n_chars_total").cast("long").alias("chars"),
        *[F.sum(f"n_{n}").cast("long").alias(f"c_{n}") for n in cls],
    )
    bp = lambda c: F.expr(f"(c_{c} * 10000L) div chars").cast("long")
    return agg.select(
        "lang",
        "n_docs",
        "n_mismatched",
        F.col("chars").alias("n_chars"),
        bp("latin").alias("latin_bp"),
        bp("cjk").alias("cjk_bp"),
        bp("cyr").alias("cyr_bp"),
        bp("digit").alias("digit_bp"),
        bp("space").alias("space_bp"),
    ).orderBy("lang")


def script_mismatch_audit_sql() -> str:
    """Twin of script_mismatch_audit: identical class sets (RE2
    spellings) and integer bp algebra."""
    cnts = ",\n               ".join(
        f"CAST(length(text) - length(regexp_replace(text, '{pat}', '', 'g'))"
        f" AS BIGINT) AS n_{name}"
        for name, pat in _SCRIPT_CLASSES_SQL
    )
    exp_arms = " ".join(
        f"WHEN lang = '{lang}' THEN '{script}'"
        for lang, script in _LANG_EXPECTED_SCRIPT
    )
    sums = ",\n           ".join(
        f"CAST(sum(n_{name}) AS BIGINT) AS c_{name}"
        for name, _ in _SCRIPT_CLASSES_SQL
    )
    return f"""
    WITH per AS (
        SELECT lang,
               CAST(length(text) AS BIGINT) AS n_chars_total,
               {cnts}
        FROM documents
    ),
    scored AS (
        SELECT lang, n_chars_total,
               n_latin, n_cjk, n_cyr, n_digit, n_space,
               CASE WHEN (CASE
                      WHEN n_latin >= n_cjk AND n_latin >= n_cyr
                           AND n_latin > 0 THEN 'latin'
                      WHEN n_cjk >= n_cyr AND n_cjk > 0 THEN 'cjk'
                      WHEN n_cyr > 0 THEN 'cyr'
                      ELSE 'none' END) != 'none'
                     AND (CASE
                      WHEN n_latin >= n_cjk AND n_latin >= n_cyr
                           AND n_latin > 0 THEN 'latin'
                      WHEN n_cjk >= n_cyr AND n_cjk > 0 THEN 'cjk'
                      WHEN n_cyr > 0 THEN 'cyr'
                      ELSE 'none' END)
                         != (CASE {exp_arms} ELSE 'latin' END)
               THEN 1 ELSE 0 END AS mismatch
        FROM per
    ),
    agg AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(mismatch) AS BIGINT) AS n_mismatched,
               CAST(sum(n_chars_total) AS BIGINT) AS chars,
           {sums}
        FROM scored GROUP BY 1
    )
    SELECT lang, n_docs, n_mismatched, chars AS n_chars,
           CAST((c_latin * 10000) // chars AS BIGINT) AS latin_bp,
           CAST((c_cjk * 10000) // chars AS BIGINT) AS cjk_bp,
           CAST((c_cyr * 10000) // chars AS BIGINT) AS cyr_bp,
           CAST((c_digit * 10000) // chars AS BIGINT) AS digit_bp,
           CAST((c_space * 10000) // chars AS BIGINT) AS space_bp
    FROM agg
    ORDER BY lang
    """


# ---------------------------------------------------------------------------
# RAKE keyword extraction
# ---------------------------------------------------------------------------

RAKE_TOP = 20


def rake_keywords(
    df: DataFrame, text_col: str = "text", top: int = RAKE_TOP
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal token runs between stopword/empty boundaries; each
    word scores deg(w)/freq(w) where freq counts the word's occurrences
    across all phrase instances and deg adds the LENGTH of every phrase
    instance containing it (co-occurrence degree, self included); a
    phrase scores the sum of its words' scores. High-scoring phrases
    are multi-word, built from words that travel in long, consistent
    collocations — the classic cheap keyword/topic signal for corpus
    triage.

    Relational shape: token posexplode → stopword gaps-and-islands
    (island id = pos − row_number per doc) → one groupBy per phrase
    instance → word-stat aggregate (vocabulary-sized) → per-distinct-
    phrase rescore join → global top-k on (score desc, phrase asc) —
    a TakeOrderedAndProject, never a full sort. Scores divide two
    exact integers per word and sum ≤ phrase-length doubles, then
    round(6) — inside the cross-engine grid (unigram_logprob's
    argument).

    Output: top ``top`` distinct phrases — (phrase, n_words, freq,
    score).
    """
    from pyspark.sql import Window

    toks = F.split(F.lower(F.col(text_col)), " ")
    pos = spread_scan(df).select(
        "doc_id", F.posexplode(toks).alias("pos", "wrd")
    )
    content = pos.filter(
        (F.col("wrd") != "") & ~F.col("wrd").isin(STOPWORDS_EN)
    )
    w_isl = Window.partitionBy("doc_id").orderBy("pos")
    isl = content.withColumn(
        "isl", F.col("pos") - F.row_number().over(w_isl)
    )
    inst = isl.groupBy("doc_id", "isl").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "wrd"))),
                lambda s: s["wrd"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
    )
    occ = inst.select(
        "n_words", F.explode(F.split(F.col("phrase"), " ")).alias("w0")
    )
    wstats = occ.groupBy("w0").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("n_words").cast("long").alias("deg"),
    )
    phrases = inst.groupBy("phrase").agg(
        F.max("n_words").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("freq_phrase"),
    )
    scored = (
        phrases.select(
            "phrase",
            "n_words",
            "freq_phrase",
            F.explode(F.split(F.col("phrase"), " ")).alias("w0"),
        )
        .join(wstats, "w0")
        .groupBy("phrase", "n_words", "freq_phrase")
        .agg(F.round(F.sum(F.col("deg") / F.col("freq")), 6).alias("score"))
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("phrase"))
        .limit(top)
        .select(
            "phrase", "n_words", F.col("freq_phrase").alias("freq"), "score"
        )
    )


def rake_keywords_sql(top: int = RAKE_TOP) -> str:
    """DuckDB twin of rake_keywords (1-based positions shift island
    ids uniformly — group keys only)."""
    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS wds FROM documents
    ),
    pos AS (
        SELECT doc_id, i AS pos, wds[i] AS wrd
        FROM toks, unnest(range(1, len(wds) + 1)) AS t(i)
    ),
    content AS (
        SELECT doc_id, pos, wrd FROM pos
        WHERE wrd != '' AND wrd NOT IN ({stoplist})
    ),
    isl AS (
        SELECT doc_id, pos, wrd,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS isl
        FROM content
    ),
    inst AS (
        SELECT doc_id, isl,
               string_agg(wrd, ' ' ORDER BY pos) AS phrase,
               CAST(count(*) AS BIGINT) AS n_words
        FROM isl GROUP BY 1, 2
    ),
    occ AS (
        SELECT n_words, unnest(string_split(phrase, ' ')) AS w0 FROM inst
    ),
    wstats AS (
        SELECT w0, CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(n_words) AS BIGINT) AS deg
        FROM occ GROUP BY w0
    ),
    phrases AS (
        SELECT phrase, CAST(max(n_words) AS BIGINT) AS n_words,
               CAST(count(*) AS BIGINT) AS freq_phrase
        FROM inst GROUP BY phrase
    ),
    pw AS (
        SELECT phrase, n_words, freq_phrase,
               unnest(string_split(phrase, ' ')) AS w0
        FROM phrases
    ),
    scored AS (
        SELECT phrase, n_words, freq_phrase,
               round(sum(deg / freq), 6) AS score
        FROM pw JOIN wstats USING (w0)
        GROUP BY 1, 2, 3
    )
    SELECT phrase, n_words, freq_phrase AS freq, score
    FROM scored
    ORDER BY score DESC, phrase ASC
    LIMIT {top}
    """


# ---------------------------------------------------------------------------
# Gopher-style quality rule audit
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WLEN = 3
GOPHER_MAX_MEAN_WLEN = 10
GOPHER_MIN_STOP_HITS = 2


def _gopher_rules(df: DataFrame, keep: list[str], text_col: str = "text") -> DataFrame:
    """``keep`` plus the Gopher rule battery, ONE definition of the
    integer cross-multiplied bounds shared by the per-doc report
    (``gopher_quality_rules``), the ensemble gate's vote and the stream
    gate: the five counts, then the five rule flags and pass_all. The
    flags read the counts by name from a first projection, so each count
    is computed once per row. Inlined into every flag and again into
    pass_all, the larger expression tree cost more CPU per call (median
    of 10 alternated rounds in one session, sf0.001, 4 cores):
    ``gopher_quality_rules`` 0.265 s against 0.19 s, ``stream_quality_gate``
    1.065 s against 0.985 s."""
    c = f"`{text_col}`"
    toks = f"filter({_split_lower(text_col)}, t -> t != '')"
    counts = {
        "n_words": f"CAST(size({toks}) AS BIGINT)",
        "sum_word_len": f"aggregate({toks}, 0L, (acc, t) -> acc + length(t))",
        "n_alpha_words": f"CAST(size(filter({toks}, t -> t RLIKE '[a-z]')) AS BIGINT)",
        "n_symbols": rf"CAST(length({c}) - length(regexp_replace({c}, '[#]|\\.\\.\\.', '')) AS BIGINT)",
        "n_stop_hits": f"CAST({_count_in(toks, STOPWORDS_EN)} AS BIGINT)",
    }
    rules = {
        "ok_word_count": f"n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}",
        "ok_mean_word_len": f"sum_word_len >= {GOPHER_MIN_MEAN_WLEN} * n_words"
        f" AND sum_word_len <= {GOPHER_MAX_MEAN_WLEN} * n_words",
        "ok_symbol_ratio": "n_symbols * 10 <= n_words",  # symbol/word <= 0.1
        "ok_alpha_words": "n_alpha_words * 5 >= n_words * 4",  # >= 80% alphabetic
        "ok_stopwords": f"n_stop_hits >= {GOPHER_MIN_STOP_HITS}",
    }
    rules["pass_all"] = " AND ".join(f"({r})" for r in rules.values())
    return df.selectExpr(*keep, *[f"{e} AS {k}" for k, e in counts.items()]).selectExpr(
        *keep, *counts, *[f"{e} AS {k}" for k, e in rules.items()]
    )


def gopher_quality_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher rule-based quality audit (Rae et al. 2021 §A1.1): the
    standard pre-classifier document filters, each as an auditable flag
    rather than a silent drop — word-count bounds, mean-word-length
    bounds, symbol-to-word ratio, alphabetic-word fraction, and the
    minimum-stopword-hits rule. ``clean_corpus``/``quality_classifier``
    ACT on quality; this reports WHICH rule fires where, which is what
    you tune against before a 100 TB filtering run.

    Every flag compares exact integers (ratio bounds are cross-
    multiplied: mean length in [3,10] ⇔ 3n ≤ Σlen ≤ 10n), so there is
    no float anywhere — bit-identical across engines by construction.

    Output per doc: counts + five rule flags + pass_all.
    """
    return _gopher_rules(df, ["doc_id"], text_col)


def gopher_quality_rules_sql() -> str:
    """Twin: identical integer cross-multiplied rule bounds."""
    sw = ", ".join(f"'{x}'" for x in STOPWORDS_EN)
    return f"""
    WITH base AS (
        SELECT doc_id, text,
               list_filter(string_split(lower(text), ' '), t -> t != '')
                   AS toks
        FROM documents
    ),
    feats AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(coalesce(list_sum(list_transform(toks,
                   t -> length(t))), 0) AS BIGINT) AS sum_word_len,
               CAST(len(list_filter(toks,
                   t -> regexp_matches(t, '[a-z]'))) AS BIGINT)
                   AS n_alpha_words,
               CAST(length(text) - length(regexp_replace(text,
                   '[#]|\\.\\.\\.', '', 'g')) AS BIGINT) AS n_symbols,
               CAST(len(list_filter(toks,
                   t -> list_contains([{sw}], t))) AS BIGINT)
                   AS n_stop_hits
        FROM base
    )
    SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_symbols,
           n_stop_hits,
           n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
               AS ok_word_count,
           sum_word_len >= {GOPHER_MIN_MEAN_WLEN} * n_words
               AND sum_word_len <= {GOPHER_MAX_MEAN_WLEN} * n_words
               AS ok_mean_word_len,
           n_symbols * 10 <= n_words AS ok_symbol_ratio,
           n_alpha_words * 5 >= n_words * 4 AS ok_alpha_words,
           n_stop_hits >= {GOPHER_MIN_STOP_HITS} AS ok_stopwords,
           (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
               AND (sum_word_len >= {GOPHER_MIN_MEAN_WLEN} * n_words
                    AND sum_word_len <= {GOPHER_MAX_MEAN_WLEN} * n_words)
               AND n_symbols * 10 <= n_words
               AND n_alpha_words * 5 >= n_words * 4
               AND n_stop_hits >= {GOPHER_MIN_STOP_HITS} AS pass_all
    FROM feats
    """


# ---------------------------------------------------------------------------
# multinomial Naive Bayes language classifier (resubstitution confusion)
# ---------------------------------------------------------------------------

NB_LOG_SCALE = 1_000_000


def nb_lang_confusion(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Multinomial Naive Bayes language ID, trained and evaluated on
    the corpus's own labels (resubstitution — the standard first
    sanity check before holding out): per-class add-one-smoothed token
    likelihoods + class prior, per-doc argmax, and the (true, predicted)
    confusion counts. Beside the marker-stopword heuristic
    (``language_id``) this is the counting CLASSIFIER a fastText-style
    lang-ID pipeline starts from — and it is fully relational: training
    is two groupBys, scoring is one join + one aggregate.

    Determinism: every log-likelihood is quantized ONCE per (term,
    lang) — floor(10^6·ln((c+1)/(N_l+V))) — after which doc scores are
    exact integer sums and the argmax (score desc, lang asc) is a
    strict total order. No float ever crosses a comparison boundary.

    Scale shape: training counts are vocabulary×|langs|-sized (≪
    corpus); scoring joins doc terms to the broadcastable likelihood
    relation and folds per (doc, lang) with map-side partials; the
    argmax is a per-doc window over |langs| rows. Output: one row per
    (lang, pred_lang) pair observed.
    """
    from pyspark.sql import Window

    terms = (
        spread_scan(df)
        .select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    tf = terms.groupBy("doc_id", "lang", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    cls_term = tf.groupBy("lang", "term").agg(
        F.sum("tf").cast("long").alias("c")
    )
    cls_tot = cls_term.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_l")
    )
    vocab = cls_term.select("term").distinct()
    v = vocab.agg(F.count(F.lit(1)).cast("long").alias("v"))
    langs = cls_tot.select(F.col("lang").alias("l"), "n_l")
    # complete (term, lang) likelihood grid: unseen combos smooth to c=0
    grid = (
        vocab.crossJoin(F.broadcast(langs))
        .join(
            cls_term.select(
                F.col("lang").alias("l"), "term", F.col("c").alias("c")
            ),
            ["l", "term"],
            "left",
        )
        .crossJoin(F.broadcast(v))
        .select(
            "term",
            "l",
            F.floor(
                F.lit(NB_LOG_SCALE)
                * F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1)
                    / (F.col("n_l") + F.col("v"))
                )
            )
            .cast("long")
            .alias("lq"),
        )
    )
    n_docs = df.agg(F.count(F.lit(1)).cast("long").alias("n"))
    prior = (
        df.groupBy(F.col("lang").alias("l"))
        .agg(F.count(F.lit(1)).cast("long").alias("dl"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "l",
            F.floor(F.lit(NB_LOG_SCALE) * F.log(F.col("dl") / F.col("n")))
            .cast("long")
            .alias("pq"),
        )
    )
    scores = (
        tf.join(grid, "term")
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "l")
        .agg(F.sum(F.col("tf") * F.col("lq")).cast("long").alias("ll"))
        .join(prior, "l")
        .select(
            "doc_id",
            "true_lang",
            "l",
            (F.col("ll") + F.col("pq")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("l"))
    pred = scores.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return pred.groupBy(
        F.col("true_lang").alias("lang"), F.col("l").alias("pred_lang")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


def nb_lang_confusion_sql() -> str:
    """Twin: identical quantized grid, integer folds, strict argmax."""
    return f"""
    WITH terms AS (
        SELECT doc_id, lang, term
        FROM (
            SELECT doc_id, lang,
                   unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        )
        WHERE term != ''
    ),
    tf AS (
        SELECT doc_id, lang, term, CAST(count(*) AS BIGINT) AS tf
        FROM terms GROUP BY 1, 2, 3
    ),
    cls_term AS (
        SELECT lang, term, CAST(sum(tf) AS BIGINT) AS c
        FROM tf GROUP BY 1, 2
    ),
    cls_tot AS (
        SELECT lang AS l, CAST(sum(c) AS BIGINT) AS n_l
        FROM cls_term GROUP BY 1
    ),
    vocab AS (SELECT DISTINCT term FROM cls_term),
    vn AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    grid AS (
        SELECT vb.term, ct.l,
               CAST(floor({NB_LOG_SCALE} *
                   ln((coalesce(cc.c, 0) + 1) / (ct.n_l + vn.v)))
                   AS BIGINT) AS lq
        FROM vocab vb
        CROSS JOIN cls_tot ct
        CROSS JOIN vn
        LEFT JOIN cls_term cc ON cc.lang = ct.l AND cc.term = vb.term
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    prior AS (
        SELECT lang AS l,
               CAST(floor({NB_LOG_SCALE} *
                   ln(CAST(count(*) AS BIGINT) / n)) AS BIGINT) AS pq
        FROM documents CROSS JOIN nd
        GROUP BY lang, n
    ),
    scores AS (
        SELECT t.doc_id, t.lang AS true_lang, g.l,
               CAST(sum(t.tf * g.lq) AS BIGINT) + any_value(p.pq) AS score
        FROM tf t
        JOIN grid g ON g.term = t.term
        JOIN prior p ON p.l = g.l
        GROUP BY 1, 2, 3
    ),
    pred AS (
        SELECT doc_id, true_lang, l
        FROM (
            SELECT doc_id, true_lang, l,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY score DESC, l ASC
                   ) AS rn
            FROM scores
        ) WHERE rn = 1
    )
    SELECT true_lang AS lang, l AS pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM pred
    GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# degenerate-repetition (loop) detection
# ---------------------------------------------------------------------------

LOOP_RUN_FLAG = 5  # a single token repeated this many times in a row


def token_loop_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Degenerate-repetition signals per document — the loop pathology
    of model-generated text ("the the the the ...", a 3-gram cycling
    forever) that ``repetition_stats``'s global dup fractions can
    under-weigh (one long run in a long doc barely moves dup_bp but
    poisons training): the longest CONSECUTIVE identical-token run and
    the highest within-doc 3-gram multiplicity, both exact integers.

    Scale shape: the run is one row-local array fold (F.aggregate with
    a (prev, run, best) struct — no explode, no shuffle; the scan IS
    the cost); the 3-gram multiplicity is the dedup-shared gram explode
    reduced by a (doc, gram-hash) groupBy then a doc groupBy — narrow,
    corpus-token-sized, nothing pair-shaped.

    Output: (doc_id, n_tokens, max_token_run, max_trigram_count,
    is_loopy) with is_loopy = max_token_run >= 5.
    """
    toks = _tokens(text_col)
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("best"),
    )

    def step(acc, x):
        run = (
            F.when(x == acc["prev"], acc["run"] + one)
            .otherwise(one)
            .cast("long")
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    max_run = F.aggregate(toks, init, step, lambda acc: acc["best"])
    base = spread_scan(df).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        max_run.alias("max_token_run"),
    )
    tri = (
        spread_scan(df).select(
            "doc_id",
            F.explode(word_ngram_hashes(_tokens(text_col), 3)).alias("h"),
        )
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_trigram_count"))
    )
    return base.join(tri, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "max_token_run",
        F.coalesce(F.col("max_trigram_count"), zero).alias(
            "max_trigram_count"
        ),
        (F.col("max_token_run") >= LOOP_RUN_FLAG).alias("is_loopy"),
    )


def token_loop_stats_sql() -> str:
    """Twin: gaps-and-islands for the run (i - row_number per (doc,
    token) partition), the shared gram/hash CTE for the multiplicity."""
    from .oracle import ROLLING_HASH

    h = ROLLING_HASH.format(s="g")
    return f"""
    WITH t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    tok AS (
        SELECT doc_id, i, w[i] AS tk
        FROM t, unnest(range(1, len(w) + 1)) AS p(i)
    ),
    runs AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS run
        FROM (
            SELECT doc_id, tk,
                   i - row_number() OVER (
                       PARTITION BY doc_id, tk ORDER BY i
                   ) AS grp
            FROM tok
        )
        GROUP BY doc_id, tk, grp
    ),
    mr AS (SELECT doc_id, max(run) AS max_token_run FROM runs GROUP BY doc_id),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(w) - 2, 0) + 1),
                   i -> array_to_string(w[i:i+2], ' '))) AS g
        FROM t
    ),
    tri AS (
        SELECT doc_id, max(c) AS max_trigram_count FROM (
            SELECT doc_id, {h} AS hh, CAST(count(*) AS BIGINT) AS c
            FROM grams GROUP BY doc_id, hh
        ) GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           mr.max_token_run,
           coalesce(tri.max_trigram_count, 0) AS max_trigram_count,
           mr.max_token_run >= {LOOP_RUN_FLAG} AS is_loopy
    FROM t
    JOIN mr ON mr.doc_id = t.doc_id
    LEFT JOIN tri ON tri.doc_id = t.doc_id
    """


# ---------------------------------------------------------------------------
# Gopher rule overlap matrix
# ---------------------------------------------------------------------------

GOPHER_RULES = (
    "ok_word_count",
    "ok_mean_word_len",
    "ok_symbol_ratio",
    "ok_alpha_words",
    "ok_stopwords",
)


def gopher_rule_overlap_matrix(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Which Gopher rules CO-FIRE: per unordered rule pair, how many
    documents fail both, next to each rule's marginal failure count —
    the redundancy audit behind filter tuning (a rule whose failures
    are a subset of another's adds latency, not selectivity; a rule
    that only ever fires alone deserves its own threshold review).

    One pass: the flag relation aggregates all pair and marginal
    counts map-side into a single row, which explodes to the
    |pairs|-row matrix — no joins, no second scan.

    Output: (rule_a, rule_b, n_fail_a, n_fail_b, n_fail_both), pairs
    in the declared GOPHER_RULES order (rule_a before rule_b).
    """
    flags = gopher_quality_rules(df, text_col)
    pair_list = [
        (GOPHER_RULES[i], GOPHER_RULES[j])
        for i in range(len(GOPHER_RULES))
        for j in range(i + 1, len(GOPHER_RULES))
    ]
    # no documents, no failures: 0 on 0 rows, not NULL
    fails = lambda cond: f"coalesce(sum(CAST({cond} AS BIGINT)), 0L)"
    one = flags.selectExpr(
        *[f"{fails(f'NOT {a} AND NOT {b}')} AS b_{a}__{b}" for a, b in pair_list],
        *[f"{fails(f'NOT {r}')} AS m_{r}" for r in GOPHER_RULES],
    )
    rows = ", ".join(
        f"struct('{a}' AS rule_a, '{b}' AS rule_b, m_{a} AS n_fail_a,"
        f" m_{b} AS n_fail_b, b_{a}__{b} AS n_fail_both)"
        for a, b in pair_list
    )
    return (
        one.selectExpr(f"explode(array({rows})) AS r")
        .select("r.*")
        .orderBy("rule_a", "rule_b")
    )


def gopher_rule_overlap_matrix_sql() -> str:
    """Twin: the gopher flag query as a CTE + identical folds, one
    UNION ALL arm per rule pair."""
    pair_list = [
        (GOPHER_RULES[i], GOPHER_RULES[j])
        for i in range(len(GOPHER_RULES))
        for j in range(i + 1, len(GOPHER_RULES))
    ]
    arms = "\n    UNION ALL\n    ".join(
        f"""SELECT '{a}' AS rule_a, '{b}' AS rule_b,
           (SELECT CAST(coalesce(sum(CASE WHEN NOT {a} THEN 1 END), 0)
                AS BIGINT) FROM g) AS n_fail_a,
           (SELECT CAST(coalesce(sum(CASE WHEN NOT {b} THEN 1 END), 0)
                AS BIGINT) FROM g) AS n_fail_b,
           (SELECT CAST(coalesce(sum(CASE WHEN NOT {a} AND NOT {b}
                THEN 1 END), 0) AS BIGINT) FROM g) AS n_fail_both"""
        for a, b in pair_list
    )
    return f"""
    WITH g AS MATERIALIZED ({gopher_quality_rules_sql()})
    {arms}
    ORDER BY rule_a, rule_b
    """


# ---------------------------------------------------------------------------
# corpus novelty saturation + PII frequency by source
# ---------------------------------------------------------------------------

NOVELTY_BUCKETS = 10
NOVELTY_NGRAM = 3


def ngram_novelty_curve(
    df: DataFrame,
    n: int = NOVELTY_NGRAM,
    n_buckets: int = NOVELTY_BUCKETS,
) -> DataFrame:
    """Is the marginal data still adding new content? Docs are split
    into ``n_buckets`` ingestion slices by doc_id; per slice: how many
    DISTINCT word n-grams appear, how many appear for the FIRST time
    in the corpus, and the novelty ratio — the saturation curve that
    says when additional crawl stops buying vocabulary (the n-gram
    generalization of Heaps' law, measured directly).

    Output, one row per bucket: (bucket, n_occ, n_distinct, n_new,
    novelty_bp, cum_new) — novelty_bp = n_new·10000 div n_distinct,
    cum_new the running total of first-seen grams. Exact integers.

    Scale shape: one corpus-wide gram explode (8-byte hashes), shared
    by three bucket-level aggregates — occurrences, distinct-per-
    bucket, and first-seen (min doc_id per gram, itself gram-sized);
    the bucket id needs max(doc_id), a ONE-ROW broadcast. Everything
    after the gram aggregates is ≤ n_buckets rows.
    """
    from pyspark.sql import Window

    toks = F.split(F.col("text"), " ")
    # composed per-token hashing kept HERE (r11): this site measured
    # 0.64x with it in the same-session A/B (plans/r11_ab_minhash_hash.json)
    grams = df.select(
        "doc_id",
        F.explode(word_ngram_hashes_composed(toks, n)).alias("h"),
    )

    mx = df.agg(F.max("doc_id").alias("mx"))
    bucket = F.expr(f"(doc_id * {n_buckets}) div (mx + 1)").alias("bucket")

    occ = grams.crossJoin(F.broadcast(mx)).select(bucket, "h")
    per_occ = occ.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )
    per_distinct = occ.groupBy("bucket").agg(
        F.count_distinct("h").cast("long").alias("n_distinct")
    )
    first_seen = (
        grams.groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .crossJoin(F.broadcast(mx))
        .select(bucket)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_occ.join(per_distinct, "bucket")
        .join(first_seen, "bucket", "left")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_occ",
            "n_distinct",
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
        .withColumn(
            "novelty_bp",
            F.expr("(n_new * 10000) div n_distinct").cast("long"),
        )
        .withColumn("cum_new", F.sum("n_new").over(w).cast("long"))
        .orderBy("bucket")
    )


def ngram_novelty_curve_sql(
    n: int = NOVELTY_NGRAM, n_buckets: int = NOVELTY_BUCKETS
) -> str:
    """Twin: same gram explode + first-seen min, same truncating-div
    bucket rule and folds."""
    from .oracle import ROLLING_HASH

    h = ROLLING_HASH.format(s="s")
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(w) - {n - 1}, 0) + 1),
                   i -> array_to_string(w[i:i+{n - 1}], ' '))) AS s
        FROM toks
    ),
    g AS (SELECT doc_id, {h} AS h FROM grams),
    mx AS (SELECT max(doc_id) AS mx FROM documents),
    occ AS (
        SELECT (doc_id * {n_buckets}) // (mx + 1) AS bucket, h
        FROM g, mx
    ),
    per_occ AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_occ,
               CAST(count(DISTINCT h) AS BIGINT) AS n_distinct
        FROM occ GROUP BY bucket
    ),
    fs AS (
        SELECT (min_doc * {n_buckets}) // (mx + 1) AS bucket,
               CAST(count(*) AS BIGINT) AS n_new
        FROM (SELECT h, min(doc_id) AS min_doc FROM g GROUP BY h), mx
        GROUP BY 1
    )
    SELECT CAST(p.bucket AS BIGINT) AS bucket, p.n_occ, p.n_distinct,
           CAST(coalesce(f.n_new, 0) AS BIGINT) AS n_new,
           CAST((coalesce(f.n_new, 0) * 10000) // p.n_distinct AS BIGINT)
               AS novelty_bp,
           CAST(sum(coalesce(f.n_new, 0))
                OVER (ORDER BY p.bucket) AS BIGINT) AS cum_new
    FROM per_occ p LEFT JOIN fs f ON p.bucket = f.bucket
    ORDER BY bucket
    """


def pii_source_report(df: DataFrame) -> DataFrame:
    """Which sources need scrubbing most: per (source, PII kind) —
    documents matched, total matches, and the matched share in exact
    basis points. The prioritization table a 100 TB scrub run is
    scheduled from (scrub_pii redacts per-document; this is the
    corpus-level audit over the same patterns, so the two can never
    disagree on what counts as PII).

    Output: (source, kind, n_docs, n_docs_matched, n_matches,
    docs_bp), every (source, kind) cell present even at zero.

    Scale shape: ONE corpus pass; each doc emits |kinds| (kind, count)
    structs row-locally (regexp_extract_all, codegen'd), then a single
    groupBy(source, kind) with map-side partials. Output is
    |sources|·|kinds| rows.
    """
    per = df.select(
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("kind"),
                        F.size(
                            F.regexp_extract_all(
                                F.col("text"), F.lit(PII_PATTERNS[k]), 0
                            )
                        )
                        .cast("long")
                        .alias("n"),
                    )
                    for k in _PII_ORDER
                ]
            )
        ).alias("x"),
    ).select("source", "x.kind", "x.n")
    return (
        per.groupBy("source", "kind")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("n") > 0).cast("long")).cast("long").alias(
                "n_docs_matched"
            ),
            F.sum("n").cast("long").alias("n_matches"),
        )
        .withColumn(
            "docs_bp",
            F.expr("(n_docs_matched * 10000) div n_docs").cast("long"),
        )
        .orderBy("source", "kind")
    )


def pii_source_report_sql() -> str:
    """Twin: one unioned arm per PII kind over the same regexes."""
    arms = "\n        UNION ALL\n        ".join(
        f"SELECT source, '{k}' AS kind,"
        f" len(regexp_extract_all(text, '{PII_PATTERNS[k]}')) AS n"
        " FROM documents"
        for k in _PII_ORDER
    )
    return f"""
    WITH per AS ({arms})
    SELECT source, kind,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(CASE WHEN n > 0 THEN 1 END), 0) AS BIGINT)
               AS n_docs_matched,
           CAST(sum(n) AS BIGINT) AS n_matches,
           CAST((coalesce(sum(CASE WHEN n > 0 THEN 1 END), 0) * 10000)
                // count(*) AS BIGINT) AS docs_bp
    FROM per
    GROUP BY source, kind
    ORDER BY source, kind
    """


def ingestion_drift_curve(
    df: DataFrame, n_buckets: int = NOVELTY_BUCKETS
) -> DataFrame:
    """Quality drift over INGESTION ORDER — the time axis the
    per-source drift audits (ks_drift_by_source, value_drift_psi)
    don't cover: as the crawl frontier moves, does doc length shrink,
    stopword density shift, or exact-dup pressure rise? Slices the
    corpus into doc_id buckets (same truncating-div rule as
    ngram_novelty_curve) and reports per slice, all exact integers:
    n_docs, sum_tokens, mean_tokens (div), stopword bp, exact-dup bp
    within the slice.

    Scale shape: ONE corpus scan computes tokens / stop counts /
    fingerprints row-locally; one groupBy(bucket) (+ one
    (bucket, fp) pre-aggregate for the within-slice dup count, which
    shuffles only 8-byte hashes); ≤ n_buckets output rows; the bucket
    rule needs max(doc_id), a ONE-ROW broadcast.
    """
    from ..functions import normalize_text

    mx = df.agg(F.max("doc_id").alias("mx"))
    bucket = F.expr(f"(doc_id * {n_buckets}) div (mx + 1)").alias("bucket")
    toks = F.split(F.col("text"), " ")
    sw = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    base = (
        df.crossJoin(F.broadcast(mx))
        .select(
            bucket,
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
            .cast("long")
            .alias("n_stop"),
            rolling_hash(normalize_text(F.col("text"))).alias("fp"),
        )
    )
    per = base.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.sum("n_stop").cast("long").alias("sum_stop"),
    )
    dups = (
        base.groupBy("bucket", "fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("bucket")
        .agg(F.sum(F.col("c") - 1).cast("long").alias("n_dup_docs"))
    )
    return (
        per.join(dups, "bucket")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_docs",
            "sum_tokens",
            F.expr("sum_tokens div n_docs").cast("long").alias("mean_tokens"),
            F.expr("(sum_stop * 10000) div sum_tokens")
            .cast("long")
            .alias("stop_bp"),
            F.expr("(n_dup_docs * 10000) div n_docs")
            .cast("long")
            .alias("dup_bp"),
        )
        .orderBy("bucket")
    )


def ingestion_drift_curve_sql(n_buckets: int = NOVELTY_BUCKETS) -> str:
    """Twin: same bucket rule, per-row token/stop/fingerprint arms,
    identical folds."""
    from .oracle import NORMALIZE, ROLLING_HASH

    stop_list = "[" + ", ".join(f"'{w}'" for w in STOPWORDS_EN) + "]"
    fp = ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    return f"""
    WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
    base AS (
        SELECT (doc_id * {n_buckets}) // (mx + 1) AS bucket,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains({stop_list}, t))) AS n_stop,
               {fp} AS fp
        FROM documents, mx
    ),
    per AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(sum(n_stop) AS BIGINT) AS sum_stop
        FROM base GROUP BY bucket
    ),
    dups AS (
        SELECT bucket, CAST(sum(c - 1) AS BIGINT) AS n_dup_docs
        FROM (SELECT bucket, fp, count(*) AS c FROM base GROUP BY 1, 2)
        GROUP BY bucket
    )
    SELECT CAST(p.bucket AS BIGINT) AS bucket, p.n_docs, p.sum_tokens,
           CAST(p.sum_tokens // p.n_docs AS BIGINT) AS mean_tokens,
           CAST((p.sum_stop * 10000) // p.sum_tokens AS BIGINT) AS stop_bp,
           CAST((d.n_dup_docs * 10000) // p.n_docs AS BIGINT) AS dup_bp
    FROM per p JOIN dups d ON p.bucket = d.bucket
    ORDER BY bucket
    """


BOILERPLATE_PREFIX_TOKENS = 3


def boilerplate_prefix_report(
    df: DataFrame,
    k: int = BOILERPLATE_PREFIX_TOKENS,
    text_col: str = "text",
) -> DataFrame:
    """Per-source BOILERPLATE detector: the modal leading k-token
    prefix of each source's documents and how much of the source it
    covers. Crawled sources often prepend a fixed header/banner
    ("subscribe to our newsletter…"); a prefix share far above uniform
    is the signal to strip it before tokenization (boilerplate inflates
    n-gram counts and poisons dedup fingerprints). The decision input,
    not the strip itself — pair with remove_duplicate_spans for the
    surgery.

    Output: one row per source — (source, top_prefix,
    n_docs_with_prefix, n_docs, share_bp), modal prefix tie-broken
    lexicographically.

    Scale shape: one narrow scan (slice + join of the first k tokens),
    one groupBy(source, prefix) with map-side partials, a per-source
    top-1 window over the already-aggregated relation (|sources·
    distinct prefixes| rows, not docs), output |sources| rows.
    """
    prefix = F.array_join(
        F.slice(F.split(F.col(text_col), " "), 1, k), " "
    ).alias("prefix")
    per = (
        df.select("source", prefix)
        .groupBy("source", "prefix")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("n"), F.asc("prefix")
    )
    return (
        per.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_docs", F.sum("n").over(Window.partitionBy("source"))
        )
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("prefix").alias("top_prefix"),
            F.col("n").alias("n_docs_with_prefix"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.expr("(n * 10000) div n_docs").cast("long").alias("share_bp"),
        )
        .orderBy("source")
    )


def boilerplate_prefix_report_sql(
    k: int = BOILERPLATE_PREFIX_TOKENS,
) -> str:
    """Twin: same k-token prefix slice, same modal pick and folds."""
    return f"""
    WITH per AS (
        SELECT source,
               array_to_string(string_split(text, ' ')[1:{k}], ' ')
                   AS prefix,
               CAST(count(*) AS BIGINT) AS n
        FROM documents
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT source, prefix, n,
               row_number() OVER (
                   PARTITION BY source ORDER BY n DESC, prefix ASC
               ) AS rn,
               sum(n) OVER (PARTITION BY source) AS n_docs
        FROM per
    )
    SELECT source, prefix AS top_prefix, n AS n_docs_with_prefix,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST((n * 10000) // n_docs AS BIGINT) AS share_bp
    FROM ranked WHERE rn = 1
    ORDER BY source
    """


# ---------------------------------------------------------------------------
# word2vec-style negative-sampling table (round 8)
# ---------------------------------------------------------------------------

NEG_SAMPLE_POWER = 0.75
NEG_SAMPLE_TOPK = 50


def negative_sampling_table(
    df: DataFrame,
    text_col: str = "text",
    power: float = NEG_SAMPLE_POWER,
    k: int = NEG_SAMPLE_TOPK,
) -> DataFrame:
    """The 3/4-power smoothed unigram sampling table (Mikolov et al.
    2013) — the distribution contrastive objectives (word2vec negative
    sampling, many in-batch-negative samplers) draw noise words from:
    p(w) ∝ count(w)^0.75. Raw-frequency sampling over-draws stopwords;
    uniform under-trains them; the 3/4 power is the standard
    compromise. Reported for the top-k words by count (full tie-break)
    with the smoothed probability and its cumulative mass — the table
    a sampler materializes.

    Scale shape: one token scan folds to the vocabulary relation; the
    normalizer Σ c^0.75 rides in as a broadcast 1-row fold; the rank
    window sorts only the vocabulary (same bound as
    vocab_coverage_curve). pow/sum are double; outputs round to 6
    (repo-wide float-grid argument).
    """
    cnt = (
        df.select(F.explode(_tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    smooth = F.pow(F.col("cnt").cast("double"), F.lit(float(power)))
    tot = cnt.agg(F.sum(smooth).alias("z"))
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        cnt.crossJoin(F.broadcast(tot))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(
            "rnk",
            "term",
            "cnt",
            F.round(smooth / F.col("z"), 6).alias("p_smooth_r6"),
            F.round(
                F.sum(smooth / F.col("z")).over(w_cum), 6
            ).alias("cum_mass_r6"),
        )
        .orderBy("rnk")
    )


def negative_sampling_table_sql(
    power: float = NEG_SAMPLE_POWER, k: int = NEG_SAMPLE_TOPK
) -> str:
    """Twin: same vocabulary fold, pow/normalizer doubles, rank cut."""
    return f"""
    WITH cnt AS (
        SELECT term, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
              FROM documents)
        WHERE term != ''
        GROUP BY term
    ),
    tot AS (SELECT sum(pow(CAST(cnt AS DOUBLE), {power!r})) AS z FROM cnt),
    ranked AS (
        SELECT CAST(row_number() OVER (ORDER BY cnt DESC, term ASC)
                    AS BIGINT) AS rnk,
               term, cnt,
               pow(CAST(cnt AS DOUBLE), {power!r}) / (SELECT z FROM tot)
                   AS p
        FROM cnt
    )
    SELECT rnk, term, cnt, round(p, 6) AS p_smooth_r6,
           round(sum(p) OVER (ORDER BY rnk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               AS cum_mass_r6
    FROM ranked
    WHERE rnk <= {k}
    ORDER BY rnk
    """


# ---------------------------------------------------------------------------
# blocklist filtering (round 9)
# ---------------------------------------------------------------------------

# The C4-style "bad words" gate: documents containing blocklisted terms
# are flagged (and usually dropped or down-weighted) before training.
# The list is a fixture-scale stand-in — real pipelines broadcast a
# list of thousands of terms; the mechanism (map-side set membership,
# no shuffle before the source fold) is identical at any list size
# under the broadcast threshold.
BLOCKLIST = ("slow", "dup", "stale", "corrupt")


def blocklist_hits(
    text_col: str = "text", terms: tuple[str, ...] = BLOCKLIST
) -> Column:
    """Per-row blocklist hit count as a reusable Column — ONE
    definition of the matching rule (lowercased whitespace tokens
    against the inlined term set) shared by the batch report, the
    quality ensemble, and the streaming gate, so the three can never
    silently diverge."""
    bl = F.array(*[F.lit(t) for t in terms])
    return F.size(
        F.filter(_tokens(text_col), lambda x: F.array_contains(bl, x))
    ).cast("long")


def blocklist_hits_sql(
    terms: tuple[str, ...] = BLOCKLIST, text_expr: str = "text"
) -> str:
    """DuckDB twin of :func:`blocklist_hits` (a scalar SQL expression
    over ``text_expr``), shared by the same three oracle strings."""
    inlist = ", ".join(f"'{t}'" for t in terms)
    return (
        f"CAST(len(list_filter(string_split(lower({text_expr}), ' '), "
        f"x -> x IN ({inlist}))) AS BIGINT)"
    )


def blocklist_hit_report(
    df: DataFrame,
    terms: tuple[str, ...] = BLOCKLIST,
    text_col: str = "text",
) -> DataFrame:
    """Per-source blocklist exposure audit: how many documents contain
    at least one blocklisted token, and the total hit volume — the
    report a curation team reads before deciding drop-vs-scrub per
    source (a source with 40% hit share gets different treatment than
    one with 0.1%).

    Scale shape: hit counting is a PURE per-row array fold
    (``F.filter`` + ``F.size`` over the token array against an inlined
    literal set — whole-stage codegen, zero Python, zero shuffle); the
    only exchange is the |sources|-row final aggregate. A
    thousands-of-terms production list swaps the literal array for a
    broadcast join on token without changing the fold.

    Output: (source, n_docs, docs_hit, total_hits, hit_bp) —
    hit_bp = floor(1e4·docs_hit/n_docs + 0.5), exact integers.
    """
    per_doc = df.select(
        "source", blocklist_hits(text_col, terms).alias("hits")
    )
    docs_hit = F.sum((F.col("hits") > 0).cast("long")).cast("long")
    n_docs = F.count(F.lit(1)).cast("long")
    return (
        per_doc.groupBy("source")
        .agg(
            n_docs.alias("n_docs"),
            docs_hit.alias("docs_hit"),
            F.sum("hits").cast("long").alias("total_hits"),
            F.floor(F.lit(1e4) * docs_hit / n_docs + F.lit(0.5))
            .cast("long")
            .alias("hit_bp"),
        )
        .orderBy("source")
    )


def blocklist_hit_report_sql(terms: tuple[str, ...] = BLOCKLIST) -> str:
    return f"""
    WITH per_doc AS (
        SELECT source, {blocklist_hits_sql(terms)} AS hits
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_hit,
           CAST(sum(hits) AS BIGINT) AS total_hits,
           CAST(floor(1e4 * sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END)
                      / count(*) + 0.5) AS BIGINT) AS hit_bp
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """


# ---------------------------------------------------------------------------
# trigram stupid-backoff scoring (round 9)
# ---------------------------------------------------------------------------

SB_ALPHA = 0.4


def trigram_sb_logprob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Trigram language-model document scoring with STUPID BACKOFF
    (Brants et al. 2007, "Large Language Models in Machine
    Translation") — the web-scale quality signal between the unigram
    LM (``unigram_logprob``) and Kneser-Ney (``bigram_kn_logprob``):
    no discounting to tune, just score = c(w1w2w3)/c(w1w2), backing
    off to α·c(w2w3)/c(w2), then α²·c(w3)/N, α=0.4. Brants showed it
    matches KN at scale for a fraction of the cost, which is exactly
    the trade a 100 TB curation pass wants.

    avg_sb_logprob = mean over the document's trigram positions of
    ln(score). Every score is a ratio of exact corpus counts (the
    backoff chain never divides by zero: c3>0 ⇒ c12>0, c23>0 ⇒ c2>0)
    scaled by backoff constants that are emitted as SINGLE double
    literals in both engines (α² is pre-multiplied in Python — a SQL
    `0.4 * 0.4` would bind as exact DECIMAL 0.16 while IEEE gives
    0.16000000000000003), so both engines run the identical IEEE op
    sequence; the per-doc mean is round-6 like the other LM scores.

    Scale shape: three count relations (trigram/bigram/unigram —
    vocabulary-sized, partial-aggregated), each equi-joined back to
    the document trigram stream on its gram key; the corpus token
    total rides in as a ONE-ROW broadcast. No windows, no Python.

    Output: (doc_id, n_trigrams, avg_sb_logprob) for docs with ≥1
    trigram.
    """
    toks = _tokens(text_col)
    tri_stream = df.select(
        "doc_id", F.explode(word_ngrams(toks, 3)).alias("g3")
    )
    parts = F.split(F.col("g3"), " ")
    stream = tri_stream.select(
        "doc_id",
        "g3",
        F.concat_ws(" ", parts[0], parts[1]).alias("g12"),
        F.concat_ws(" ", parts[1], parts[2]).alias("g23"),
        parts[1].alias("w2"),
        parts[2].alias("w3"),
    )
    # uni/bi are consumed by multiple joins but deliberately NOT
    # persisted: each consumer prunes to the same aggregate subtree and
    # Spark's ReuseExchange computes the shared exchange once — an A/B
    # at sf0.1 measured persist as neutral-to-slower (materialization
    # latency, no recompute saved).
    uni = (
        df.select(F.explode(toks).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    bi = (
        df.select(F.explode(word_ngrams(toks, 2)).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )
    tri = (
        df.select(F.explode(word_ngrams(toks, 3)).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("c3"))
    )
    n_tot = uni.agg(F.sum("c1").cast("long").alias("n_total"))
    scored = (
        stream.join(tri.withColumnRenamed("g", "g3"), "g3")
        .join(
            bi.select(F.col("g").alias("g12"), F.col("c2").alias("c12")),
            "g12",
        )
        .join(
            bi.select(F.col("g").alias("g23"), F.col("c2").alias("c23")),
            "g23",
            "left",
        )
        .join(uni.select(F.col("w").alias("w2"), F.col("c1").alias("cw2")), "w2")
        .join(uni.select(F.col("w").alias("w3"), F.col("c1").alias("cw3")), "w3")
        .crossJoin(F.broadcast(n_tot))
    )
    # the trigram the doc CONTAINS always has c3 >= 1 (it is its own
    # corpus evidence), so the first tier always fires here; the
    # backoff tiers are exercised by the planted pytest with a held-out
    # scorer. Keep the full chain so the operator is reusable on
    # out-of-corpus streams.
    score = (
        F.when(
            F.col("c3") > 0, F.col("c3") / F.col("c12")
        )
        .when(
            F.coalesce(F.col("c23"), F.lit(0)) > 0,
            F.lit(SB_ALPHA) * F.col("c23") / F.col("cw2"),
        )
        .otherwise(
            # alpha^2 pre-multiplied in PYTHON and emitted as ONE
            # double literal in both engines: DuckDB's `0.4 * 0.4`
            # binds as exact DECIMAL 0.16 while IEEE gives
            # 0.16000000000000003 — squaring engine-side would make
            # the tier-3 scores differ in the last ulp
            F.lit(SB_ALPHA * SB_ALPHA)
            * F.col("cw3")
            / F.col("n_total")
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            F.round(F.avg(F.log(score)), 6).alias("avg_sb_logprob"),
        )
    )


TRIGRAM_SB_SQL_TEMPLATE = """
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents
    ),
    tri_stream AS (
        SELECT doc_id,
               ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g3,
               ts[i] || ' ' || ts[i+1] AS g12,
               ts[i+1] || ' ' || ts[i+2] AS g23,
               ts[i+1] AS w2, ts[i+2] AS w3
        FROM toks, unnest(range(1, len(ts) - 1)) AS t(i)
        WHERE len(ts) >= 3
    ),
    uni AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c1
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        WHERE w != '' GROUP BY w
    ),
    bi AS (
        SELECT ts[i] || ' ' || ts[i+1] AS g,
               CAST(count(*) AS BIGINT) AS c2
        FROM toks, unnest(range(1, len(ts))) AS t(i)
        WHERE len(ts) >= 2 GROUP BY 1
    ),
    tri AS (
        SELECT g3 AS g, CAST(count(*) AS BIGINT) AS c3
        FROM tri_stream GROUP BY 1
    ),
    n_tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n_total FROM uni),
    scored AS (
        SELECT s.doc_id,
               CASE
                   WHEN t.c3 > 0 THEN CAST(t.c3 AS DOUBLE) / b12.c2
                   WHEN coalesce(b23.c2, 0) > 0
                       THEN {alpha} * CAST(b23.c2 AS DOUBLE) / u2.c1
                   ELSE {alpha2} * CAST(u3.c1 AS DOUBLE) / n_total
               END AS score
        FROM tri_stream s
        JOIN tri t ON t.g = s.g3
        JOIN bi b12 ON b12.g = s.g12
        LEFT JOIN bi b23 ON b23.g = s.g23
        JOIN uni u2 ON u2.w = s.w2
        JOIN uni u3 ON u3.w = s.w3
        CROSS JOIN n_tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           round(avg(ln(score)), 6) AS avg_sb_logprob
    FROM scored
    GROUP BY doc_id
"""


def trigram_sb_logprob_sql() -> str:
    # alpha2 formatted from the Python IEEE product (repr keeps every
    # digit) so both engines consume the identical double literal
    return TRIGRAM_SB_SQL_TEMPLATE.format(
        alpha=SB_ALPHA, alpha2=repr(SB_ALPHA * SB_ALPHA)
    )
