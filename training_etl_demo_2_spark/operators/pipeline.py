"""End-to-end training-data cleaning pipeline (the composition layer).

``clean_corpus`` is the canonical LLM-data-prep flow — quality filter →
exact dedup keep-first — expressed as one Catalyst plan. This is what
the north-star operators exist FOR; registering it as a single query
proves the pieces compose without materialization barriers between
stages.

Physical shape at 100 TB: the quality score is a narrow per-row
filter fused into the one scan (no semi join back); the dedup
keep-first is one hash-agg shuffle on the 8-byte content fingerprint
plus a semi join back — so the whole cleaning pass costs ~1 shuffle of
(doc_id, fp) pairs over the filtered (smaller) corpus, with blobs/text
never shuffled (only doc_ids and hashes move).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup, text


def clean_corpus(
    t: dict[str, DataFrame], min_quality: float = 0.85
) -> DataFrame:
    """Surviving documents after quality filtering + exact dedup.

    Returns (doc_id, lang, source, n_chars) of documents whose
    composite quality score ≥ ``min_quality`` and which are the
    keep-first (min doc_id) representative of their normalized-text
    duplicate group among the quality survivors.
    """
    good = t["documents"].filter(text.quality_score() >= min_quality)
    survivors = dedup.drop_exact_duplicates(good)
    # no ORDER BY: the surviving-set contract is order-free, and a
    # cosmetic global sort is a full range exchange at scale
    return survivors.select("doc_id", "lang", "source", "n_chars")


def clean_corpus_sql(min_quality: float = 0.85) -> str:
    """DuckDB twin, composed from the same oracle generators."""
    from .oracle import NORMALIZE, ROLLING_HASH
    from .oracle_text import text_quality_sql

    fp = ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    return f"""
    WITH q AS ({text_quality_sql()}),
    good AS (
        SELECT d.* FROM documents d
        JOIN q ON d.doc_id = q.doc_id
        WHERE q.quality_score >= {min_quality}
    ),
    fps AS (SELECT doc_id, {fp} AS fp FROM good),
    keep AS (SELECT min(doc_id) AS doc_id FROM fps GROUP BY fp)
    SELECT g.doc_id, g.lang, g.source, g.n_chars
    FROM good g JOIN keep USING (doc_id)
    """


def clean_corpus_v2(t: dict[str, DataFrame]) -> DataFrame:
    """The round-5 cleaning flow as ONE Catalyst plan: corpus-wide
    segment (line) dedup strips cross-document boilerplate, the
    fixed-weight logistic classifier gates on quality, exact dedup
    keeps one representative per surviving CLEANED text, and the
    deterministic hash split assigns train/val/test.

    Returns (doc_id, split, n_kept, n_dropped). Composing the round-5
    stages proves they chain without materialization barriers: the
    boilerplate relation and classifier features derive from the same
    scan, and after reassembly only (doc_id, fingerprint) pairs
    shuffle for the dedup stage.
    """
    from .curation import _assign_bucket
    from ..functions import normalize_text, rolling_hash

    docs = t["documents"]
    stripped = dedup.line_dedup(docs)
    keep_ids = (
        text.quality_classifier(docs).filter(F.col("keep") == 1).select("doc_id")
    )
    survivors = (
        stripped.filter(F.col("n_kept") > 0)
        .join(keep_ids, "doc_id", "semi")
        .withColumn("fp", rolling_hash(normalize_text("clean_text")))
    )
    first = survivors.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    b = _assign_bucket(F.col("doc_id"))
    return (
        survivors.join(first.select("doc_id"), "doc_id", "semi")
        .select(
            "doc_id",
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
            .alias("split"),
            "n_kept",
            "n_dropped",
        )
    )


def clean_corpus_v2_sql() -> str:
    from .curation import _split_bucket_sql
    from .oracle import NORMALIZE, ROLLING_HASH, line_dedup_sql
    from .text import quality_classifier_sql

    fp = ROLLING_HASH.format(s=NORMALIZE.format(s="clean_text"))
    b = _split_bucket_sql("s.doc_id")
    return f"""
    WITH ld AS ({line_dedup_sql()}),
    qc AS ({quality_classifier_sql()}),
    survivors AS (
        SELECT ld.doc_id, ld.clean_text, ld.n_kept, ld.n_dropped,
               {fp} AS fp
        FROM ld JOIN qc ON ld.doc_id = qc.doc_id
        WHERE ld.n_kept > 0 AND qc.keep = 1
    ),
    first AS (SELECT min(doc_id) AS keep_id FROM survivors GROUP BY fp)
    SELECT s.doc_id,
           CASE WHEN {b} < 80 THEN 'train'
                WHEN {b} < 90 THEN 'val'
                ELSE 'test' END AS split,
           s.n_kept, s.n_dropped
    FROM survivors s JOIN first f ON s.doc_id = f.keep_id
    """


def corpus_report(t: dict[str, DataFrame]) -> DataFrame:
    """One-query corpus data card: the headline metrics a dataset
    release ships (counts, vocabulary, duplication, composition) as
    (metric, value) rows — the summary every curation decision starts
    from, composed from the same relations the individual operators
    use so the report can never disagree with them.

    All metrics are exact and engine-portable: integer counts cast to
    double, ratios as single IEEE divisions of exact longs, round-6.
    Scale shape: one token-explode aggregate (the TF pipeline), one
    fingerprint distinct-count, two corpus-sized single-pass
    aggregates; every output is O(1) rows, unioned driver-free.
    """
    from ..functions import normalize_text, rolling_hash

    docs = t["documents"]
    toks = F.split(F.lower(F.col("text")), " ")

    base = docs.select(
        F.size(F.filter(toks, lambda x: x != "")).cast("long").alias("n_toks"),
        rolling_hash(normalize_text("text")).alias("fp"),
        (F.col("lang") == "en").cast("long").alias("is_en"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.count_distinct("fp").cast("long").alias("n_distinct"),
        F.sum("is_en").cast("long").alias("n_en"),
    )
    types = (
        docs.select(F.explode(toks).alias("term"))
        .filter(F.col("term") != "")
        .agg(F.count_distinct("term").cast("long").alias("n_types"))
    )
    m = base.crossJoin(F.broadcast(types))

    def metric(name, expr):
        return m.select(F.lit(name).alias("metric"), F.round(expr, 6).alias("value"))

    # ratios guard the empty corpus (n_docs = 0 -> 0.0, not a crash)
    safe = lambda num: F.when(
        F.col("n_docs") > 0, num / F.col("n_docs")
    ).otherwise(F.lit(0.0))
    rows = [
        metric("n_docs", F.col("n_docs").cast("double")),
        metric("n_tokens", F.col("n_tokens").cast("double")),
        metric("n_types", F.col("n_types").cast("double")),
        metric("distinct_content", F.col("n_distinct").cast("double")),
        metric(
            "dup_rate",
            F.when(
                F.col("n_docs") > 0,
                1.0 - F.col("n_distinct").cast("double") / F.col("n_docs"),
            ).otherwise(F.lit(0.0)),
        ),
        metric("mean_doc_tokens", safe(F.col("n_tokens").cast("double"))),
        metric("pct_en", safe(F.col("n_en").cast("double"))),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


CORPUS_REPORT_SQL = """
    WITH base AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(list_filter(string_split(lower(text), ' '),
                                        x -> x != ''))) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT {fp}) AS BIGINT) AS n_distinct,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_en
        FROM documents
    ),
    types AS (
        SELECT CAST(count(DISTINCT term) AS BIGINT) AS n_types
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
              FROM documents)
        WHERE term != ''
    ),
    m AS (SELECT * FROM base CROSS JOIN types)
    SELECT 'n_docs' AS metric, round(CAST(n_docs AS DOUBLE), 6) AS value FROM m
    UNION ALL
    SELECT 'n_tokens', round(CAST(n_tokens AS DOUBLE), 6) FROM m
    UNION ALL
    SELECT 'n_types', round(CAST(n_types AS DOUBLE), 6) FROM m
    UNION ALL
    SELECT 'distinct_content', round(CAST(n_distinct AS DOUBLE), 6) FROM m
    UNION ALL
    SELECT 'dup_rate',
           round(CASE WHEN n_docs > 0
                      THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_docs
                      ELSE 0.0 END, 6) FROM m
    UNION ALL
    SELECT 'mean_doc_tokens',
           round(CASE WHEN n_docs > 0
                      THEN CAST(n_tokens AS DOUBLE) / n_docs
                      ELSE 0.0 END, 6) FROM m
    UNION ALL
    SELECT 'pct_en',
           round(CASE WHEN n_docs > 0
                      THEN CAST(n_en AS DOUBLE) / n_docs
                      ELSE 0.0 END, 6) FROM m
"""


def corpus_report_sql() -> str:
    from .oracle import NORMALIZE, ROLLING_HASH

    return CORPUS_REPORT_SQL.format(
        fp=ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    )
