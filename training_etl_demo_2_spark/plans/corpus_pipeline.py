"""The production corpus pipeline composed as ONE plan.

Every tier below is individually green as a registered query
(``dedup_funnel_report`` measures them independently), but a training
corpus is not built by running tiers in isolation — it is built by
running them in SEQUENCE, and composition is exactly where operator
contracts break: a column renamed between tiers, a filter that changes
what the next tier's fingerprints see, a persist dropped across a tier
boundary. ``corpus_pipeline_e2e`` registers the composed job so the
correctness gate checks the COMPOSITION, not just the parts:

    raw documents
      → Gopher rule filter        (text.gopher_quality_rules, pass_all)
      → language filter           (text.language_id, lang_pred == 'en')
      → PII scrub                 (text.scrub_pii; scrubbed text flows on)
      → exact dedup               (dedup.drop_exact_duplicates, keep-first)
      → MinHash+LSH near-dup      (dedup.near_dup_clusters; representative
                                   = longest-then-lowest-id per cluster)
      → duplicate-span removal    (dedup.remove_duplicate_spans; docs
                                   scrubbed down to nothing are dropped)
      → whitespace tokenize+pack  (curation.pack_sequences, first-fit)

Order matters and is pinned by a planted test: PII scrubbing runs
BEFORE exact dedup, so two docs differing only in their email address
collapse to one (dedup on raw text would keep both); span removal runs
AFTER representative election, so a doc can leave the pipeline empty
even though every earlier tier passed it.

Scale shape: each tier is the already-scale-audited operator — the
composition adds only doc_id-keyed semi/anti joins between tiers (8-byte
keys, broadcastable survivor sets once the funnel narrows). The two
relations consumed by multiple downstream branches (the exact-dedup
survivor set feeding the LSH tier's shingles AND the representative
election, and the near-dup survivor set feeding the span tier twice)
are tracked-persisted so no tier re-runs an upstream tier.

DuckDB twin: the tier twins already exist (gopher_quality_rules_sql,
language_id_sql, scrub_pii_sql, near_dup_clusters_sql,
remove_duplicate_spans_sql, pack_sequences_sql); the composed twin
re-bases each one onto the previous tier's output by rewriting its
``documents`` table reference to the stage CTE (see :func:`_nest`) — so
the e2e oracle is built from the very same SQL the per-tier oracles
are, not a second hand-derivation that could drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import tracked_persist
from ..operators.curation import pack_sequences
from ..operators.dedup import (
    _elect_representatives,
    drop_exact_duplicates,
    near_dup_clusters,
    remove_duplicate_spans,
)
from ..operators.text import gopher_quality_rules, language_id, scrub_pii

PIPE_LANG = "en"
PIPE_BUDGET = 256


def corpus_pipeline_e2e(
    t: dict[str, DataFrame],
    lang: str = PIPE_LANG,
    budget: int = PIPE_BUDGET,
) -> DataFrame:
    """Run the full corpus job; output one row per surviving document:
    (doc_id, n_tokens, pack_id) on the final (scrubbed, span-cleaned)
    text — the manifest a training loader would consume."""
    docs = t["documents"]
    # 1. Gopher rules: auditable flags -> act on pass_all. Persisted:
    # the language tier reads s1 twice (classifier input + semi-join
    # base), and without the barrier each read re-runs the Gopher pass
    s1 = tracked_persist(
        docs.join(
            gopher_quality_rules(docs).filter("pass_all").select("doc_id"),
            "doc_id",
            "left_semi",
        )
    )
    # 2. language filter on the PREDICTED language (the raw `lang`
    # label is metadata, not a classifier)
    s2 = s1.join(
        language_id(s1)
        .filter(F.col("lang_pred") == lang)
        .select("doc_id"),
        "doc_id",
        "left_semi",
    )
    # 3. PII scrub — the scrubbed text is what flows downstream
    s3 = scrub_pii(s2).select("doc_id", F.col("clean_text").alias("text"))
    # 4. exact dedup on the SCRUBBED text (keep-first): docs differing
    # only in scrubbed spans collapse here — the composition effect the
    # planted test pins
    s4 = tracked_persist(drop_exact_duplicates(s3))
    # 5. MinHash near-dup: keep non-members + one representative per
    # cluster (longest current text, ties to lowest doc_id)
    members = near_dup_clusters(s4)
    sized = s4.select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    reps = _elect_representatives(members, sized).select(
        F.col("rep_doc_id").alias("doc_id")
    )
    survivors = (
        s4.join(members.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id")
        .unionByName(reps)
    )
    s5 = tracked_persist(s4.join(survivors, "doc_id", "left_semi"))
    # 6. duplicate-span removal; a doc that was ALL duplicated spans
    # leaves empty and is dropped (the second composition effect)
    s6 = (
        remove_duplicate_spans(s5)
        .filter(F.col("clean_text") != "")
        .select("doc_id", F.col("clean_text").alias("text"))
    )
    # 7. whitespace tokenize + first-fit pack into training sequences
    return pack_sequences(s6, budget=budget).select(
        "doc_id", "n_tokens", "pack_id"
    )


def _nest(inner_sql: str, source_cte: str) -> str:
    """Re-base a tier twin onto ``source_cte``: rewrite its ``documents``
    table references to the source CTE name (word-boundary exact, so
    ``n_docs``-style identifiers are untouched). Shadowing ``documents``
    with a nested CTE would be cleaner, but DuckDB 1.0's binder flags
    ANY bare ``documents`` reference in a statement that also defines a
    CTE of that name as circular — and schema-qualifying the base table
    (``main.documents``) would tie the twin to how the harness registers
    its views. The rewrite keeps the statement name-collision-free.

    Precondition (held by construction): no tier twin defines a CTE
    named like our stage CTEs (s1..s6), so the rewritten reference can
    only bind to the outer stage."""
    import re

    s = inner_sql.strip()
    assert not re.search(
        rf"\b{source_cte}\b\s+AS\s*\(", s, re.IGNORECASE
    ), f"tier twin defines a CTE named {source_cte}; rewrite would self-bind"
    return re.sub(r"\bdocuments\b", source_cte, s)


def corpus_pipeline_e2e_sql(
    lang: str = PIPE_LANG, budget: int = PIPE_BUDGET
) -> str:
    """Composed twin: each tier is the tier's OWN oracle generator,
    re-based via :func:`_nest` — one statement, same funnel."""
    from ..operators.curation import pack_sequences_sql
    from ..operators.oracle import (
        NORMALIZE,
        ROLLING_HASH,
        near_dup_clusters_sql,
        remove_duplicate_spans_sql,
    )
    from ..operators.oracle_text import language_id_sql, scrub_pii_sql
    from ..operators.text import gopher_quality_rules_sql

    fp = ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    return f"""
    WITH g AS ({gopher_quality_rules_sql()}),
    s1 AS MATERIALIZED (
        SELECT d.* FROM documents d
        JOIN g ON g.doc_id = d.doc_id AND g.pass_all
    ),
    li AS MATERIALIZED ({_nest(language_id_sql(), "s1")}),
    s2 AS MATERIALIZED (
        SELECT s1.* FROM s1
        JOIN li ON li.doc_id = s1.doc_id AND li.lang_pred = '{lang}'
    ),
    sc AS MATERIALIZED ({_nest(scrub_pii_sql(), "s2")}),
    s3 AS MATERIALIZED (SELECT doc_id, clean_text AS text FROM sc),
    fps AS MATERIALIZED (SELECT doc_id, text, {fp} AS f FROM s3),
    s4 AS MATERIALIZED (
        SELECT doc_id, text FROM fps
        WHERE doc_id IN (SELECT min(doc_id) FROM fps GROUP BY f)
    ),
    members AS MATERIALIZED ({_nest(near_dup_clusters_sql(), "s4")}),
    sized AS MATERIALIZED (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM s4
    ),
    reps AS MATERIALIZED (
        SELECT doc_id FROM (
            SELECT m.doc_id,
                   row_number() OVER (
                       PARTITION BY m.cluster_id
                       ORDER BY z.n_chars DESC, m.doc_id ASC
                   ) AS rn
            FROM members m JOIN sized z ON z.doc_id = m.doc_id
        ) WHERE rn = 1
    ),
    s5 AS MATERIALIZED (
        SELECT s4.doc_id, s4.text FROM s4
        WHERE s4.doc_id NOT IN (SELECT doc_id FROM members)
           OR s4.doc_id IN (SELECT doc_id FROM reps)
    ),
    rd AS MATERIALIZED ({_nest(remove_duplicate_spans_sql(), "s5")}),
    s6 AS MATERIALIZED (
        SELECT doc_id, clean_text AS text FROM rd WHERE clean_text != ''
    ),
    packed AS ({_nest(pack_sequences_sql(budget=budget), "s6")})
    SELECT doc_id, n_tokens, pack_id FROM packed
    """


INC_MOD = 5  # doc_id % INC_MOD == 0 is the incoming delivery (~20%)


def incremental_pipeline_e2e(
    t: dict[str, DataFrame], budget: int = PIPE_BUDGET, mod: int = INC_MOD
) -> DataFrame:
    """The pipeline's PER-DELIVERY form — how a 100 TB corpus actually
    grows: a new batch (doc_id % mod == 0, the fixture's stand-in
    delivery) is gated and deduplicated AGAINST THE ACCUMULATED
    COLLECTION, never by re-running corpus-wide dedup:

        incoming batch
          → Gopher rule filter           (batch-local)
          → exact incremental dedup      (anti-join on the corpus's
                                          stored fingerprint set +
                                          keep-first within the batch)
          → near-dup probe               (batch bands ⋈ corpus band
                                          index; matched rows dropped)
          → tokenize + pack              (the delivery's manifest)

    Composition effects a per-tier gate can't see: a batch doc that is
    an exact copy of a CORPUS doc dies at the fingerprint tier even
    though within-batch it is unique; a batch doc that survives exact
    dedup still dies when a corpus near-twin shares a band bucket
    (planted test pins both).

    Scale shape: every join is keyed on 8-byte fingerprints / band
    keys; the corpus side reduces to its distinct-fingerprint and
    band-index relations (the tables a deployment stores and appends
    to) — per-delivery cost scales with the BATCH, not the corpus.
    Output: (doc_id, n_tokens, pack_id) for the accepted delivery.
    """
    from ..operators.dedup import incremental_dedup, incremental_near_dup

    docs = t["documents"]
    incoming = docs.filter(F.col("doc_id") % mod == 0)
    corpus = docs.filter(F.col("doc_id") % mod != 0)
    s1 = incoming.join(
        gopher_quality_rules(incoming).filter("pass_all").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    # s2 feeds the band probe's union AND the final anti-join base
    s2 = tracked_persist(incremental_dedup(s1, corpus))
    matches = incremental_near_dup(s2, corpus)
    s3 = s2.join(
        matches.select(F.col("doc_new").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )
    return pack_sequences(s3, budget=budget).select(
        "doc_id", "n_tokens", "pack_id"
    )


def incremental_pipeline_e2e_sql(
    budget: int = PIPE_BUDGET, mod: int = INC_MOD, threshold: float = 0.8
) -> str:
    """Composed twin from the tier macros: same delivery split, same
    fingerprint anti-exists + keep-first, same banded probe and
    Jaccard verify, same packer recurrence."""
    from ..operators.curation import pack_sequences_sql
    from ..operators.dedup import DEFAULT_NGRAM
    from ..operators.oracle import NORMALIZE, ROLLING_HASH, _minhash_bands_cte
    from ..operators.text import gopher_quality_rules_sql

    fp = ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    return f"""
    WITH inc AS MATERIALIZED (
        SELECT * FROM documents WHERE doc_id % {mod} = 0
    ),
    corpus AS MATERIALIZED (
        SELECT * FROM documents WHERE doc_id % {mod} <> 0
    ),
    g AS ({_nest(gopher_quality_rules_sql(), "inc")}),
    s1 AS MATERIALIZED (
        SELECT inc.* FROM inc
        JOIN g ON g.doc_id = inc.doc_id AND g.pass_all
    ),
    fps AS MATERIALIZED (SELECT doc_id, text, {fp} AS f FROM s1),
    cf AS MATERIALIZED (SELECT DISTINCT {fp} AS f FROM corpus),
    fresh AS MATERIALIZED (
        SELECT p.* FROM fps p
        WHERE NOT EXISTS (SELECT 1 FROM cf WHERE cf.f = p.f)
    ),
    s2 AS MATERIALIZED (
        SELECT doc_id, text FROM fresh
        WHERE doc_id IN (SELECT min(doc_id) FROM fresh GROUP BY f)
    ),
    uni AS MATERIALIZED (
        SELECT doc_id, text FROM s2
        UNION ALL
        SELECT doc_id, text FROM corpus
    ),
    {_minhash_bands_cte(DEFAULT_NGRAM, table="uni")},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_old
        FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk
        WHERE a.doc_id IN (SELECT doc_id FROM s2)
          AND b.doc_id IN (SELECT doc_id FROM corpus)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
        SELECT cd.doc_new, cd.doc_old, count(*) AS c
        FROM cand cd
        JOIN sh sa ON sa.doc_id = cd.doc_new
        JOIN sh sb ON sb.doc_id = cd.doc_old AND sb.h = sa.h
        GROUP BY 1, 2
    ),
    matched AS (
        SELECT DISTINCT s.doc_new
        FROM shared s
        JOIN sizes za ON za.doc_id = s.doc_new
        JOIN sizes zb ON zb.doc_id = s.doc_old
        WHERE round(s.c * 1.0 / (za.n + zb.n - s.c), 6) >= {threshold}
    ),
    s3 AS MATERIALIZED (
        SELECT doc_id, text FROM s2
        WHERE doc_id NOT IN (SELECT doc_new FROM matched)
    ),
    packed AS ({_nest(pack_sequences_sql(budget=budget), "s3")})
    SELECT doc_id, n_tokens, pack_id FROM packed
    """
