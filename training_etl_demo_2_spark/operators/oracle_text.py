"""DuckDB oracle-SQL twins for text.py and similarity.py operators.
Generated from the same constants as the Spark implementations.

Shared ANN and k-means CTEs: every vector-search twin is
filter-and-refine (a candidate generator, then one exact cosine
re-rank and one deterministic top-k), and each stage has one SQL
definition here, used by the twins in this module and by the
``*_sql`` twins in ``similarity.py``:

* ``_ranked_topk_sql``: the top-k tail over any relation with
  ``(query_id, neighbor_id, sim)``, ranked (sim desc, neighbor asc)
  like ``similarity._ranked_topk``; adds ``rnk``;
* ``_refine_topk_sql``: the exact round-6 cosine re-rank of a
  ``(query_id, neighbor_id)`` candidate relation against ``v``, fed to
  the tail;
* ``brute_topk_sql``: the exact brute-force ranking, also the ground
  truth of every recall, NDCG and MRR twin;
* ``_lsh_cte``: ``v``, the seeded plane table ``planes``, ``buckets``
  and, per probe radius r, ``qb{r}``/``cand{r}`` (``lsh_topk_sql`` is
  its radius-1 arm, ``lsh_probe_curve_sql`` takes every radius);
* ``_unit_quant_cte``: the unit-quantized prelude ``elems`` … ``init``
  of the exact-integer IVF and PQ recurrences;
* ``_ivf_chain_cte``: the IVF Lloyd chain, ending at ``ranked_cells``;
* ``_kmeans_cte``: ``elems`` and one double-precision Lloyd chain
  ``cent0_{k}`` … ``final_{k}`` per k (``distributed_kmeans_sql``,
  ``kmeans_silhouette_sql``, ``kmeans_elbow_sql``).

As in ``oracle.py``, the twins share constants with the engine, never
text: the engine ranks with a window over a broadcast join and buckets
in ``mapInPandas``, while these CTEs rank with ``row_number()`` and
bucket with ``list_dot_product`` over a VALUES plane table.
"""

from __future__ import annotations

from .oracle import NORMALIZE, ROLLING_HASH
from .text import LANG_MARKERS, STOPWORDS_EN


def _in_list(words: list[str]) -> str:
    inner = ", ".join(f"'{w}'" for w in words)
    return f"[{inner}]"


def language_id_sql() -> str:
    score_cols = ",\n               ".join(
        f"len(list_filter(toks, x -> list_contains({_in_list(m)}, x))) "
        f"AS score_{lang}"
        for lang, m in LANG_MARKERS.items()
    )
    score_names = [f"score_{lang}" for lang in LANG_MARKERS]
    best = f"greatest({', '.join(score_names)})"
    case = f"CASE WHEN {best} <= 0 THEN 'unknown'"
    for lang in LANG_MARKERS:
        case += f" WHEN score_{lang} = {best} THEN '{lang}'"
    case += " END"
    return f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(lower(text), ' ') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               {score_cols},
               lang AS lang_actual
        FROM t
    )
    SELECT doc_id, {', '.join(score_names)}, lang_actual, {case} AS lang_pred
    FROM s
    """


def doc_lang_consistency_sql(seg_words: int = 20) -> str:
    """Twin of text.doc_lang_consistency: same positional chunker as
    line_dedup_sql, same marker-argmax CASE at doc and chunk grain."""
    k = seg_words

    def score_cols(toks: str) -> str:
        return ",\n               ".join(
            f"len(list_filter({toks}, x -> list_contains({_in_list(m)}, x))) "
            f"AS score_{lang}"
            for lang, m in LANG_MARKERS.items()
        )

    score_names = [f"score_{lang}" for lang in LANG_MARKERS]
    best = f"greatest({', '.join(score_names)})"
    case = f"CASE WHEN {best} <= 0 THEN 'unknown'"
    for lang in LANG_MARKERS:
        case += f" WHEN score_{lang} = {best} THEN '{lang}'"
    case += " END"
    return f"""
    WITH doc_scored AS (
        SELECT doc_id,
               {score_cols("string_split(lower(text), ' ')")}
        FROM documents
    ),
    doc_pred AS (SELECT doc_id, {case} AS lang_doc FROM doc_scored),
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sized AS (
        SELECT doc_id, w,
               CAST(ceil(len(w) / CAST({k} AS DOUBLE)) AS BIGINT) AS nseg
        FROM toks
    ),
    segs AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, nseg),
                   i -> array_to_string(w[i*{k}+1 : i*{k}+{k}], ' ')
               )) AS seg
        FROM sized
    ),
    chunk_scored AS (
        SELECT doc_id,
               {score_cols("string_split(lower(seg), ' ')")}
        FROM segs
    ),
    chunk_pred AS (SELECT doc_id, {case} AS lang_chunk FROM chunk_scored)
    SELECT c.doc_id,
           d.lang_doc,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN c.lang_chunk = d.lang_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           CAST(floor(1e4 * sum(CASE WHEN c.lang_chunk = d.lang_doc
                                     THEN 1 ELSE 0 END)
                      / count(*) + 0.5) AS BIGINT) AS agree_bp
    FROM chunk_pred c JOIN doc_pred d USING (doc_id)
    GROUP BY c.doc_id, d.lang_doc
    """


def text_quality_sql() -> str:
    return f"""
    WITH base AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
               length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
               len(list_filter(string_split(lower(text), ' '),
                   x -> list_contains({_in_list(STOPWORDS_EN)}, x))) AS n_stop
        FROM documents
    ),
    ratios AS (
        SELECT doc_id, n_chars, n_tokens,
               CASE WHEN n_chars > 0 THEN n_alpha * 1.0 / n_chars ELSE 0.0 END AS alpha_ratio,
               CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END AS punct_ratio,
               CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END AS stop_ratio
        FROM base
    )
    SELECT doc_id, n_chars, n_tokens,
           round(alpha_ratio, 6) AS alpha_ratio,
           round(punct_ratio, 6) AS punct_ratio,
           round(stop_ratio, 6) AS stopword_ratio,
           round(0.4 * least(n_tokens * 1.0 / 20.0, 1.0)
                 + 0.3 * alpha_ratio
                 + 0.2 * (1.0 - punct_ratio)
                 + 0.1 * least(stop_ratio * 5.0, 1.0), 6) AS quality_score
    FROM ratios
    """


def token_stats_sql() -> str:
    return r"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS regex_tokens,
           length(text) AS n_chars
    FROM documents
    """


def repetition_stats_sql() -> str:
    """Twin of text.repetition_stats: duplicate-word / duplicate-bigram
    ratios in exact basis points (both engines: count arithmetic +
    one exactly-rounded double division + floor)."""
    dup = (
        "CAST(CASE WHEN len({a}) <= 0 THEN 0 ELSE "
        "floor((len({a}) - len(list_distinct({a}))) * 10000 / len({a})) "
        "END AS BIGINT)"
    )
    return f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           {dup.format(a='toks')} AS word_dup_bp,
           {dup.format(a='bgs')} AS bigram_dup_bp
    FROM (
        SELECT doc_id, toks,
               list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1]) AS bgs
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents)
    )
    """


def scrub_pii_sql() -> str:
    """Twin of text.scrub_pii — same RE2-compatible patterns, same
    fixed replacement order."""
    from .text import _PII_ORDER, PII_PATTERNS

    scrub = "text"
    for kind in _PII_ORDER:
        scrub = (
            f"regexp_replace({scrub}, '{PII_PATTERNS[kind]}', "
            f"'<{kind.upper()}>', 'g')"
        )
    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(text, '{PII_PATTERNS[k]}')) AS BIGINT)"
        f" AS n_{k}"
        for k in _PII_ORDER
    )
    return f"""
    SELECT doc_id,
           {scrub} AS clean_text,
           {counts}
    FROM documents
    """


def doc_fingerprints_sql() -> str:
    fp_raw = ROLLING_HASH.format(s="text")
    fp_norm = ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    return f"""
    SELECT doc_id, {fp_raw} AS fp_raw, {fp_norm} AS fp_norm
    FROM documents
    """


def tfidf_top_terms_sql(k: int = 3) -> str:
    """Twin of text.tfidf_top_terms: same score, same deterministic
    per-doc ranking."""
    return f"""
    WITH terms AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM terms WHERE term <> '' GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               tf.tf * ln((n.n_docs + 1) * 1.0 / (dfreq.df + 1)) AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tf, df, tfidf,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
               ) AS rnk
        FROM scored
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           round(tfidf, 4) AS tfidf, rnk
    FROM ranked WHERE rnk <= {k}
    """


# --- similarity -----------------------------------------------------------


def _ranked_topk_sql(rel: str, k: int) -> str:
    """The ranked top-k tail of every ANN twin: rank the rows of
    ``rel`` (a relation with ``query_id``, ``neighbor_id``, ``sim`` and
    any further columns) per query on (sim desc, neighbor asc), the
    total order of ``similarity._ranked_topk``, and keep the top ``k``.
    Adds ``rnk`` after ``rel``'s columns."""
    return f"""SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
        ) AS rnk
        FROM {rel}
    ) WHERE rnk <= {k}"""


def _refine_topk_sql(cand: str, k: int) -> str:
    """Exact re-rank of the ``(query_id, neighbor_id)`` candidate
    relation ``cand``: double cosine of the raw embeddings from ``v``
    (which the caller defines), rounded to 6, then the top-k tail."""
    return _ranked_topk_sql(
        f"""(
        SELECT c.query_id, c.neighbor_id,
               round(list_cosine_similarity(qv.e, cv.e), 6) AS sim
        FROM {cand} c
        JOIN v qv ON qv.vec_id = c.query_id
        JOIN v cv ON cv.vec_id = c.neighbor_id
    )""",
        k,
    )


def brute_topk_sql(k: int = 5, query_pred: str = "vec_id < 20") -> str:
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.e, c.e), 6) AS sim
        FROM (SELECT * FROM v WHERE {query_pred}) q
        JOIN v c ON q.vec_id <> c.vec_id
    )
    {_ranked_topk_sql("pairs", k)}
    """


def filtered_topk_sql(k: int = 5, query_pred: str = "vec_id < 20") -> str:
    """Twin of similarity.filtered_topk: candidates constrained to the
    query's label inside the join, not post-hoc."""
    return f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.e, c.e), 6) AS sim
        FROM (SELECT * FROM v WHERE {query_pred}) q
        JOIN v c ON q.label = c.label AND q.vec_id <> c.vec_id
    )
    {_ranked_topk_sql("pairs", k)}
    """


def cosine_near_pairs_sql(threshold: float = 0.45) -> str:
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(a.e, b.e), 6) AS sim
        FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, sim FROM pairs WHERE sim >= {threshold}
    """


def _knn_winner_cte(k: int, query_mod: int) -> str:
    """Shared v/pairs/topk/votes/winner CTE chain for the kNN vote
    oracles — one definition so the agreement and suspects twins can
    never drift from each other (mirror of the Spark-side
    ``_knn_vote_winners`` core, including its KNN_MAX_QUERIES cap on
    the lowest matching vec_ids)."""
    from .similarity import KNN_MAX_QUERIES

    return f"""v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    pairs AS (
        SELECT q.vec_id AS query_id, q.label AS q_label,
               c.vec_id AS neighbor_id, c.label AS n_label,
               round(list_cosine_similarity(q.e, c.e), 6) AS sim
        FROM (SELECT * FROM v WHERE vec_id % {query_mod} = 0
              ORDER BY vec_id LIMIT {KNN_MAX_QUERIES}) q
        JOIN v c ON q.vec_id <> c.vec_id
    ),
    topk AS ({_ranked_topk_sql("pairs", k)}),
    votes AS (
        SELECT query_id, q_label, n_label, count(*) AS cnt
        FROM topk GROUP BY 1, 2, 3
    ),
    winner AS (
        SELECT query_id, q_label, n_label AS voted_label FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cnt DESC, n_label ASC
            ) AS vr FROM votes
        ) WHERE vr = 1
    )"""


def knn_label_agreement_sql(k: int = 10, query_mod: int = 10) -> str:
    """Twin of similarity.knn_label_agreement: identical neighbor
    ranking (rounded sim desc, neighbor asc) and vote tie-break
    (count desc, label asc)."""
    return f"""
    WITH {_knn_winner_cte(k, query_mod)}
    SELECT q_label AS label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN voted_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree,
           round(sum(CASE WHEN voted_label = q_label THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS agree_pct
    FROM winner GROUP BY 1
    """


def knn_label_suspects_sql(k: int = 10, query_mod: int = 10) -> str:
    """Per-vector complement of knn_label_agreement_sql: the sampled
    vectors whose vote disagrees with their own label."""
    return f"""
    WITH {_knn_winner_cte(k, query_mod)}
    SELECT query_id, q_label AS own_label, voted_label
    FROM winner
    WHERE voted_label <> q_label
    ORDER BY query_id
    """


def _lsh_cte(radii: tuple[int, ...], query_pred: str, dim: int) -> str:
    """``v``, ``planes``, ``buckets`` and, per probe radius r,
    ``qb{r}(query_id, tbl, bucket)`` and ``cand{r}(query_id,
    neighbor_id)``: the twin of similarity.lsh_buckets and
    similarity._lsh_candidates. The seeded hyperplanes are
    data-INDEPENDENT constants (similarity._planes,
    RandomState(LSH_SEED)), so they materialize as DOUBLE[] literals —
    the same constants-as-SQL technique as the MinHash twin in
    oracle.py. Bucket = sum of sign-bit * 2^bit per table; radius r
    explodes each query bucket into every bucket within hamming
    distance r (xor with similarity._probe_masks(r)); candidates join
    on (table, bucket).

    Shortest-repr float literals round-trip to the identical IEEE
    double, so the only cross-engine divergence channel is summation
    order inside the 64-term dot product flipping a sign at |dot| ~
    1e-13 — probability ~1e-12 per dot on N(0,1) planes, verified
    empirically at sf0.001/0.01/0.1."""
    from .similarity import LSH_NBITS, LSH_TABLES, _planes, _probe_masks

    planes = _planes(dim)
    rows = []
    for t in range(LSH_TABLES):
        for b in range(LSH_NBITS):
            vec = ", ".join(repr(float(x)) for x in planes[t, b])
            rows.append(f"({t}, {b}, [{vec}]::DOUBLE[])")
    plane_values = ",\n        ".join(rows)
    arms = []
    for r in radii:
        masks = ", ".join(f"xor(b.bucket, {m})" for m in _probe_masks(r))
        arms.append(f"""qb{r} AS (
        SELECT b.vec_id AS query_id, b.tbl, pr.bucket
        FROM buckets b, unnest([{masks}]) AS pr(bucket)
        WHERE b.vec_id IN (SELECT vec_id FROM v WHERE {query_pred})
    ),
    cand{r} AS (
        SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
        FROM qb{r} q
        JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
        WHERE q.query_id <> c.vec_id
    )""")
    probe_arms = ",\n    ".join(arms)
    return f"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    planes(tbl, bit, p) AS (VALUES
        {plane_values}
    ),
    buckets AS (
        SELECT v.vec_id, pl.tbl,
               CAST(sum(CASE WHEN list_dot_product(v.e, pl.p) > 0
                             THEN (1::BIGINT << pl.bit) ELSE 0 END)
                    AS BIGINT) AS bucket
        FROM v CROSS JOIN planes pl
        GROUP BY v.vec_id, pl.tbl
    ),
    {probe_arms}"""


def lsh_topk_sql(k: int = 5, query_pred: str = "vec_id < 20", dim: int = 64) -> str:
    """Twin of similarity.lsh_topk: the radius-1 arm of ``_lsh_cte``
    (each query bucket plus its nbits hamming-1 neighbours), then the
    exact cosine re-rank."""
    return f"""
    WITH {_lsh_cte((1,), query_pred, dim)}
    {_refine_topk_sql("cand1", k)}
    """


def _unit_quant_cte(n_init: int, sub: int = 0) -> str:
    """The unit-quantized prelude of the exact-integer IVF and PQ
    recurrences, the twin of similarity._quantize_unit on the sample:
    ``elems`` (one row per component), ``q0`` (floor(x·Q)), ``nrm``
    (Σq²), ``nq(vec_id, dim, nq)`` (floor(q·Q/√Σq²), 0 for a zero
    vector), ``smp`` (the IVF_SAMPLE lowest vec_ids), ``snq`` (their
    ``nq`` rows) and ``init(vec_id, cid)`` (the sample's ``n_init``
    lowest vec_ids, numbered from 0). ``sub`` > 0 adds the PQ subspace
    ``s = dim // sub`` to ``nq``."""
    from .similarity import IVF_QUANT, IVF_SAMPLE

    q = IVF_QUANT
    s_col = f"q0.dim // {sub} AS s, " if sub else ""
    return f"""elems AS MATERIALIZED (
        SELECT vec_id, t.i - 1 AS dim, embedding[t.i]::DOUBLE AS val
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    q0 AS MATERIALIZED (
        SELECT vec_id, dim, CAST(floor(val * {q}) AS BIGINT) AS qv
        FROM elems
    ),
    nrm AS MATERIALIZED (SELECT vec_id, sum(qv * qv) AS n2 FROM q0 GROUP BY vec_id),
    nq AS MATERIALIZED (
        SELECT q0.vec_id, q0.dim, {s_col}
               CASE WHEN nrm.n2 = 0 THEN 0
                    ELSE CAST(floor((q0.qv * {q})::DOUBLE
                                    / sqrt(nrm.n2::DOUBLE)) AS BIGINT)
               END AS nq
        FROM q0 JOIN nrm USING (vec_id)
    ),
    smp AS MATERIALIZED (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {IVF_SAMPLE}),
    snq AS MATERIALIZED (SELECT nq.* FROM nq JOIN smp USING (vec_id)),
    init AS MATERIALIZED (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
        FROM (SELECT vec_id FROM smp ORDER BY vec_id LIMIT {n_init})
    )"""


def _ivf_chain_cte(n_centroids: int) -> str:
    """Shared CTE chain for the exact-integer IVF Lloyd recurrence
    (quantize to 1/2^21 units → integer dot-product argmax →
    floor(s·Q/√Σs²) centroid re-quantization), unrolled like
    distributed_kmeans_sql. Every accumulation is integer (DuckDB
    widens the sums to HUGEINT; the Spark side uses int64 + Python int
    where 2^63 could overflow), and the only float ops are single
    divisions/sqrts of exact integers — IEEE-deterministic — so the
    trained codebook and the per-vector cell ranking agree bit-for-bit
    with similarity._ivf_centroids / ivf_assign. Ends at
    ``ranked_cells (vec_id, cid, rn)``: rn-ranked (sim desc, cid asc)
    cells per vector. Consumed by ivf_topk_sql, semantic_dedup_sql and
    similarity.ivf_cell_balance_sql."""
    from .similarity import IVF_ITERS, IVF_QUANT

    q = IVF_QUANT
    steps = []
    for i in range(IVF_ITERS):
        steps.append(
            f"""sim{i} AS MATERIALIZED (
        SELECT s.vec_id, c.cid, sum(s.nq * c.c) AS sim
        FROM snq s JOIN cent{i} c ON s.dim = c.dim
        GROUP BY s.vec_id, c.cid
    )"""
        )
        steps.append(
            f"""a{i} AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM sim{i}) WHERE rn = 1
    )"""
        )
        steps.append(
            f"""upd{i} AS MATERIALIZED (
        SELECT a.cid, s.dim, sum(s.nq) AS s
        FROM a{i} a JOIN snq s USING (vec_id)
        GROUP BY a.cid, s.dim
    )"""
        )
        steps.append(
            f"""tt{i} AS MATERIALIZED (
        SELECT cid, sum(s * s) AS t FROM upd{i} GROUP BY cid
    )"""
        )
        steps.append(
            f"""cent{i + 1} AS MATERIALIZED (
        SELECT c.cid, c.dim,
               CASE WHEN u.s IS NULL OR t.t = 0 THEN c.c
                    ELSE CAST(floor((u.s * {q})::DOUBLE / sqrt(t.t::DOUBLE))
                              AS BIGINT)
               END AS c
        FROM cent{i} c
        LEFT JOIN upd{i} u ON c.cid = u.cid AND c.dim = u.dim
        LEFT JOIN tt{i} t ON c.cid = t.cid
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""{_unit_quant_cte(n_centroids)},
    cent0 AS MATERIALIZED (
        SELECT i.cid, s.dim, s.nq AS c FROM init i JOIN snq s USING (vec_id)
    ),
    {chain},
    csim AS MATERIALIZED (
        SELECT n.vec_id, c.cid, sum(n.nq * c.c) AS sim
        FROM nq n JOIN cent{IVF_ITERS} c ON n.dim = c.dim
        GROUP BY n.vec_id, c.cid
    ),
    ranked_cells AS MATERIALIZED (
        SELECT vec_id, cid, row_number() OVER (
            PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        FROM csim
    )"""


def ivf_topk_sql(
    k: int = 5,
    query_pred: str = "vec_id < 20",
    n_centroids: int = 16,
    nprobe: int = 4,
    multi_assign: int = 3,
) -> str:
    """Twin of similarity.ivf_topk over the shared exact-integer Lloyd
    chain (_ivf_chain_cte): spilled assignment = rn <= multi_assign,
    query probes = rn <= nprobe, cell-keyed candidates, exact double
    cosine re-rank rounded to 6."""
    return f"""
    WITH {_ivf_chain_cte(n_centroids)},
    cells AS (SELECT vec_id, cid AS cell FROM ranked_cells WHERE rn <= {multi_assign}),
    qprobe AS (
        SELECT vec_id AS query_id, cid AS cell
        FROM ranked_cells
        WHERE rn <= {nprobe}
          AND vec_id IN (SELECT vec_id FROM embeddings WHERE {query_pred})
    ),
    cand AS (
        SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
        FROM qprobe p JOIN cells c USING (cell)
        WHERE p.query_id <> c.vec_id
    ),
    v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    {_refine_topk_sql("cand", k)}
    """


def _kmeans_cte(ks: tuple[int, ...], iters: int, top: int = 1) -> str:
    """``elems(vec_id, dim, val)`` and, per k in ``ks``, the
    double-precision Lloyd chain of similarity._lloyd_relations unrolled
    as ``cent0_{k}`` (the k lowest vec_ids), ``a{i}_{k}`` (assignment,
    d2 asc then cid asc), ``cent{i+1}_{k}`` (member mean; an emptied
    cluster keeps its centroid) and ``final_{k}(vec_id, cid, d2, rn)``,
    each vector's ``top`` nearest centroids after the last update. The
    arms of several k share the one ``elems``."""

    def assign(i: int, k: int, top: int) -> str:
        return f"""SELECT vec_id, cid, d2, rn FROM (
            SELECT vec_id, cid, d2, row_number() OVER (
                PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
            FROM (SELECT e.vec_id, c.cid,
                         sum((e.val - c.c) * (e.val - c.c)) AS d2
                  FROM elems e JOIN cent{i}_{k} c ON e.dim = c.dim
                  GROUP BY e.vec_id, c.cid)
        ) WHERE rn <= {top}"""

    ctes = [
        """elems AS (
        SELECT vec_id, t.i - 1 AS dim, embedding[t.i]::DOUBLE AS val
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    )"""
    ]
    for k in ks:
        ctes.append(
            f"""cent0_{k} AS (
        SELECT vec_id AS cid, dim, val AS c FROM elems WHERE vec_id < {k}
    )"""
        )
        for i in range(iters):
            ctes.append(f"a{i}_{k} AS ({assign(i, k, 1)})")
            ctes.append(
                f"""cent{i + 1}_{k} AS (
        SELECT c.cid, c.dim, coalesce(m.m, c.c) AS c
        FROM cent{i}_{k} c
        LEFT JOIN (
            SELECT a.cid, e.dim, avg(e.val) AS m
            FROM a{i}_{k} a JOIN elems e ON a.vec_id = e.vec_id
            GROUP BY a.cid, e.dim
        ) m ON c.cid = m.cid AND c.dim = m.dim
    )"""
            )
        ctes.append(f"final_{k} AS ({assign(iters, k, top)})")
    return ",\n    ".join(ctes)


def bpe_token_counts_sql(n_merges: int = 30, min_count: int = 1) -> str:
    """Twin of tokenizer.bpe_token_counts (trained merges): the full BPE
    trainer AND encoder, unrolled as chained CTEs.

    Representation: each word is a chr(31)-delimited symbol string with
    every symbol individually wrapped ("\\x1fs1\\x1f\\x1fs2\\x1f…"), so
    one ``replace(s, D||a||D||D||b||D, D||a||b||D)`` is exactly the
    simultaneous leftmost-greedy non-overlapping merge of pair (a, b)
    (adjacent occurrences share no delimiter, so the scan never eats a
    neighbour's boundary). Per round: count adjacent pairs weighted by
    word frequency, pick (max count, lexicographically smallest pair) —
    train_bpe's exact tie-break — and apply. Because a merge's symbols
    always predate it, every pair involving a merged symbol has a
    HIGHER rank, so applying the learned rules once each in rank order
    equals _encode_word's lowest-rank-first loop; the trained vocab
    after the last round therefore already IS the encoded corpus.

    Preconditions (asserted by the fixtures): text is chr(31)-free and
    contains no literal '</w>'. Degenerate corpora that exhaust all
    pairs before n_merges rounds (every word fully merged) stop early
    on the Spark side; here each exhausted round's best{{i}} is empty,
    so v{{i+1}} LEFT-JOINs it and passes the vocab through unchanged —
    the same fixpoint.

    ``min_count > 1`` (the production trainer profile): the TRAIN chain
    v0..vN runs over the floored vocabulary only (HAVING cnt >=
    min_count — the collect bound tokenizer.DEFAULT_MIN_COUNT
    documents), while a parallel ENCODE chain e0..eN applies each
    round's best{{i}} to the FULL vocabulary; the final counts read
    from eN, exactly mirroring train-on-floored / encode-everything on
    the Spark side. With min_count=1 the chains coincide and the
    original single-chain form is emitted unchanged."""
    d = "chr(31)"
    dd = f"{d} || {d}"
    steps = []
    for i in range(n_merges):
        steps.append(
            f"""p{i} AS MATERIALIZED (
        SELECT ls[j.j] AS a, ls[j.j + 1] AS b, sum(cnt) AS c
        FROM (SELECT string_split(substr(s, 2, length(s) - 2), {dd}) AS ls,
                     cnt FROM v{i}),
             unnest(range(1, len(ls))) AS j(j)
        GROUP BY 1, 2
    )"""
        )
        steps.append(
            f"""best{i} AS MATERIALIZED (
        SELECT a, b FROM p{i} ORDER BY c DESC, a ASC, b ASC LIMIT 1
    )"""
        )
        steps.append(
            f"""v{i + 1} AS MATERIALIZED (
        SELECT CASE WHEN b.a IS NULL THEN v.s
                    ELSE replace(v.s, {d} || b.a || {dd} || b.b || {d},
                                 {d} || b.a || b.b || {d}) END AS s,
               CAST(sum(v.cnt) AS BIGINT) AS cnt
        FROM v{i} v LEFT JOIN best{i} b ON true
        GROUP BY 1
    )"""
        )
        if min_count > 1:
            steps.append(
                f"""e{i + 1} AS MATERIALIZED (
        SELECT CASE WHEN b.a IS NULL THEN e.s
                    ELSE replace(e.s, {d} || b.a || {dd} || b.b || {d},
                                 {d} || b.a || b.b || {d}) END AS s,
               CAST(sum(e.cnt) AS BIGINT) AS cnt
        FROM e{i} e LEFT JOIN best{i} b ON true
        GROUP BY 1
    )"""
            )
    chain = ",\n    ".join(steps)
    sym = (
        f"{d} || array_to_string("
        f"list_append(string_split(w, ''), '</w>'), {dd}) || {d}"
    )
    enc0 = (
        f""",
    e0 AS MATERIALIZED (
        SELECT {sym} AS s, CAST(cnt AS BIGINT) AS cnt FROM wc
    )"""
        if min_count > 1
        else ""
    )
    final = f"e{n_merges}" if min_count > 1 else f"v{n_merges}"
    train_src = (
        f"(SELECT w, cnt FROM wc WHERE cnt >= {int(min_count)})"
        if min_count > 1
        else "wc"
    )
    return f"""
    WITH wc AS MATERIALIZED (
        SELECT w, count(*) AS cnt
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        WHERE w <> ''
        GROUP BY w
    ),
    v0 AS MATERIALIZED (
        SELECT {sym} AS s,
               CAST(cnt AS BIGINT) AS cnt
        FROM {train_src}
    ){enc0},
    {chain}
    SELECT t.tok AS token, CAST(sum(cnt) AS BIGINT) AS cnt
    FROM {final},
         unnest(string_split(substr(s, 2, length(s) - 2), {dd})) AS t(tok)
    GROUP BY t.tok
    """


def semantic_dedup_sql(
    threshold: float = 0.45, n_centroids: int = 16
) -> str:
    """Twin of similarity.semantic_dedup: the shared exact-integer
    Lloyd chain assigns each vector to its single nearest cell
    (rn = 1), then the per-cell GREEDY prune — inherently sequential —
    unrolls as a RECURSIVE CTE whose working table carries one row per
    cell holding the kept-id list. Step s of the recursion processes
    each cell's s-th vector (ascending vec_id): a correlated subquery
    over the precomputed within-cell pair-cosine relation finds the
    best kept match in micro-unit integers (floor(cos·1e6 + 0.5), tie
    → lowest kept id — the engine's first-max over an ascending-id
    kept list), and the vector either folds into that representative
    or extends the kept list. Cells terminate when their vectors run
    out; recursion depth = max cell size."""
    thr_u = int(round(threshold * 1e6))
    return f"""
    WITH RECURSIVE {_ivf_chain_cte(n_centroids)},
    cells AS MATERIALIZED (
        SELECT vec_id, cid AS cell FROM ranked_cells WHERE rn = 1
    ),
    v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    ordered AS MATERIALIZED (
        SELECT c.vec_id, c.cell,
               row_number() OVER (PARTITION BY c.cell ORDER BY c.vec_id)
                   AS step
        FROM cells c
    ),
    pairsim AS MATERIALIZED (
        SELECT a.vec_id AS ida, b.vec_id AS idb,
               CAST(floor(list_cosine_similarity(av.e, bv.e) * 1000000
                          + 0.5) AS BIGINT) AS sim_u
        FROM ordered a
        JOIN ordered b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN v av ON av.vec_id = a.vec_id
        JOIN v bv ON bv.vec_id = b.vec_id
    ),
    rec AS (
        SELECT cell, 0 AS step, CAST([] AS BIGINT[]) AS kept,
               CAST(NULL AS BIGINT) AS vec_id,
               CAST(NULL AS BIGINT) AS rep_id, 0 AS is_kept
        FROM (SELECT DISTINCT cell FROM ordered)
        UNION ALL
        SELECT o.cell, o.step,
               CASE WHEN best.rep IS NULL
                    THEN list_append(r.kept, o.vec_id) ELSE r.kept END,
               o.vec_id,
               coalesce(best.rep, o.vec_id),
               CASE WHEN best.rep IS NULL THEN 1 ELSE 0 END
        FROM rec r
        JOIN ordered o ON o.cell = r.cell AND o.step = r.step + 1
        LEFT JOIN LATERAL (
            SELECT p.ida AS rep
            FROM pairsim p
            WHERE p.idb = o.vec_id
              AND list_contains(r.kept, p.ida)
              AND p.sim_u >= {thr_u}
            ORDER BY p.sim_u DESC, p.ida ASC
            LIMIT 1
        ) best ON true
    )
    SELECT vec_id, CAST(cell AS INTEGER) AS cell, rep_id,
           CAST(is_kept AS INTEGER) AS is_kept
    FROM rec WHERE step > 0
    """


def pq_topk_sql(
    k: int = 5,
    query_pred: str = "vec_id < 20",
    dim: int = 64,
) -> str:
    """Twin of similarity.pq_topk: per-subspace integer Lloyd (one
    unrolled chain covering all subspaces at once — the subspace is
    just ``dim // sub``, and the dim-keyed join can never pair across
    subspaces), exact-integer ADC shortlist, round-6 cosine refine.

    PURE-INTEGER training: assignment minimizes the exact integer d2,
    and the centroid update is the round-half-up integer mean
    floor((2s+n)/(2n)) — computed as floor of an exact double quotient
    (2s+n ≤ 2^33 and 2n ≤ 2^12 are double-exact, and a non-integer
    quotient with denominator ≤ 2^12 sits ≥ 2^-12 from any integer, so
    the floor equals numpy's floor_divide; DuckDB's native ``//``
    truncates toward zero and is NOT used)."""
    from .similarity import PQ_ITERS, PQ_K, PQ_M, PQ_REFINE

    steps = []
    for i in range(PQ_ITERS):
        steps.append(
            f"""d{i} AS MATERIALIZED (
        SELECT x.vec_id, x.s, c.cid,
               sum((x.nq - c.c) * (x.nq - c.c)) AS d2
        FROM snq x JOIN cent{i} c ON x.dim = c.dim
        GROUP BY x.vec_id, x.s, c.cid
    )"""
        )
        steps.append(
            f"""a{i} AS MATERIALIZED (
        SELECT vec_id, s, cid FROM (
            SELECT vec_id, s, cid, row_number() OVER (
                PARTITION BY vec_id, s ORDER BY d2 ASC, cid ASC) AS rn
            FROM d{i}) WHERE rn = 1
    )"""
        )
        steps.append(
            f"""u{i} AS MATERIALIZED (
        SELECT a.s, a.cid, x.dim, sum(x.nq) AS sm, count(*) AS n
        FROM a{i} a JOIN snq x ON a.vec_id = x.vec_id AND a.s = x.s
        GROUP BY a.s, a.cid, x.dim
    )"""
        )
        steps.append(
            f"""cent{i + 1} AS MATERIALIZED (
        SELECT c.s, c.cid, c.dim,
               CASE WHEN u.sm IS NULL THEN c.c
                    ELSE CAST(floor((2 * u.sm + u.n)::DOUBLE
                                    / (2 * u.n)) AS BIGINT)
               END AS c
        FROM cent{i} c
        LEFT JOIN u{i} u ON c.s = u.s AND c.cid = u.cid AND c.dim = u.dim
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH {_unit_quant_cte(PQ_K, sub=dim // PQ_M)},
    cent0 AS MATERIALIZED (
        SELECT x.s, i.cid, x.dim, x.nq AS c
        FROM init i JOIN snq x USING (vec_id)
    ),
    {chain},
    codes AS MATERIALIZED (
        SELECT vec_id, s, cid FROM (
            SELECT n.vec_id, n.s, c.cid, row_number() OVER (
                PARTITION BY n.vec_id, n.s
                ORDER BY sum((n.nq - c.c) * (n.nq - c.c)) ASC, c.cid ASC
            ) AS rn
            FROM nq n JOIN cent{PQ_ITERS} c ON n.dim = c.dim
            GROUP BY n.vec_id, n.s, c.cid
        ) WHERE rn = 1
    ),
    qip AS MATERIALIZED (
        SELECT n.vec_id AS query_id, c.s, c.cid, sum(n.nq * c.c) AS ip
        FROM nq n JOIN cent{PQ_ITERS} c ON n.dim = c.dim
        WHERE n.vec_id IN (SELECT vec_id FROM embeddings WHERE {query_pred})
        GROUP BY n.vec_id, c.s, c.cid
    ),
    adc AS MATERIALIZED (
        SELECT p.query_id, x.vec_id AS neighbor_id, sum(p.ip) AS adc
        FROM codes x JOIN qip p ON x.s = p.s AND x.cid = p.cid
        WHERE x.vec_id <> p.query_id
        GROUP BY p.query_id, x.vec_id
    ),
    shortlist AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
                PARTITION BY query_id ORDER BY adc DESC, neighbor_id ASC
            ) AS arnk FROM adc
        ) WHERE arnk <= {PQ_REFINE}
    ),
    v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    {_refine_topk_sql("shortlist", k)}
    """


def random_projection_sql(dim: int = 64, out: int = 8) -> str:
    """Twin of similarity.random_projection: the seeded Rademacher
    matrix materialized as a VALUES literal (dim·out rows), the same
    nano-int quantization, an exact integer sum per (vec_id, comp)."""
    from .similarity import _rp_signs

    signs = _rp_signs(dim, out)
    rows = ", ".join(
        f"({d}, {c}, {int(signs[d, c])})"
        for d in range(dim)
        for c in range(out)
    )
    return f"""
    WITH m(dim, comp, s) AS (VALUES {rows}),
    e AS (
        SELECT vec_id, t.i - 1 AS dim,
               CAST(floor(embedding[t.i]::DOUBLE * 1e9) AS BIGINT) AS qv
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    )
    SELECT e.vec_id, CAST(m.comp AS INT) AS comp,
           round(CAST(sum(m.s * e.qv) AS BIGINT) / 1e9, 6) AS rp
    FROM e JOIN m ON e.dim = m.dim
    GROUP BY e.vec_id, m.comp
    """


def bpe_fertility_by_lang_sql(n_merges: int = 30) -> str:
    """Twin of tokenizer.bpe_fertility_by_lang. Differs from
    bpe_token_counts_sql in one structural way: the vocab chain keeps
    the ORIGINAL WORD as the row key (one row per word, its symbol
    string evolving beside it) so the final join can price each
    (lang, word) cell at cnt x token-count. Pair counting per round
    weights by the global word frequency via a join back to wc."""
    d = "chr(31)"
    dd = f"{d} || {d}"
    steps = []
    for i in range(n_merges):
        steps.append(
            f"""p{i} AS MATERIALIZED (
        SELECT ls[j.j] AS a, ls[j.j + 1] AS b, sum(cnt) AS c
        FROM (SELECT string_split(substr(v.s, 2, length(v.s) - 2), {dd}) AS ls,
                     wc.cnt
              FROM v{i} v JOIN wc ON wc.w = v.w),
             unnest(range(1, len(ls))) AS j(j)
        GROUP BY 1, 2
    )"""
        )
        steps.append(
            f"""best{i} AS MATERIALIZED (
        SELECT a, b FROM p{i} ORDER BY c DESC, a ASC, b ASC LIMIT 1
    )"""
        )
        steps.append(
            f"""v{i + 1} AS MATERIALIZED (
        SELECT v.w, CASE WHEN b.a IS NULL THEN v.s
                    ELSE replace(v.s, {d} || b.a || {dd} || b.b || {d},
                                 {d} || b.a || b.b || {d}) END AS s
        FROM v{i} v LEFT JOIN best{i} b ON true
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH wl AS MATERIALIZED (
        SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        WHERE w <> ''
        GROUP BY 1, 2
    ),
    wc AS MATERIALIZED (
        SELECT w, CAST(sum(cnt) AS BIGINT) AS cnt FROM wl GROUP BY w
    ),
    v0 AS MATERIALIZED (
        SELECT w, {d} || array_to_string(
                   list_append(string_split(w, ''), '</w>'), {dd})
               || {d} AS s
        FROM wc
    ),
    {chain},
    ntok AS MATERIALIZED (
        SELECT w, CAST(len(string_split(substr(s, 2, length(s) - 2), {dd}))
                       AS BIGINT) AS nt
        FROM v{n_merges}
    ),
    agg AS (
        SELECT wl.lang,
               CAST(sum(wl.cnt) AS BIGINT) AS n_words,
               CAST(sum(wl.cnt * ntok.nt) AS BIGINT) AS n_tokens,
               CAST(sum(wl.cnt * length(wl.w)) AS BIGINT) AS n_chars
        FROM wl JOIN ntok ON ntok.w = wl.w
        GROUP BY 1
    )
    SELECT lang, n_words, n_tokens, n_chars,
           round(CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
               AS fertility_r6,
           round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
               AS chars_per_token_r6
    FROM agg
    """
