"""DuckDB oracle-SQL generators for the dedup/similarity operators.

The Spark implementations in ``dedup.py``/``similarity.py`` use pure
integer/double arithmetic precisely so these SQL twins can reproduce
them bit-for-bit; the LSH coefficients are imported from dedup.py, so
engine and oracle can never drift apart.

Shared CTEs: each MinHash formula has one SQL definition here, and
every twin that needs it (here, in dedup.py and in
plans/corpus_pipeline.py) builds on it:

* ``_shingles_cte``: ``sh(doc_id, h)``, distinct shingle hashes;
* ``_signature_cte``: adds ``sig(doc_id, m0..m31)``;
* ``_minhash_bands_cte``: adds ``bands(doc_id, band, bk)``, the LSH
  band index, for twins with their own candidate rule (incremental
  probe, blocking evaluation, cost advisor, composed pipeline);
* ``_lsh_candidates_cte``: adds ``cand(doc_a, doc_b)``, the banded
  self-join candidates.

The signature-agreement estimator twins share one per-k arm
(``dedup.minhash_perm_tradeoff_sql``); the logistic Newton steps are
``validation._logistic_newton_sql``.

The twins share constants with the engine, never text. Each side
keeps one definition per formula, but the engine computes signatures
row-locally (``array_min(transform(...))`` over a shingle array,
posexploded band keys) while these twins explode the shingles, take
``min`` per ``GROUP BY doc_id`` and union one SELECT per band. The
differential therefore still compares two independent formulations, so
a bug in one generator cannot pass by appearing on both sides. This
deliberately narrows the aim of one generator shared by the engine and
its DuckDB twin to one generator per side.
"""

from __future__ import annotations

from .dedup import (
    BANDS,
    DEFAULT_NGRAM,
    MINHASH_A,
    MINHASH_B,
    NUM_PERM,
    P,
    ROWS_PER_BAND,
    SIMHASH_A,
    SIMHASH_B,
    SIMHASH_BAND_BITS,
    SIMHASH_BANDS,
    SIMHASH_BITS,
)

# polynomial rolling hash of a string s (matches functions.rolling_hash)
ROLLING_HASH = (
    "list_reduce(list_prepend(0::BIGINT, "
    "list_transform(string_split({s}, ''), c -> ascii(c)::BIGINT)), "
    f"(a, b) -> (a * 31 + b) % {P})"
)

NORMALIZE = "trim(regexp_replace(lower({s}), '\\s+', ' ', 'g'))"


def _shingles_cte(n: int = DEFAULT_NGRAM, table: str = "documents") -> str:
    """(doc_id, h): distinct word n-gram shingle hashes — twin of
    dedup.shingle_hashes."""
    return f"""
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM {table}),
    grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(w) - {n - 1}, 0) + 1),
                   i -> array_to_string(w[i:i+{n - 1}], ' ')))) AS s
        FROM toks
    ),
    sh AS (SELECT DISTINCT doc_id, {ROLLING_HASH.format(s="s")} AS h FROM grams)
    """


def exact_dedup_sql() -> str:
    fp = ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    return f"""
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies
    FROM (SELECT doc_id, {fp} AS fp FROM documents)
    GROUP BY fp
    """


def incremental_dedup_sql() -> str:
    """Twin of dedup.incremental_dedup over the parity-split registered
    query (scale-invariant: meaningful at every sf): corpus = even
    doc_id, incoming = odd doc_id."""
    fp = ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    return f"""
    WITH fps AS (SELECT doc_id, lang, source, n_chars, text,
                        {fp} AS fp FROM documents),
    corpus AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0),
    fresh AS (
        SELECT f.* FROM fps f
        WHERE f.doc_id % 2 = 1
          AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = f.fp)
    ),
    keep AS (SELECT min(doc_id) AS doc_id FROM fresh GROUP BY fp)
    SELECT f.doc_id, f.text, f.lang, f.source, f.n_chars
    FROM fresh f JOIN keep k ON f.doc_id = k.doc_id
    """


def line_dedup_sql(seg_words: int = 10, min_docs: int = 2) -> str:
    """Twin of dedup.line_dedup: positional word-chunk segments, the
    boilerplate set counted by DISTINCT documents per segment hash,
    order-preserving reassembly via string_agg ORDER BY pos."""
    k = seg_words
    h = ROLLING_HASH.format(s="seg")
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sized AS (
        SELECT doc_id, w,
               CAST(ceil(len(w) / CAST({k} AS DOUBLE)) AS BIGINT) AS nseg
        FROM toks
    ),
    segs AS (
        SELECT doc_id,
               unnest(range(0, nseg)) AS pos,
               unnest(list_transform(
                   range(0, nseg),
                   i -> array_to_string(w[i*{k}+1 : i*{k}+{k}], ' ')
               )) AS seg
        FROM sized
    ),
    hashed AS (SELECT doc_id, pos, seg, {h} AS h FROM segs),
    boiler AS (
        SELECT h FROM (SELECT DISTINCT doc_id, h FROM hashed)
        GROUP BY h HAVING count(*) >= {min_docs}
    ),
    flagged AS (
        SELECT s.doc_id, s.pos, s.seg,
               CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END AS dup
        FROM hashed s LEFT JOIN boiler b USING (h)
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN dup = 0 THEN seg END, ' '
                               ORDER BY pos), '') AS clean_text,
           CAST(sum(1 - dup) AS BIGINT) AS n_kept,
           CAST(sum(dup) AS BIGINT) AS n_dropped
    FROM flagged
    GROUP BY doc_id
    """


def intra_doc_repetition_sql(seg_words: int = 10) -> str:
    """Twin of dedup.intra_doc_repetition: same positional segmenter as
    line_dedup_sql, multiplicities per (doc, segment hash)."""
    k = seg_words
    h = ROLLING_HASH.format(s="seg")
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
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
    per AS (
        SELECT doc_id, {h} AS h, CAST(count(*) AS BIGINT) AS m
        FROM segs GROUP BY doc_id, h
    )
    SELECT doc_id,
           CAST(sum(m) AS BIGINT) AS n_segs,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(max(m) AS BIGINT) AS max_mult,
           CAST(floor(1e4 * (sum(m) - count(*)) / sum(m) + 0.5) AS BIGINT)
               AS dup_seg_bp
    FROM per
    GROUP BY doc_id
    """


def paragraph_dedup_sql(seg_words: int = 3) -> str:
    """Twin of dedup.paragraph_dedup: same positional segmenter as
    line_dedup_sql, keep-first-occurrence rule per (doc, segment hash),
    order-preserving reassembly, MassiveText repetition shares in bp."""
    k = seg_words
    h = ROLLING_HASH.format(s="seg")
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sized AS (
        SELECT doc_id, w,
               CAST(ceil(len(w) / CAST({k} AS DOUBLE)) AS BIGINT) AS nseg
        FROM toks
    ),
    segs AS (
        SELECT doc_id,
               unnest(range(0, nseg)) AS pos,
               unnest(list_transform(
                   range(0, nseg),
                   i -> array_to_string(w[i*{k}+1 : i*{k}+{k}], ' ')
               )) AS seg
        FROM sized
    ),
    hashed AS (SELECT doc_id, pos, seg, {h} AS h FROM segs),
    flagged AS (
        SELECT doc_id, pos, seg,
               CASE WHEN pos > min(pos) OVER (PARTITION BY doc_id, h)
                    THEN 1 ELSE 0 END AS dup
        FROM hashed
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN dup = 0 THEN seg END, ' '
                               ORDER BY pos), '') AS clean_text,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(sum(dup) AS BIGINT) AS n_dup_paras,
           CAST(floor(10000 * sum(dup) / count(*)) AS BIGINT)
               AS dup_para_share_bp,
           CASE WHEN sum(length(seg)) > 0
                THEN CAST(floor(10000 * sum(dup * length(seg))
                                / sum(length(seg))) AS BIGINT)
                ELSE 0 END AS dup_char_share_bp
    FROM flagged
    GROUP BY doc_id
    """


def _jaccard_sql(pairs_filter: str, threshold: float) -> str:
    return f"""
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT s.doc_a, s.doc_b,
               round(s.c * 1.0 / (za.n + zb.n - s.c), 6) AS jaccard
        FROM shared s
        JOIN sizes za ON za.doc_id = s.doc_a
        JOIN sizes zb ON zb.doc_id = s.doc_b
        {pairs_filter}
    )
    SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {threshold}
    """


def ngram_jaccard_sql(n: int = DEFAULT_NGRAM, threshold: float = 0.5) -> str:
    return f"WITH {_shingles_cte(n)}, {_jaccard_sql('', threshold)}"


def ngram_containment_sql(n: int = DEFAULT_NGRAM, threshold: float = 0.8) -> str:
    """Twin of dedup.ngram_containment_pairs: same shingle relation,
    containment scoring in both directions, greatest() threshold."""
    return f"""
    WITH {_shingles_cte(n)},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT s.doc_a, s.doc_b,
               round(s.c * 1.0 / za.n, 6) AS cont_a,
               round(s.c * 1.0 / zb.n, 6) AS cont_b
        FROM shared s
        JOIN sizes za ON za.doc_id = s.doc_a
        JOIN sizes zb ON zb.doc_id = s.doc_b
    )
    SELECT doc_a, doc_b, cont_a, cont_b FROM scored
    WHERE greatest(cont_a, cont_b) >= {threshold}
    """


def _signature_exprs() -> str:
    return ",\n               ".join(
        f"min(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {P}) AS m{i}"
        for i in range(NUM_PERM)
    )


def _band_key_expr(b: int) -> str:
    cols = [f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
    expr = cols[0]
    for c in cols[1:]:
        expr = f"(({expr}) * 31 + {c}) % {P}"
    return expr


def _signature_cte(n: int = DEFAULT_NGRAM, table: str = "documents") -> str:
    """CTE chain ``sh`` → ``sig(doc_id, m0..m31)``: the shingle
    relation of ``table`` and its MinHash signature per document.
    MATERIALIZED because every consumer reads ``sig`` more than once
    (the band union reads it once per band), and DuckDB would otherwise
    recompute the 32-min aggregate per reference."""
    return f"""{_shingles_cte(n, table)},
    sig AS MATERIALIZED (
        SELECT doc_id,
               {_signature_exprs()}
        FROM sh GROUP BY doc_id
    )"""


def _minhash_bands_cte(
    n: int = DEFAULT_NGRAM, table: str = "documents"
) -> str:
    """CTE chain ``sh`` → ``sig`` → ``bands(doc_id, band, bk)``: the LSH
    band index of ``table`` (``documents``, or a CTE with the same
    ``doc_id``/``text`` columns)."""
    band_rows = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {b} AS band, {_band_key_expr(b)} AS bk FROM sig"
        for b in range(BANDS)
    )
    return f"""{_signature_cte(n, table)},
    bands AS (
        {band_rows}
    )"""


def _lsh_candidates_cte(n: int = DEFAULT_NGRAM) -> str:
    """CTE chain ending in ``cand(doc_a, doc_b)``: the banded MinHash
    candidate pairs shared by every verify tier."""
    return f"""{_minhash_bands_cte(n)},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk
        WHERE a.doc_id < b.doc_id
    )"""


def minhash_lsh_sql(n: int = DEFAULT_NGRAM, threshold: float = 0.8) -> str:
    return f"""
    WITH {_lsh_candidates_cte(n)},
    {_jaccard_sql('JOIN cand c ON c.doc_a = s.doc_a AND c.doc_b = s.doc_b', threshold)}
    """


def near_dup_clusters_sql(
    n: int = DEFAULT_NGRAM, threshold: float = 0.8
) -> str:
    """Twin of dedup.near_dup_clusters: transitive closure of the LSH
    pair graph via a recursive CTE, cluster id = min reachable node.
    The engine computes the same fixpoint by iterative min-label
    propagation — two independent formulations of connectivity."""
    return f"""
    WITH RECURSIVE pairs AS ({minhash_lsh_sql(n, threshold)}),
    edges AS (
        SELECT doc_a AS x, doc_b AS y FROM pairs
        UNION
        SELECT doc_b AS x, doc_a AS y FROM pairs
    ),
    reach(x, y) AS (
        SELECT x, y FROM edges
        UNION
        SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
    )
    SELECT x AS doc_id, least(x, min(y)) AS cluster_id
    FROM reach
    GROUP BY x
    """


def near_dup_provenance_sql(
    n: int = DEFAULT_NGRAM, threshold: float = 0.8
) -> str:
    """Twin of dedup.near_dup_provenance: cluster membership joined to
    (doc_id, source), sorted comma-joined DISTINCT source set."""
    return f"""
    WITH members AS ({near_dup_clusters_sql(n, threshold)})
    SELECT m.cluster_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
           string_agg(DISTINCT d.source, ',' ORDER BY d.source) AS sources
    FROM members m JOIN documents d ON d.doc_id = m.doc_id
    GROUP BY m.cluster_id
    """


def near_dup_degree_hist_sql(
    n: int = DEFAULT_NGRAM, threshold: float = 0.8
) -> str:
    """Twin of dedup.near_dup_degree_hist over the same LSH pairs."""
    return f"""
    WITH pairs AS ({minhash_lsh_sql(n, threshold)}),
    nodes AS (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL
        SELECT doc_b AS doc_id FROM pairs
    ),
    deg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
        FROM nodes GROUP BY doc_id
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY degree
    """


def duplicate_provenance_sql() -> str:
    """Twin of dedup.duplicate_provenance: same fingerprint, sorted
    comma-joined DISTINCT source set."""
    fp = ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    return f"""
    SELECT min(doc_id) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           string_agg(DISTINCT source, ',' ORDER BY source) AS sources
    FROM (SELECT doc_id, source, {fp} AS fp FROM documents)
    GROUP BY fp
    HAVING count(*) >= 2
    """


def _simhash_cte(table: str = "documents") -> str:
    """Twin of dedup.simhash_fingerprints: 64-bit, per-bit universal
    hashes, signed BIGINT (bit 63's weight is -2^63 — written as
    ``-9223372036854775807 - 1`` because the bare literal would parse
    as HUGEINT). Coefficients come from the shared SIMHASH_A/B lists,
    so engine and oracle can never drift."""
    coef_rows = ", ".join(
        f"({b}, {SIMHASH_A[b]}, {SIMHASH_B[b]}, "
        + ("-9223372036854775807 - 1" if b == SIMHASH_BITS - 1 else str(2**b))
        + ")"
        for b in range(SIMHASH_BITS)
    )
    return f"""
    tok AS (
        SELECT doc_id, tok, count(*) AS w
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM {table})
        GROUP BY doc_id, tok
    ),
    tokh AS (SELECT doc_id, {ROLLING_HASH.format(s="tok")} AS h, w FROM tok),
    coef AS (SELECT * FROM (VALUES {coef_rows}) c(bit, ca, cb, wt)),
    bits AS (
        SELECT doc_id, bit, any_value(wt) AS wt,
               sum(CASE WHEN ((ca * h + cb) % {P}) % 2 = 1
                        THEN w ELSE -w END) AS s
        FROM tokh, coef
        GROUP BY doc_id, bit
    ),
    fp AS (
        SELECT doc_id,
               sum(CASE WHEN s > 0 THEN wt ELSE 0 END)::BIGINT AS simhash
        FROM bits GROUP BY doc_id
    )
    """


def simhash_sql() -> str:
    return f"WITH {_simhash_cte()} SELECT doc_id, simhash FROM fp"


def simhash_pairs_sql(max_hamming: int = 3) -> str:
    # (h >> s) & mask: DuckDB's >> is arithmetic, but the mask discards
    # sign-extension, so this extracts band bits exactly as the engine.
    bands = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"(simhash >> {b * SIMHASH_BAND_BITS}) & {2 ** SIMHASH_BAND_BITS - 1} "
        f"AS bk FROM fp"
        for b in range(SIMHASH_BANDS)
    )
    return f"""
    WITH {_simhash_cte()},
    bands AS (
        {bands}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk
        WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {max_hamming}
    """


def substring_dup_stats_sql(k: int = 5, min_docs: int = 2) -> str:
    """Twin of dedup.substring_dup_stats: SLIDING k-word grams (stride
    1, the substring-dedup signal) hashed with the shared rolling hash;
    duplicated grams counted by DISTINCT documents per hash; per-doc
    occurrence counts with explicit floor() basis points (cast-to-int
    ROUNDS in DuckDB but TRUNCATES in Spark, so both sides floor)."""
    h = ROLLING_HASH.format(s="gram")
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, greatest(len(w) - {k} + 1, 0)),
                   i -> array_to_string(w[i+1 : i+{k}], ' ')
               )) AS gram
        FROM toks
    ),
    hashed AS (SELECT doc_id, {h} AS h FROM grams),
    dup AS (
        SELECT h FROM (SELECT DISTINCT doc_id, h FROM hashed)
        GROUP BY h HAVING count(*) >= {min_docs}
    ),
    per_doc AS (
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_grams
        FROM hashed s LEFT JOIN dup d USING (h)
        GROUP BY s.doc_id
    )
    SELECT doc_id,
           coalesce(n_grams, 0) AS n_grams,
           coalesce(n_dup_grams, 0) AS n_dup_grams,
           CASE WHEN coalesce(n_grams, 0) > 0
                THEN CAST(floor(10000 * n_dup_grams / n_grams) AS BIGINT)
                ELSE 0 END AS dup_gram_bp
    FROM documents LEFT JOIN per_doc USING (doc_id)
    """


def _duplicate_spans_cte(k: int, min_docs: int) -> str:
    """Shared CTE chain ending at ``dspans (doc_id, span_start,
    span_end, n_grams)`` — the merged disjoint duplicated-token spans;
    consumed by duplicate_spans_sql and remove_duplicate_spans_sql."""
    h = ROLLING_HASH.format(s="gram")
    return f"""toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(range(0, greatest(len(w) - {k} + 1, 0))) AS pos,
               unnest(list_transform(
                   range(0, greatest(len(w) - {k} + 1, 0)),
                   i -> array_to_string(w[i+1 : i+{k}], ' ')
               )) AS gram
        FROM toks
    ),
    hashed AS (SELECT doc_id, pos, {h} AS h FROM grams),
    dup AS (
        SELECT h FROM (SELECT DISTINCT doc_id, h FROM hashed)
        GROUP BY h HAVING count(*) >= {min_docs}
    ),
    flagged AS (
        SELECT doc_id, pos FROM hashed s
        WHERE EXISTS (SELECT 1 FROM dup d WHERE d.h = s.h)
    ),
    islands AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (
                   PARTITION BY doc_id ORDER BY pos
               ) AS grp
        FROM flagged
    ),
    spans AS (
        SELECT doc_id,
               min(pos) AS s,
               max(pos) + {k - 1} AS e,
               count(*) AS c
        FROM islands
        GROUP BY doc_id, grp
    ),
    flags AS (
        SELECT doc_id, s, e, c,
               CASE WHEN lag(e) OVER (PARTITION BY doc_id ORDER BY s)
                         IS NULL
                      OR s > lag(e) OVER (PARTITION BY doc_id ORDER BY s)
                    THEN 1 ELSE 0 END AS brk
        FROM spans
    ),
    mg AS (
        SELECT doc_id, s, e, c,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                              ROWS UNBOUNDED PRECEDING) AS mgrp
        FROM flags
    ),
    dspans AS (
        SELECT doc_id,
               CAST(min(s) AS BIGINT) AS span_start,
               CAST(max(e) AS BIGINT) AS span_end,
               CAST(sum(c) AS BIGINT) AS n_grams
        FROM mg
        GROUP BY doc_id, mgrp
    )"""


def duplicate_spans_sql(k: int = 5, min_docs: int = 2) -> str:
    """Twin of dedup.duplicate_spans: same gram/dup relation, parallel
    unnest zips (pos, gram), gaps-and-islands via pos - row_number,
    then the same second interval-merge pass (lag break flag + running
    sum) unioning island spans whose token intervals overlap."""
    return f"""
    WITH {_duplicate_spans_cte(k, min_docs)}
    SELECT doc_id, span_start, span_end, n_grams FROM dspans
    """


def remove_duplicate_spans_sql(k: int = 5, min_docs: int = 2) -> str:
    """Twin of dedup.remove_duplicate_spans: per-token membership test
    against the doc's (disjoint) spans, order-preserving reassembly via
    string_agg ORDER BY position; no-span docs pass through whole."""
    return f"""
    WITH {_duplicate_spans_cte(k, min_docs)},
    tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    kept AS (
        SELECT t.doc_id, p.i, t.w[p.i + 1] AS tok
        FROM tw t, unnest(range(0, len(t.w))) AS p(i)
        WHERE NOT EXISTS (
            SELECT 1 FROM dspans s
            WHERE s.doc_id = t.doc_id
              AND p.i BETWEEN s.span_start AND s.span_end
        )
    )
    SELECT t.doc_id,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '') AS clean_text,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           CAST(len(t.w) - count(k.tok) AS BIGINT) AS n_removed
    FROM tw t
    LEFT JOIN kept k USING (doc_id)
    GROUP BY t.doc_id, t.w
    """


def hard_negative_pairs_sql(
    n: int = DEFAULT_NGRAM, lo: float = 0.03, hi: float = 0.5
) -> str:
    """Twin of dedup.hard_negative_pairs: exact Jaccard over all
    co-shingled pairs, banded to [lo, hi) — related-but-not-duplicate
    pairs (the contrastive-training negatives)."""
    return f"WITH {_shingles_cte(n)}, {_jaccard_sql('', lo)} AND jaccard < {hi}"


def incremental_near_dup_sql(
    n: int = DEFAULT_NGRAM, threshold: float = 0.8
) -> str:
    """Twin of dedup.incremental_near_dup over the parity-split
    registered query: incoming = odd doc_ids probed against the
    even-doc_id corpus band index."""
    return f"""
    WITH {_minhash_bands_cte(n)},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_old
        FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk
        WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
        SELECT cd.doc_new, cd.doc_old, count(*) AS c
        FROM cand cd
        JOIN sh sa ON sa.doc_id = cd.doc_new
        JOIN sh sb ON sb.doc_id = cd.doc_old AND sb.h = sa.h
        GROUP BY 1, 2
    )
    SELECT s.doc_new, s.doc_old,
           round(s.c * 1.0 / (za.n + zb.n - s.c), 6) AS jaccard
    FROM shared s
    JOIN sizes za ON za.doc_id = s.doc_new
    JOIN sizes zb ON zb.doc_id = s.doc_old
    WHERE round(s.c * 1.0 / (za.n + zb.n - s.c), 6) >= {threshold}
    """


def dedup_representatives_sql(
    n: int = DEFAULT_NGRAM, threshold: float = 0.8
) -> str:
    """Twin of dedup.dedup_representatives: same clusters CTE, the
    representative via arg-max expressed as row_number over
    (n_chars DESC, doc_id ASC)."""
    return f"""
    WITH members AS ({near_dup_clusters_sql(n, threshold)}),
    enriched AS (
        SELECT m.cluster_id, m.doc_id, d.n_chars,
               row_number() OVER (
                   PARTITION BY m.cluster_id
                   ORDER BY d.n_chars DESC, m.doc_id ASC
               ) AS rn
        FROM members m JOIN documents d ON m.doc_id = d.doc_id
    )
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
               AS rep_doc_id,
           CAST(max(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
               AS rep_n_chars
    FROM enriched
    GROUP BY cluster_id
    """


def cdc_dup_chunks_sql(n: int = 4, mask_bits: int = 5) -> str:
    """Twin of dedup.cdc_dup_chunks: same 1-based gram positions, same
    rolling hash, boundary = h & mask == 0, chunk id as the exclusive
    running boundary count, position-weighted fingerprint."""
    mask = (1 << mask_bits) - 1
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
        SELECT doc_id, i AS pos,
               array_to_string(w[i:i+{n - 1}], ' ') AS s
        FROM toks, unnest(range(1, greatest(len(w) - {n - 1}, 0) + 1)) AS t(i)
    ),
    hashed AS (
        SELECT doc_id, pos, {ROLLING_HASH.format(s="s")} AS h FROM grams
    ),
    chunked AS (
        SELECT doc_id, pos, h,
               coalesce(sum(CASE WHEN (h & {mask}) = 0 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS chunk_id
        FROM hashed
    ),
    per_chunk AS (
        SELECT doc_id, chunk_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               min(pos) AS min_pos,
               CAST(sum(h) AS BIGINT) AS sum_h,
               CAST(sum(pos * h) AS BIGINT) AS sum_ph
        FROM chunked
        GROUP BY doc_id, chunk_id
    )
    SELECT (sum_ph - (min_pos - 1) * sum_h) % {P} AS fp,
           n_grams,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM per_chunk
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """


def winnowing_fingerprints_sql(n: int = 4, w: int = 5) -> str:
    """Twin of dedup.winnowing_fingerprints: same 1-based positions,
    same rolling hash, same h*2^20+(2^20-1-pos) argmin key, min over
    the trailing w-gram frame, distinct (doc, fp, fp_pos)."""
    pm = 1 << 20
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS word FROM documents),
    grams AS (
        SELECT doc_id, i AS pos,
               array_to_string(word[i:i+{n - 1}], ' ') AS s
        FROM toks,
             unnest(range(1, greatest(len(word) - {n - 1}, 0) + 1)) AS t(i)
        WHERE i < {pm}
    ),
    hashed AS (
        SELECT doc_id, pos, {ROLLING_HASH.format(s="s")} AS h FROM grams
    ),
    ng AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
           FROM hashed GROUP BY 1),
    keyed AS (
        SELECT doc_id, pos,
               min(h * {pm} + ({pm - 1} - pos))
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
                   AS minkey
        FROM hashed
    ),
    sel AS (
        SELECT DISTINCT doc_id,
               minkey // {pm} AS fp,
               {pm - 1} - (minkey % {pm}) AS fp_pos
        FROM keyed WHERE pos >= {w}
    ),
    per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
                FROM sel GROUP BY 1),
    fp_freq AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM sel GROUP BY 1),
    shared AS (
        SELECT sel.doc_id, CAST(count(*) AS BIGINT) AS n_shared_fp
        FROM sel JOIN fp_freq ON sel.fp = fp_freq.fp
        WHERE fp_freq.nd >= 2
        GROUP BY 1
    )
    SELECT ng.doc_id, ng.n_grams,
           coalesce(per_doc.n_fp, 0) AS n_fp,
           coalesce(shared.n_shared_fp, 0) AS n_shared_fp
    FROM ng
    LEFT JOIN per_doc ON ng.doc_id = per_doc.doc_id
    LEFT JOIN shared ON ng.doc_id = shared.doc_id
    """


def dedup_edit_distance_sql(
    n: int = DEFAULT_NGRAM, max_bp: int = 2000
) -> str:
    """Twin of dedup.dedup_edit_distance: identical banded candidates,
    DuckDB's unit-cost levenshtein, same normalization fold."""
    return f"""
    WITH {_lsh_candidates_cte(n)}
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
           CAST((levenshtein(da.text, db.text) * 10000) //
                greatest(length(da.text), length(db.text)) AS BIGINT)
               AS lev_bp
    FROM cand c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    WHERE (levenshtein(da.text, db.text) * 10000) //
          greatest(length(da.text), length(db.text)) <= {max_bp}
    ORDER BY c.doc_a, c.doc_b
    """
