"""Reusable column expressions — all JVM-side ``pyspark.sql.functions``.

Everything here stays inside whole-stage codegen (no Python UDFs): these
are the scalar building blocks for the wordcount pipeline (reference
``demo-etl-2a-notebook.py:53``), the sink enrichment columns
(``process_tsv.py:81-87``), and the north-star text/dedup operators.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Modulus for polynomial rolling hashes: large prime < 2^31 so the fold
# accumulator (acc*31 + c) stays well inside BIGINT range.
FNV_MOD = 1_000_000_007


def split_words(col: str | Column, sep: str = " ") -> Column:
    """Literal-separator split, preserving empty tokens.

    Mirrors the reference's ``split(df.review_body, " ")``
    (``demo-etl-2a-notebook.py:53``): Spark's second argument is a regex,
    so the separator is regex-escaped to keep literal semantics.
    """
    import re

    return F.split(F.col(col) if isinstance(col, str) else col, re.escape(sep))


def explode_words(col: str | Column, sep: str = " ") -> Column:
    """P1: project a derived token column — ``explode(split(text, ' '))``."""
    return F.explode(split_words(col, sep))


def normalize_text(col: str | Column) -> Column:
    """Lowercase + collapse whitespace — canonical form for dedup keys."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens_regex(col: str | Column) -> Column:
    """BPE-ish tokenization: letter runs, digit runs, single punctuation.

    The pattern uses only constructs with identical semantics in Java
    regex (Spark) and common SQL engines, so an oracle can reproduce it.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)


def word_ngrams(tokens: Column, n: int) -> Column:
    """Word n-gram shingles from a token array, JVM-side.

    ``transform`` over indices + ``slice`` — no Python UDF; scales as a
    narrow per-row transform. Docs with < n tokens yield an empty array
    via the guard: ``sequence(1, 0)`` would otherwise DESCEND ([1, 0])
    and feed slice an illegal start of 0.
    """
    make = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
        lambda i: F.array_join(F.slice(tokens, i, n), " "),
    )
    return F.when(F.size(tokens) >= n, make).otherwise(
        F.array().cast("array<string>")
    )


def rolling_hash(col: str | Column, base: int = 31, mod: int = FNV_MOD) -> Column:
    """Polynomial rolling hash of a string: fold (acc*base + ascii(ch)) % mod.

    Deterministic, engine-agnostic (reproducible in ANSI SQL via a list
    fold), used for document fingerprinting and as the token hash for
    MinHash signatures.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        F.split(c, ""),  # character array
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )


# --- composed shingle hashing (optimization round 10) -----------------------
#
# rolling_hash(word_ngram) via aggregate(split(s, "")) walks every CHARACTER
# of every shingle through an interpreted lambda and allocates the joined
# shingle string first — measured as the dominant map cost of the dedup
# family. A polynomial hash composes over concatenation:
#
#   H(x ∥ y) = (H(x) * base^|y| + H(y)) mod p
#
# so the hash of the n-gram  t_i ∥ " " ∥ t_{i+1} ∥ ... ∥ " " ∥ t_{i+n-1}
# can be folded from PER-TOKEN hashes: hash each token once per document
# (instead of once per shingle it appears in), never materialize the joined
# shingle string at all, and combine n per-token (h, 31^len) structs with
# O(n) long multiply-adds per shingle. Values are bit-identical to
# transform(word_ngrams(tokens, n), rolling_hash) — pinned by
# tests and by every oracle twin that replays the character fold.

_POW_TABLE_SIZE = 256
_POW_TABLES: dict[tuple[int, int], list[int]] = {}


def _pow_table(base: int, mod: int) -> list[int]:
    """[base^0 % mod, ..., base^(SIZE-1) % mod] — literal lookup for
    token lengths below _POW_TABLE_SIZE (folded fallback above)."""
    tab = _POW_TABLES.get((base, mod))
    if tab is None:
        tab = [1]
        for _ in range(_POW_TABLE_SIZE - 1):
            tab.append(tab[-1] * base % mod)
        _POW_TABLES[(base, mod)] = tab
    return tab


def _let(bound: Column, body) -> Column:
    """Evaluate ``body(x)`` with ``x`` bound ONCE to ``bound``.

    Spark expressions have no let-binding; referencing a subexpression
    twice re-evaluates it. A 1-element ``transform`` gives the sharing:
    the lambda variable is materialized once per row."""
    return F.element_at(F.transform(F.array(bound), body), 1)


def token_hash_structs(
    tokens: Column, base: int = 31, mod: int = FNV_MOD
) -> Column:
    """array<struct<h,pw>> per token: ``h`` = rolling_hash(token),
    ``pw`` = base^length(token) % mod — the sufficient statistics for
    composing any concatenation's rolling hash from its pieces."""
    tab = _pow_table(base, mod)

    def one(t: Column) -> Column:
        ln = F.length(t)
        pw = F.when(
            ln < _POW_TABLE_SIZE,
            F.element_at(F.array(*[F.lit(v) for v in tab]), ln + 1),
        ).otherwise(
            F.aggregate(
                F.sequence(F.lit(1), ln),
                F.lit(1).cast("long"),
                lambda acc, _i: (acc * base) % mod,
            )
        )
        return F.struct(
            rolling_hash(t, base, mod).alias("h"), pw.alias("pw")
        )

    return F.transform(tokens, one)


def word_ngram_hashes(
    tokens: Column, n: int, base: int = 31, mod: int = FNV_MOD
) -> Column:
    """array<long>: ``rolling_hash`` of each word n-gram, via the
    joined shingle string.

    r11 revert: this was the r10 composed per-token formulation
    (:func:`word_ngram_hashes_composed`), but same-session alternated
    A/Bs (plans/r11_ab_unproven.json, plans/r11_ab_minhash_hash.json)
    measured the composed form 1.08–2.28× SLOWER on 7 of its 9 consumer
    queries (token_loop_stats ×1.77, substring_dup_stats ×1.96,
    decontaminate_spans ×2.28, winnowing ×1.27, cdc ×1.26, ngram_jaccard
    ×1.14, jaccard_threshold_curve ×1.16) — the struct/let-binding
    machinery costs more per shingle than re-folding the (short) token
    characters saves. The two sites where composed measurably wins
    (ngram_novelty_curve ×0.64, tfidf_cosine_pairs ×0.79) call the
    composed variant explicitly. Both formulations are bit-identical
    (pinned by tests/test_ngram_hash_compose.py).
    """
    return F.transform(
        word_ngrams(tokens, n), lambda g: rolling_hash(g, base, mod)
    )


def word_ngram_hashes_composed(
    tokens: Column, n: int, base: int = 31, mod: int = FNV_MOD
) -> Column:
    """array<long>: ``rolling_hash`` of each word n-gram — value-
    identical to ``transform(word_ngrams(tokens, n), rolling_hash)``
    but computed WITHOUT building shingle strings: each token is
    char-folded once (h, 31^len), then each shingle is n-1 long
    multiply-adds composing  acc = (acc * 31^(len_k+1) + H(" " ∥ t_k))
    with  H(" " ∥ t_k) = (32 * 31^len_k + H(t_k)) % p  (ascii(' ')=32).

    Empty tokens round-trip exactly: rolling_hash("") folds one
    phantom ""-element to 0 (ascii("") = 0) and length("") = 0 gives
    pw = 1, so an empty token contributes exactly one ' ' character to
    the composed hash — the same characters array_join produces.

    Faster than the string fold only where per-token re-hashing
    dominates (many arms over one token relation / high explode
    volume); see :func:`word_ngram_hashes` for the r11 site-by-site
    measurements.
    """

    def body(th: Column) -> Column:
        def shingle(i: Column) -> Column:
            e0 = F.element_at(th, i)
            acc = e0.getField("h")
            for k in range(1, n):
                e = F.element_at(th, i + F.lit(k))
                pw = e.getField("pw")
                # (acc * 31^(len+1) + 32*31^len + h) % p — every factor
                # is < p (~1e9) so the widest product stays ~1e18 < 2^63
                acc = (
                    acc * ((pw * base) % mod)
                    + (F.lit(32) * pw + e.getField("h")) % mod
                ) % mod
            return acc

        make = F.transform(
            F.sequence(F.lit(1), F.size(th) - (n - 1)), shingle
        )
        return F.when(F.size(th) >= n, make).otherwise(
            F.array().cast("array<long>")
        )

    return _let(token_hash_structs(tokens, base, mod), body)


def stopword_ratio(tokens: Column, stopwords: list[str]) -> Column:
    """Fraction of tokens that are stopwords (0.0 for empty docs)."""
    hits = F.size(
        F.filter(tokens, lambda t: F.lower(t).isin([s.lower() for s in stopwords]))
    )
    return F.when(F.size(tokens) > 0, hits / F.size(tokens)).otherwise(F.lit(0.0))


# --- vector math over array<float>/array<double>, all JVM-side -------------


def dot(a: Column, b: Column) -> Column:
    """Dot product via zip_with + aggregate (double accumulator)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# --- scan-parallelism guard -------------------------------------------------


def spread_scan(df, min_factor: int = 2):
    """Repartition a too-few-partition input before an explode-heavy map
    stage.

    Small single-file test inputs arrive as ONE scan partition (a 600 KB
    parquet file is far below ``spark.sql.files.maxPartitionBytes``, and a
    single row group can't be byte-range split), which serializes the
    shingle/token explode — the dominant cost of the dedup family — onto
    one core. A round-robin ``repartition`` to the session's shuffle
    parallelism costs one tiny shuffle of the RAW rows (pre-explode, so
    bytes moved ≈ input size, not shingle volume) and buys full-width
    execution of the heavy map stage.

    At production scale the input already has ≥ shuffle-partition many
    splits, so the guard is a no-op branch — this never adds a shuffle to
    a 100 TB scan. Results are partitioning-invariant for every caller
    (hash/min/sum aggregates only).

    The ``.rdd`` probe converts the plan to an RDD (full physical
    planning) on the DRIVER — ~8 ms per call vs ~2 ms for a semantic
    plan hash (measured, plans/r11_ab_batch2.json), and it runs at
    build time for every spread_scan site of every query. Since
    ``io.load_tables`` hands out the same table plans all session, the
    partition count is cached per (applicationId, analyzed-plan
    semanticHash): same semantic plan + same session ⇒ same file
    listing and split size ⇒ same partition count.
    """
    try:
        target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        key = (
            df.sparkSession.sparkContext.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
        )
        n = _SPREAD_PROBE_CACHE.get(key)
        if n is None:
            n = df.rdd.getNumPartitions()
            if len(_SPREAD_PROBE_CACHE) > 4096:  # unbounded-growth stop
                _SPREAD_PROBE_CACHE.clear()
            _SPREAD_PROBE_CACHE[key] = n
    except Exception:  # streaming plans have no .rdd — leave untouched
        return df
    return df.repartition(target) if n * min_factor <= target else df


_SPREAD_PROBE_CACHE: dict[tuple[str, int], int] = {}
