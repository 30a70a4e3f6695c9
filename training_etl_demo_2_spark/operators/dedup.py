"""Deduplication operators for training-data pipelines (north-star,
SURVEY §2.12): exact, n-gram Jaccard, MinHash+LSH, SimHash.

All four are expressed RELATIONALLY — shingle→hash→join→aggregate on
DataFrames, no Python UDFs and no driver-side loops — so Catalyst
plans them as shuffle joins + partial aggregates that scale linearly
with data and cluster size. The hash functions are plain integer
arithmetic (polynomial rolling hash mod 2^31-ish prime), reproducible
in ANSI SQL: the DuckDB oracle twins are generated from the SAME
constants by ``oracle.py`` in this package.

Cache lifecycle policy: operators persist intra-query intermediates
(shingle / band / candidate / edge relations) so one derived relation
feeds multiple subtrees of the SAME returned plan; they intentionally
do NOT unpersist — the returned DataFrame is lazy, so an in-operator
unpersist would fire before the caller materializes and forfeit the
reuse. The harnesses (bench.py, tools/check_oracle.py) call
``spark.catalog.clearCache()`` between queries; long-lived sessions
embedding these operators should do the same after materializing.

Scale design (100 TB):
* Shingles are joined BY 8-BYTE HASH, never by string — shuffle volume
  drops ~3× vs raw shingle keys; collisions (p ≈ n²/2·1e-9 per doc
  pair) only perturb a Jaccard estimate identically in engine and
  oracle.
* MinHash+LSH replaces the O(n²) shingle self-join with band-bucket
  joins: only documents sharing a (band, key) bucket meet — the
  classic banding scheme (Broder 1997; Leskovec/Rajaraman/Ullman ch.3).
  NUM_PERM=32, 8 bands × 4 rows → P(candidate | j=0.9) ≈ 0.9998,
  P(candidate | j=0.07) ≈ 2e-7 on the fixture's background pairs.
* SimHash 64-bit + 4 bands × 16 bits: by pigeonhole, hamming ≤ 3 ⇒ at
  least one band identical, so the banded join finds EVERY pair with
  hamming ≤ 3 (it is exact, not approximate, for that predicate).
  Band width is the discrimination knob: 16-bit bands give 65,536
  buckets per band, so random-pair collisions per band are ~n²/2/65,536
  instead of n²/2/256 — the difference between a near-dup set and a
  quadratic pair blow-up (round-2 lesson). Each fingerprint bit comes
  from an independent universal hash of the token hash
  (((a_b·h + b_b) mod P) mod 2), so all 64 bits are unbiased even
  though the token hash itself only carries ~30 bits (mod P).
* Exact dedup is a single groupBy on the normalized-text hash; at
  100 TB group on the 8-byte fingerprint, not the document body.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..cache import tracked_persist

from ..functions import (
    FNV_MOD,
    normalize_text,
    rolling_hash,
    spread_scan,
    word_ngram_hashes,
    word_ngram_hashes_composed,
    word_ngrams,
)

# ---- shared constants (oracle.py generates matching SQL from these) ----
P = 1_000_000_007
NUM_PERM = 32
BANDS = 8
ROWS_PER_BAND = NUM_PERM // BANDS
# Deterministic hash-family coefficients: a_i odd-ish, b_i offset.
MINHASH_A = [((i + 1) * 2_654_435_761) % P for i in range(NUM_PERM)]
MINHASH_B = [((i + 1) * 40_503 + 12_345) % P for i in range(NUM_PERM)]
SIMHASH_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
# Per-bit universal-hash coefficients: bit b of a token's SimHash
# contribution is ((SIMHASH_A[b]*h + SIMHASH_B[b]) % P) % 2. The token
# hash h < P carries only ~30 bits, so bits must be DERIVED hashes, not
# raw bit positions (positions ≥ 30 would be constant-zero). Products
# stay < P² < 2^63, exact in BIGINT on both engines.
SIMHASH_A = [((i + 1) * 2_654_435_761) % P for i in range(SIMHASH_BITS)]
SIMHASH_B = [((i + 1) * 97_673 + 11) % P for i in range(SIMHASH_BITS)]
DEFAULT_NGRAM = 3


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup on normalized text: one representative (min doc_id)
    per distinct content, with the copy count. Single hash-agg shuffle
    keyed on the 8-byte fingerprint of the normalized text."""
    return (
        df.select("doc_id", rolling_hash(normalize_text(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def _keep_first_by_fp(df_with_fp: DataFrame) -> DataFrame:
    """Deterministic-winner selection shared by every keep-first exact
    dedup: min doc_id per fingerprint, semi-joined back. One helper so
    the winner rule can never drift between the batch and incremental
    variants (both must keep matching their oracle twins)."""
    keep = (
        df_with_fp.groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return df_with_fp.drop("fp").join(keep, "doc_id", "semi")


def drop_exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep-first exact dedup returning surviving full rows (the
    dropDuplicates-with-deterministic-winner variant)."""
    return _keep_first_by_fp(
        df.withColumn("fp", rolling_hash(normalize_text(text_col)))
    )


def incremental_dedup(
    incoming: DataFrame, corpus: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Dedup an INCOMING batch against an existing corpus: drop incoming
    rows whose normalized-content fingerprint already exists in the
    corpus, then keep-first within the batch itself. This is how a
    100 TB corpus actually grows — per-delivery batches checked against
    the accumulated collection, never a full re-dedup.

    Scale shape: the corpus side reduces to its DISTINCT 8-byte
    fingerprints before the anti-join (a semi-structure orders of
    magnitude smaller than the corpus, amortizable as a stored
    fingerprint table); the anti-join shuffles on the fingerprint. The
    within-batch pass is the standard fingerprint groupBy over the
    (much smaller) surviving batch."""
    fp = rolling_hash(normalize_text(text_col)).alias("fp")
    seen = corpus.select(fp).distinct()
    fresh = (
        incoming.withColumn("fp", rolling_hash(normalize_text(text_col)))
        .join(seen, "fp", "anti")
    )
    return _keep_first_by_fp(fresh)


# ---------------------------------------------------------------------------
# segment-level (CCNet-style "line") dedup
# ---------------------------------------------------------------------------

LINE_SEG_WORDS = 10  # fixture segmenter: fixed word-count chunks


def _fixed_segments(text_col: str, seg_words: int) -> Column:
    """Chunk the token stream into consecutive ``seg_words``-word
    segments (last one may be shorter). The fixture documents carry no
    newlines, so the segmenter is positional; on a real corpus swap
    this one expression for ``F.split(text, "\\n")`` and everything
    downstream — counting, filtering, reassembly — is unchanged."""
    toks = F.split(F.col(text_col), " ")
    n_seg = F.ceil(F.size(toks) / F.lit(float(seg_words))).cast("int")
    make = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(
            F.slice(toks, i * seg_words + 1, seg_words), " "
        ),
    )
    return F.when(n_seg >= 1, make).otherwise(F.array().cast("array<string>"))


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    seg_words: int = LINE_SEG_WORDS,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-wide segment dedup (the CCNet/RefinedWeb "line dedup"
    pass): drop every text segment that appears in >= ``min_docs``
    DISTINCT documents — boilerplate headers, navigation chrome,
    license blocks — and reassemble each document from its surviving
    segments in original order.

    Returns (doc_id, clean_text, n_kept, n_dropped); documents whose
    every segment is boilerplate survive with empty clean_text (the
    caller decides whether to drop empties).

    Scale shape: segments explode narrowly from the scan; the
    boilerplate relation is ``count(DISTINCT doc) >= min_docs`` grouped
    ON THE 8-BYTE SEGMENT HASH (never the string), so the counting
    shuffle moves (hash, doc_id) pairs only. The flagging join is
    hash-keyed against that (vocabulary-sized, heavily filtered)
    relation — AQE broadcasts it when small. The only corpus-sized
    shuffle is the unavoidable reassembly groupBy(doc_id), which moves
    each surviving segment string exactly once.
    """
    segs = df.select(
        "doc_id",
        F.posexplode(_fixed_segments(text_col, seg_words)).alias("pos", "seg"),
    ).withColumn("h", rolling_hash(F.col("seg")))
    boiler = (
        segs.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
        .withColumn("__dup", F.lit(1))
    )
    flagged = segs.join(boiler, "h", "left").withColumn(
        "dup", F.coalesce(F.col("__dup"), F.lit(0))
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("pos"), F.col("dup"), F.col("seg")))
    )
    kept = F.filter(ordered, lambda s: s["dup"] == 0)
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(kept, lambda s: s["seg"]), " "
        ).alias("clean_text"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.count(F.lit(1)) - F.size(kept)).cast("long").alias("n_dropped"),
    )


def intra_doc_repetition(
    df: DataFrame, text_col: str = "text", seg_words: int = LINE_SEG_WORDS
) -> DataFrame:
    """WITHIN-document segment repetition — the crawl-artifact detector
    for pages that repeat their own content (pagination echoes, infinite
    -scroll duplication, template loops). ``line_dedup`` removes segments
    repeated ACROSS documents; this flags documents whose segments
    repeat INSIDE themselves — the complementary axis (Gopher's
    repetition filters measure words/n-grams; this is the
    segment-granularity version).

    Per doc over the same positional segmenter as line_dedup:
    n_segs, n_distinct, max_mult (the most-repeated segment's
    multiplicity), dup_seg_bp = basis points of segments that are
    repeats of an earlier one. All exact integers.

    Physical shape: narrow segment explode → ONE groupBy(doc_id,
    segment-hash) with map-side partials → per-doc aggregate; the
    second groupBy re-uses the first's hash partitioning on the
    doc_id prefix, so Catalyst plans a single exchange.
    """
    segs = df.select(
        "doc_id", F.explode(_fixed_segments(text_col, seg_words)).alias("seg")
    ).select("doc_id", rolling_hash(F.col("seg")).alias("h"))
    per = segs.groupBy("doc_id", "h").agg(F.count(F.lit(1)).cast("long").alias("m"))
    n_segs = F.sum("m").cast("long")
    n_distinct = F.count(F.lit(1)).cast("long")
    return per.groupBy("doc_id").agg(
        n_segs.alias("n_segs"),
        n_distinct.alias("n_distinct"),
        F.max("m").cast("long").alias("max_mult"),
        F.floor(F.lit(1e4) * (n_segs - n_distinct) / n_segs + F.lit(0.5))
        .cast("long")
        .alias("dup_seg_bp"),
    )


PARA_SEG_WORDS = 3  # gate-entry segmenter: short enough that the
# fixture corpus actually contains intra-doc repeats (at the default
# 10-word grain the synthetic docs have none, so the removal rule
# would be untestable end-to-end)


def paragraph_dedup(
    df: DataFrame, text_col: str = "text", seg_words: int = PARA_SEG_WORDS
) -> DataFrame:
    """Intra-document PARAGRAPH dedup — the REMOVAL half of
    ``intra_doc_repetition`` (which only measures): MassiveText's
    repetition treatment (Rae et al. 2021, Gopher appendix A) drops
    repeated paragraphs/lines inside a document, keeping the FIRST
    occurrence, because crawl artifacts (pagination echoes, template
    loops, infinite-scroll duplication) repeat a page's own content.
    Sits between ``line_dedup`` (cross-document segment removal) and
    ``remove_duplicate_spans`` (corpus-wide substring removal) in the
    dedup ladder: same positional segmenter, document-local rule.

    Per doc: keep segment occurrence iff its position is the FIRST
    with that segment hash in the same document; reassemble survivors
    in original order; report MassiveText's two repetition metrics as
    exact basis points (share of duplicate paragraphs; share of
    characters inside duplicate paragraphs).

    Output: (doc_id, clean_text, n_paras, n_dup_paras,
    dup_para_share_bp, dup_char_share_bp) for every doc with non-NULL
    text (a NULL text segments to nothing and drops out — identically
    in the SQL twin, so the gate compares the same domain).

    Scale shape: narrow segment explode → ONE hash-partitioned window
    over (doc_id, segment-hash) for the keep-first rule (no global
    sort; the min is per-key) → the unavoidable reassembly
    groupBy(doc_id), which moves each surviving segment string exactly
    once — identical exchange structure to ``line_dedup``, minus its
    corpus-wide boilerplate join.
    """
    from pyspark.sql import Window

    segs = df.select(
        "doc_id",
        F.posexplode(_fixed_segments(text_col, seg_words)).alias("pos", "seg"),
    ).withColumn("h", rolling_hash(F.col("seg")))
    w = Window.partitionBy("doc_id", "h")
    flagged = segs.withColumn(
        "dup", (F.col("pos") > F.min("pos").over(w)).cast("int")
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("pos"), F.col("dup"), F.col("seg")))
    )
    kept = F.filter(ordered, lambda s: s["dup"] == 0)
    n_paras = F.count(F.lit(1)).cast("long")
    n_dup = F.sum("dup").cast("long")
    dup_chars = F.sum(F.col("dup") * F.length("seg")).cast("long")
    tot_chars = F.sum(F.length("seg")).cast("long")
    return flagged.groupBy("doc_id").agg(
        F.array_join(F.transform(kept, lambda s: s["seg"]), " ").alias(
            "clean_text"
        ),
        n_paras.alias("n_paras"),
        n_dup.alias("n_dup_paras"),
        F.floor(F.lit(10000) * n_dup / n_paras)
        .cast("long")
        .alias("dup_para_share_bp"),
        F.when(tot_chars > 0, F.floor(F.lit(10000) * dup_chars / tot_chars))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dup_char_share_bp"),
    )


# ---------------------------------------------------------------------------
# shingling (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------


def shingle_hashes(
    df: DataFrame, text_col: str = "text", n: int = DEFAULT_NGRAM
) -> DataFrame:
    """(doc_id, h): DISTINCT word-n-gram shingles as 8-byte hashes —
    set semantics, as Jaccard set sizes require. The dedup is entirely
    ROW-LOCAL (``array_distinct`` before the explode): each document is
    one input row, so (doc_id, h) needs no global ``.distinct()``
    shuffle. (The vestigial ``distinct`` flag the r10 rewrite had
    silently ignored was removed in r11 — no caller passed it.)

    The input passes through :func:`spread_scan` first: the n-gram
    explode is the dominant map cost of the whole dedup family, and a
    single-file test input would otherwise run it on one core."""
    df = spread_scan(df)
    tokens = F.split(F.col(text_col), " ")
    # word_ngram_hashes folds each joined shingle string. array_distinct
    # on the HASHES equals the distinct-strings-then-hash set: duplicate
    # strings hash equal. Each doc is ONE input row, so (doc_id, h) is
    # already unique after the row-local array_distinct — no global
    # .distinct() shuffle.
    sh = df.select(
        "doc_id",
        F.explode(F.array_distinct(word_ngram_hashes(tokens, n))).alias("h"),
    )
    return sh


def _pair_jaccard(
    sh: DataFrame,
    pairs: DataFrame | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard per doc pair from a (doc_id, h) shingle relation.

    Without ``pairs``: all co-shingled pairs via the h-keyed self-join —
    the ground-truth path, O(pairs sharing a shingle).

    With ``pairs`` (candidate verification): the intersection is
    computed FROM the candidates — pairs ⋈ shingles(doc_a) ⋈ shingles
    (doc_b, h) — so cost is O(Σ_candidates |shingles(doc_a)|), not the
    full self-join. This is what makes LSH banding actually pay off:
    the verify stage must scale with the candidate count, never with
    the corpus pair count.

    ``sizes`` (optional, r10): a (doc_id, n) relation supplied by the
    caller — callers holding the shingle-ARRAY relation pass
    ``hs.select("doc_id", size("hs"))``, which is row-local and skips
    the groupBy shuffle this fallback pays.
    """
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    if pairs is not None:
        a_sh = sh.select(F.col("doc_id").alias("doc_a"), "h")
        b_sh = sh.select(F.col("doc_id").alias("doc_b"), "h")
        shared = (
            pairs.join(a_sh, "doc_a")
            .join(b_sh, ["doc_b", "h"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
    else:
        a = sh.select(F.col("doc_id").alias("doc_a"), "h")
        b = sh.select(F.col("doc_id").alias("doc_b"), "h")
        shared = (
            a.join(b, ["h"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
    return (
        shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact near-dup pairs: word-n-gram Jaccard ≥ threshold via a
    shingle-hash self-join. Exact but O(pairs sharing a shingle); at
    100 TB prefer ``minhash_lsh_pairs`` (adds banding so only bucket
    collisions meet) — this one is the ground-truth/verify path."""
    sh = shingle_hashes(df, text_col, n).transform(tracked_persist)
    return (
        _pair_jaccard(sh)
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT (Broder 1997's
    second resemblance measure): cont_a = |A∩B| / |A| — the fraction of
    doc_a's shingles that also appear in doc_b — and cont_b likewise.
    A pair survives when EITHER direction ≥ threshold.

    This is the subset-duplication detector symmetric Jaccard
    structurally misses: a 50-shingle excerpt fully embedded in a
    2000-shingle page has containment 1.0 but Jaccard ≈ 0.025 — quotes,
    syndicated fragments, and doc-in-doc concatenations all look like
    that. LLM pipelines run it beside Jaccard dedup because partial
    copies inflate memorization just like full copies.

    Physical shape: identical to the exact-Jaccard tier — shingle-hash
    self-join keyed on the 8-byte hash, then two size joins; only the
    scoring expression differs. Exact but O(pairs sharing a shingle),
    so this is the ground-truth/verify tier. The LSH banding shortcut
    does NOT carry over at scale: a MinHash signature of a long doc is
    dominated by its non-shared shingles, so banding under-recalls
    exactly the asymmetric pairs this measure exists to find. At 100 TB
    generate candidates from the SMALLER side instead — index each
    doc's k smallest shingle hashes (a bottom-k sketch of A; containment
    |A∩B|/|A| is estimable from bottom-k(A) ∩ B — implemented as
    ``bottomk_containment_pairs`` below) and bucket-join on
    those, verifying survivors through this exact scorer.
    """
    sh = shingle_hashes(df, text_col, n).transform(tracked_persist)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    shared = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("shared") / F.col("na"), 6).alias("cont_a"),
            F.round(F.col("shared") / F.col("nb"), 6).alias("cont_b"),
        )
        .filter(F.greatest(F.col("cont_a"), F.col("cont_b")) >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _shingle_arrays(
    df: DataFrame, text_col: str = "text", n: int = DEFAULT_NGRAM
) -> DataFrame:
    """(doc_id, hs: array<long>): each document's DISTINCT shingle-hash
    set as a row-local array — the zero-shuffle sibling of
    :func:`shingle_hashes`.

    Everything the MinHash family needs is per-document set math, so
    the whole signature pipeline can stay inside one narrow projection:
    signatures are ``array_min(transform(hs, ...))``, verification is
    ``array_intersect`` — no explode, no groupBy, no distinct shuffle.
    The exploded relation remains the right shape only where a
    SHINGLE-keyed join is the algorithm (exact Jaccard ground truth,
    prefix filter, bottom-k) — those keep :func:`shingle_hashes`.

    Array size is O(tokens per doc) — the same order as the text column
    the row already carries, so rows don't get wider than the input in
    any meaningful sense; at 100 TB the verify join ships arrays for
    CANDIDATE pairs only. Values are byte-identical to the exploded
    path (hash of duplicate shingles collapses under the outer
    array_distinct exactly as the global distinct did).

    Docs shorter than ``n`` tokens have NO shingles: the exploded path
    drops them (explode of an empty array emits no rows), so the array
    path must drop them too — an empty-array row would otherwise flow
    NULL ``array_min`` signatures and NULL band keys into every
    downstream consumer (lsh_cost_advisor counts buckets per band key,
    so one phantom NULL bucket diverges from the exploded-semantics
    oracle twins)."""
    return _shingle_arrays_from_tokens(_token_relation(df, text_col), n)


def _token_relation(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, toks): split-token arrays — the shared upstream of every
    word-shingle derivation. Multi-arm curve queries (shingle_n_curve)
    tracked-persist THIS relation once and derive each n's shingles from
    it, so the corpus scan + split runs once instead of per arm."""
    return spread_scan(df).select(
        "doc_id", F.split(F.col(text_col), " ").alias("toks")
    )


def _shingle_arrays_from_tokens(toks_df: DataFrame, n: int) -> DataFrame:
    """The hs-array derivation from a (doc_id, toks) relation."""
    tokens = F.col("toks")
    # short-doc filter on TOKEN COUNT, not on the derived hs column:
    # tokens >= n  <=>  hs non-empty, but a filter on size(hs) makes
    # Catalyst evaluate the whole ngram+hash+distinct chain twice
    # (Filter and Project don't share the subexpression — measured ~2x
    # on the map stage)
    # array_distinct on the shingle HASHES needs no distinct on the
    # strings first: duplicate shingle strings hash equal.
    return toks_df.filter(F.size(tokens) >= n).select(
        "doc_id",
        F.array_distinct(word_ngram_hashes(tokens, n)).alias("hs"),
    )


def _signature_cols(hs: Column | str = "hs") -> list[Column]:
    """The 32 MinHash signature columns m0..m31 from a shingle-hash
    array — row-local ``array_min`` per permutation, no aggregation."""
    h = F.col(hs) if isinstance(hs, str) else hs
    return [
        F.array_min(
            F.transform(
                h, lambda x: (F.lit(MINHASH_A[i]) * x + F.lit(MINHASH_B[i])) % P
            )
        ).alias(f"m{i}")
        for i in range(NUM_PERM)
    ]


def minhash_signatures(
    df: DataFrame, text_col: str = "text", n: int = DEFAULT_NGRAM
) -> DataFrame:
    """32-perm MinHash signature per doc: min over shingles of
    (a_i·h + b_i) mod P for each i — computed ROW-LOCALLY over the
    per-doc shingle-hash array (zero shuffles; min() is
    duplicate-insensitive so set-vs-multiset is immaterial)."""
    return _shingle_arrays(df, text_col, n).select("doc_id", *_signature_cols())


def _band_key(cols: list[Column]) -> Column:
    key = cols[0]
    for c in cols[1:]:
        key = (key * 31 + c) % P
    return key


def _band_relation(hs: DataFrame) -> DataFrame:
    """(doc_id, hs, band, bk) LSH band keys from a shingle-ARRAY relation
    (:func:`_shingle_arrays` output), with each row's shingle array
    passed through for callers that verify on it (column pruning drops
    it everywhere else) — signature mins and the band-key
    fold are row-local projections, so the only row multiplication is
    the 8-rows-per-doc band posexplode. This relation IS the
    persistent-index format the incremental path probes, so every
    caller (self-join ``minhash_lsh_pairs``, batch-vs-index
    ``incremental_near_dup``, the banding evaluators) must derive it
    identically — values are pinned against the r01 exploded-groupBy
    formulation by the oracle twins."""
    sig = hs.select("doc_id", "hs", *_signature_cols())
    band_cols = [
        _band_key(
            [F.col(f"m{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"bk{b}")
        for b in range(BANDS)
    ]
    # Deliberately NOT persisted (r10 A/B): both self-join sides hash-
    # exchange on (band, bk) over an identical child, so ReuseExchange
    # already computes the signature projection once — persist measured
    # neutral at sf0.1 and only adds materialization latency.
    return sig.select(
        "doc_id",
        "hs",
        F.posexplode(F.array(*band_cols)).alias("band", "bk"),
    )


def _pair_jaccard_arrays(hs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard for CANDIDATE pairs from the shingle-array
    relation: two doc-keyed joins ship each candidate's arrays to one
    row, then ``array_intersect`` scores it locally — cost is
    O(Σ_candidates (|A|+|B|)), the bounded-verify property, with no
    exploded intersection groupBy at all."""
    a = hs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha"))
    b = hs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb"))
    shared = F.size(F.array_intersect("ha", "hb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                shared / (F.size("ha") + F.size("hb") - shared), 6
            ).alias("jaccard"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, exact-Jaccard verified.

    sig → 8 band keys → posexplode to (band, key) → self-join on the
    bucket → distinct candidates → verify with exact Jaccard ≥
    threshold. The candidate join touches only same-bucket rows, the
    scale path for n² dedup.
    """
    # The shingle-ARRAY relation feeds the band keys AND the
    # exact-Jaccard verification; everything before the bucket join is
    # row-local (no signature groupBy, no distinct shuffle — see
    # _shingle_arrays). Persist it: the n-gram + rolling-hash scan (the
    # dominant map cost) runs once. MEMORY_AND_DISK: ~input-sized, disk
    # -spillable at 100 TB — persisting the derived relation, never the
    # corpus.
    hs = _shingle_arrays(df, text_col, n).transform(tracked_persist)
    return _minhash_pairs_from_arrays(hs, threshold)


def _minhash_pairs_from_arrays(hs: DataFrame, threshold: float) -> DataFrame:
    """Banding + bucket join + exact-Jaccard verify from an (already
    persisted) hs-array relation — shared by :func:`minhash_lsh_pairs`
    and the multi-arm curve queries that derive several hs relations
    from one persisted token scan."""
    bands = _band_relation(hs)
    left = bands.select(F.col("doc_id").alias("doc_a"), "band", "bk")
    right = bands.select(F.col("doc_id").alias("doc_b"), "band", "bk")
    candidates = (
        left.join(right, ["band", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Persist the (tiny) verified pair relation: it has two consumers in
    # a typical session — the pairs query itself and the clustering pass
    # built on it — and plan-identical calls cache-hit, so clustering
    # never re-runs banding + verification.
    return (
        _pair_jaccard_arrays(hs, pairs=candidates)
        .filter(F.col("jaccard") >= threshold)
        .transform(tracked_persist)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash over word tokens (Charikar 2002): per bit, sum
    ±weight over token hashes; bit = 1 iff the sum is positive.

    Physical shape: exploded token occurrences → ONE groupBy(doc_id)
    with 64 conditional-sum aggregates — a single shuffle, and the
    partial (map-side) aggregation compacts each doc to one 64-column
    row before anything moves. Per-OCCURRENCE ±1 sums equal the
    per-distinct-token ±tf sums exactly (each occurrence contributes
    its token's sign once), so the (doc, token)→count pre-aggregation
    the textbook formulation suggests is a pure extra shuffle — dropped
    (measured ~20% faster at sf0.1, fingerprints bit-identical). Bit b
    is an independent universal hash of the token hash
    (((a_b·h + b_b) % P) % 2), so all 64 fingerprint bits are unbiased.
    Columnar bit-sums replace the naive explode-64-rows-per-token plan:
    64× less shuffled data, all inside whole-stage codegen.

    The fingerprint is a signed BIGINT: bit 63 contributes -2^63 (the
    two's-complement weight), so engine and oracle agree exactly with
    no unsigned arithmetic anywhere. Distinct powers of two never
    overflow the accumulator.
    """
    occ = df.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).select("doc_id", rolling_hash(F.col("tok")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(
                ((F.lit(SIMHASH_A[b]) * F.col("h") + F.lit(SIMHASH_B[b])) % P) % 2
                == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = occ.groupBy("doc_id").agg(*bit_sums)
    simhash = None
    for b in range(SIMHASH_BITS):
        weight = -(2**63) if b == SIMHASH_BITS - 1 else 2**b
        term = F.when(F.col(f"s{b}") > 0, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    return per_doc.select("doc_id", simhash.alias("simhash"))


def hamming_band_pairs(
    fp: DataFrame,
    id_col: str,
    hash_col: str,
    n_bands: int = SIMHASH_BANDS,
    band_bits: int = SIMHASH_BAND_BITS,
    max_hamming: int = 3,
) -> DataFrame:
    """Generic banded hamming join: all id pairs whose ``hash_col``
    fingerprints differ in ≤ ``max_hamming`` bits, via ``n_bands`` ×
    ``band_bits`` bucket joins. EXACT whenever max_hamming < n_bands
    (pigeonhole: that few flipped bits cannot touch every band), while
    joining only bucket collisions instead of n² pairs. Shared by text
    SimHash and media perceptual hashing.

    Signed fingerprints are fine: arithmetic shiftright + mask extracts
    band b's bits identically to a logical shift (the mask discards any
    sign-extension), matching the oracle's ``(h >> s) & mask``."""
    band_cols = [
        F.shiftright(hash_col, b * band_bits)
        .bitwiseAND(F.lit(2**band_bits - 1))
        .alias(f"bk{b}")
        for b in range(n_bands)
    ]
    # persist (r10): BOTH sides of the bucket self-join read this
    # relation — without the barrier the upstream fingerprint pass
    # (SimHash bit sums / perceptual-hash Python pass) runs twice
    bands = fp.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("fpv"),
        F.posexplode(F.array(*band_cols)).alias("band", "bk"),
    ).transform(tracked_persist)
    left = bands.select(
        F.col("id").alias("doc_a"), F.col("fpv").alias("fp_a"), "band", "bk"
    )
    right = bands.select(
        F.col("id").alias("doc_b"), F.col("fpv").alias("fp_b"), "band", "bk"
    )
    return (
        left.join(right, ["band", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)  # before distinct: the
        # dedup shuffle then carries only matching pairs, not every
        # band-bucket collision
        .distinct()
    )


def simhash_near_pairs(
    df: DataFrame, text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """All pairs with SimHash hamming distance ≤ max_hamming, found via
    4 × 16-bit band buckets. For max_hamming ≤ 3 this is EXACT (pigeonhole:
    ≤3 differing bits cannot hit all 4 bands), yet joins only bucket
    collisions instead of n² pairs — 65,536 buckets per band keeps the
    candidate set near-dup-sized, not quadratic."""
    fp = simhash_fingerprints(df, text_col)
    return hamming_band_pairs(
        fp, "doc_id", "simhash", SIMHASH_BANDS, SIMHASH_BAND_BITS, max_hamming
    )


# ---------------------------------------------------------------------------
# near-dup clustering (pairs -> connected components -> keep-one)
# ---------------------------------------------------------------------------


# Below this edge count the whole component computation fits one task:
# union-find over ~50M 16-byte edges is < 1 GiB task memory and beats
# the per-round stage latency of distributed propagation by 10-100×.
CC_SINGLE_TASK_EDGES = 10_000_000


def _cc_single_task(edges: DataFrame) -> DataFrame:
    """Exact connected components in ONE executor task: coalesce the
    (already-bounded) edge list into a single partition and run
    union-find with path compression inside mapInPandas. No driver
    collect — the graph stays executor-side; only the chosen strategy
    is driver knowledge. cluster_id = min node id in the component,
    matching the label-propagation tier bit-for-bit."""
    out_schema = "doc_id long, cluster_id long"

    def uf(batches):
        import pandas as pd

        parent: dict[int, int] = {}

        def find(v: int) -> int:
            root = v
            while parent[root] != root:
                root = parent[root]
            while parent[v] != root:  # path compression
                parent[v], v = root, parent[v]
            return root

        for pdf in batches:
            for x, y in zip(pdf["x"], pdf["y"]):
                x, y = int(x), int(y)
                parent.setdefault(x, x)
                parent.setdefault(y, y)
                rx, ry = find(x), find(y)
                if rx != ry:
                    # union by min id: the smaller root wins, so every
                    # tree root IS the component minimum
                    lo, hi = (rx, ry) if rx < ry else (ry, rx)
                    parent[hi] = lo
        if parent:
            yield pd.DataFrame(
                {"doc_id": list(parent), "cluster_id": [find(v) for v in parent]}
            )

    return edges.coalesce(1).mapInPandas(uf, out_schema)


def connected_components(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b", max_iter: int = 25
) -> DataFrame:
    """Connected components over an undirected pair graph:
    (node, cluster_id = min node id reachable).

    Physical strategy is picked from RUNTIME stats (the AQE idea, one
    level up): the materialized edge count decides between

    * **single-task union-find** (edge count ≤ CC_SINGLE_TASK_EDGES) —
      near-dup pair graphs are orders of magnitude smaller than the
      corpus, so after LSH even a 100 TB corpus usually yields a
      task-sized component problem; one mapInPandas task solves it in
      milliseconds instead of paying multi-stage latency per round.
    * **iterative min-label propagation** — each round joins current
      labels across edges and takes the min, converging in O(diameter)
      rounds (near-dup clusters are shallow: diameter typically 2-3).
      Every round is eagerly local-checkpointed: iterative DataFrame
      algorithms MUST truncate lineage, or round N's plan embeds rounds
      1..N-1 and Catalyst analysis explodes (on a cluster needing
      failure tolerance, swap localCheckpoint for checkpoint). Only a
      convergence count reaches the driver.

    Both tiers return identical labels (cluster_id = component min).
    """
    edges = pairs.select(F.col(a).alias("x"), F.col(b).alias("y"))
    edges = (
        edges.union(edges.select(F.col("y").alias("x"), F.col("x").alias("y")))
        .distinct()
        .localCheckpoint()  # materialize ONCE: the pair plan (LSH) never reruns
    )
    if edges.count() <= CC_SINGLE_TASK_EDGES:
        return _cc_single_task(edges)
    labels = (
        edges.select(F.col("x").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr = edges.join(labels, edges["y"] == labels["node"]).select(
            F.col("x").alias("node"), "label"
        )
        new_labels = (
            labels.select("node", "label")
            .union(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.withColumnRenamed("label", "new")
            .join(labels, "node")
            .filter(F.col("new") != F.col("label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def fuzzy_name_pairs(
    df: DataFrame, name_col: str, max_dist: int = 2
) -> DataFrame:
    """Fuzzy string matching: distinct-value pairs within edit distance
    ``max_dist``, via token blocking + exact Levenshtein verify —
    entity-resolution's canonical candidate/verify shape.

    Blocking: two names are candidates iff they SHARE a whitespace
    token, so the join is token-keyed (cost O(Σ same-token pairs)),
    never |names|². Verify: built-in ``F.levenshtein`` (JVM codegen).
    Recall caveat, stated plainly: an edit that touches every token can
    evade token blocking; at ≤ 2 edits over multi-word names that needs
    both words edited — rare, and the fixture oracle (a full pair join,
    deliberately blocking-free) proves full recall on this corpus. For
    guaranteed recall at distance k, swap the blocking key for
    deletion-neighborhood signatures (k-deletion variants per token).

    Runs on DISTINCT names first: value-space (vocabulary) is orders of
    magnitude smaller than row-space at 100 TB."""
    names = df.select(F.col(name_col).alias("name")).distinct()
    toks = names.select(
        "name", F.explode(F.split(F.col("name"), " ")).alias("tok")
    )
    a = toks.select(F.col("name").alias("name_a"), "tok")
    b = toks.select(F.col("name").alias("name_b"), "tok")
    cand = (
        a.join(b, "tok")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b").cast("int"))
        .filter(F.col("dist") <= max_dist)
    )


def fuzzy_name_pairs_sql(
    table: str, name_col: str, max_dist: int = 2
) -> str:
    """Oracle twin — deliberately BLOCKING-FREE (full distinct-pair
    join), so it independently proves the token blocking loses nothing
    on the fixture corpus."""
    return f"""
    WITH n AS (SELECT DISTINCT {name_col} AS name FROM {table})
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist
    FROM n a JOIN n b ON a.name < b.name
    WHERE levenshtein(a.name, b.name) <= {max_dist}
    """


def near_dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash-LSH pairs closed under
    transitivity — (doc_id, cluster_id) for every doc in some near-dup
    group. Pairs tell you who matches; clusters are what dedup actually
    acts on (keep cluster_id, drop the rest)."""
    pairs = minhash_lsh_pairs(df, text_col, n, threshold)
    return connected_components(pairs)


# ---------------------------------------------------------------------------
# exact substring-duplication statistics (sliding k-gram tier)
# ---------------------------------------------------------------------------


def substring_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document exact substring-duplication statistics: the fraction
    of each document's SLIDING k-word grams that also occur in at least
    ``min_docs - 1`` OTHER documents — the corpus-level signal behind
    suffix-array substring dedup ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022). Sliding grams (stride 1)
    catch duplicated spans at ANY offset, unlike ``line_dedup``'s fixed
    chunks which only catch alignment-preserving boilerplate.

    Returns (doc_id, n_grams, n_dup_grams, dup_gram_bp):
      * n_grams      — sliding k-grams in the doc (0 if < k tokens)
      * n_dup_grams  — gram occurrences whose hash appears in >= min_docs
                       DISTINCT docs
      * dup_gram_bp  — 10000 * n_dup_grams / n_grams, integer division
                       (exact basis points; no float anywhere)

    Scale shape (100 TB): grams explode narrowly from the scan (k rows
    per token — bounded blow-up, no shuffle); the duplicated-gram
    relation groups ON THE 8-BYTE GRAM HASH, so the counting shuffle
    moves (hash, doc_id) pairs only, and the flagging join is hash-keyed
    against that heavily-filtered relation (AQE broadcasts it when
    small). Downstream span REMOVAL is a per-doc interval merge over the
    flagged positions; the stats tier is the corpus-wide (and
    oracle-checkable) part. Left-join + conditional count keeps docs
    with zero duplicated grams and docs shorter than k tokens in the
    output (n_grams = 0, bp = 0).
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    # Deliberately NOT persisted even though two branches consume it:
    # the exploded gram relation is ~k× corpus-sized, so materializing
    # it costs more than the second streaming pass at every scale
    # (measured 0.68 vs 0.80 s at sf0.1;
    # at 100 TB persisting a 5× corpus explode is memory-hostile).
    grams = spread_scan(df).select(
        "doc_id",
        F.explode(word_ngram_hashes(toks, k)).alias("h"),
    )
    dup = (
        grams.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h", F.lit(1).alias("__dup"))
    )
    flagged = grams.join(dup, "h", "left")
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.coalesce(F.col("__dup"), F.lit(0))).cast("long").alias("n_dup_grams"),
    )
    # Docs with < k tokens produce no gram rows at all: restore them
    # with zero counts so the output covers every input document.
    base = df.select("doc_id")
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias("n_dup_grams"),
        )
        .withColumn(
            "dup_gram_bp",
            F.when(
                F.col("n_grams") > 0,
                # floor() explicitly: both engines floor the same exact
                # double (values < 1e8, exact in float64); a bare
                # cast-to-long TRUNCATES on Spark but ROUNDS on DuckDB.
                F.floor(
                    F.lit(10000) * F.col("n_dup_grams") / F.col("n_grams")
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dup_gram_bp"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """MAXIMAL duplicated token spans per document — the actionable
    output behind ``substring_dup_stats``: consecutive duplicated
    k-gram positions merged into intervals (the classic gaps-and-
    islands window: island id = pos − row_number), so a span remover
    can cut [span_start, span_end] directly instead of re-deriving
    runs from per-gram flags. This is the relational half of
    suffix-array substring dedup (Lee et al. 2022): find every maximal
    span whose k-grams all occur in ≥ min_docs documents.

    Output: (doc_id, span_start, span_end, n_grams) — token indices,
    0-based inclusive; span_end = last gram's position + k − 1;
    n_grams = flagged gram positions inside the span. Spans are
    disjoint in TOKEN space: islands are maximal runs of gram
    POSITIONS, and two islands separated by a position gap < k produce
    token intervals that overlap (k=5, flagged positions 0–2 and 4–5
    give [0,6] and [4,9]), so a second interval-merge pass unions any
    such overlapping intervals before emitting — a naive span remover
    can cut every row independently without double-cutting tokens.

    Scale shape: the gram explode and duplicated-gram relation are
    exactly substring_dup_stats' (hash-keyed count + flag join); the
    added work is TWO per-doc windows over only the FLAGGED positions
    / island spans (near-dup-sized, not corpus-sized) and their
    aggregates.
    """
    toks = F.split(F.lower(F.col(text_col)), " ")
    grams = spread_scan(df).select(
        "doc_id",
        F.posexplode(word_ngram_hashes(toks, k)).alias("pos", "h"),
    )
    # both the dup-gram relation and the flag join consume grams: one
    # materialization instead of two explode+hash corpus passes
    grams = grams.transform(tracked_persist)
    dup = (
        grams.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    flagged = grams.join(dup, "h", "semi")
    return _merge_flagged_spans(flagged, k)


def _merge_flagged_spans(flagged: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos) flagged k-gram positions → maximal DISJOINT token
    spans (the gaps-and-islands + interval-merge core shared by
    ``duplicate_spans`` and ``decontaminate_spans``)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = flagged.withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    )
    spans = islands.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("long").alias("s"),
        (F.max("pos") + F.lit(k - 1)).cast("long").alias("e"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    # Interval-merge pass: islands are disjoint in gram-position space
    # but their token intervals overlap when the position gap < k.
    # Spans per doc have strictly increasing s AND e, so a lag-based
    # break flag + running sum is a full interval merge (no cummax
    # needed). Same window key as the island pass — tiny relation.
    ws = Window.partitionBy("doc_id").orderBy("s")
    wrun = ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged = (
        spans.withColumn(
            "brk",
            F.when(
                F.lag("e").over(ws).isNull()
                | (F.col("s") > F.lag("e").over(ws)),
                1,
            ).otherwise(0),
        )
        .withColumn("mgrp", F.sum("brk").over(wrun))
    )
    return (
        merged.groupBy("doc_id", "mgrp")
        .agg(
            F.min("s").cast("long").alias("span_start"),
            F.max("e").cast("long").alias("span_end"),
            F.sum("c").cast("long").alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """The REMOVAL half of substring dedup (Lee et al. 2022): cut every
    duplicated span found by ``duplicate_spans`` out of the text and
    reassemble the remainder. Because the spans are disjoint in token
    space (the interval-merge pass), removal is a single per-token
    membership test — no double-cut bookkeeping.

    Output: (doc_id, clean_text, n_tokens, n_removed) for EVERY input
    document (no-span docs pass through with n_removed = 0).

    Scale shape: the span relation is near-dup-sized and joins on
    doc_id; the removal itself is a narrow higher-order-function pass
    (transform + exists over the doc's own span list — spans per doc
    are few) — no new shuffle beyond the span join.
    """
    return _cut_spans(df, duplicate_spans(df, text_col, k, min_docs), text_col)


def _cut_spans(df: DataFrame, spans: DataFrame, text_col: str) -> DataFrame:
    """Cut ``spans`` (disjoint token intervals per doc) out of ``df``'s
    text — the reassembly core shared by ``remove_duplicate_spans`` and
    ``decontaminate_spans``. Every input doc is emitted (no-span docs
    pass through with n_removed = 0)."""
    span_sets = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = F.split(F.col(text_col), " ")
    sp = F.coalesce(
        F.col("__spans"),
        F.expr("CAST(array() AS array<struct<span_start:bigint,span_end:bigint>>)"),
    )
    indexed = F.transform(toks, lambda x, i: F.struct(x.alias("w"), i.alias("i")))
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            sp,
            lambda r: (s["i"] >= r["span_start"]) & (s["i"] <= r["span_end"]),
        ),
    )
    return (
        df.select("doc_id", text_col)
        .join(span_sets, "doc_id", "left")
        .select(
            "doc_id",
            F.array_join(
                F.transform(kept, lambda s: s["w"]), " "
            ).alias("clean_text"),
            F.size(toks).cast("long").alias("n_tokens"),
            (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# PageRank centrality on the near-dup graph
# ---------------------------------------------------------------------------

PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85


def pagerank_near_dup_graph(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
    iters: int = PAGERANK_ITERS,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank centrality over the undirected near-duplicate graph
    (MinHash-LSH pairs): the canonical iterative join-agg algorithm on
    DataFrames (Pregel-style supersteps), and a useful dedup signal —
    the highest-rank node of a near-dup cluster is its most-connected
    "canonical" representative, a principled alternative to min-id
    winner rules.

    Fixed ``iters`` supersteps; each is one edge⋈rank join + one
    dst-keyed sum — 2 shuffles per superstep, the standard distributed
    PageRank shape (at 100 TB: pre-partition edges by src so the join
    side is co-located and only the rank relation moves). Nodes come
    from pairs, so every node has degree >= 1 — no dangling-mass term.
    Scores stay unnormalized against the induced-graph size (init 1.0,
    teleport (1 - d)): ranks are comparable within the graph, and the
    oracle unrolls the identical recurrence as a CTE chain. Per-node
    contribution sums are order-nondeterministic double accumulation;
    after ``iters`` rounds the drift is ~1e-13 — far inside the
    round-6 output grid.
    """
    pairs = minhash_lsh_pairs(df, text_col, n, threshold)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    # iterative plan reuse: the edge relation feeds every superstep.
    # deg is attached to the persisted edges ONCE (r10): each superstep
    # was re-joining deg separately — 2 joins per superstep for a value
    # that never changes. Persisting (src, dst, deg) halves the join
    # count; pr/deg per edge is unchanged arithmetic.
    edges = edges.transform(tracked_persist)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    deg_edges = tracked_persist(edges.join(deg, "src"))
    ranks = deg.select(F.col("src").alias("doc_id"), F.lit(1.0).alias("pr"))
    for _ in range(iters):
        contribs = (
            deg_edges.join(
                ranks.withColumnRenamed("doc_id", "src"), "src"
            )
            .select("dst", (F.col("pr") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = contribs.select(
            F.col("dst").alias("doc_id"),
            (F.lit(1.0 - damping) + F.lit(damping) * F.col("s")).alias("pr"),
        )
    return ranks.select("doc_id", F.round("pr", 6).alias("pr"))


def pagerank_near_dup_graph_sql(
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
    iters: int = PAGERANK_ITERS,
    damping: float = 0.85,
) -> str:
    """Unrolled-CTE twin of pagerank_near_dup_graph: the identical
    recurrence materialized as it0..itN CTEs over the same LSH pairs."""
    from .oracle import minhash_lsh_sql

    steps = []
    for i in range(iters):
        prev = "it0" if i == 0 else f"it{i}"
        steps.append(
            f"""it{i + 1} AS (
        SELECT e.dst AS doc_id,
               {1.0 - damping} + {damping} * sum(r.pr / d.deg) AS pr
        FROM edges e
        JOIN {prev} r ON r.doc_id = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH pairs AS ({minhash_lsh_sql(n, threshold)}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
    it0 AS (SELECT src AS doc_id, 1.0::DOUBLE AS pr FROM deg),
    {chain}
    SELECT doc_id, round(pr, 6) AS pr FROM it{iters}
    """


def near_dup_degree_hist(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> DataFrame:
    """Degree histogram of the near-duplicate graph: how many documents
    have exactly d near-dup neighbours. The dedup-QA gauge that
    separates healthy pairwise duplication (degree 1-2) from hub
    pathology — a boilerplate template matched by thousands of pages
    shows up as a heavy-degree node long before clustering collapses
    into one giant component (and predicts union-find/propagation cost:
    max degree bounds the widest star).

    Scale shape: the LSH pair relation (already persisted) reduces to
    per-node degree counts (one shuffle on doc id) and a tiny
    degree-keyed histogram aggregate. Output: (degree, n_docs),
    exact longs.
    """
    pairs = minhash_lsh_pairs(df, text_col, n, threshold)
    nodes = pairs.select(F.col("doc_a").alias("doc_id")).union(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    deg = nodes.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def duplicate_provenance(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Provenance of exact duplicates: for every content fingerprint
    appearing ≥ 2 times, the copy count and the SORTED set of sources
    carrying it — the doc-grain evidence behind ``source_overlap_matrix``
    ("which feeds mirror each other") that decides canonical-source
    rules and licensing-sensitive drops (the same bytes arriving via a
    permissive and a restricted feed is a policy event, not just a
    dedup statistic).

    Scale shape: one groupBy on the 8-byte fingerprint (the exact-dedup
    shuffle) with a collect_set over the tiny source label; the sorted
    comma-join makes the set column a deterministic STRING on both
    engines. Output: (keep_id, n_copies, n_sources, sources).
    """
    fps = df.select(
        "doc_id", "source", rolling_hash(normalize_text(text_col)).alias("fp")
    )
    return (
        fps.groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.count_distinct("source").cast("long").alias("n_sources"),
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias(
                "sources"
            ),
        )
        .filter(F.col("n_copies") >= 2)
        .select("keep_id", "n_copies", "n_sources", "sources")
    )


def near_dup_provenance(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> DataFrame:
    """Provenance at NEAR-dup granularity: for every near-duplicate
    cluster, the member count and sorted source set — the fuzzy-tier
    sibling of ``duplicate_provenance`` (exact fingerprints). On real
    web corpora most mirroring is near-exact (tracking params, footer
    swaps), so this is the view that actually catches cross-feed
    mirroring; the exact tier catches byte-level re-deliveries.

    Scale shape: cluster membership (already bounded by the LSH pair
    relation) joins the corpus only on (doc_id, source) — two scalar
    columns — then one cluster-keyed aggregate with the same
    deterministic sorted-set string as the exact tier.
    """
    members = near_dup_clusters(df, text_col, n, threshold)
    return (
        members.join(df.select("doc_id", "source"), "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("source").cast("long").alias("n_sources"),
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias(
                "sources"
            ),
        )
    )


def source_overlap_matrix(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Cross-source duplicate overlap: for every pair of sources, how
    many DISTINCT normalized-content fingerprints they share — the
    corpus diagnostic for "which feeds mirror each other" that decides
    source-level dedup order and mixture double-counting corrections.

    Scale shape: the corpus reduces to distinct (source, fp) — the
    same 8-byte fingerprint relation exact dedup already builds — and
    the pair join is fp-keyed; output is |sources|² rows at most. The
    n_shared count is DISTINCT fps per pair, so multi-copy content
    can't inflate overlap.
    """
    fps = df.select(
        "source", rolling_hash(normalize_text(text_col)).alias("fp")
    ).distinct()
    a = fps.select(F.col("source").alias("source_a"), "fp")
    b = fps.select(F.col("source").alias("source_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count_distinct("fp").cast("long").alias("n_shared"))
    )


SOURCE_OVERLAP_MATRIX_SQL = f"""
    WITH fps AS (
        SELECT DISTINCT source,
               {{fp}} AS fp
        FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
    GROUP BY 1, 2
"""


def source_overlap_matrix_sql() -> str:
    from .oracle import NORMALIZE, ROLLING_HASH

    return SOURCE_OVERLAP_MATRIX_SQL.format(
        fp=ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    )


def hard_negative_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    lo: float = 0.03,
    hi: float = 0.5,
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: document
    pairs that are lexically RELATED but NOT near-duplicates — exact
    Jaccard in [lo, hi) over the LSH candidate set plus the shared-
    shingle graph. These are the "confusable" pairs contrastive
    training needs (easy negatives are random; near-dups are false
    negatives and get excluded by the hi bound).

    Candidate generation must cast a wider net than dedup: banding at
    NUM_PERM=32 rarely fires below j≈0.5, so candidates come from the
    shared-shingle join (any pair with >= 1 common shingle hash)
    bounded the same way ngram-Jaccard dedup bounds it — the shuffle
    is shingle-hash-keyed, and the verify is the same exact-Jaccard
    aggregate. Output is symmetric-free (doc_a < doc_b) and fully
    deterministic (round-6 jaccard, integer ids).
    """
    sh = shingle_hashes(df, text_col, n).transform(tracked_persist)
    return (
        _pair_jaccard(sh, pairs=None)
        .filter((F.col("jaccard") >= lo) & (F.col("jaccard") < hi))
    )


def lsh_recall_eval(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> DataFrame:
    """LSH evaluation as a query: MinHash-banding candidate recall
    against the exact shingle-join ground truth at the same Jaccard
    threshold — one row (n_exact, n_lsh, tp, fp, fn). Verified LSH
    pairs can never be false positives (the verify stage applies the
    exact predicate), so fp == 0 is itself an assertable invariant;
    fn counts pairs the banding missed. This is the recall harness
    that runs corpus-side (set algebra over two pair relations, no
    driver materialization) — at 100 TB you run it on a sampled slab
    to monitor banding health after any parameter change.
    """
    # ONE persisted shingle-array relation (r10) feeds BOTH tiers: the
    # exploded exact-tier relation is derived by exploding the
    # row-local distinct arrays (identical to the old globally-distinct
    # exploded relation), so the corpus is tokenized+hashed once, not
    # twice.
    hs = _shingle_arrays(df, text_col, n).transform(tracked_persist)
    sh = hs.select("doc_id", F.explode("hs").alias("h")).transform(
        tracked_persist
    )
    row_sizes = hs.select("doc_id", F.size("hs").cast("long").alias("n"))
    exact = (
        _pair_jaccard(sh, sizes=row_sizes)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.lit(1).alias("in_exact"))
    )
    lsh = _minhash_pairs_from_arrays(hs, threshold).select(
        "doc_a", "doc_b", F.lit(1).alias("in_lsh")
    )
    both = exact.join(lsh, ["doc_a", "doc_b"], "full_outer")
    return both.agg(
        F.sum(F.coalesce(F.col("in_exact"), F.lit(0))).cast("long").alias("n_exact"),
        F.sum(F.coalesce(F.col("in_lsh"), F.lit(0))).cast("long").alias("n_lsh"),
        F.sum(
            F.coalesce(F.col("in_exact"), F.lit(0))
            * F.coalesce(F.col("in_lsh"), F.lit(0))
        )
        .cast("long")
        .alias("tp"),
        F.sum(
            (F.lit(1) - F.coalesce(F.col("in_exact"), F.lit(0)))
            * F.coalesce(F.col("in_lsh"), F.lit(0))
        )
        .cast("long")
        .alias("fp"),
        F.sum(
            F.coalesce(F.col("in_exact"), F.lit(0))
            * (F.lit(1) - F.coalesce(F.col("in_lsh"), F.lit(0)))
        )
        .cast("long")
        .alias("fn"),
    )


def lsh_recall_eval_sql(n: int = DEFAULT_NGRAM, threshold: float = 0.8) -> str:
    from .oracle import minhash_lsh_sql, ngram_jaccard_sql

    return f"""
    WITH exact_pairs AS ({ngram_jaccard_sql(n, threshold)}),
    lsh_pairs AS ({minhash_lsh_sql(n, threshold)}),
    paired AS (
        SELECT coalesce(e.doc_a, l.doc_a) AS doc_a,
               coalesce(e.doc_b, l.doc_b) AS doc_b,
               CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_exact,
               CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_lsh
        FROM exact_pairs e
        FULL OUTER JOIN lsh_pairs l
          ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
    )
    SELECT CAST(sum(in_exact) AS BIGINT) AS n_exact,
           CAST(sum(in_lsh) AS BIGINT) AS n_lsh,
           CAST(sum(in_exact * in_lsh) AS BIGINT) AS tp,
           CAST(sum((1 - in_exact) * in_lsh) AS BIGINT) AS fp,
           CAST(sum(in_exact * (1 - in_lsh)) AS BIGINT) AS fn
    FROM paired
    """


# ---------------------------------------------------------------------------
# triangle census over the near-duplicate graph
# ---------------------------------------------------------------------------


def near_dup_triangles(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> DataFrame:
    """Triangle census of the near-duplicate graph: edges, open wedges,
    and closed triangles — the global clustering signal for dedup QA.
    Near-duplication is *approximately* transitive, so a healthy LSH
    pair graph closes most of its wedges (3·triangles ≈ wedges); a
    wedge-heavy, triangle-poor graph means the threshold is admitting
    accidental pairs (chains a~b~c where a,c share nothing).

    Wedges count EVERY unordered neighbor pair around every middle
    vertex (Σ_v C(deg v, 2) — the symmetric adjacency join; an
    id-ordered join would silently miss every wedge whose hub is the
    min or max of its neighbors). Triangles use compact-forward on the
    id-ascending edges ``minhash_lsh_pairs`` emits — each triangle
    counted exactly once — so the closure ratio is 3·n_triangles /
    n_wedges. At 100 TB the joins shuffle on single vertex keys; the
    standard skew mitigation (split high-degree vertices) applies
    unchanged. Output is one row of exact BIGINT counts. The pair
    relation arrives persisted from ``minhash_lsh_pairs``; no second
    copy is cached here.
    """
    e = minhash_lsh_pairs(df, text_col, n, threshold).select(
        "doc_a", "doc_b"
    )
    adj = e.select(F.col("doc_a").alias("m"), F.col("doc_b").alias("x")).union(
        e.select(F.col("doc_b").alias("m"), F.col("doc_a").alias("x"))
    )
    wedges = (
        adj.select("m", F.col("x").alias("a"))
        .join(adj.select("m", F.col("x").alias("c")), "m")
        .filter(F.col("a") < F.col("c"))
        .select("a", "m", "c")
    )
    # triangles stay on the ORIENTED edges (a<b<c chains): each triangle
    # closes exactly one such chain, so no /3 correction is needed
    fwd = (
        e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .join(
            e.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c")),
            "b",
        )
        .select("a", "c")
    )
    tri = fwd.join(
        e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c")),
        ["a", "c"],
    )
    counts = (
        e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        .crossJoin(
            wedges.agg(F.count(F.lit(1)).cast("long").alias("n_wedges"))
        )
        .crossJoin(
            tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        )
    )
    return counts


def near_dup_triangles_sql(
    n: int = DEFAULT_NGRAM, threshold: float = 0.8
) -> str:
    from .oracle import minhash_lsh_sql

    return f"""
    WITH pairs AS MATERIALIZED ({minhash_lsh_sql(n, threshold)}),
    e AS (SELECT doc_a, doc_b FROM pairs),
    adj AS (
        SELECT doc_a AS m, doc_b AS x FROM e
        UNION ALL
        SELECT doc_b AS m, doc_a AS x FROM e
    ),
    wedges AS (
        SELECT w1.x AS a, w1.m, w2.x AS c
        FROM adj w1 JOIN adj w2 ON w1.m = w2.m AND w1.x < w2.x
    ),
    fwd AS (
        SELECT e1.doc_a AS a, e2.doc_b AS c
        FROM e e1 JOIN e e2 ON e1.doc_b = e2.doc_a
    ),
    tri AS (
        SELECT f.a, f.c
        FROM fwd f JOIN e ON f.a = e.doc_a AND f.c = e.doc_b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(count(*) AS BIGINT) FROM wedges) AS n_wedges,
           (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_triangles
    """


def incremental_near_dup(
    incoming: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup check of an INCOMING batch against the existing corpus —
    the production shape of MinHash dedup at 100 TB: per-delivery
    batches probe the accumulated band index, never an all-pairs
    re-dedup. (``incremental_dedup`` is the exact-fingerprint tier of
    the same idea; this is its banded-LSH sibling for near-misses.)

    The candidate join is batch-bands ⋈ corpus-bands — cost scales
    with the BATCH's bucket collisions, not the corpus pair count; the
    corpus side of the join is the (doc, band, key) relation a real
    deployment stores as the persistent LSH index and appends each
    accepted batch to. Verification computes exact Jaccard only for
    candidates (the bounded-verify property the whole family relies
    on). Doc-id sets must be disjoint. Output: (doc_new, doc_old,
    jaccard) — each incoming row's near-matches in the corpus.
    """
    cols = ["doc_id", text_col]
    both = incoming.select(*cols).unionByName(corpus.select(*cols))
    hs = _shingle_arrays(both, text_col, n).transform(tracked_persist)
    bands = _band_relation(hs)
    new_bands = bands.join(
        incoming.select("doc_id"), "doc_id", "semi"
    ).select(F.col("doc_id").alias("doc_a"), "band", "bk")
    old_bands = bands.join(
        corpus.select("doc_id"), "doc_id", "semi"
    ).select(F.col("doc_id").alias("doc_b"), "band", "bk")
    cand = (
        new_bands.join(old_bands, ["band", "bk"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    return (
        _pair_jaccard_arrays(hs, pairs=cand)
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("doc_a").alias("doc_new"),
            F.col("doc_b").alias("doc_old"),
            "jaccard",
        )
    )

# ---------------------------------------------------------------------------
# prefix-filtered exact Jaccard self-join (PPJoin-family candidate pruning)
# ---------------------------------------------------------------------------


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT Jaccard >= threshold pairs via prefix filtering — the
    deterministic alternative to MinHash banding (Chaudhuri et al.
    SSJoin / Xiao et al. PPJoin family, public literature).

    Candidate generation: order every document's shingle set by GLOBAL
    document frequency (rarest first; ties broken by the hash value, so
    the order is a strict total order shared by all docs), and keep
    only each doc's PREFIX of length ``|S| - ceil(t*|S|) + 1``. Two
    sets with Jaccard >= t must share at least one prefix element —
    dropping the last ceil(t*|S|)-1 elements can remove at most that
    many of the >= ceil(t*|S|) intersection witnesses — so joining
    prefix-to-prefix loses NO qualifying pair: unlike LSH there are no
    false negatives, and the exact verify stage removes all false
    positives. A length filter (t*|B| <= |A| <= |B|/t in exact integer
    arithmetic) prunes size-incompatible candidates before they reach
    the verifier.

    Scale (100 TB): the posting lists that get self-joined are the
    RAREST tokens of each doc — precisely the shortest lists — so
    candidate volume tracks near-duplicate density, not corpus size².
    The threshold is materialized as an exact integer fraction p/q, so
    prefix lengths and the length filter are integer arithmetic —
    bit-identical on every engine and immune to float-boundary drift
    (0.6*5 must be exactly 3). Global doc-frequency is one extra
    aggregate over the shingle relation the verify stage needs anyway.
    Output is hash-identical to ``ngram_jaccard_pairs`` at the same
    threshold; the oracle twin IS the exact-pair SQL.
    """
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(10_000)
    p, q = fr.numerator, fr.denominator
    sh = shingle_hashes(df, text_col, n).transform(tracked_persist)
    cand = _prefix_candidates(sh, p, q)
    return _pair_jaccard(sh, pairs=cand).filter(F.col("jaccard") >= threshold)


def _prefix_candidates(
    sh: DataFrame, p: int, q: int, positional: bool = True
) -> DataFrame:
    """(doc_a, doc_b) candidates from the prefix self-join, with the
    length filter and (by default) PPJoin's POSITIONAL filter.

    Positional filter: a match of A's prefix element at set position
    i with B's at position j bounds the overlap — for the pair's
    MINIMAL common element (smallest global order) no common element
    precedes it in either set, so O <= 1 + min(|A|-i, |B|-j). Since
    J >= p/q  ⟺  O·(p+q) >= p·(|A|+|B|) and the minimal witness row
    always exists when any witness does (it is in both prefixes
    whenever any common element is), keeping a pair iff ANY matching
    row passes ``(p+q)·(1+min(sza-pos_a, szb-pos_b)) >= p·(sza+szb)``
    prunes candidates with zero false negatives — the standard second
    PPJoin prune, all in exact integer arithmetic."""
    from pyspark.sql import Window

    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("dfreq"))
    w = Window.partitionBy("doc_id").orderBy("dfreq", "h")
    # set size via count() over the SAME doc_id partitioning as the
    # rank window — one exchange feeds both, no separate sizes join
    w_sz = Window.partitionBy("doc_id")
    ranked = sh.join(dfreq, "h").select(
        "doc_id",
        "h",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(w_sz).alias("sz"),
    )
    # prefix length = sz - ceil(p*sz/q) + 1, all-integer: DIV is exact.
    # both sides of the candidate self-join read the prefix relation —
    # persist it so the dfreq join + double window run once, not twice
    prefix = (
        ranked.filter(
            F.col("pos")
            <= F.col("sz") - F.expr(f"({p} * sz + {q - 1}) DIV {q}") + F.lit(1)
        )
        .select("doc_id", "h", "pos", "sz")
        .transform(tracked_persist)
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "h",
        F.col("pos").alias("pos_a"),
        F.col("sz").alias("sza"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "h",
        F.col("pos").alias("pos_b"),
        F.col("sz").alias("szb"),
    )
    joined = a.join(b, "h").filter(
        (F.col("doc_a") < F.col("doc_b"))
        # J >= t  ⇒  t <= min/max  ⇒  p*max(sza,szb) <= q*min(sza,szb)
        & (
            F.lit(p) * F.greatest("sza", "szb")
            <= F.lit(q) * F.least("sza", "szb")
        )
    )
    if positional:
        joined = joined.filter(
            F.lit(p + q)
            * (
                F.lit(1)
                + F.least(
                    F.col("sza") - F.col("pos_a"),
                    F.col("szb") - F.col("pos_b"),
                )
            )
            >= F.lit(p) * (F.col("sza") + F.col("szb"))
        )
    return joined.select("doc_a", "doc_b").distinct()


# ---------------------------------------------------------------------------
# canonical-representative election per near-dup cluster
# ---------------------------------------------------------------------------


def _elect_representatives(members: DataFrame, sized: DataFrame) -> DataFrame:
    """(cluster_id, n_docs, rep_doc_id, rep_n_chars): the canonical
    representative election — longest text (n_chars) wins, ties to the
    lowest doc_id, as one map-side-combinable ``max(struct)`` aggregate.
    ``members`` is a (doc_id, cluster_id) relation, ``sized`` any
    relation carrying (doc_id, n_chars). Single source of truth for the
    rule shared by ``dedup_representatives``, ``dedup_quality_regret``,
    ``dedup_funnel_report`` and the corpus pipeline (r11: previously
    inlined at each site — a tie-break change could silently diverge).
    """
    return (
        members.join(sized.select("doc_id", "n_chars"), "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max(
                F.struct(
                    F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")
                )
            ).alias("rep"),
        )
        .select(
            "cluster_id",
            "n_docs",
            (-F.col("rep.neg_id")).cast("long").alias("rep_doc_id"),
            F.col("rep.n_chars").cast("long").alias("rep_n_chars"),
        )
    )


def dedup_representatives(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> DataFrame:
    """WHICH copy to keep: for every near-dup cluster
    (``near_dup_clusters``), elect the canonical document — longest
    text wins (n_chars), ties to the lowest doc_id. Clusters say what
    to collapse; this says what survives the collapse (the actual
    "keep one, drop k-1" decision every dedup pipeline ends with,
    and the provenance row auditors ask for).

    One aggregation, no window: the representative is
    ``max(struct(n_chars, -doc_id))`` — struct ordering gives
    longest-then-lowest-id in a single map-side-combinable agg, so
    beyond the cluster relation itself this adds one doc-keyed
    broadcast-ready join and one groupBy on cluster_id.

    Output: (cluster_id, n_docs, rep_doc_id, rep_n_chars).
    """
    members = near_dup_clusters(df, text_col, n, threshold)
    return _elect_representatives(members, df)


# ---------------------------------------------------------------------------
# content-defined chunking (CDC) + duplicate-chunk statistics
# ---------------------------------------------------------------------------

CDC_GRAM = 4
# Boundary when the gram's rolling hash ≡ 0 (mod 2^CDC_MASK_BITS):
# expected chunk length 2^CDC_MASK_BITS grams.
CDC_MASK_BITS = 5


def cdc_dup_chunks(
    df: DataFrame,
    text_col: str = "text",
    n: int = CDC_GRAM,
    mask_bits: int = CDC_MASK_BITS,
) -> DataFrame:
    """Content-defined chunking (Muthitacharoen et al., LBFS SOSP'01)
    with cross-document duplicate-chunk statistics — the
    paragraph-granular dedup layer between line dedup (exact segments)
    and MinHash (whole-doc): chunk boundaries are set where a rolling
    hash of the local word n-gram hits 0 mod 2^mask_bits, so
    boundaries survive insertions/deletions elsewhere in the document
    (unlike fixed-size chunking, where one inserted word shifts every
    downstream chunk).

    Chunk fingerprints are position-weighted hash sums:
    Σ (pos−min_pos+1)·h (mod p) — order-sensitive within the chunk,
    computed from plain aggregates (Σ pos·h − (min_pos−1)·Σ h), no
    per-chunk string rebuild. Output: one row per REPEATED fingerprint
    (≥2 occurrences corpus-wide) with occurrence/doc counts — the
    chunks worth deduplicating.

    Scale shape: gram explode (narrow), one doc-keyed window for the
    boundary prefix count (parallel per doc), one (doc, chunk) groupBy,
    one fingerprint groupBy. No self-joins; cost tracks corpus token
    count, dup stats track repeated-chunk count.
    """
    tokens = F.split(F.col(text_col), " ")
    grams = spread_scan(df).select(
        "doc_id",
        F.posexplode(word_ngram_hashes(tokens, n)).alias("pos", "h"),
    ).select(
        "doc_id",
        (F.col("pos") + 1).alias("pos"),  # 1-based, matches the oracle
        "h",
    )
    mask = (1 << mask_bits) - 1
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boundary = (F.col("h").bitwiseAND(F.lit(mask)) == 0).cast("long")
    chunked = grams.withColumn(
        "chunk_id",
        F.coalesce(F.sum(boundary).over(w_prev), F.lit(0)).cast("long"),
    )
    per_chunk = chunked.groupBy("doc_id", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.min("pos").alias("min_pos"),
        F.sum("h").alias("sum_h"),
        F.sum(F.col("pos") * F.col("h")).alias("sum_ph"),
    )
    fp = (
        (F.col("sum_ph") - (F.col("min_pos") - 1) * F.col("sum_h"))
        % F.lit(FNV_MOD)
    ).alias("fp")
    return (
        per_chunk.select("doc_id", "n_grams", fp)
        .groupBy("fp", "n_grams")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_chunks") >= 2)
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (MOSS)
# ---------------------------------------------------------------------------

WIN_K = 4  # gram size
WIN_W = 5  # winnowing window (grams per window)
_WIN_POS_BITS = 20  # positions encoded below the hash in the argmin key


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = WIN_K,
    w: int = WIN_W,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    SIGMOD'03, the MOSS algorithm): in every window of ``w``
    consecutive k-gram hashes select the minimum (rightmost on ties),
    guaranteeing any shared run of ``w + k − 1`` tokens between two
    documents shares at least one selected fingerprint, at an expected
    density of 2/(w+1) — the local-selection property random sampling
    and doc-level rolling hashes (doc_fingerprints) both lack.

    The rightmost-min tie-break is engine-portable via one integer:
    key = h·2^20 + (2^20−1−pos); ``min(key)`` over the trailing window
    is the winnowing argmin (positions ≥ 2^20 are dropped — documents
    are fingerprinted on their first ~1M tokens; extend the shift for
    longer docs).

    Output per doc: gram count, selected-fingerprint count, and how
    many of its fingerprints also occur in ≥2 docs (the plagiarism /
    duplication signal).

    Scale shape: gram explode (narrow), ONE doc-keyed trailing-window
    min (parallel per doc), per-doc distinct, one fingerprint groupBy
    for corpus frequencies, equi-joins back. No self-join — cross-doc
    matching is a groupBy on the fingerprint value.
    """
    pos_mod = 1 << _WIN_POS_BITS
    tokens = F.split(F.col(text_col), " ")
    grams = spread_scan(df).select(
        "doc_id",
        F.posexplode(word_ngram_hashes(tokens, k)).alias("pos", "h"),
    ).select(
        "doc_id",
        (F.col("pos") + 1).alias("pos"),
        "h",
    ).filter(F.col("pos") < pos_mod)
    n_grams = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    key = (
        F.col("h") * F.lit(pos_mod) + (F.lit(pos_mod - 1) - F.col("pos"))
    ).cast("long")
    w_trail = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    )
    sel = (
        grams.withColumn("minkey", F.min(key).over(w_trail))
        .filter(F.col("pos") >= w)
        .select(
            "doc_id",
            F.shiftright(F.col("minkey"), _WIN_POS_BITS).alias("fp"),
            (
                F.lit(pos_mod - 1)
                - F.col("minkey").bitwiseAND(F.lit(pos_mod - 1))
            ).alias("fp_pos"),
        )
        .distinct()
    )
    per_doc = sel.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    fp_freq = sel.groupBy("fp").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    shared = (
        sel.join(fp_freq, "fp")
        .filter(F.col("nd") >= 2)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_fp"))
    )
    return (
        n_grams.join(per_doc, "doc_id", "left")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_fp"), F.lit(0)).cast("long").alias("n_fp"),
            F.coalesce(F.col("n_shared_fp"), F.lit(0))
            .cast("long")
            .alias("n_shared_fp"),
        )
    )


# ---------------------------------------------------------------------------
# duplication-factor report per source
# ---------------------------------------------------------------------------


def dup_factor_by_source(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source duplication ROI report: how many raw docs each
    source contributes vs how many DISTINCT normalized contents — the
    number that decides which source to exact-dedup first and what
    token savings to expect (the planning view on top of
    ``exact_dedup_groups``, which returns the winners themselves).

    Exactness: fingerprints are the engine's portable rolling hash of
    normalized text (the shared dedup key), so distinct counts match
    any engine reproducing the hash; the factor/share divide exact
    integers once.

    Scale shape: one map to (source, fp) then one exact
    count_distinct aggregate per source — the fingerprint (8 bytes)
    shuffles, never the document body. Output: one row per source.
    """
    from ..functions import normalize_text, rolling_hash

    d = t["documents"].select(
        "source", rolling_hash(normalize_text("text")).alias("fp")
    )
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("fp").cast("long").alias("n_distinct"),
    )
    return per.select(
        "source",
        "n_docs",
        "n_distinct",
        (
            F.floor(
                F.col("n_docs").cast("double")
                / F.col("n_distinct").cast("double")
                * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("dup_factor_r4"),
        (
            F.floor(
                (
                    1.0
                    - F.col("n_distinct").cast("double")
                    / F.col("n_docs").cast("double")
                )
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("dup_share_r6"),
    ).orderBy("source")


def dup_factor_by_source_sql() -> str:
    """Twin of dup_factor_by_source: same normalize + rolling hash."""
    from .oracle import NORMALIZE, ROLLING_HASH

    fp = ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    return f"""
    WITH d AS (
        SELECT source, {fp} AS fp FROM documents
    ),
    per AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct
        FROM d GROUP BY 1
    )
    SELECT source, n_docs, n_distinct,
           floor(CAST(n_docs AS DOUBLE) / CAST(n_distinct AS DOUBLE)
                 * 1e4 + 0.5) / 1e4 AS dup_factor_r4,
           floor((1.0 - CAST(n_distinct AS DOUBLE)
                  / CAST(n_docs AS DOUBLE)) * 1e6 + 0.5) / 1e6
               AS dup_share_r6
    FROM per
    ORDER BY source
    """


# ---------------------------------------------------------------------------
# LSH blocking quality evaluation (pairs completeness / reduction ratio)
# ---------------------------------------------------------------------------


def blocking_quality_eval(
    t: dict[str, DataFrame],
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> DataFrame:
    """Record-linkage-style grading of the MinHash BANDING stage
    itself (Christen 2012's blocking metrics): of all truly-duplicate
    pairs (exact Jaccard ≥ threshold), how many land in at least one
    shared LSH bucket (pairs completeness = blocking recall), how much
    of the n²/2 comparison space the blocking avoids (reduction
    ratio), and what fraction of candidates are real (pair quality =
    precision). ``dedup_minhash_lsh`` reports the pairs that survive;
    this reports what the banding MISSED — the number that decides
    whether 8×4 bands are enough before a 100 TB run.

    Exactness: all five counts are exact integers (the candidate set
    and truth set are both deterministic); possible pairs uses the
    exact decimal n(n−1)/2; three ratio divisions at the end.

    Scale shape: the band relation derives row-locally from the
    shingle-array relation; the exact truth tier keeps the exploded
    shingle relation (its h-keyed self-join IS the ground-truth
    algorithm — this evaluator is as expensive as the truth it grades
    against, by construction, so it runs on SAMPLES at scale). Final
    combine is four ONE-ROW aggregates crossJoined (allowlisted
    metadata class). Output: one row.
    """
    d = t["documents"]
    # ONE persisted shingle-array relation (r10): the band keys and the
    # exploded exact-truth relation both derive from it — one corpus
    # tokenize+hash pass, not two.
    hs = _shingle_arrays(d, "text", n).transform(tracked_persist)
    sh = hs.select("doc_id", F.explode("hs").alias("h")).transform(
        tracked_persist
    )
    bands = _band_relation(hs)
    cand = (
        bands.select(F.col("doc_id").alias("doc_a"), "band", "bk")
        .join(
            bands.select(F.col("doc_id").alias("doc_b"), "band", "bk"),
            ["band", "bk"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .transform(tracked_persist)
    )
    truth = (
        _pair_jaccard(
            sh, sizes=hs.select("doc_id", F.size("hs").cast("long").alias("n"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b")
        .transform(tracked_persist)
    )
    found = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    nd = d.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    nc = cand.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    nt = truth.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_true_pairs")
    )
    nf = found.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_found"))
    one = (
        nd.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nf))
    )
    dec = lambda c: c.cast("decimal(38,0)")
    possible = (
        dec(F.col("n_docs")) * dec(F.col("n_docs") - 1) / F.lit(2)
    ).cast("long")
    return one.select(
        "n_docs",
        possible.alias("n_possible_pairs"),
        "n_candidates",
        "n_true_pairs",
        "n_found",
        F.when(
            F.col("n_true_pairs") > 0,
            F.round(
                F.col("n_found").cast("double")
                / F.col("n_true_pairs").cast("double"),
                6,
            ),
        ).alias("completeness_r6"),
        F.when(
            F.col("n_candidates") > 0,
            F.round(
                F.col("n_found").cast("double")
                / F.col("n_candidates").cast("double"),
                6,
            ),
        ).alias("pair_quality_r6"),
        F.when(
            possible > 0,
            F.round(
                F.lit(1.0)
                - F.col("n_candidates").cast("double")
                / possible.cast("double"),
                6,
            ),
        ).alias("reduction_ratio_r6"),
    )


def blocking_quality_eval_sql(
    n: int = DEFAULT_NGRAM, threshold: float = 0.8
) -> str:
    """Twin of blocking_quality_eval: same shingle/signature/band CTEs
    as the minhash oracle, same exact truth tier."""
    from .oracle import _minhash_bands_cte

    return f"""
    WITH {_minhash_bands_cte(n)},
    cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk
        WHERE a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS MATERIALIZED (
        SELECT s.doc_a, s.doc_b
        FROM shared s
        JOIN sizes za ON za.doc_id = s.doc_a
        JOIN sizes zb ON zb.doc_id = s.doc_b
        WHERE round(s.c * 1.0 / (za.n + zb.n - s.c), 6) >= {threshold}
    ),
    counts AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
               (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
               (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true_pairs,
               (SELECT CAST(count(*) AS BIGINT)
                FROM truth t JOIN cand c
                  ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_found
    )
    SELECT n_docs,
           CAST(CAST(n_docs AS HUGEINT) * (n_docs - 1) // 2 AS BIGINT)
               AS n_possible_pairs,
           n_candidates, n_true_pairs, n_found,
           CASE WHEN n_true_pairs > 0
                THEN round(CAST(n_found AS DOUBLE)
                           / CAST(n_true_pairs AS DOUBLE), 6)
           END AS completeness_r6,
           CASE WHEN n_candidates > 0
                THEN round(CAST(n_found AS DOUBLE)
                           / CAST(n_candidates AS DOUBLE), 6)
           END AS pair_quality_r6,
           CASE WHEN n_docs > 1
                THEN round(1.0 - CAST(n_candidates AS DOUBLE)
                           / CAST(CAST(n_docs AS HUGEINT) * (n_docs - 1)
                                  // 2 AS DOUBLE), 6)
           END AS reduction_ratio_r6
    FROM counts
    """


# ---------------------------------------------------------------------------
# degree assortativity of the near-dup graph
# ---------------------------------------------------------------------------


def near_dup_assortativity(
    t: dict[str, DataFrame],
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> DataFrame:
    """Degree assortativity (Newman 2002) of the near-duplicate graph:
    the Pearson correlation of endpoint degrees over the edge list —
    positive means duplicate hubs link to other hubs (mirror farms
    copying each other: one union-find superstep will fuse them into a
    giant component), negative means star/template topology (one
    boilerplate page matched by many leaves). The degree histogram
    says hubs EXIST; assortativity says how they're wired — which
    decides whether cluster canonicalization is a few big merges or
    many small ones.

    Exactness: degrees are exact integers; the correlation moments
    (Σx, Σx², Σxy over both orientations of each edge) are exact
    decimal(38,0)/HUGEINT sums; one double sequence at the end. NULL
    when all degrees are equal (zero variance — e.g. a perfect
    pairwise matching).

    Scale shape: the LSH pair relation reduces to per-node degrees
    (one shuffle), joins back to the edges twice on doc id, and
    collapses to a 1-row moment aggregate. Output: one row.
    """
    d = t["documents"]
    pairs = minhash_lsh_pairs(d, "text", n, threshold).select(
        "doc_a", "doc_b"
    )
    pairs = pairs.transform(tracked_persist)
    nodes = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    deg = nodes.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    # both orientations: the symmetric edge multiset
    directed = pairs.unionAll(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    scored = (
        directed.join(
            deg.select(
                F.col("doc_id").alias("doc_a"),
                F.col("degree").alias("dx"),
            ),
            "doc_a",
        )
        .join(
            deg.select(
                F.col("doc_id").alias("doc_b"),
                F.col("degree").alias("dy"),
            ),
            "doc_b",
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")
    agg = scored.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("m2"),  # 2|E|
        F.sum("dx").cast("long").alias("sx"),
        F.sum(dec(F.col("dx")) * dec(F.col("dx"))).alias("sxx"),
        F.sum(dec(F.col("dx")) * dec(F.col("dy"))).alias("sxy"),
    )
    nodes_cnt = deg.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    one = agg.crossJoin(F.broadcast(nodes_cnt))
    m = F.col("m2").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    # symmetric multiset: x and y marginals are identical
    var = m * sxx - sx * sx
    cov = m * sxy - sx * sx
    return one.select(
        (F.col("m2") / 2).cast("long").alias("n_edges"),
        "n_nodes",
        F.when(
            F.col("n_nodes") > 0,
            F.round(sx / m, 6),
        ).alias("mean_edge_degree_r6"),
        F.when(var > 0, F.round(cov / var, 6)).alias("assortativity_r6"),
    )


def near_dup_assortativity_sql(
    n: int = DEFAULT_NGRAM, threshold: float = 0.8
) -> str:
    """Twin of near_dup_assortativity over the minhash oracle pairs."""
    from .oracle import minhash_lsh_sql

    return f"""
    WITH lsh_pairs AS ({minhash_lsh_sql(n, threshold)}),
    pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM lsh_pairs),
    nodes AS (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
    ),
    deg AS MATERIALIZED (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
        FROM nodes GROUP BY 1
    ),
    directed AS (
        SELECT doc_a, doc_b FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    scored AS (
        SELECT da.degree AS dx, db.degree AS dy
        FROM directed d
        JOIN deg da ON da.doc_id = d.doc_a
        JOIN deg db ON db.doc_id = d.doc_b
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS m2,
               CAST(sum(dx) AS BIGINT) AS sx,
               sum(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS sxx,
               sum(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS sxy
        FROM scored
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
    SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
           n_nodes,
           CASE WHEN n_nodes > 0
                THEN round(CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE), 6)
           END AS mean_edge_degree_r6,
           CASE WHEN CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                THEN round((CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           / (CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                           6)
           END AS assortativity_r6
    FROM agg CROSS JOIN nn
    """


# ---------------------------------------------------------------------------
# LSH banding cost advisor (bucket occupancy -> candidate-join volume)
# ---------------------------------------------------------------------------


def lsh_cost_advisor(
    t: dict[str, DataFrame], n: int = DEFAULT_NGRAM
) -> DataFrame:
    """Pre-flight cost model for the MinHash banding join: from the
    band/bucket occupancy alone (no pair materialization), the exact
    number of candidate pairs the self-join WILL emit per band —
    Σ c·(c−1)/2 over buckets — plus the occupancy shape (max/total
    buckets) that says whether one hot bucket will dominate a task.
    This is the number to check BEFORE launching a 100 TB dedup: a
    banding whose predicted candidates ≈ n²/2 means the parameters
    (bands × rows) are wrong for the corpus, and the advisor costs
    one aggregate instead of the join itself.

    Exactness: all outputs are exact integers from the band relation
    (decimal(38,0)/HUGEINT for the c·(c−1)/2 sums — a hot bucket
    squares past int64 at ~10⁵ members).

    Scale shape: the band relation derives row-locally from the
    shingle-array relation (no signature groupBy) and collapses to
    (band, bucket, c) in one groupBy, then to one row per band. The
    PREDICTION equals what blocking_quality_eval's join then counts —
    pinned by a planted test. Output: one row per band.
    """
    d = t["documents"]
    bands = _band_relation(_shingle_arrays(d, "text", n))
    occ = bands.groupBy("band", "bk").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    dec = lambda c: c.cast("decimal(38,0)")
    return (
        occ.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum("c").cast("long").alias("n_docs"),
            F.max("c").cast("long").alias("max_bucket"),
            F.sum(dec(F.col("c")) * dec(F.col("c") - 1) / F.lit(2))
            .cast("decimal(38,0)")
            .cast("long")
            .alias("candidate_pairs"),
        )
        .orderBy("band")
    )


def lsh_cost_advisor_sql(n: int = DEFAULT_NGRAM) -> str:
    """Twin of lsh_cost_advisor over the minhash oracle band CTEs."""
    from .oracle import _minhash_bands_cte

    return f"""
    WITH {_minhash_bands_cte(n)},
    occ AS (
        SELECT band, bk, CAST(count(*) AS BIGINT) AS c
        FROM bands GROUP BY 1, 2
    )
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(max(c) AS BIGINT) AS max_bucket,
           CAST(sum(CAST(c AS HUGEINT) * (c - 1) // 2) AS BIGINT)
               AS candidate_pairs
    FROM occ
    GROUP BY band
    ORDER BY band
    """


# ---------------------------------------------------------------------------
# bottom-k containment tier (the promised scale path for containment)
# ---------------------------------------------------------------------------

BOTTOMK_K = 32
BOTTOMK_CAND_EST = 0.5  # recall-safe candidate cut on the estimate


def bottomk_containment_pairs(
    t: dict[str, DataFrame],
    n: int = DEFAULT_NGRAM,
    k: int = BOTTOMK_K,
    cand_est: float = BOTTOMK_CAND_EST,
    threshold: float = 0.8,
) -> DataFrame:
    """The bottom-k containment tier ``ngram_containment_pairs``
    promises at 100 TB (Broder's bottom-k sketch / KMV): instead of
    the full shingle self-join, each doc indexes only its k SMALLEST
    shingle hashes; ĉ(A⊆B) = |bottomk(A) ∩ shingles(B)| / min(k,|A|)
    is an unbiased containment estimate, so candidate generation
    touches k rows per doc instead of |A|. Survivors of a recall-safe
    estimate cut (ĉ ≥ 0.5 for a 0.8 target) are re-scored EXACTLY —
    the emitted containment is the true one, the sketch only prunes.

    Determinism: shingle hashes are distinct within a doc, so the
    bottom-k order is total; every count is an exact integer; the two
    reported ratios divide exact integers once, rounded to 6.
    DIRECTED pairs: (doc_a ⊆ doc_b) and (doc_b ⊆ doc_a) are separate
    rows, emitted when each side's own estimate and exact containment
    pass.

    Scale shape: the sketch relation is ≤ k rows/doc regardless of
    doc length; the candidate join is h-keyed (sketch ⋈ shingles);
    the exact re-score runs only over candidate pairs (the
    _pair_jaccard(pairs=...) verify shape). Output: directed pairs
    with estimate + exact containment ≥ threshold.
    """
    d = t["documents"]
    # ONE persisted shingle-ARRAY relation (r10): the exploded
    # relation, the set sizes, and the bottom-k sketch all derive
    # row-locally from it — size(hs) replaces the sizes groupBy
    # shuffle and slice(array_sort(hs), 1, k) replaces the per-doc
    # row_number window (h values are distinct within a doc, so the
    # k smallest array elements ARE the rn <= k window rows).
    hs = _shingle_arrays(d, "text", n).transform(tracked_persist)
    sh = hs.select("doc_id", F.explode("hs").alias("h")).transform(
        tracked_persist
    )
    sizes = hs.select("doc_id", F.size("hs").cast("long").alias("sz"))
    sketch = hs.select(
        F.col("doc_id").alias("doc_a"),
        F.explode(F.slice(F.array_sort("hs"), 1, k)).alias("h"),
    )
    m = (
        sketch.join(
            sh.select(F.col("doc_id").alias("doc_b"), "h"), "h"
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    est = (
        m.join(
            sizes.select(F.col("doc_id").alias("doc_a"), "sz"), "doc_a"
        )
        .select(
            "doc_a",
            "doc_b",
            "m",
            F.least(F.lit(k).cast("long"), F.col("sz")).alias("denom"),
            F.col("sz").alias("sz_a"),
        )
        .filter(
            F.col("m").cast("double") / F.col("denom").cast("double")
            >= cand_est
        )
    )
    cand = est.select("doc_a", "doc_b").transform(tracked_persist)
    a_sh = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b_sh = sh.select(F.col("doc_id").alias("doc_b"), "h")
    shared = (
        cand.join(a_sh, "doc_a")
        .join(b_sh, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    return (
        shared.join(est.select("doc_a", "doc_b", "m", "denom", "sz_a"),
                    ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("m").cast("double") / F.col("denom").cast("double"),
                6,
            ).alias("cont_est_r6"),
            F.round(
                F.col("shared").cast("double") / F.col("sz_a").cast("double"),
                6,
            ).alias("cont_exact_r6"),
        )
        .filter(F.col("cont_exact_r6") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def bottomk_containment_pairs_sql(
    n: int = DEFAULT_NGRAM,
    k: int = BOTTOMK_K,
    cand_est: float = BOTTOMK_CAND_EST,
    threshold: float = 0.8,
) -> str:
    """Twin of bottomk_containment_pairs: identical sketch, estimate
    cut, and exact re-score."""
    from .oracle import _shingles_cte

    return f"""
    WITH {_shingles_cte(n)},
    sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1
    ),
    sketch AS (
        SELECT doc_id AS doc_a, h FROM (
            SELECT doc_id, h,
                   row_number() OVER (PARTITION BY doc_id ORDER BY h)
                       AS rn
            FROM sh
        ) WHERE rn <= {k}
    ),
    m AS (
        SELECT s.doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS m
        FROM sketch s JOIN sh b ON b.h = s.h AND b.doc_id != s.doc_a
        GROUP BY 1, 2
    ),
    est AS MATERIALIZED (
        SELECT m.doc_a, m.doc_b, m.m,
               least({k}, z.sz) AS denom, z.sz AS sz_a
        FROM m JOIN sizes z ON z.doc_id = m.doc_a
        WHERE CAST(m.m AS DOUBLE) / least({k}, z.sz) >= {cand_est}
    ),
    shared AS (
        SELECT e.doc_a, e.doc_b, CAST(count(*) AS BIGINT) AS shared
        FROM est e
        JOIN sh a ON a.doc_id = e.doc_a
        JOIN sh b ON b.doc_id = e.doc_b AND b.h = a.h
        GROUP BY 1, 2
    )
    SELECT s.doc_a, s.doc_b,
           round(CAST(e.m AS DOUBLE) / e.denom, 6) AS cont_est_r6,
           round(CAST(s.shared AS DOUBLE) / e.sz_a, 6) AS cont_exact_r6
    FROM shared s
    JOIN est e ON e.doc_a = s.doc_a AND e.doc_b = s.doc_b
    WHERE round(CAST(s.shared AS DOUBLE) / e.sz_a, 6) >= {threshold}
    ORDER BY 1, 2
    """


# ---------------------------------------------------------------------------
# sorted-neighborhood ER blocking (complement of token blocking)
# ---------------------------------------------------------------------------

SNM_WINDOW = 4


def snm_fuzzy_pairs(
    t: dict[str, DataFrame],
    table: str = "part",
    col: str = "p_name",
    window: int = SNM_WINDOW,
    max_dist: int = 3,
) -> DataFrame:
    """Sorted-neighborhood method (Hernández & Stolfo 1995): sort the
    DISTINCT value domain, compare each value only to its ``window-1``
    successors, verify with Levenshtein. The classic complement to
    `fuzzy_name_pairs`' token blocking — an edit that destroys every
    shared token (lost whitespace: "cold gear" → "coldgear", leading
    typo inside the first word) evades token blocks but usually lands
    lexicographically adjacent, and vice versa; production ER unions
    several blocking passes and this is the second pass.

    Scale shape: runs on the distinct value domain (vocabulary-sized —
    the same ER reduction as fuzzy_name_pairs, collapsing 100 TB of
    rows first). The global sort rank comes from
    ``distrank.with_global_order``, NOT a single-task
    ``row_number() OVER (ORDER BY name)`` window — the rank is exact
    and global, so the neighbor join needs no separate boundary-pair
    pass: a pair straddling two range partitions still
    meets through the rank equi-join. The join itself is an equi-join
    on rank distance ∈ [1, window-1] (each side explodes the bounded
    window, never |names|²).

    Output: (name_a, name_b, rank_gap, dist), name_a < name_b by sort
    order (= lexicographic, since the sort key is the name itself).
    """
    from .distrank import with_global_order

    names = t[table].select(F.col(col).alias("name")).distinct()
    granked, n_names, _ = with_global_order(names, ["name"])
    ranked = granked.select(
        "name", (F.col("grank") + 1).alias("rn")
    )
    offsets = F.explode(
        F.sequence(F.lit(1), F.lit(window - 1))
    ).alias("off")
    probes = ranked.select("name", "rn", offsets).select(
        F.col("name").alias("name_a"),
        (F.col("rn") + F.col("off")).alias("rn_b"),
        F.col("off").alias("rank_gap"),
    )
    pairs = probes.join(
        ranked.select(F.col("name").alias("name_b"), F.col("rn").alias("rn_b")),
        "rn_b",
    )
    return (
        pairs.withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("long")
        )
        .filter(F.col("dist") <= max_dist)
        .select("name_a", "name_b", F.col("rank_gap").cast("long").alias("rank_gap"), "dist")
    )


def snm_fuzzy_pairs_sql(
    table: str = "part",
    col: str = "p_name",
    window: int = SNM_WINDOW,
    max_dist: int = 3,
) -> str:
    """Twin of snm_fuzzy_pairs (ASCII domain: byte Levenshtein ==
    codepoint Levenshtein)."""
    return f"""
    WITH names AS (
        SELECT DISTINCT {col} AS name FROM {table}
    ),
    ranked AS (
        SELECT name, row_number() OVER (ORDER BY name) AS rn FROM names
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(b.rn - a.rn AS BIGINT) AS rank_gap,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
    FROM ranked a JOIN ranked b
      ON b.rn > a.rn AND b.rn <= a.rn + {window - 1}
    WHERE levenshtein(a.name, b.name) <= {max_dist}
    """


# ---------------------------------------------------------------------------
# label-propagation communities on the near-dup graph
# ---------------------------------------------------------------------------

LPA_ITERS = 4


def lpa_communities(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
    iters: int = LPA_ITERS,
) -> DataFrame:
    """Synchronous label propagation (Raghavan 2007) over the verified
    near-dup pair graph, ``iters`` fixed rounds: each node adopts the
    most frequent label among its neighbors, ties → smallest label.
    Where connected components answer "what merges transitively", LPA
    splits a big component into densely-wired sub-communities — on a
    near-dup graph that separates template FAMILIES (chains glued by a
    few borderline pairs) inside one CC, which is what you review
    before deleting a million-doc cluster.

    Determinism: fixed round count, integer vote counts, smallest-label
    tie-break, and synchronous updates (all nodes step on the same
    snapshot) make the fixpoint-free recurrence bit-reproducible — the
    oracle unrolls the same rounds.

    Scale shape: per round ONE edge⋈label join + a (node, label) count
    + per-node argmax window — the PageRank superstep shape with an
    argmax instead of a sum; edges persisted once, labels stay
    (node, label)-narrow.

    Output: (doc_id, community) for every node in the pair graph;
    community = the surviving label (a member doc_id).
    """
    pairs = minhash_lsh_pairs(df, text_col, n, threshold)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
        .transform(tracked_persist)
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(iters):
        votes = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("nl")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"), F.col("nl"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(
            F.desc("c"), F.asc("nl")
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("nl").alias("label"))
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("community")
    )


def lpa_communities_sql(
    n: int = DEFAULT_NGRAM, threshold: float = 0.8, iters: int = LPA_ITERS
) -> str:
    """Twin of lpa_communities: the synchronous rounds unrolled."""
    from .oracle import minhash_lsh_sql

    steps = []
    for r in range(iters):
        steps.append(
            f"""l{r + 1} AS MATERIALIZED (
        SELECT node, nl AS label FROM (
            SELECT e.src AS node, l.label AS nl,
                   count(*) AS c,
                   row_number() OVER (
                       PARTITION BY e.src
                       ORDER BY count(*) DESC, l.label ASC
                   ) AS rn
            FROM edges e JOIN l{r} l ON l.node = e.dst
            GROUP BY 1, 2
        ) WHERE rn = 1
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH pairs AS MATERIALIZED ({minhash_lsh_sql(n, threshold)}),
    edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM edges
    ),
    {chain}
    SELECT node AS doc_id, label AS community FROM l{iters}
    """


# ---------------------------------------------------------------------------
# idf-weighted sparse cosine tier (TF-IDF scoring over the co-shingle join)
# ---------------------------------------------------------------------------

TFIDF_DF_MAX = 64  # stop-shingle bound: posting lists longer than this are dropped
TFIDF_COS_THRESHOLD = 0.5
IDF_SCALE = 1_000_000


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    df_max: int = TFIDF_DF_MAX,
    threshold: float = TFIDF_COS_THRESHOLD,
) -> DataFrame:
    """Document pairs by TF-IDF cosine over word n-gram shingles — the
    idf-WEIGHTED sibling of ``ngram_jaccard_pairs``: instead of set
    overlap, each shingle contributes tf·idf weight, so pairs sharing
    RARE shingles rank above pairs sharing boilerplate (the sparse
    -retrieval scoring view of lexical near-duplication).

    Determinism: idf is quantized ONCE per distinct df value
    (floor(10^6·ln((N+1)/(df+1)))), after which every weight, dot
    product, and squared norm is exact integer arithmetic — each
    factor cast to decimal(38,0) BEFORE the multiply so a 100 TB-scale
    weight (tf·idf_q ~1e10+) cannot wrap int64 on the way in — and
    accumulated in decimal(38,0), so sum order cannot perturb anything;
    the single float division + sqrt + round(6) happens once per
    emitted pair.

    Candidate generation is the shared-shingle join with a STOP-SHINGLE
    bound: posting lists longer than ``df_max`` are dropped from
    candidate generation (their idf is near zero, and hot lists are the
    n² blow-up risk at 100 TB — the standard stop-prefix cut), but the
    verify stage scores candidates over ALL their shingles including
    hot ones, so emitted cosines are exact. A pair sharing ONLY
    stop-shingles is not emitted (its cosine is boilerplate-driven by
    construction). Production candidate tiers (LSH banding / prefix
    filter) slot in unchanged — this operator's contract is the
    scoring.

    Verify shape (the 100 TB-critical choice, third iteration — both
    failure modes below were MEASURED at R=10 content-disjoint growth):

    * shipping each doc's FULL weight map through the candidate join
      spills (16.2× — row-WIDTH blowup);
    * re-joining the bounded candidate set back to the full posting
      relation explodes row COUNT (|cand|·|vocab| intermediate: 27.5×,
      super-linear already at R=3).

    The shape that avoids both: split the dot on the stop-shingle
    boundary. The NON-HOT part (df ≤ df_max) is partial-aggregated
    ``SUM(w_a·w_b)`` directly on the co-shingle self-join that
    generates the candidates — the join's output IS Σ_{h:df≤df_max}
    df(h)² rows, already paid for candidate generation, nothing new
    ships. The HOT part (df > df_max, needed for exactness) goes
    through per-doc weight maps — but pruned to HOT entries only,
    which are few by definition (hot shingles are the handful of
    boilerplate n-grams; a doc's hot entries are bounded by the global
    hot-shingle count, not its vocabulary). Scalar norms join last.
    The twin's ``dots`` CTE computes the same total over all shared
    shingles in one relation — two formulations of one quantity.

    Output: (doc_a, doc_b, cosine) with cosine ≥ threshold.
    """
    tokens = F.split(F.col(text_col), " ")
    # composed per-token hashing kept HERE (r11): this site measured
    # 0.79x with it in the same-session A/B (plans/r11_ab_minhash_hash.json)
    occ = spread_scan(df).select(
        "doc_id", F.explode(word_ngram_hashes_composed(tokens, n)).alias("h")
    )
    # tf feeds the weight relation AND both sides of the candidate
    # self-join; dfreq feeds the weights and the stop-shingle cut —
    # persist both so the explode+hash scan and its groupBy run once
    tf = occ.groupBy("doc_id", "h").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    ).transform(tracked_persist)
    dfreq = (
        tf.groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .transform(tracked_persist)
    )
    ndocs = df.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    # weight relation (df kept for the hot/non-hot split) feeds norms,
    # the co-shingle join, and the hot maps
    w = (
        tf.join(dfreq, "h")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            "h",
            "df",
            (
                F.col("tf")
                * F.floor(
                    F.lit(IDF_SCALE)
                    * F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                ).cast("long")
            ).alias("w"),
        )
        .transform(tracked_persist)
    )
    # scalar squared norm per doc — a (doc_id, n2) relation, never maps
    wdec = F.col("w").cast("decimal(38,0)")
    dec0 = F.lit(0).cast("decimal(38,0)")
    norms = w.groupBy("doc_id").agg(F.sum(wdec * wdec).alias("n2"))
    # ONE co-shingle self-join generates the candidates AND their
    # non-hot dot: its output is the Σ df² candidate volume the
    # stop-shingle cut bounds — nothing beyond candidate generation
    # ships, and the groupBy partial-aggregates map-side
    wnh = w.filter(F.col("df") <= df_max)
    co = (
        wnh.select(F.col("doc_id").alias("doc_a"), "h", wdec.alias("wa"))
        .join(
            wnh.select(F.col("doc_id").alias("doc_b"), "h", wdec.alias("wb")),
            "h",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    dots_nh = co.groupBy("doc_a", "doc_b").agg(
        F.sum(F.col("wa") * F.col("wb")).alias("dot_nh")
    )
    # hot entries (df > df_max) per doc: few by definition — the exact
    # hot contribution folds row-locally over the candidates' shared
    # hot keys (maps pruned to hot-only; the full-vocab variant is the
    # measured 16.2x spill)
    hm = (
        w.filter(F.col("df") > df_max)
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("h", "w"))).alias(
                "hm"
            )
        )
    )
    dot_hot = F.when(
        F.col("hma").isNotNull() & F.col("hmb").isNotNull(),
        F.aggregate(
            F.array_intersect(F.map_keys("hma"), F.map_keys("hmb")),
            dec0,
            lambda acc, k: acc
            + F.element_at(F.col("hma"), k).cast("decimal(38,0)")
            * F.element_at(F.col("hmb"), k).cast("decimal(38,0)"),
        ),
    ).otherwise(dec0)
    dots = (
        dots_nh.join(
            hm.select(F.col("doc_id").alias("doc_a"), F.col("hm").alias("hma")),
            "doc_a",
            "left",
        )
        .join(
            hm.select(F.col("doc_id").alias("doc_b"), F.col("hm").alias("hmb")),
            "doc_b",
            "left",
        )
        .select(
            "doc_a", "doc_b", (F.col("dot_nh") + dot_hot).alias("dot")
        )
    )
    return (
        dots.join(
            norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2")),
            "doc_a",
        )
        .join(
            norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(F.col("na2").cast("double") * F.col("nb2").cast("double")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def tfidf_cosine_pairs_sql(
    n: int = DEFAULT_NGRAM,
    df_max: int = TFIDF_DF_MAX,
    threshold: float = TFIDF_COS_THRESHOLD,
) -> str:
    """DuckDB twin: identical idf quantization (floor of the same
    double product) and HUGEINT-exact accumulation."""
    from .oracle import ROLLING_HASH

    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS wds FROM documents),
    occ AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(wds) - {n - 1}, 0) + 1),
                   i -> array_to_string(wds[i:i+{n - 1}], ' '))) AS s
        FROM toks
    ),
    hsh AS (SELECT doc_id, {ROLLING_HASH.format(s="s")} AS h FROM occ),
    tf AS (
        SELECT doc_id, h, CAST(count(*) AS BIGINT) AS tf
        FROM hsh GROUP BY 1, 2
    ),
    dfreq AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY h),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    w AS (
        SELECT tf.doc_id, tf.h,
               tf.tf * CAST(floor({IDF_SCALE} *
                   ln((n_docs + 1) / (df + 1))) AS BIGINT) AS w
        FROM tf JOIN dfreq USING (h) CROSS JOIN nd
    ),
    norms AS (
        SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS n2 FROM w GROUP BY doc_id
    ),
    post AS (
        SELECT tf.doc_id, tf.h FROM tf JOIN dfreq USING (h)
        WHERE df <= {df_max}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM post a JOIN post b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    dots AS (
        SELECT c.doc_a, c.doc_b, sum(CAST(wa.w AS HUGEINT) * wb.w) AS dot
        FROM cand c
        JOIN w wa ON wa.doc_id = c.doc_a
        JOIN w wb ON wb.doc_id = c.doc_b AND wb.h = wa.h
        GROUP BY 1, 2
    )
    SELECT d.doc_a, d.doc_b,
           round(CAST(d.dot AS DOUBLE) /
                 sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6)
               AS cosine
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    WHERE round(CAST(d.dot AS DOUBLE) /
                sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6)
          >= {threshold}
    """


# ---------------------------------------------------------------------------
# k-core decomposition of the near-dup graph
# ---------------------------------------------------------------------------

KCORE_K = 2
KCORE_ROUNDS = 6


def kcore_decomposition(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
) -> DataFrame:
    """k-core of the near-duplicate graph (Seidman 1983): iteratively
    peel vertices with degree < k until a fixed point — the maximal
    subgraph where every member has ≥ k near-dup neighbours. Cores
    separate DENSE duplication structure (template farms, mirror
    clusters — every member redundant several times over) from
    incidental pairwise matches that degree-1 pruning alone would keep;
    the 2-core is the standard "delete all but one per tree, audit the
    cycles" split for dedup graphs.

    Peeling is monotone (vertex sets only shrink), so ``rounds``
    supersteps reach the true k-core whenever round r+1 == round r —
    the fixture fixes the point well inside 6 rounds (pinned by a
    planted test); at 100 TB the round count grows with the longest
    degree-cascade chain, and each round is one degree aggregate + two
    semi-joins over the near-dup-sized edge relation — never
    corpus-sized.

    Each round references the previous edge relation THREE times
    (degree + both semi-joins), so the lineage would re-expand 3^rounds
    without a barrier; unlike the single-reference PageRank/LPA
    supersteps, peeling therefore materializes each round with an eager
    ``localCheckpoint`` — ``rounds`` materializations of a near-dup-
    sized relation (on a multi-executor cluster with node churn use a
    reliable ``checkpoint`` dir instead).

    Output: (doc_id, core_degree) for every vertex surviving in the
    k-core, with its degree INSIDE the core.
    """
    pairs = minhash_lsh_pairs(df, text_col, n, threshold).select(
        "doc_a", "doc_b"
    )

    def _deg(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("doc_a").alias("doc_id"))
            .unionAll(e.select(F.col("doc_b").alias("doc_id")))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )

    edges = pairs.localCheckpoint()
    for _ in range(rounds):
        keep = _deg(edges).filter(F.col("deg") >= k).select("doc_id")
        edges = (
            edges.join(
                keep.select(F.col("doc_id").alias("doc_a")), "doc_a", "semi"
            )
            .join(keep.select(F.col("doc_id").alias("doc_b")), "doc_b", "semi")
            .select("doc_a", "doc_b")
            .localCheckpoint()
        )
    return _deg(edges).select("doc_id", F.col("deg").alias("core_degree"))


def kcore_decomposition_sql(
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
) -> str:
    """Twin: unrolled peel rounds e0..e{rounds} over the LSH pair CTE."""
    from .oracle import minhash_lsh_sql

    steps = []
    for r in range(rounds):
        steps.append(
            f"""k{r} AS MATERIALIZED (
        SELECT doc_id FROM (
            SELECT doc_id, count(*) AS deg FROM (
                SELECT doc_a AS doc_id FROM e{r}
                UNION ALL SELECT doc_b FROM e{r}
            ) GROUP BY doc_id
        ) WHERE deg >= {k}
    ),
    e{r + 1} AS MATERIALIZED (
        SELECT e.doc_a, e.doc_b FROM e{r} e
        WHERE EXISTS (SELECT 1 FROM k{r} x WHERE x.doc_id = e.doc_a)
          AND EXISTS (SELECT 1 FROM k{r} y WHERE y.doc_id = e.doc_b)
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH pairs AS MATERIALIZED ({minhash_lsh_sql(n, threshold)}),
    e0 AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs),
    {chain}
    SELECT doc_id, CAST(count(*) AS BIGINT) AS core_degree
    FROM (
        SELECT doc_a AS doc_id FROM e{rounds}
        UNION ALL SELECT doc_b FROM e{rounds}
    )
    GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# MinHash estimator calibration audit
# ---------------------------------------------------------------------------


def _verified_signature_pairs(
    df: DataFrame, text_col: str, n: int, threshold: float
) -> DataFrame:
    """The verified near-dup pairs (doc_a, doc_b, jaccard) joined to both
    documents' signatures: a0..a31 for doc_a, b0..b31 for doc_b.

    ONE persisted shingle-array relation feeds the LSH tier and both
    signature sides, so the corpus is tokenized and hashed once."""
    hs = _shingle_arrays(df, text_col, n).transform(tracked_persist)
    pairs = _minhash_pairs_from_arrays(hs, threshold)
    sig = hs.select("doc_id", *_signature_cols())
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(NUM_PERM)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(NUM_PERM)],
    )
    return pairs.join(sa, "doc_a").join(sb, "doc_b")


def _agreement_estimate(k: int) -> Column:
    """MinHash Jaccard estimate from the first ``k`` permutations: the
    share of signature slots on which the pair agrees (a_i = b_i)."""
    match = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(k)
    )
    return match.cast("long").cast("double") / k


def _estimate_error_aggs(est: Column) -> list[Column]:
    """The one-row fold of an estimate against the exact ``jaccard``:
    (n_pairs, mean_exact, mean_est, bias, mae)."""
    return [
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.avg("jaccard"), 6).alias("mean_exact"),
        F.round(F.avg(est), 6).alias("mean_est"),
        F.round(F.avg(est - F.col("jaccard")), 6).alias("bias"),
        F.round(F.avg(F.abs(est - F.col("jaccard"))), 6).alias("mae"),
    ]


def minhash_estimate_error(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> DataFrame:
    """Calibration audit of the MinHash Jaccard ESTIMATOR itself: over
    the verified near-dup pairs, compare the 32-permutation signature
    agreement rate (matching mins / 32 — the textbook unbiased Jaccard
    estimate) against the exact Jaccard the verify stage computed
    anyway. Before trusting estimate-only tiers at 100 TB (skipping
    exact verification to save the candidate joins), this one row says
    how biased and how noisy 32 permutations actually are on YOUR
    corpus.

    Exactness: match counts are exact integers; est divides by the
    constant 32; MAE/bias average ≤ pair-count doubles then round(6).

    Scale shape: the pair relation is near-dup-sized; signatures join
    doc-keyed; the 32 equality sums are one narrow projection. Output:
    one row — (n_pairs, mean_exact, mean_est, bias, mae).
    """
    scored = _verified_signature_pairs(df, text_col, n, threshold).select(
        "jaccard", _agreement_estimate(NUM_PERM).alias("est")
    )
    return scored.agg(*_estimate_error_aggs(F.col("est")))


def minhash_estimate_error_sql(
    n: int = DEFAULT_NGRAM, threshold: float = 0.8
) -> str:
    """Twin: the perm-curve twin's all-permutations arm."""
    return f"""
    SELECT n_pairs, mean_exact, mean_est, bias, mae
    FROM ({minhash_perm_tradeoff_sql(n, threshold, (NUM_PERM,))})
    """


# ---------------------------------------------------------------------------
# survivorship quality regret
# ---------------------------------------------------------------------------


def dedup_quality_regret(t: dict[str, DataFrame]) -> DataFrame:
    """Survivorship audit of the KEEP rule: ``dedup_representatives``
    elects the LONGEST member of each near-dup cluster — but is the
    longest copy also the best one? Per cluster this compares the
    elected representative's quality-classifier score against the best
    member's, and reports how often (and by how much) the length rule
    leaves quality on the table. If the regret mass is material you
    switch the survivorship rule BEFORE running the 100 TB collapse —
    after it, the better copies are gone.

    Determinism: quality_prob is round(6) per doc, so best-vs-rep
    comparisons and regrets are decided on identical doubles in both
    engines; the final averages re-round.

    Scale shape: cluster relation (near-dup-sized) ⋈ per-doc scores,
    one groupBy per cluster, one one-row fold. Output: one row.
    """
    from .text import quality_classifier

    d = t["documents"]
    # ONE cluster relation (r10): the representative election is inlined
    # on the SAME members relation (identical max(struct) rule as
    # dedup_representatives) instead of re-deriving clusters — the
    # second union-find / LSH probe pass is gone.
    members = tracked_persist(near_dup_clusters(d))
    q = quality_classifier(d).select("doc_id", "quality_prob")
    reps = _elect_representatives(members, d).select(
        "cluster_id", "rep_doc_id"
    )
    best = (
        members.join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(F.max("quality_prob").alias("best_q"))
    )
    repq = reps.join(
        q.select(
            F.col("doc_id").alias("rep_doc_id"),
            F.col("quality_prob").alias("rep_q"),
        ),
        "rep_doc_id",
    )
    j = best.join(repq, "cluster_id").select(
        "cluster_id", "best_q", "rep_q", (F.col("best_q") - F.col("rep_q")).alias("regret")
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum((F.col("regret") > 0).cast("long"))
        .cast("long")
        .alias("n_regret_clusters"),
        F.round(F.avg("rep_q"), 6).alias("mean_rep_q"),
        F.round(F.avg("best_q"), 6).alias("mean_best_q"),
        F.round(F.avg("regret"), 6).alias("mean_regret"),
        F.round(F.max("regret"), 6).alias("max_regret"),
    )


def dedup_quality_regret_sql() -> str:
    """Twin: ONE clusters CTE (DuckDB rejects two recursive-CTE
    subqueries in one statement, so the representative derives from
    the same members relation rather than embedding
    dedup_representatives_sql), + quality CTE, same folds."""
    from .oracle import near_dup_clusters_sql
    from .text import quality_classifier_sql

    return f"""
    WITH members AS ({near_dup_clusters_sql()}),
    enriched AS (
        SELECT m.cluster_id, m.doc_id,
               row_number() OVER (
                   PARTITION BY m.cluster_id
                   ORDER BY d.n_chars DESC, m.doc_id ASC
               ) AS rn
        FROM members m JOIN documents d ON m.doc_id = d.doc_id
    ),
    reps AS (
        SELECT cluster_id,
               CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
                   AS rep_doc_id
        FROM enriched GROUP BY cluster_id
    ),
    q AS (
        SELECT doc_id, quality_prob FROM ({quality_classifier_sql()})
    ),
    best AS (
        SELECT m.cluster_id, max(q.quality_prob) AS best_q
        FROM members m JOIN q ON q.doc_id = m.doc_id
        GROUP BY m.cluster_id
    ),
    j AS (
        SELECT b.cluster_id, b.best_q, rq.quality_prob AS rep_q,
               b.best_q - rq.quality_prob AS regret
        FROM best b
        JOIN reps r ON r.cluster_id = b.cluster_id
        JOIN q rq ON rq.doc_id = r.rep_doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(CASE WHEN regret > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_regret_clusters,
           round(avg(rep_q), 6) AS mean_rep_q,
           round(avg(best_q), 6) AS mean_best_q,
           round(avg(regret), 6) AS mean_regret,
           round(max(regret), 6) AS max_regret
    FROM j
    """


# ---------------------------------------------------------------------------
# banding trust curve: LSH recall as a function of the Jaccard threshold
# ---------------------------------------------------------------------------

JACCARD_CURVE_TAUS = (0.5, 0.6, 0.7, 0.8, 0.9)


def jaccard_threshold_curve(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    taus: tuple = JACCARD_CURVE_TAUS,
) -> DataFrame:
    """WHERE is the banding trustworthy: exact pair counts and
    LSH-banding recall at each Jaccard threshold, from ONE exact-pair
    relation and ONE verified-LSH relation (both computed once at the
    lowest τ). The 8×4 banding's candidate probability is
    1−(1−j⁴)⁸ — ≈0.56 at j=0.5 rising to ≈0.9998 at 0.9 — so this
    curve is the empirical version of the S-curve every LSH parameter
    choice is made on, measured on YOUR corpus. Verified LSH pairs are
    a SUBSET of exact pairs (the verify stage applies the exact
    predicate), so recall is a clean integer ratio per τ.

    Scale shape: both pair relations are near-dup-sized; the curve is
    |taus| conditional one-row folds over their join, unioned.
    Output: (tau, n_exact, n_lsh, recall_bp).
    """
    lo = min(taus)
    # ONE persisted shingle-array relation (r10) feeds the exact AND the
    # LSH tier (see lsh_recall_eval) — one corpus scan, not two.
    hs = _shingle_arrays(df, text_col, n).transform(tracked_persist)
    sh = hs.select("doc_id", F.explode("hs").alias("h")).transform(
        tracked_persist
    )
    exact = _pair_jaccard(
        sh, sizes=hs.select("doc_id", F.size("hs").cast("long").alias("n"))
    ).filter(F.col("jaccard") >= lo)
    lsh = _minhash_pairs_from_arrays(hs, lo).select(
        "doc_a", "doc_b", F.lit(1).alias("in_lsh")
    )
    j = exact.join(lsh, ["doc_a", "doc_b"], "left").transform(tracked_persist)
    outs = []
    for tau in taus:
        at = j.filter(F.col("jaccard") >= tau)
        outs.append(
            at.agg(
                F.lit(float(tau)).alias("tau"),
                F.count(F.lit(1)).cast("long").alias("n_exact"),
                F.sum(F.coalesce(F.col("in_lsh"), F.lit(0)))
                .cast("long")
                .alias("n_lsh"),
                F.expr(
                    "CAST(sum(coalesce(in_lsh, 0)) * 10000"
                    " DIV count(*) AS BIGINT)"
                ).alias("recall_bp"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def jaccard_threshold_curve_sql(
    n: int = DEFAULT_NGRAM, taus: tuple = JACCARD_CURVE_TAUS
) -> str:
    """Twin: same two pair CTEs at the lowest τ, same per-τ folds."""
    from .oracle import minhash_lsh_sql, ngram_jaccard_sql

    lo = min(taus)
    arms = " UNION ALL ".join(
        f"""
    SELECT CAST({tau} AS DOUBLE) AS tau,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(coalesce(in_lsh, 0)) AS BIGINT) AS n_lsh,
           CAST(sum(coalesce(in_lsh, 0)) * 10000 // count(*) AS BIGINT)
               AS recall_bp
    FROM j WHERE jaccard >= {tau}"""
        for tau in taus
    )
    return f"""
    WITH exact AS MATERIALIZED ({ngram_jaccard_sql(n, lo)}),
    lsh AS MATERIALIZED (
        SELECT doc_a, doc_b, 1 AS in_lsh
        FROM ({minhash_lsh_sql(n, lo)})
    ),
    j AS MATERIALIZED (
        SELECT e.doc_a, e.doc_b, e.jaccard, l.in_lsh
        FROM exact e LEFT JOIN lsh l
          ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b
    )
    {arms}
    """


# ---------------------------------------------------------------------------
# corpus-level dedup funnel report
# ---------------------------------------------------------------------------


def dedup_funnel_report(t: dict[str, DataFrame]) -> DataFrame:
    """The pipeline-level answer to "how much does each dedup tier
    actually remove": documents and tokens surviving each tier,
    measured INDEPENDENTLY against the raw corpus (independent, not
    chained, so each tier's bite is attributable) —

    * ``exact``      — one survivor per normalized-content fingerprint;
    * ``near_dup``   — cluster representatives + all unclustered docs;
    * ``span_dedup`` — every doc kept, duplicated token spans removed
      (token-level bite, document count unchanged).

    This is the one-page number a data lead asks for before approving
    a 100 TB dedup run; all counts and basis points are exact integers.

    Scale shape: each tier reuses its production relation (fingerprint
    groupBy / near-dup clusters / span relation); the report adds only
    one-row folds and a broadcast of the raw totals.

    Output: one row per tier — (tier, n_docs, n_tokens, docs_bp,
    tokens_bp).
    """
    d = t["documents"]
    ntok = F.size(F.split(F.col("text"), " ")).cast("long")
    raw = d.agg(
        F.count(F.lit(1)).cast("long").alias("r_docs"),
        F.sum(ntok).cast("long").alias("r_toks"),
    )

    def _fold(tier: str, docs: DataFrame, tok_col) -> DataFrame:
        return (
            docs.agg(
                F.lit(tier).alias("tier"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(tok_col).cast("long").alias("n_tokens"),
            )
            .crossJoin(F.broadcast(raw))
            .select(
                "tier",
                "n_docs",
                "n_tokens",
                # 0 raw docs -> NULL, as in the twin (not DIVIDE_BY_ZERO)
                F.expr(
                    "CAST(n_docs * 10000 DIV nullif(r_docs, 0) AS BIGINT)"
                ).alias("docs_bp"),
                F.expr(
                    "CAST(n_tokens * 10000 DIV nullif(r_toks, 0) AS BIGINT)"
                ).alias("tokens_bp"),
            )
        )

    rows = [_fold("raw", d, ntok)]
    exact_keep = exact_dedup_groups(d).select(
        F.col("keep_id").alias("doc_id")
    )
    rows.append(_fold("exact", d.join(exact_keep, "doc_id", "semi"), ntok))
    # ONE cluster relation (r10): representatives elected inline from
    # the same persisted members (identical max(struct) rule as
    # dedup_representatives) — no second union-find / LSH probe pass.
    clusters = tracked_persist(near_dup_clusters(d))
    members = clusters.select("doc_id")
    reps = _elect_representatives(clusters, d).select(
        F.col("rep_doc_id").alias("doc_id")
    )
    near_keep = d.join(members, "doc_id", "anti").select("doc_id").unionByName(
        reps
    )
    rows.append(_fold("near_dup", d.join(near_keep, "doc_id", "semi"), ntok))
    spans = remove_duplicate_spans(d)
    rows.append(
        _fold(
            "span_dedup",
            spans,
            (F.col("n_tokens") - F.col("n_removed")).cast("long"),
        )
    )
    res = rows[0]
    for r in rows[1:]:
        res = res.unionByName(r)
    return res


def dedup_funnel_report_sql() -> str:
    """Twin: one recursive clusters CTE (the near tier), fingerprint
    groupBy (exact), span CTE re-used verbatim, identical folds."""
    from .oracle import (
        NORMALIZE,
        ROLLING_HASH,
        near_dup_clusters_sql,
        remove_duplicate_spans_sql,
    )

    fp = ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    return f"""
    WITH raw AS (
        SELECT CAST(count(*) AS BIGINT) AS r_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS r_toks
        FROM documents
    ),
    exact_keep AS (
        SELECT min(doc_id) AS doc_id
        FROM (SELECT doc_id, {fp} AS fp FROM documents)
        GROUP BY fp
    ),
    members AS ({near_dup_clusters_sql()}),
    enriched AS (
        SELECT m.cluster_id, m.doc_id,
               row_number() OVER (
                   PARTITION BY m.cluster_id
                   ORDER BY d.n_chars DESC, m.doc_id ASC
               ) AS rn
        FROM members m JOIN documents d ON m.doc_id = d.doc_id
    ),
    near_keep AS (
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM members)
        UNION ALL
        SELECT doc_id FROM enriched WHERE rn = 1
    ),
    spans AS ({remove_duplicate_spans_sql()})
    SELECT 'raw' AS tier, r_docs AS n_docs, r_toks AS n_tokens,
           CAST(r_docs * 10000 // r_docs AS BIGINT) AS docs_bp,
           CAST(r_toks * 10000 // r_toks AS BIGINT) AS tokens_bp
    FROM raw
    UNION ALL
    SELECT 'exact', CAST(count(*) AS BIGINT),
           CAST(sum(len(string_split(d.text, ' '))) AS BIGINT),
           CAST(count(*) * 10000 // (SELECT r_docs FROM raw) AS BIGINT),
           CAST(sum(len(string_split(d.text, ' '))) * 10000
                // (SELECT r_toks FROM raw) AS BIGINT)
    FROM documents d JOIN exact_keep k ON k.doc_id = d.doc_id
    UNION ALL
    SELECT 'near_dup', CAST(count(*) AS BIGINT),
           CAST(sum(len(string_split(d.text, ' '))) AS BIGINT),
           CAST(count(*) * 10000 // (SELECT r_docs FROM raw) AS BIGINT),
           CAST(sum(len(string_split(d.text, ' '))) * 10000
                // (SELECT r_toks FROM raw) AS BIGINT)
    FROM documents d JOIN near_keep k ON k.doc_id = d.doc_id
    UNION ALL
    SELECT 'span_dedup', CAST(count(*) AS BIGINT),
           CAST(sum(n_tokens - n_removed) AS BIGINT),
           CAST(count(*) * 10000 // (SELECT r_docs FROM raw) AS BIGINT),
           CAST(sum(n_tokens - n_removed) * 10000
                // (SELECT r_toks FROM raw) AS BIGINT)
    FROM spans
    """


# ---------------------------------------------------------------------------
# MinHash permutation-count trade-off curve
# ---------------------------------------------------------------------------

PERM_CURVE_KS = (8, 16, 32)


def minhash_perm_tradeoff(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
    ks: tuple = PERM_CURVE_KS,
) -> DataFrame:
    """How many permutations does the signature actually need: the
    Jaccard-estimator bias and MAE over the verified near-dup pairs
    using only the FIRST k of the 32 permutations, for k ∈ {8, 16, 32}.
    Signature bytes are the dominant state of a persistent MinHash
    index (32 × 8 B per doc at 100 TB is real money); this curve says
    what halving them costs in estimator noise — the sd shrinks as
    1/√k, and the measured MAE should track it (pinned by a planted
    test). Completes the tuning-curve trio: ivf_nprobe_curve (probe
    count), jaccard_threshold_curve (banding threshold), this
    (signature width).

    Scale shape: near-dup-sized pair relation ⋈ doc-keyed signatures,
    |ks| conditional one-row folds over one joined relation.
    Output: (n_perms, n_pairs, mean_exact, mean_est, bias, mae).
    """
    joined = _verified_signature_pairs(df, text_col, n, threshold).transform(
        tracked_persist
    )
    outs = [
        joined.agg(
            F.lit(k).cast("long").alias("n_perms"),
            *_estimate_error_aggs(_agreement_estimate(k)),
        )
        for k in ks
    ]
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def minhash_perm_tradeoff_sql(
    n: int = DEFAULT_NGRAM, threshold: float = 0.8, ks: tuple = PERM_CURVE_KS
) -> str:
    """Twin: same pair CTE + signature joins, per-k prefix folds."""
    from .oracle import _signature_cte, minhash_lsh_sql

    def arm(k: int) -> str:
        match = " + ".join(
            f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END"
            for i in range(k)
        )
        est = f"CAST(({match}) AS DOUBLE) / {k}"
        return f"""
    SELECT CAST({k} AS BIGINT) AS n_perms,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(p.jaccard), 6) AS mean_exact,
           round(avg({est}), 6) AS mean_est,
           round(avg({est} - p.jaccard), 6) AS bias,
           round(avg(abs({est} - p.jaccard)), 6) AS mae
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b"""

    return f"""
    WITH pairs AS MATERIALIZED ({minhash_lsh_sql(n, threshold)}),
    {_signature_cte(n)}
    {" UNION ALL ".join(arm(k) for k in ks)}
    """


# ---------------------------------------------------------------------------
# cross-source near-dup leakage matrix
# ---------------------------------------------------------------------------


def near_dup_source_matrix(
    t: dict[str, DataFrame],
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> DataFrame:
    """WHICH sources copy WHICH: the verified near-dup pair relation
    aggregated into an unordered source x source matrix — pair counts
    plus the distinct documents each cell touches. ``near_dup_provenance``
    answers "how mixed is each cluster"; this answers the corpus-level
    question a mixture owner asks before weighting sources ("is source
    X largely a mirror of source Y?"). Off-diagonal mass is
    cross-source mirroring; diagonal mass is within-source templating.

    Scale shape: inherits the banded LSH tier (candidates bounded, no
    all-pairs); the matrix itself adds two doc_id-keyed joins onto a
    near-dup-sized relation, one groupBy on the (tiny) source-pair key,
    and one distinct over (cell, doc). Output rows are |sources|² at
    most — driver-safe at any corpus size.

    Output: (source_a, source_b, n_pairs, n_docs), source_a <= source_b.
    """
    d = t["documents"]
    src = d.select("doc_id", "source")
    cells = (
        minhash_lsh_pairs(d, text_col, n, threshold)
        .join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "doc_a",
            "doc_b",
        )
        .transform(tracked_persist)
    )
    n_pairs = cells.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    n_docs = (
        cells.select("source_a", "source_b", F.col("doc_a").alias("d"))
        .unionByName(
            cells.select("source_a", "source_b", F.col("doc_b").alias("d"))
        )
        .distinct()
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return n_pairs.join(n_docs, ["source_a", "source_b"])


def near_dup_source_matrix_sql(
    n: int = DEFAULT_NGRAM, threshold: float = 0.8
) -> str:
    """Twin over the same LSH pair CTE: two source joins,
    least/greatest cell key, pair + distinct-doc folds."""
    from .oracle import minhash_lsh_sql

    return f"""
    WITH pairs AS MATERIALIZED ({minhash_lsh_sql(n, threshold)}),
    cells AS MATERIALIZED (
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               p.doc_a, p.doc_b
        FROM pairs p
        JOIN documents da ON da.doc_id = p.doc_a
        JOIN documents db ON db.doc_id = p.doc_b
    ),
    np AS (
        SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
        FROM cells GROUP BY 1, 2
    ),
    nd AS (
        SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_docs
        FROM (
            SELECT DISTINCT source_a, source_b, d FROM (
                SELECT source_a, source_b, doc_a AS d FROM cells
                UNION ALL
                SELECT source_a, source_b, doc_b AS d FROM cells
            )
        ) GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_pairs, n_docs
    FROM np JOIN nd USING (source_a, source_b)
    """


# ---------------------------------------------------------------------------
# transitive-closure audits of the near-dup graph
# ---------------------------------------------------------------------------


def dedup_cluster_size_hist(
    t: dict[str, DataFrame],
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> DataFrame:
    """Cluster-SIZE histogram of the near-dup graph — the giant-cluster
    alarm ``near_dup_degree_hist`` (a per-NODE view) cannot raise: a
    long chain has degree ≤ 2 everywhere yet collapses hundreds of docs
    into one representative. Size distribution is the first thing to
    read before trusting a transitive dedup pass: mass in large
    clusters means the threshold (or the closure itself) is deleting
    real content.

    Scale shape: the cluster relation (near-dup-sized), one groupBy per
    cluster, one groupBy per size — output is |distinct sizes| rows.

    Output: (cluster_size, n_clusters, n_docs) ordered by size.
    """
    members = near_dup_clusters(t["documents"], text_col, n, threshold)
    sizes = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def dedup_cluster_size_hist_sql(
    n: int = DEFAULT_NGRAM, threshold: float = 0.8
) -> str:
    from .oracle import near_dup_clusters_sql

    return f"""
    WITH members AS MATERIALIZED ({near_dup_clusters_sql(n, threshold)}),
    sizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM members GROUP BY cluster_id
    )
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM sizes
    GROUP BY cluster_size
    ORDER BY cluster_size
    """


def cluster_chain_audit(
    t: dict[str, DataFrame],
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> DataFrame:
    """How much of each cluster is TRANSITIVITY, not similarity: per
    near-dup cluster, the directly-verified pair count vs the C(k,2)
    pairs the transitive closure implies. chained = C(k,2) − direct is
    the number of doc pairs the dedup treats as duplicates WITHOUT any
    verified similarity between them — chain drift (A~B, B~C, A≁C) is
    how a conservative 0.8 threshold still collapses unrelated content,
    and chain_bp is the number to alarm on before a 100 TB collapse.

    Exact integers throughout (chain_bp = chained·10000 div possible).

    Scale shape: the pair and cluster relations (both near-dup-sized)
    joined on one side's doc_id, grouped per cluster — nothing beyond
    the dedup tier it audits.

    Output: (cluster_id, n_docs, direct_pairs, possible_pairs,
    chained_pairs, chain_bp) — clusters only (k ≥ 2).
    """
    d = t["documents"]
    pairs = minhash_lsh_pairs(d, text_col, n, threshold)
    # near_dup_clusters' closure over these pairs: a second
    # minhash_lsh_pairs call would persist the same plan twice
    members = connected_components(pairs).transform(tracked_persist)
    sizes = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    # every verified pair lies inside one cluster: attach via doc_a
    direct = (
        pairs.join(
            members.select(
                F.col("doc_id").alias("doc_a"), "cluster_id"
            ),
            "doc_a",
        )
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("direct_pairs"))
    )
    poss = (F.col("n_docs") * (F.col("n_docs") - 1) / 2).cast("long")
    return (
        sizes.join(direct, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_docs",
            F.coalesce(F.col("direct_pairs"), F.lit(0).cast("long")).alias(
                "direct_pairs"
            ),
            poss.alias("possible_pairs"),
        )
        .select(
            "*",
            (F.col("possible_pairs") - F.col("direct_pairs"))
            .cast("long")
            .alias("chained_pairs"),
        )
        .select(
            "*",
            F.expr(
                "CAST((possible_pairs - direct_pairs) * 10000"
                " DIV possible_pairs AS LONG)"
            ).alias("chain_bp"),
        )
    )


def cluster_chain_audit_sql(
    n: int = DEFAULT_NGRAM, threshold: float = 0.8
) -> str:
    from .oracle import minhash_lsh_sql, near_dup_clusters_sql

    return f"""
    WITH members AS MATERIALIZED ({near_dup_clusters_sql(n, threshold)}),
    pairs AS MATERIALIZED ({minhash_lsh_sql(n, threshold)}),
    sizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
        FROM members GROUP BY cluster_id
    ),
    direct AS (
        SELECT m.cluster_id, CAST(count(*) AS BIGINT) AS direct_pairs
        FROM pairs p JOIN members m ON m.doc_id = p.doc_a
        GROUP BY m.cluster_id
    )
    SELECT s.cluster_id, s.n_docs,
           coalesce(d.direct_pairs, 0) AS direct_pairs,
           CAST(s.n_docs * (s.n_docs - 1) // 2 AS BIGINT) AS possible_pairs,
           CAST(s.n_docs * (s.n_docs - 1) // 2
                - coalesce(d.direct_pairs, 0) AS BIGINT) AS chained_pairs,
           CAST((s.n_docs * (s.n_docs - 1) // 2
                 - coalesce(d.direct_pairs, 0)) * 10000
                // (s.n_docs * (s.n_docs - 1) // 2) AS BIGINT) AS chain_bp
    FROM sizes s LEFT JOIN direct d ON d.cluster_id = s.cluster_id
    """


# ---------------------------------------------------------------------------
# probe-based span decontamination
# ---------------------------------------------------------------------------

DECON_PROBE_PRED = "doc_id < 5"  # fixture probe set, same as contamination


def decontaminate_spans(
    t: dict[str, DataFrame],
    text_col: str = "text",
    k: int = 5,
    probe_pred: str = DECON_PROBE_PRED,
) -> DataFrame:
    """SURGICAL benchmark decontamination (the GPT-3/Pile recipe):
    instead of dropping every training document that shares an n-gram
    with the eval/probe set (``contamination_check`` flags them), cut
    only the overlapping SPANS and keep the rest of the document —
    maximal runs of train k-grams that occur anywhere in the probe
    corpus, merged into disjoint token intervals and removed. Probe
    docs themselves are excluded from the output.

    Machinery shared with substring dedup (same gaps-and-islands +
    interval merge + per-token cut — ``_merge_flagged_spans`` /
    ``_cut_spans``); only the FLAG differs: membership in the probe's
    gram-hash set instead of corpus-wide multiplicity.

    Scale shape: probe gram hashes are a bounded vocabulary
    (benchmarks are small — broadcast semi-join); the train side is
    the same narrow gram explode substring dedup already pays; the
    span windows run over FLAGGED positions only (contamination-sized,
    not corpus-sized).

    Output: (doc_id, clean_text, n_tokens, n_removed) for every
    non-probe document.
    """
    d = t["documents"]
    probe = d.filter(probe_pred)
    train = d.filter(f"NOT ({probe_pred})")
    toks = F.split(F.lower(F.col(text_col)), " ")
    probe_h = (
        probe.select(F.explode(word_ngram_hashes(toks, k)).alias("h"))
        .distinct()
    )
    grams = spread_scan(train).select(
        "doc_id",
        F.posexplode(word_ngram_hashes(toks, k)).alias("pos", "h"),
    )
    flagged = grams.join(F.broadcast(probe_h), "h", "semi")
    return _cut_spans(train, _merge_flagged_spans(flagged, k), text_col)


def decontaminate_spans_sql(
    k: int = 5, probe_pred: str = DECON_PROBE_PRED
) -> str:
    """Twin: probe gram-hash set + the same islands / interval-merge /
    per-token cut CTE chain as remove_duplicate_spans_sql."""
    from .oracle import ROLLING_HASH

    h = ROLLING_HASH.format(s="gram")
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w,
               ({probe_pred}) AS is_probe
        FROM documents
    ),
    grams AS (
        SELECT doc_id, is_probe,
               unnest(range(0, greatest(len(w) - {k} + 1, 0))) AS pos,
               unnest(list_transform(
                   range(0, greatest(len(w) - {k} + 1, 0)),
                   i -> array_to_string(w[i+1 : i+{k}], ' ')
               )) AS gram
        FROM toks
    ),
    hashed AS (SELECT doc_id, is_probe, pos, {h} AS h FROM grams),
    probe AS (SELECT DISTINCT h FROM hashed WHERE is_probe),
    flagged AS (
        SELECT doc_id, pos FROM hashed s
        WHERE NOT is_probe
          AND EXISTS (SELECT 1 FROM probe p WHERE p.h = s.h)
    ),
    islands AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (
                   PARTITION BY doc_id ORDER BY pos
               ) AS grp
        FROM flagged
    ),
    spans AS (
        SELECT doc_id, min(pos) AS s, max(pos) + {k - 1} AS e
        FROM islands GROUP BY doc_id, grp
    ),
    flags AS (
        SELECT doc_id, s, e,
               CASE WHEN lag(e) OVER (PARTITION BY doc_id ORDER BY s)
                         IS NULL
                      OR s > lag(e) OVER (PARTITION BY doc_id ORDER BY s)
                    THEN 1 ELSE 0 END AS brk
        FROM spans
    ),
    mg AS (
        SELECT doc_id, s, e,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                              ROWS UNBOUNDED PRECEDING) AS mgrp
        FROM flags
    ),
    dspans AS (
        SELECT doc_id,
               CAST(min(s) AS BIGINT) AS span_start,
               CAST(max(e) AS BIGINT) AS span_end
        FROM mg GROUP BY doc_id, mgrp
    ),
    tw AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE NOT ({probe_pred})
    ),
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


# ---------------------------------------------------------------------------
# normalization-tier sensitivity + chunk-boundary overlap
# ---------------------------------------------------------------------------

# Cumulative fingerprint-normalization tiers, mildest first. Each tier
# includes everything the previous one does, so dup counts are
# monotone non-decreasing down the list.
NORM_TIERS = ("raw", "casefold", "whitespace", "strip_punct", "token_sort")


def _norm_tier_cols(text_col: str) -> list[Column]:
    """The five cumulative normalization expressions, tier order."""
    raw = F.col(text_col)
    casefold = F.lower(raw)
    ws = F.trim(F.regexp_replace(casefold, r"\s+", " "))
    punct = F.trim(
        F.regexp_replace(F.regexp_replace(ws, "[^a-z0-9 ]", ""), " +", " ")
    )
    tok = F.array_join(F.array_sort(F.split(punct, " ")), " ")
    return [raw, casefold, ws, punct, tok]


def normalization_dup_gain(df: DataFrame, text_col: str = "text") -> DataFrame:
    """How aggressive should exact-dedup fingerprint normalization be?
    Replays exact dedup under five CUMULATIVE normalization tiers —
    raw bytes, casefold, whitespace collapse, punctuation strip,
    sorted-token multiset — and reports, per tier, the duplicate mass
    found and the MARGINAL gain over the previous tier. The knob every
    production dedup run sets blind; this measures it before the run.

    Output, one row per tier ordered by tier_id: (tier_id, tier,
    n_groups, n_dup_docs, gain_docs) — n_dup_docs = docs − distinct
    fingerprints (the mass a keep-first rule would drop), gain_docs
    its first difference. All exact integers.

    Scale shape: ONE corpus scan computes all five fingerprints
    row-locally (array of (tier_id, hash) structs, exploded narrow);
    one groupBy(tier_id) with count_distinct does the rest — the
    5-row ordered-window pass at the end is metadata-sized. At 100 TB
    only 8-byte hashes shuffle, never text.
    """
    tiers = _norm_tier_cols(text_col)
    per = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("tier_id"),
                        rolling_hash(expr).alias("fp"),
                    )
                    for i, expr in enumerate(tiers)
                ]
            )
        ).alias("t")
    ).select("t.tier_id", "t.fp")
    agg = per.groupBy("tier_id").agg(
        F.count_distinct("fp").cast("long").alias("n_groups"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    names = F.array(*[F.lit(t) for t in NORM_TIERS])
    w = Window.orderBy("tier_id")
    return (
        agg.select(
            "tier_id",
            F.element_at(names, F.col("tier_id").cast("int") + 1).alias(
                "tier"
            ),
            "n_groups",
            (F.col("n_docs") - F.col("n_groups")).alias("n_dup_docs"),
        )
        .withColumn(
            "gain_docs",
            (
                F.col("n_dup_docs")
                - F.coalesce(
                    F.lag("n_dup_docs").over(w), F.lit(0).cast("long")
                )
            ).cast("long"),
        )
        .orderBy("tier_id")
    )


def normalization_dup_gain_sql() -> str:
    """Twin: five unioned fingerprint arms from the same cumulative
    normalization chain, same folds, lag() for the marginal gain."""
    from .oracle import ROLLING_HASH

    raw = "text"
    casefold = "lower(text)"
    ws = rf"trim(regexp_replace({casefold}, '\s+', ' ', 'g'))"
    punct = (
        f"trim(regexp_replace(regexp_replace({ws}, '[^a-z0-9 ]', '', 'g'),"
        " ' +', ' ', 'g'))"
    )
    tok = f"array_to_string(list_sort(string_split({punct}, ' ')), ' ')"
    arms = "\n        UNION ALL\n        ".join(
        f"SELECT {i} AS tier_id, {ROLLING_HASH.format(s=expr)} AS fp"
        " FROM documents"
        for i, expr in enumerate([raw, casefold, ws, punct, tok])
    )
    cases = " ".join(
        f"WHEN {i} THEN '{t}'" for i, t in enumerate(NORM_TIERS)
    )
    return f"""
    WITH fps AS ({arms}),
    agg AS (
        SELECT tier_id,
               count(DISTINCT fp) AS n_groups,
               count(*) AS n_docs
        FROM fps GROUP BY tier_id
    ),
    d AS (
        SELECT tier_id, n_groups, n_docs - n_groups AS n_dup_docs FROM agg
    )
    SELECT CAST(tier_id AS BIGINT) AS tier_id,
           CASE tier_id {cases} END AS tier,
           CAST(n_groups AS BIGINT) AS n_groups,
           CAST(n_dup_docs AS BIGINT) AS n_dup_docs,
           CAST(n_dup_docs - coalesce(
               lag(n_dup_docs) OVER (ORDER BY tier_id), 0) AS BIGINT
           ) AS gain_docs
    FROM d ORDER BY tier_id
    """


CHUNK_OVERLAP_K = 3


def chunk_overlap_pairs(
    df: DataFrame, text_col: str = "text", k: int = CHUNK_OVERLAP_K
) -> DataFrame:
    """Chunk-BOUNDARY duplication: doc A's last ``k`` tokens equal doc
    B's first ``k`` — the stitching artifact of overlapping crawl /
    extraction windows, which whole-doc and n-gram tiers both miss
    when the shared region is short. Directional: (doc_a, doc_b) means
    B textually continues A.

    Output: (doc_a, doc_b, overlap_chars), doc_a ≠ doc_b.

    Scale shape: two narrow row-local projections (k-token prefix /
    suffix strings + their 8-byte rolling hashes) and ONE equi-join on
    (h, s) — shuffle keyed by the hash, the string riding along only
    to kill hash collisions exactly. Match volume on a real corpus is
    ~n²/V^k (V = vocabulary), so k is the discrimination knob; the
    registered k=3 keeps the fixture's 31-word vocabulary observable,
    production uses k ≥ 8.
    """
    toks = F.split(F.col(text_col), " ")
    base = df.select("doc_id", toks.alias("w")).filter(F.size("w") >= k)
    pre = base.select(
        F.col("doc_id").alias("doc_b"),
        F.array_join(F.slice("w", 1, k), " ").alias("s"),
    )
    suf = base.select(
        F.col("doc_id").alias("doc_a"),
        F.array_join(F.slice("w", -k, k), " ").alias("s"),
    )
    add_h = lambda d: d.withColumn("h", rolling_hash("s"))  # noqa: E731
    return (
        add_h(suf)
        .join(add_h(pre), ["h", "s"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            "doc_a", "doc_b", F.length("s").cast("long").alias("overlap_chars")
        )
    )


def chunk_overlap_pairs_sql(k: int = CHUNK_OVERLAP_K) -> str:
    """Twin: same k-token prefix/suffix strings, join on the string
    (the hash is a shuffle-key optimization, not a semantic one)."""
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sized AS (SELECT doc_id, w FROM toks WHERE len(w) >= {k}),
    pre AS (
        SELECT doc_id AS doc_b,
               array_to_string(w[1:{k}], ' ') AS s
        FROM sized
    ),
    suf AS (
        SELECT doc_id AS doc_a,
               array_to_string(w[len(w)-{k}+1:len(w)], ' ') AS s
        FROM sized
    )
    SELECT a.doc_a, b.doc_b, CAST(length(a.s) AS BIGINT) AS overlap_chars
    FROM suf a JOIN pre b USING (s)
    WHERE a.doc_a != b.doc_b
    """


# ---------------------------------------------------------------------------
# edit-distance verify tier (character-level near-dup)
# ---------------------------------------------------------------------------

EDIT_DIST_MAX_BP = 2000  # keep pairs whose edit distance <= 20% of max len


def dedup_edit_distance(
    df: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    max_bp: int = EDIT_DIST_MAX_BP,
) -> DataFrame:
    """Near-dup pairs verified by CHARACTER edit distance — the tier
    that catches what set-based Jaccard is blind to: transpositions,
    small in-place edits, and OCR-style character noise move Levenshtein
    a little but can leave shingle sets (and thus Jaccard) untouched, or
    vice versa. Candidates come from the SAME banded MinHash index every
    other tier probes (never all-pairs); the verify metric is
    ``levenshtein(a, b)`` normalized by the longer text, kept when
    ≤ ``max_bp`` basis points.

    Output: (doc_a, doc_b, lev, lev_bp) — exact integers (both engines
    implement the standard unit-cost Levenshtein).

    Scale shape: candidate generation is the banded bucket join
    (bounded, measured linear); the verify joins each candidate's two
    texts to one row and scores locally — O(Σ_cand |a|·|b|) character
    work confined to the candidate set, embarrassingly parallel.
    """
    hs = _shingle_arrays(df, text_col, n)
    bands = _band_relation(hs)
    left = bands.select(F.col("doc_id").alias("doc_a"), "band", "bk")
    right = bands.select(F.col("doc_id").alias("doc_b"), "band", "bk")
    candidates = (
        left.join(right, ["band", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = df.select(F.col("doc_id").alias("doc_a"), F.col(text_col).alias("ta"))
    tb = df.select(F.col("doc_id").alias("doc_b"), F.col(text_col).alias("tb"))
    # Score each candidate ONCE, behind a persist barrier (r10): without
    # it, filter pushdown substitutes the lev_bp alias into a Filter
    # BELOW the projection and the O(|a|·|b|) levenshtein runs twice per
    # candidate (Filter and Project don't share subexpressions). The
    # persisted relation is candidate-sized — tiny next to the text it
    # already carried to one row.
    scored = tracked_persist(
        candidates.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb").cast("long").alias("lev"),
            F.greatest(F.length("ta"), F.length("tb")).alias("mx"),
        )
    )
    return (
        scored.select(
            "doc_a",
            "doc_b",
            "lev",
            F.expr("(lev * 10000) div mx").cast("long").alias("lev_bp"),
        )
        .filter(F.col("lev_bp") <= max_bp)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# shingle-size sensitivity and duplication-by-length audits
# ---------------------------------------------------------------------------

SHINGLE_N_VALUES = (2, 3, 5)


def shingle_n_curve(
    df: DataFrame,
    ns: tuple[int, ...] = SHINGLE_N_VALUES,
    text_col: str = "text",
) -> DataFrame:
    """Sensitivity of the PRODUCTION dedup index to the SHINGLE SIZE
    n — the third tuning axis next to the threshold curve
    (``jaccard_threshold_curve``) and the permutation trade-off
    (``minhash_perm_tradeoff``): small n inflates similarity (common
    word pairs collide), large n deflates it (one edit kills n
    shingles) and drops short docs entirely. Per candidate n this runs
    the SAME banded MinHash index every tier ships and reports the
    verified pair volume at three Jaccard cuts plus the vocabulary and
    doc coverage — what actually changes when the index is rebuilt
    with a different n.

    (Deliberately the BANDED tier, not the exact co-shingle join: at
    n=2 a small vocabulary makes almost every doc pair co-shingled,
    so a ground-truth sweep would be quadratic by construction —
    exactly the plan shape this engine bans. Banding keeps each arm's
    candidates bucket-bounded at every n.)

    Output: one row per n — (n, n_docs_with_shingles,
    distinct_shingles, pairs_j50, pairs_j80, exact_pairs), exact
    integers (Jaccard rounded-6 like every verify tier).

    Scale shape: ONE persisted token scan (the corpus scan + split —
    the shared upstream every arm needs) + |ns| banded passes over it
    (row-local signatures, bucket joins, candidate-bounded verify),
    with each arm's hs-array relation persisted and shared between its
    stats fold and its pair tier; output |ns| rows. Before round 8
    each arm re-scanned and re-tokenized the corpus twice (stats +
    pairs): 6 scans for the default 3-arm curve, now 1.
    """
    toks = _token_relation(df, text_col).transform(tracked_persist)
    arms = []
    for n in ns:
        hs = _shingle_arrays_from_tokens(toks, n).transform(tracked_persist)
        # The two count_distincts in one aggregate DO force an Expand
        # that doubles the exploded relation before the shuffle, but
        # splitting them (single-distinct agg + row-count crossJoin)
        # measured 1.11x SLOWER in a same-session A/B (r11,
        # plans/r11_ab_kmeans_layout_shingle.json) — the extra
        # aggregate action latency beats the Expand's cost. Kept as-is.
        stats = hs.select("doc_id", F.explode("hs").alias("h")).agg(
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count_distinct("h").cast("long").alias("n_shingles"),
        )
        jac = _minhash_pairs_from_arrays(hs, threshold=0.5)
        folded = jac.agg(
            F.sum((F.col("jaccard") >= 0.5).cast("int"))
            .cast("long")
            .alias("pairs_j50"),
            F.sum((F.col("jaccard") >= 0.8).cast("int"))
            .cast("long")
            .alias("pairs_j80"),
            F.sum((F.col("jaccard") >= 1.0).cast("int"))
            .cast("long")
            .alias("exact_pairs"),
        )
        arms.append(
            stats.crossJoin(F.broadcast(folded)).select(
                F.lit(int(n)).cast("long").alias("n"),
                F.col("n_docs").alias("n_docs_with_shingles"),
                F.col("n_shingles").alias("distinct_shingles"),
                F.coalesce("pairs_j50", F.lit(0)).cast("long").alias(
                    "pairs_j50"
                ),
                F.coalesce("pairs_j80", F.lit(0)).cast("long").alias(
                    "pairs_j80"
                ),
                F.coalesce("exact_pairs", F.lit(0)).cast("long").alias(
                    "exact_pairs"
                ),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("n")


def shingle_n_curve_sql(ns: tuple[int, ...] = SHINGLE_N_VALUES) -> str:
    """Twin: the banded-LSH pair SQL once per n, same folds."""
    from .oracle import minhash_lsh_sql

    arms = []
    for n in ns:
        arms.append(f"""
    SELECT CAST({n} AS BIGINT) AS n,
           (SELECT count(DISTINCT doc_id) FROM (
               SELECT doc_id FROM sh{n})) AS n_docs_with_shingles,
           (SELECT count(DISTINCT h) FROM sh{n}) AS distinct_shingles,
           p{n}.pairs_j50, p{n}.pairs_j80, p{n}.exact_pairs
    FROM (
        SELECT CAST(coalesce(sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0
                                  END), 0) AS BIGINT) AS pairs_j50,
               CAST(coalesce(sum(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0
                                  END), 0) AS BIGINT) AS pairs_j80,
               CAST(coalesce(sum(CASE WHEN jaccard >= 1.0 THEN 1 ELSE 0
                                  END), 0) AS BIGINT) AS exact_pairs
        FROM pairs{n}
    ) p{n}""")
    ctes = []
    import re

    for n in ns:
        inner = minhash_lsh_sql(n, 0.5).strip()
        assert inner.startswith("WITH ")
        inner = inner[len("WITH "):]
        # the final SELECT of the pair SQL becomes a named CTE; suffix
        # the shared CTE names so the arms coexist in one statement
        for name in ("toks", "grams", "sh", "sig", "bands", "cand",
                     "sizes", "shared", "scored"):
            inner = re.sub(rf"\b{name}\b", f"{name}{n}", inner)
        cut = inner.rfind("SELECT")
        body, final = inner[:cut].rstrip().rstrip(","), inner[cut:]
        ctes.append(body)
        ctes.append(f"pairs{n} AS ({final})")
    body = ",\n    ".join(ctes)
    union = "\n    UNION ALL\n    ".join(arms)
    return f"""
    WITH {body}
    {union}
    ORDER BY n
    """


def dup_rate_by_length(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Is duplication concentrated in SHORT documents? (It usually is —
    boilerplate, templates and stubs are short; if so, a min-length
    filter removes a disproportionate share of the dup mass before the
    expensive tiers run.) Per power-of-two token-length bucket: doc
    count, docs participating in an exact-duplicate group, and docs
    that are near-dup cluster members, each in exact basis points.

    Output: (len_bucket, n_docs, exact_dup_docs, exact_dup_bp,
    near_dup_docs, near_dup_bp), ordered by bucket (bucket = floor
    log2 of token count; 0 for empty docs).

    Scale shape: the fingerprint groupBy and the banded LSH pass are
    the family's standard linear tiers; the bucket fold adds one
    narrow projection and a |buckets|-row aggregate.
    """
    ntok = F.size(F.split(F.col(text_col), " "))
    # floor(log2(n)) computed EXACTLY as len(binary(n)) - 1: the JVM's
    # ln-ratio log2 can sit one ULP under an integer at powers of two,
    # which would shift a bucket boundary relative to the twin
    base = df.select(
        "doc_id",
        F.when(
            ntok > 0,
            F.length(F.conv(ntok.cast("string"), 10, 2)) - 1,
        )
        .otherwise(0)
        .cast("long")
        .alias("len_bucket"),
        rolling_hash(normalize_text(F.col(text_col))).alias("fp"),
    )
    dup_fps = (
        base.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("fp")
    )
    exact_docs = base.join(dup_fps, "fp", "semi").select(
        "doc_id", F.lit(1).alias("is_exact")
    )
    near_docs = near_dup_clusters(df, text_col).select(
        "doc_id", F.lit(1).alias("is_near")
    )
    return (
        base.join(exact_docs, "doc_id", "left")
        .join(near_docs, "doc_id", "left")
        .groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce("is_exact", F.lit(0)))
            .cast("long")
            .alias("exact_dup_docs"),
            F.sum(F.coalesce("is_near", F.lit(0)))
            .cast("long")
            .alias("near_dup_docs"),
        )
        .select(
            "len_bucket",
            "n_docs",
            "exact_dup_docs",
            F.expr("(exact_dup_docs * 10000) div n_docs")
            .cast("long")
            .alias("exact_dup_bp"),
            "near_dup_docs",
            F.expr("(near_dup_docs * 10000) div n_docs")
            .cast("long")
            .alias("near_dup_bp"),
        )
        .orderBy("len_bucket")
    )


def dup_rate_by_length_sql() -> str:
    """Twin: same log2 bucket, fingerprint groups, recursive-CTE
    cluster membership."""
    from .oracle import NORMALIZE, ROLLING_HASH, near_dup_clusters_sql

    fp = ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    return f"""
    WITH members AS ({near_dup_clusters_sql()}),
    base AS (
        SELECT doc_id,
               CASE WHEN len(string_split(text, ' ')) > 0
                    THEN CAST(length(bin(len(string_split(text, ' ')))) - 1
                              AS BIGINT)
                    ELSE 0 END AS len_bucket,
               {fp} AS fp
        FROM documents
    ),
    dup_fps AS (
        SELECT fp FROM base GROUP BY fp HAVING count(*) >= 2
    )
    SELECT b.len_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN b.fp IN (SELECT fp FROM dup_fps)
                         THEN 1 ELSE 0 END) AS BIGINT) AS exact_dup_docs,
           CAST((sum(CASE WHEN b.fp IN (SELECT fp FROM dup_fps)
                          THEN 1 ELSE 0 END) * 10000) // count(*)
                AS BIGINT) AS exact_dup_bp,
           CAST(sum(CASE WHEN b.doc_id IN (SELECT doc_id FROM members)
                         THEN 1 ELSE 0 END) AS BIGINT) AS near_dup_docs,
           CAST((sum(CASE WHEN b.doc_id IN (SELECT doc_id FROM members)
                          THEN 1 ELSE 0 END) * 10000) // count(*)
                AS BIGINT) AS near_dup_bp
    FROM base b
    GROUP BY b.len_bucket
    ORDER BY b.len_bucket
    """


def fingerprint_collision_audit(
    df: DataFrame,
    ns: tuple[int, ...] = SHINGLE_N_VALUES,
    text_col: str = "text",
) -> DataFrame:
    """AUDIT OF OUR OWN HASHES: every dedup tier in this engine keys on
    the rolling hash mod P ≈ 2³⁰ — by the birthday bound, collisions
    appear around √P ≈ 31k distinct shingles, which a production corpus
    passes instantly. A shingle-hash collision makes two UNRELATED
    grams count as shared (inflating Jaccard); a fingerprint collision
    silently merges two distinct documents in exact dedup. This audit
    measures the actual rate instead of assuming it away: per shingle
    size, distinct gram STRINGS vs distinct hash values, colliding
    hash count, and the rate in exact bp — plus a whole-doc
    fingerprint row. The 100 TB remediation (documented here, priced
    by this audit) is a second independent hash joined alongside the
    first — collision probability squares, cost is one extra 8-byte
    column.

    Output: one row per tier — (tier, distinct_keys, distinct_hashes,
    colliding_hashes, collision_bp).

    Scale shape: per tier one distinct over (string, hash) then a
    hash-keyed count — the same shuffles the dedup tiers already pay;
    |ns|+1 output rows.
    """
    from ..functions import normalize_text

    def _fold(pairs: DataFrame, tier: str) -> DataFrame:
        # empty-tier safe (a corpus of sub-n-token docs has no grams):
        # coalesce the sums and guard the bp division
        per_h = pairs.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
        return per_h.agg(
            F.coalesce(F.sum("c"), F.lit(0))
            .cast("long")
            .alias("distinct_keys"),
            F.count(F.lit(1)).cast("long").alias("distinct_hashes"),
            F.coalesce(F.sum((F.col("c") >= 2).cast("int")), F.lit(0))
            .cast("long")
            .alias("colliding_hashes"),
        ).select(
            F.lit(tier).alias("tier"),
            "distinct_keys",
            "distinct_hashes",
            "colliding_hashes",
            F.expr(
                "CASE WHEN distinct_hashes > 0 THEN "
                "(colliding_hashes * 10000) div distinct_hashes "
                "ELSE 0 END"
            )
            .cast("long")
            .alias("collision_bp"),
        )

    arms = []
    toks = F.split(F.col(text_col), " ")
    for n in ns:
        grams = spread_scan(df).select(
            F.explode(F.array_distinct(word_ngrams(toks, n))).alias("g")
        )
        pairs = grams.select(
            "g", rolling_hash(F.col("g")).alias("h")
        ).distinct()
        arms.append(_fold(pairs, f"shingle_n{n}"))
    doc_pairs = df.select(
        normalize_text(F.col(text_col)).alias("g")
    ).select("g", rolling_hash(F.col("g")).alias("h")).distinct()
    arms.append(_fold(doc_pairs, "doc_fingerprint"))
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("tier")


def fingerprint_collision_audit_sql(
    ns: tuple[int, ...] = SHINGLE_N_VALUES,
) -> str:
    """Twin: same distinct (string, hash) relations and folds."""
    from .oracle import NORMALIZE, ROLLING_HASH

    hg = ROLLING_HASH.format(s="g")
    arms = []
    for n in ns:
        arms.append(f"""
    SELECT 'shingle_n{n}' AS tier, * FROM (
        SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS distinct_keys,
               CAST(count(*) AS BIGINT) AS distinct_hashes,
               CAST(coalesce(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS colliding_hashes,
               CAST(CASE WHEN count(*) > 0 THEN
                    (sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) * 10000) //
                    count(*) ELSE 0 END AS BIGINT) AS collision_bp
        FROM (
            SELECT h, count(*) AS c FROM (
                SELECT DISTINCT g, {hg} AS h FROM (
                    SELECT unnest(list_distinct(list_transform(
                        range(1, greatest(len(w) - {n - 1}, 0) + 1),
                        i -> array_to_string(w[i:i+{n - 1}], ' ')))) AS g
                    FROM (SELECT string_split(text, ' ') AS w
                          FROM documents)
                )
            ) GROUP BY h
        )
    )""")
    fpn = ROLLING_HASH.format(s=NORMALIZE.format(s="g"))
    arms.append(f"""
    SELECT 'doc_fingerprint' AS tier, * FROM (
        SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS distinct_keys,
               CAST(count(*) AS BIGINT) AS distinct_hashes,
               CAST(coalesce(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS colliding_hashes,
               CAST(CASE WHEN count(*) > 0 THEN
                    (sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) * 10000) //
                    count(*) ELSE 0 END AS BIGINT) AS collision_bp
        FROM (
            SELECT h, count(*) AS c FROM (
                SELECT DISTINCT {NORMALIZE.format(s="g")} AS gn, {fpn} AS h
                FROM (SELECT text AS g FROM documents)
            ) GROUP BY h
        )
    )""")
    union = "\n    UNION ALL\n    ".join(arms)
    return f"""
    {union}
    ORDER BY tier
    """


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record linkage scores (round 8)
# ---------------------------------------------------------------------------

# Fixed m-probabilities (P(field agrees | records match)) — the
# reviewer-supplied half of the Fellegi-Sunter (1969) model; the
# u-probabilities (P(agree | non-match)) are ESTIMATED FROM THE DATA as
# the random-pair agreement probability Σ_v (c_v/N)² per field, exact
# integers up to one final division. In production m comes from EM or
# labeled pairs; fixing it keeps the query deterministic while the
# u-side (where the data actually speaks) stays fully data-driven.
FS_M = {"type": 0.9, "tok1": 0.85, "tok2": 0.85, "price": 0.7}


def fellegi_sunter_scores(t: dict[str, DataFrame]) -> DataFrame:
    """Fellegi-Sunter agreement-pattern weights over blocked part
    pairs — the probabilistic tier of the entity-resolution kit
    (``fuzzy_name_pairs`` = distance tier, ``snm_fuzzy_pairs`` =
    sorted-neighborhood tier; this one turns field agreements into
    calibrated log-likelihood match weights).

    Candidates: same (p_brand, p_size) block — a standard cheap
    blocking key; the self-join touches only within-block pairs.
    Agreement vector per pair: p_type, first name token, last name
    token, and the 100-unit retail-price band. Each field f
    contributes log2(m_f/u_f) on agreement and
    log2((1-m_f)/(1-u_f)) on disagreement; u_f is the exact
    random-pair agreement rate Σ_v c_v² / N² computed from the field's
    value distribution. Output is the PATTERN table (16 rows max):
    (agreement bits, n_pairs, fs_weight_r6) — the artifact a linkage
    review actually reads, with pair volume per pattern.

    Scale shape: one explode pass folds all four field distributions
    to (field, S2) metadata; the block self-join is equi-keyed (never
    all-pairs); patterns aggregate to ≤16 rows; the field stats ride
    in as a broadcast 1-row fold.
    """
    p = t["part"].select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.col("p_type").alias("f_type"),
        F.split(F.col("p_name"), " ").getItem(0).alias("f_tok1"),
        F.element_at(F.split(F.col("p_name"), " "), -1).alias("f_tok2"),
        F.floor(F.col("p_retailprice") / 100.0).cast("long").cast("string")
        .alias("f_price"),
    )
    fields = ("type", "tok1", "tok2", "price")
    entries = F.array(
        *[
            F.struct(F.lit(f).alias("field"), F.col(f"f_{f}").alias("v"))
            for f in fields
        ]
    )
    s2 = (
        p.select(F.explode(entries).alias("e"))
        .select("e.field", "e.v")
        .groupBy("field", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("field")
        .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"))
    )
    n_row = p.agg(F.count(F.lit(1)).cast("long").alias("n"))
    stats = s2.groupBy().agg(
        *[
            F.max(F.when(F.col("field") == f, F.col("s2"))).alias(f"s2_{f}")
            for f in fields
        ]
    ).crossJoin(F.broadcast(n_row))

    a = p.select(
        F.col("p_partkey").alias("ka"),
        "p_brand",
        "p_size",
        *[F.col(f"f_{f}").alias(f"a_{f}") for f in fields],
    )
    b = p.select(
        F.col("p_partkey").alias("kb"),
        "p_brand",
        "p_size",
        *[F.col(f"f_{f}").alias(f"b_{f}") for f in fields],
    )
    pairs = a.join(b, ["p_brand", "p_size"]).filter(F.col("ka") < F.col("kb"))
    patt = pairs.select(
        *[
            (F.col(f"a_{f}") == F.col(f"b_{f}")).cast("int").alias(f"agree_{f}")
            for f in fields
        ]
    ).groupBy(*[f"agree_{f}" for f in fields]).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    out = patt.crossJoin(F.broadcast(stats))
    ln2 = 0.6931471805599453
    weight = None
    for f in fields:
        u = F.col(f"s2_{f}").cast("double") / (
            F.col("n").cast("double") * F.col("n").cast("double")
        )
        # 1-m precomputed in Python: Spark's double 1.0-0.9 and DuckDB's
        # decimal 1.0-0.9 round differently at the last bit; a shared
        # literal removes the engine asymmetry
        m, one_m = FS_M[f], 1.0 - FS_M[f]
        term = F.when(
            F.col(f"agree_{f}") == 1,
            (F.log(F.lit(m)) - F.log(u)) / F.lit(ln2),
        ).otherwise(
            (F.log(F.lit(one_m)) - F.log(F.lit(1.0) - u)) / F.lit(ln2)
        )
        weight = term if weight is None else weight + term
    return out.select(
        *[f"agree_{f}" for f in fields],
        "n_pairs",
        F.round(weight, 6).alias("fs_weight_r6"),
    ).orderBy(*[f"agree_{f}" for f in fields])


def fellegi_sunter_scores_sql() -> str:
    """Twin: identical blocking, agreement bits, exact-integer u
    estimation, and double log-weight arithmetic."""
    fields = ("type", "tok1", "tok2", "price")
    canon = {
        "type": "p_type",
        "tok1": "string_split(p_name, ' ')[1]",
        "tok2": "string_split(p_name, ' ')[-1]",
        "price": "CAST(CAST(floor(p_retailprice / 100.0) AS BIGINT) "
                 "AS VARCHAR)",
    }
    s2_sel = " UNION ALL ".join(
        f"SELECT '{f}' AS field, CAST(sum(c * c) AS BIGINT) AS s2 FROM ("
        f"SELECT {canon[f]} AS v, CAST(count(*) AS BIGINT) AS c "
        f"FROM part GROUP BY 1)"
        for f in fields
    )
    ln2 = 0.6931471805599453
    terms = []
    for f in fields:
        m, one_m = FS_M[f], 1.0 - FS_M[f]
        u = (
            f"(CAST((SELECT s2 FROM s2s WHERE field = '{f}') AS DOUBLE) "
            f"/ (CAST((SELECT n FROM nn) AS DOUBLE) "
            f"* CAST((SELECT n FROM nn) AS DOUBLE)))"
        )
        terms.append(
            f"CASE WHEN agree_{f} = 1 "
            f"THEN (ln({m!r}) - ln({u})) / {ln2!r} "
            f"ELSE (ln({one_m!r}) - ln(CAST(1.0 AS DOUBLE) - {u})) "
            f"/ {ln2!r} END"
        )
    weight = " + ".join(terms)
    agree_cols = ", ".join(
        f"CAST(a.f_{f} = b.f_{f} AS INT) AS agree_{f}" for f in fields
    )
    group_cols = ", ".join(f"agree_{f}" for f in fields)
    return f"""
    WITH p AS (
        SELECT p_partkey, p_brand, p_size,
               p_type AS f_type,
               string_split(p_name, ' ')[1] AS f_tok1,
               string_split(p_name, ' ')[-1] AS f_tok2,
               CAST(CAST(floor(p_retailprice / 100.0) AS BIGINT) AS VARCHAR)
                   AS f_price
        FROM part
    ),
    s2s AS ({s2_sel}),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
    patt AS (
        SELECT {agree_cols}, CAST(count(*) AS BIGINT) AS n_pairs
        FROM p a JOIN p b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
        GROUP BY 1, 2, 3, 4
    )
    SELECT {group_cols}, n_pairs,
           round({weight}, 6) AS fs_weight_r6
    FROM patt
    ORDER BY {group_cols}
    """
