"""Dataset-curation operators: the steps between "cleaned corpus" and
"training batches" in an LLM data pipeline.

* **Deterministic hash splits / samples** — assignment is a pure
  function of the row key (shared rolling hash), so train/val/test
  membership is reproducible across runs, clusters and engines; no
  RNG state, no ordering dependence, and adding rows never reshuffles
  existing assignments (the property random splits lack).
* **Benchmark contamination check** — documents sharing word-n-gram
  shingles with a probe (benchmark) set, via a broadcast semi-ish join
  on shingle hashes: cost O(|corpus shingles|), candidates bounded by
  the probe set's shingle vocabulary.
* **Length bucketing** — power-of-two token-length histogram, the
  batch-shape planning input.
* **Greedy sequence packing** — documents packed first-fit-sequentially
  into fixed token budgets per deterministic group (doc_id % n_groups;
  Arrow-batched, state is one running sum). Packing is inherently a
  sequential scan, so it parallelizes per group: global pack ids are
  (group, seq), identical on any engine or cluster layout.

Every operator here is engine-portable with a DuckDB twin (packing's
twin unrolls the greedy recurrence as a linear recursive CTE).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..cache import tracked_cache, tracked_persist
from . import distrank

from ..functions import FNV_MOD, rolling_hash
from .dedup import DEFAULT_NGRAM, near_dup_clusters, shingle_hashes
from .oracle import ROLLING_HASH, _shingles_cte, near_dup_clusters_sql

N_BUCKETS = 100  # hash-assignment resolution: percent granularity


def _assign_bucket(key: Column) -> Column:
    """Deterministic 0..99 bucket from the row key (engine-portable
    rolling hash of the key's string form + a fixed salt so split
    buckets are independent of any other hash use of the key)."""
    return rolling_hash(F.concat(F.lit("split:"), key.cast("string"))) % N_BUCKETS


def dataset_split(
    df: DataFrame,
    key: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """train/val/test assignment per row — stable under appends,
    identical on any engine that reproduces the hash."""
    b = _assign_bucket(F.col(key))
    return df.select(
        key,
        b.cast("int").alias("bucket"),
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test")
        .alias("split"),
    )


def hash_sample(df: DataFrame, rate_pct: int, key: str = "doc_id") -> DataFrame:
    """Reproducible ~rate_pct% sample: keep rows whose bucket falls
    below the rate. Same rows come back on every run/engine."""
    return df.filter(_assign_bucket(F.col(key)) < rate_pct)


def _split_bucket_sql(key_sql: str) -> str:
    h = ROLLING_HASH.format(s=f"'split:' || CAST({key_sql} AS VARCHAR)")
    return f"({h}) % {N_BUCKETS}"


def dataset_split_sql(train_pct: int = 80, val_pct: int = 10) -> str:
    b = _split_bucket_sql("doc_id")
    return f"""
    SELECT doc_id,
           CAST({b} AS INT) AS bucket,
           CASE WHEN {b} < {train_pct} THEN 'train'
                WHEN {b} < {train_pct + val_pct} THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """


def hash_sample_sql(rate_pct: int) -> str:
    return f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_split_bucket_sql("doc_id")} < {rate_pct}
    """


def balanced_sample(
    df: DataFrame, by: str = "lang", k: int = 50, key: str = "doc_id"
) -> DataFrame:
    """Stratified sample: up to ``k`` rows per class, chosen by a
    deterministic hash order (not arbitrary row order), so the sample is
    reproducible and append-stable per class. One shuffle on the class
    key; per-class state is the top-k window."""
    from pyspark.sql.window import Window

    h = rolling_hash(F.concat(F.lit("sample:"), F.col(key).cast("string")))
    w = Window.partitionBy(by).orderBy(h.asc(), F.col(key).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def balanced_sample_sql(by: str = "lang", k: int = 50) -> str:
    h = ROLLING_HASH.format(s="'sample:' || CAST(doc_id AS VARCHAR)")
    return f"""
    SELECT doc_id, {by}
    FROM (
        SELECT doc_id, {by},
               row_number() OVER (
                   PARTITION BY {by} ORDER BY {h} ASC, doc_id ASC
               ) AS rn
        FROM documents
    )
    WHERE rn <= {k}
    """


# ---------------------------------------------------------------------------
# contamination
# ---------------------------------------------------------------------------

PROBE_PRED = "doc_id < 5"  # fixture probe set: stand-in benchmark docs


def contamination_check(
    df: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
) -> DataFrame:
    """Docs sharing >= 1 word-n-gram shingle with the probe corpus:
    (doc_id, n_shared_shingles), probe docs excluded from the output.

    Scale shape: probe shingles are a bounded vocabulary (benchmarks
    are small) — the join broadcasts them; corpus-side cost is the
    shingle scan it already shares with dedup. The probe anti-join sits
    ABOVE the corpus shingling, not below it, so the shingle subtree is
    plan-identical to dedup's persisted relation and the cache manager
    substitutes it — in a session that already deduped, contamination
    costs one broadcast join, not a second corpus scan."""
    probe_ids = probe.select("doc_id")
    probe_sh = (
        shingle_hashes(probe, text_col, n)
        .select(F.col("h").alias("ph"))
        .distinct()
    )
    corpus_sh = shingle_hashes(df, text_col, n).join(
        probe_ids, "doc_id", "left_anti"
    )
    return (
        corpus_sh.join(F.broadcast(probe_sh), F.col("h") == F.col("ph"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


def contamination_sql(n: int = DEFAULT_NGRAM) -> str:
    return f"""
    WITH {_shingles_cte(n=n, table="documents")},
    probe AS (SELECT DISTINCT h FROM sh WHERE {PROBE_PRED}),
    corpus AS (SELECT doc_id, h FROM sh WHERE NOT ({PROBE_PRED}))
    SELECT doc_id, count(*) AS n_shared_shingles
    FROM corpus JOIN probe USING (h)
    GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# full curation pipeline (the composition)
# ---------------------------------------------------------------------------


def curated_corpus(
    t: dict[str, DataFrame], min_quality: float = 0.85
) -> DataFrame:
    """The end-to-end curation flow as ONE Catalyst plan:
    quality filter → exact dedup keep-first → drop benchmark docs and
    benchmark-contaminated docs → deterministic train/val/test split.

    Returns (doc_id, lang, split). Composing proves the stages chain
    without materialization barriers; only ids and 8-byte hashes ever
    shuffle (text stays in the scan stage)."""
    from .pipeline import clean_corpus

    docs = t["documents"]
    probe = docs.filter(PROBE_PRED)
    survivors = clean_corpus(t, min_quality=min_quality)
    contaminated = contamination_check(docs, probe).select("doc_id")
    clean = (
        survivors.join(probe.select("doc_id"), "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
    )
    b = _assign_bucket(F.col("doc_id"))
    return clean.select(
        "doc_id",
        "lang",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
        .alias("split"),
    )


def curated_corpus_sql(min_quality: float = 0.85) -> str:
    from .pipeline import clean_corpus_sql

    b = _split_bucket_sql("doc_id")
    return f"""
    WITH base AS ({clean_corpus_sql(min_quality)}),
    {_shingles_cte()},
    probe_sh AS (SELECT DISTINCT h FROM sh WHERE {PROBE_PRED}),
    contaminated AS (
        SELECT DISTINCT doc_id FROM sh
        WHERE NOT ({PROBE_PRED}) AND h IN (SELECT h FROM probe_sh)
    )
    SELECT doc_id, lang,
           CASE WHEN {b} < 80 THEN 'train'
                WHEN {b} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM base
    WHERE NOT ({PROBE_PRED})
      AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    """


# ---------------------------------------------------------------------------
# corpus mixing
# ---------------------------------------------------------------------------

MIX_RESOLUTION = 1_000_000  # hash-rate granularity (~1e-6 rate steps)

# Multiplicative avalanche finish (Knuth constant) applied after the
# polynomial fold: sequential row keys give near-consecutive polynomial
# hashes (~10k spread for 4-digit ids), which collapse under a large
# modulus like 1e6 — the % 100 split buckets survive that by wrapping,
# a fine-grained rate threshold does not. One exact int64 multiply
# (h < 1e9+7, so h * KNUTH < 2^63) keeps the finish engine-portable.
_MIX_KNUTH = 2654435761

DEFAULT_MIX = {"en": 0.4, "zh": 0.05, "es": 0.2, "de": 0.2, "fr": 0.15}


def _mix_weight(by: str, weights: dict[str, float]):
    wt = F.lit(0.0)
    for g in sorted(weights):
        wt = F.when(F.col(by) == g, F.lit(float(weights[g]))).otherwise(wt)
    return wt


def corpus_mix(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    by: str = "lang",
    key: str = "doc_id",
    resolution: int = MIX_RESOLUTION,
) -> DataFrame:
    """Deterministic weighted mixture downsampling: keep a subset whose
    ``by``-group proportions match ``weights`` (DoReMi-style static
    domain weights), selecting the LARGEST total the weights allow
    without replication (T = min over groups of n_g / w_g; group g keeps
    ~T*w_g rows). Groups with no (or zero) weight are dropped.

    Scale shape: one tiny groupBy for the group counts, per-group keep
    rates broadcast back, then a MAP-SIDE hash filter — no per-group
    sort or window over the corpus, so a billion-row dominant domain
    costs the same per row as a small one (contrast balanced_sample's
    row_number, which funnels each group through one task). Selection is
    a content hash of the row key, so it is append-stable and
    reproducible on any engine with the same rolling hash; achieved
    counts approximate n_g*rate to within hash-uniformity noise.

    Cross-engine exactness: the rate arithmetic is a fixed IEEE op
    sequence over (count, weight-literal) pairs — the DuckDB twin casts
    its weight literals to DOUBLE (decimal literals would otherwise
    change the division) and runs the same expression, so thresholds
    are bitwise identical and the kept set matches exactly.
    """
    from pyspark.sql.window import Window

    weights = DEFAULT_MIX if weights is None else weights
    counts = df.groupBy(by).agg(F.count(F.lit(1)).alias("__n"))
    rates = (
        counts.withColumn("__wt", _mix_weight(by, weights))
        .filter(F.col("__wt") > 0)
        .withColumn(
            "__T",
            F.min(F.col("__n") / F.col("__wt")).over(
                Window.partitionBy()
            ),
        )
        .withColumn(
            "__thr",
            F.floor(
                F.lit(resolution) * F.col("__wt") * F.col("__T") / F.col("__n")
            ).cast("long"),
        )
        .select(by, "__thr")
    )
    h = (
        rolling_hash(F.concat(F.lit("mix:"), F.col(key).cast("string")))
        * F.lit(_MIX_KNUTH)
    ) % F.lit(FNV_MOD) % resolution
    return (
        df.join(F.broadcast(rates), by, "inner")
        .filter(h < F.col("__thr"))
        .select(key, by)
    )


def corpus_mix_sql(
    weights: dict[str, float] | None = None,
    by: str = "lang",
    resolution: int = MIX_RESOLUTION,
) -> str:
    weights = DEFAULT_MIX if weights is None else weights
    case = " ".join(
        f"WHEN '{g}' THEN CAST({float(weights[g])!r} AS DOUBLE)"
        for g in sorted(weights)
    )
    poly = ROLLING_HASH.format(s="'mix:' || CAST(doc_id AS VARCHAR)")
    h = f"(({poly}) * {_MIX_KNUTH}) % {FNV_MOD}"
    return f"""
    WITH counts AS (
        SELECT {by} AS g, count(*) AS n FROM documents GROUP BY {by}
    ),
    weighted AS (
        SELECT g, n, CASE g {case} ELSE CAST(0.0 AS DOUBLE) END AS wt
        FROM counts
    ),
    feasible AS (
        SELECT g, n, wt, min(n / wt) OVER () AS t
        FROM weighted WHERE wt > 0
    ),
    thr AS (
        SELECT g, CAST(floor({resolution} * wt * t / n) AS BIGINT) AS thr
        FROM feasible
    )
    SELECT d.doc_id, d.{by}
    FROM documents d JOIN thr ON d.{by} = thr.g
    WHERE ({h}) % {resolution} < thr.thr
    """


# ---------------------------------------------------------------------------
# deterministic corpus shuffle
# ---------------------------------------------------------------------------


def _shuffle_hash(key: Column, seed: str):
    h = rolling_hash(
        F.concat(F.lit(f"shuffle:{seed}:"), key.cast("string"))
    )
    # Knuth finish: sequential keys give near-consecutive polynomial
    # hashes; ordering by the raw fold would preserve much of the
    # original id order instead of permuting it.
    return (h * F.lit(_MIX_KNUTH)) % F.lit(FNV_MOD)


SHUFFLE_BUCKETS = 256


def corpus_shuffle(
    df: DataFrame,
    seed: str = "epoch0",
    key: str = "doc_id",
    buckets: int = SHUFFLE_BUCKETS,
) -> DataFrame:
    """Reproducible global training order: rank every row by an
    avalanched content hash of (seed, key). Each ``seed`` yields an
    independent permutation — the per-epoch shuffle of a training run,
    identical across engines, runs, and cluster sizes.

    Scale shape: the rank is EXACT, DISTRIBUTED, and — critically —
    VALUE-derived. The hash space [0, P) is cut into ``buckets`` fixed
    equal spans; global rank = (prefix-sum of bucket counts, a
    ``buckets``-row relation joined back by broadcast) + row_number
    within the bucket. Nothing depends on physical partitioning: an
    earlier formulation ranked by range partition (the distrank shape),
    whose RangePartitioner SAMPLES boundaries — recomputing the plan
    resampled different boundaries than the collected counts, yielding
    non-permutation, nondeterministic ranks at corpus sizes where the
    sample is partial (caught at 2M rows). Fixed spans have no sampled
    state, so both passes over the source agree by construction. The
    hash is avalanched (Knuth finish), so bucket loads are uniform; a
    naive ``row_number() OVER (ORDER BY hash)`` funnels the corpus
    through one task, while each bucket here ranks in parallel.
    """
    from pyspark.sql.window import Window

    h = _shuffle_hash(F.col(key), seed)
    span = (FNV_MOD + buckets - 1) // buckets
    hashed = df.select(F.col(key), h.alias("__h")).withColumn(
        "__b", F.expr(f"__h div {span}")
    )
    counts = hashed.groupBy("__b").agg(F.count(F.lit(1)).alias("__n"))
    # Prefix-sum over <= ``buckets`` rows: a single-task window over
    # metadata-sized input, then broadcast back.
    w_off = (
        Window.orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__b",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )
    w_rank = Window.partitionBy("__b").orderBy(F.asc("__h"), F.asc(key))
    return (
        hashed.join(F.broadcast(offsets), "__b")
        .select(
            key,
            (F.col("__off") + F.row_number().over(w_rank))
            .cast("long")
            .alias("shuffle_rank"),
        )
    )


def corpus_shuffle_sql(seed: str = "epoch0") -> str:
    poly = ROLLING_HASH.format(
        s=f"'shuffle:{seed}:' || CAST(doc_id AS VARCHAR)"
    )
    h = f"(({poly}) * {_MIX_KNUTH}) % {FNV_MOD}"
    return f"""
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY {h} ASC, doc_id ASC) AS BIGINT)
               AS shuffle_rank
    FROM documents
    """


# ---------------------------------------------------------------------------
# length bucketing
# ---------------------------------------------------------------------------


def length_buckets(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Power-of-two token-length histogram: (bucket_lo, n_docs,
    total_tokens) where bucket_lo = 2^floor(log2(n_tokens)). The input
    to batch-shape planning (how many packs of each context length)."""
    n_tok = F.size(F.split(F.col(text_col), " "))
    lo = F.pow(F.lit(2.0), F.floor(F.log2(n_tok))).cast("long")
    return (
        df.filter(n_tok > 0)
        .groupBy(lo.alias("bucket_lo"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tok.cast("long")).cast("long").alias("total_tokens"),
        )
    )


LENGTH_BUCKETS_SQL = """
    SELECT CAST(pow(2, floor(log2(n_tok))) AS BIGINT) AS bucket_lo,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM (SELECT len(string_split(text, ' ')) AS n_tok FROM documents)
    WHERE n_tok > 0
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# source mixture weights (temperature-scaled sampling recipe)
# ---------------------------------------------------------------------------

MIXTURE_ALPHA = 0.7  # the published multilingual-sampling exponent


def source_mixture_weights(
    df: DataFrame, alpha: float = MIXTURE_ALPHA, text_col: str = "text"
) -> DataFrame:
    """Temperature-scaled source sampling weights — the data-recipe
    step that decides how often each source is drawn during training:
    w_i ∝ p_i^alpha with p_i the source's token share. alpha < 1
    flattens the mixture (upsamples small sources, the exponent rule
    used for multilingual and multi-source corpora); alpha = 1 is
    proportional sampling, alpha = 0 uniform.

    Exact-integer discipline (the source_token_entropy rule): each
    source's scaled weight p_i^alpha is rounded to integer NANO-UNITS
    through one shared IEEE sequence BEFORE normalization, so the
    normalizing sum and the final basis points are integer-based
    arithmetic — order-invariant under any partitioning and agreeing
    with the oracle bit-for-bit.

    Physical shape: one corpus pass (narrow token count + groupBy
    source, sources-sized output), then two broadcast one-row
    cross-joins for the totals — a single Catalyst plan, no driver
    action. Output: (source, n_tokens, w_nano, w_bp).
    """
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    per_src = df.groupBy("source").agg(F.sum(n_tok).cast("long").alias("n_tokens"))
    tot = per_src.agg(F.sum("n_tokens").cast("long").alias("n_total"))
    w_nano = F.floor(
        F.pow(
            F.col("n_tokens").cast("double") / F.col("n_total").cast("double"),
            F.lit(alpha),
        )
        * 1e9
        + F.lit(0.5)
    ).cast("long")
    weighted = per_src.crossJoin(F.broadcast(tot)).select(
        "source", "n_tokens", w_nano.alias("w_nano")
    )
    z = weighted.agg(F.sum("w_nano").cast("long").alias("z"))
    return weighted.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tokens",
        "w_nano",
        F.floor(F.col("w_nano") * 1e4 / F.col("z") + F.lit(0.5))
        .cast("long")
        .alias("w_bp"),
    )


def source_mixture_weights_sql(alpha: float = MIXTURE_ALPHA) -> str:
    """Twin of source_mixture_weights: identical nano-unit rounding
    before normalization."""
    return f"""
    WITH per_src AS (
        SELECT source,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total FROM per_src),
    w AS (
        SELECT source, n_tokens,
               CAST(floor(pow(CAST(n_tokens AS DOUBLE) / CAST(n_total AS DOUBLE),
                              {alpha}) * 1e9 + 0.5) AS BIGINT) AS w_nano
        FROM per_src CROSS JOIN tot
    ),
    z AS (SELECT CAST(sum(w_nano) AS BIGINT) AS z FROM w)
    SELECT source, n_tokens, w_nano,
           CAST(floor(w_nano * 1e4 / z + 0.5) AS BIGINT) AS w_bp
    FROM w CROSS JOIN z
    """


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


PACK_GROUPS = 8


def pack_sequences(
    df: DataFrame,
    budget: int = 256,
    text_col: str = "text",
    n_groups: int = PACK_GROUPS,
) -> DataFrame:
    """First-fit-sequential packing of documents into token budgets.

    Packing is a sequential scan (each decision depends on the running
    sum), so it runs per GROUP: docs are bucketed by the DETERMINISTIC
    key ``doc_id % n_groups`` (not Spark's physical partition id —
    engine-independent and append-stable, so the same corpus packs
    identically on any cluster layout or engine), sorted by doc_id
    within the group, and greedily accumulated; a doc that would
    overflow the budget starts a new pack. Pack ids are
    "<group>-<seq>" — globally unique, locally dense. An oversized
    single doc gets its own pack (never split, never dropped).

    Deterministic grouping is also what makes the DuckDB twin possible
    (curation.pack_sequences_sql): the greedy recurrence unrolls as a
    linear recursive CTE, one row per group per step. At scale set
    ``n_groups`` ∝ cluster cores — groups are independent, so packing
    parallelism is the group count.

    Output: (doc_id, n_tokens, pack_id); invariants tested in
    tests/test_curation.py.
    """
    src = df.select(
        "doc_id",
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
        (F.col("doc_id") % n_groups).alias("grp"),
    )

    def pack(key, pdf):
        import pandas as pd

        grp = int(key[0])
        pdf = pdf.sort_values("doc_id")
        packs, seq, acc = [], 0, 0
        for doc_id, tok in zip(pdf["doc_id"], pdf["n_tokens"]):
            tok = int(tok)
            if acc > 0 and acc + tok > budget:
                seq += 1
                acc = 0
            acc += tok
            packs.append((int(doc_id), tok, f"{grp}-{seq}"))
        return pd.DataFrame(packs, columns=["doc_id", "n_tokens", "pack_id"])

    return src.groupBy("grp").applyInPandas(
        pack, "doc_id long, n_tokens long, pack_id string"
    )


# ---------------------------------------------------------------------------
# document chunking (context-window preparation)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping fixed-token chunks — the
    context-window preparation step before embedding or training
    (RAG chunking, long-doc packing). Chunk i covers tokens
    [i*stride, i*stride + chunk_tokens) with stride =
    chunk_tokens - overlap; the final chunk may be short, and every
    token lands in at least one chunk.

    Output: (doc_id, chunk_idx, chunk_text, n_tokens). Narrow per-row
    transform (sequence + slice + array_join) — shuffle-free, the cost
    is the scan; the downstream embed/pack stages key on
    (doc_id, chunk_idx)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n_tok = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((n_tok - F.lit(overlap)) / F.lit(float(stride))).cast("int"),
    )
    chunk = F.posexplode(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.slice(toks, i * stride + 1, chunk_tokens),
        )
    )
    return df.select("doc_id", chunk.alias("chunk_idx", "c")).select(
        "doc_id",
        "chunk_idx",
        F.array_join("c", " ").alias("chunk_text"),
        F.size("c").cast("long").alias("n_tokens"),
    )


def chunk_documents_sql(
    chunk_tokens: int = CHUNK_TOKENS, overlap: int = CHUNK_OVERLAP
) -> str:
    stride = chunk_tokens - overlap
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sized AS (
        SELECT doc_id, w,
               greatest(1, CAST(ceil((len(w) - {overlap})
                   / CAST({stride} AS DOUBLE)) AS BIGINT)) AS nc
        FROM toks
    )
    SELECT doc_id,
           unnest(range(0, nc)) AS chunk_idx,
           unnest(list_transform(range(0, nc),
               i -> array_to_string(
                   w[i*{stride}+1 : i*{stride}+{chunk_tokens}], ' ')))
               AS chunk_text,
           unnest(list_transform(range(0, nc),
               i -> CAST(len(w[i*{stride}+1 : i*{stride}+{chunk_tokens}])
                    AS BIGINT))) AS n_tokens
    FROM sized
    """


# ---------------------------------------------------------------------------
# DSIR-style importance-weighted data selection
# ---------------------------------------------------------------------------

DSIR_TARGET_PRED_SPARK = "lang = 'en'"  # fixture target domain proxy


def dsir_importance(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023),
    unigram-feature tier: score every document by the log importance
    weight of its tokens under a TARGET domain's unigram distribution
    versus the RAW corpus distribution, with add-one smoothing over the
    raw vocabulary. High-scoring docs "look like" the target domain —
    the selection signal for domain-matched pretraining subsets. The
    target here is the corpus's own ``lang = 'en'`` slice (a
    self-contained proxy; swap the predicate for a real target corpus).

        avg_logw = (1/n_d) * sum_t tf_t * [ ln((ct_t+1)/(Nt+V))
                                          - ln((cr_t+1)/(Nr+V)) ]

    keep = round(avg_logw, 6) > 0 — the label compares the ROUNDED
    score, so both engines decide from the identical value (the raw sum
    is order-nondeterministic double accumulation; its ~1e-13 relative
    error sits far inside the round-6 grid — unigram_logprob's
    argument).

    Scale shape: one (doc, term) shuffle for TF, one term-keyed shuffle
    for each distribution (vocabulary-sized outputs), a term join back,
    and the per-doc aggregate. The three scalar totals (Nt, Nr, V) ride
    in as one broadcast 1-row aggregate — a single Catalyst plan, no
    driver action. At 100 TB the distributions are vocabulary-sized
    relations (MB, not TB) and everything else is the TF pipeline
    every text op already pays.
    """
    tf = (
        df.select(
            "doc_id",
            F.col("lang"),
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "lang", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    raw = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("cr"))
    tgt = (
        tf.filter(F.expr(DSIR_TARGET_PRED_SPARK))
        .groupBy("term")
        .agg(F.sum("tf").cast("long").alias("ct"))
    )
    dist = raw.join(tgt, "term", "left").select(
        "term", "cr", F.coalesce(F.col("ct"), F.lit(0)).cast("long").alias("ct")
    )
    totals = dist.agg(
        F.sum("cr").cast("long").alias("nr"),
        F.sum("ct").cast("long").alias("nt"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    scored = (
        tf.join(dist, "term")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(
                F.sum(
                    F.col("tf")
                    * (
                        F.log(F.col("ct") + 1)
                        - F.log(F.col("nt") + F.col("v"))
                        - F.log(F.col("cr") + 1)
                        + F.log(F.col("nr") + F.col("v"))
                    )
                )
                / F.sum("tf"),
                6,
            ).alias("avg_logw"),
        )
    )
    return (
        df.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("avg_logw"), F.lit(0.0)).alias("avg_logw"),
            (F.coalesce(F.col("avg_logw"), F.lit(0.0)) > 0).alias("keep"),
        )
    )


DSIR_IMPORTANCE_SQL = """
    WITH tf AS (
        SELECT doc_id, lang, term, CAST(count(*) AS BIGINT) AS tf
        FROM (
            SELECT doc_id, lang,
                   unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        )
        WHERE term != ''
        GROUP BY doc_id, lang, term
    ),
    raw AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cr FROM tf GROUP BY term),
    tgt AS (
        SELECT term, CAST(sum(tf) AS BIGINT) AS ct
        FROM tf WHERE lang = 'en' GROUP BY term
    ),
    dist AS (
        SELECT r.term, r.cr, CAST(coalesce(t.ct, 0) AS BIGINT) AS ct
        FROM raw r LEFT JOIN tgt t USING (term)
    ),
    totals AS (
        SELECT CAST(sum(cr) AS BIGINT) AS nr,
               CAST(sum(ct) AS BIGINT) AS nt,
               CAST(count(*) AS BIGINT) AS v
        FROM dist
    ),
    scored AS (
        SELECT doc_id,
               CAST(sum(tf) AS BIGINT) AS n_tokens,
               round(sum(tf * (ln(ct + 1) - ln(nt + v)
                               - ln(cr + 1) + ln(nr + v))) / sum(tf),
                     6) AS avg_logw
        FROM tf JOIN dist USING (term) CROSS JOIN totals
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_tokens, 0) AS n_tokens,
           coalesce(s.avg_logw, 0.0) AS avg_logw,
           coalesce(s.avg_logw, 0.0) > 0 AS keep
    FROM documents d LEFT JOIN scored s USING (doc_id)
"""


# ---------------------------------------------------------------------------
# deterministic negative sampling (contrastive batch construction)
# ---------------------------------------------------------------------------

NEG_PER_DOC = 4


def negative_samples(
    df: DataFrame, k: int = NEG_PER_DOC, seed: str = "neg0"
) -> DataFrame:
    """Uniform random-negative assignment for contrastive training,
    with NO RNG state: negative j of doc d is

        neg = (d + 1 + H(d, j, seed) mod (n - 1)) mod n

    where H is the engine-portable avalanched rolling hash and n the
    corpus size. The ``+1 ... mod (n-1)`` construction guarantees
    ``neg != d`` while staying uniform over the other n-1 ids —
    deterministic across engines, retries and epochs (change ``seed``
    per epoch). Complements ``hard_negative_pairs``: training mixes
    mined hard negatives with uniform ones.

    Scale shape: a narrow k-row explode per doc plus one broadcast
    1-row count — no shuffle at all (the assignment is pure
    arithmetic). Assumes the contiguous 0..n-1 id space the fixture
    ships; on sparse ids compose with ``corpus_shuffle``'s exact rank
    to densify first.
    """
    n = df.agg(F.count(F.lit(1)).cast("long").alias("n"))
    pairs = (
        df.select("doc_id")
        .crossJoin(F.broadcast(n))
        # a 1-row corpus has no valid negatives (and n-1 = 0 would make
        # the modulus divide by zero): emit nothing for it
        .filter(F.col("n") > 1)
        .select(
            "doc_id",
            "n",
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j"),
        )
    )
    h = _shuffle_hash(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("j").cast("string")),
        seed,
    )
    return pairs.select(
        "doc_id",
        F.col("j").cast("int").alias("j"),
        ((F.col("doc_id") + 1 + h % (F.col("n") - 1)) % F.col("n"))
        .cast("long")
        .alias("neg_id"),
    )


def negative_samples_sql(k: int = NEG_PER_DOC, seed: str = "neg0") -> str:
    h = ROLLING_HASH.format(
        s=f"'shuffle:{seed}:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)"
    )
    return f"""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    pairs AS (
        SELECT doc_id, n, unnest(range(1, {k + 1})) AS j
        FROM documents CROSS JOIN n WHERE n > 1
    )
    SELECT doc_id,
           CAST(j AS INT) AS j,
           CAST((doc_id + 1 + (({h}) * {_MIX_KNUTH} % {FNV_MOD}) % (n - 1)) % n
                AS BIGINT) AS neg_id
    FROM pairs
    """


def split_leakage(
    df: DataFrame,
    text_col: str = "text",
    key: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
    threshold: float = 0.8,
) -> DataFrame:
    """Train/eval leakage detector: NEAR-DUPLICATE documents straddling
    a split boundary. Hash splits assign by doc id, so paraphrases and
    near-copies routinely land in different splits — the classic silent
    eval inflation (a test doc whose near-twin sits in train). Reports,
    per split pair, how many verified near-dup pairs (MinHash-LSH,
    exact-Jaccard >= threshold) cross the boundary, plus the
    within-split pair counts for context.

    Scale shape: the pair relation is the dedup tier's own banded
    LSH output (candidates ~ true duplicates); the split labels join in
    by doc id and the aggregate is |split|^2-bounded. Dedup-before-split
    is the fix when the crossing rows are nonzero.
    """
    from .dedup import minhash_lsh_pairs

    b = _assign_bucket(F.col(key))
    split = (
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test")
    )
    labels = df.select(F.col(key).alias("doc"), split.alias("split"))
    pairs = minhash_lsh_pairs(df, text_col, threshold=threshold)
    lab = lambda side, name: labels.select(
        F.col("doc").alias(side), F.col("split").alias(name)
    )
    both = (
        pairs.join(lab("doc_a", "sa"), "doc_a")
        .join(lab("doc_b", "sb"), "doc_b")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
    )
    return both.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


def split_leakage_sql(
    train_pct: int = 80, val_pct: int = 10, threshold: float = 0.8
) -> str:
    from .oracle import minhash_lsh_sql

    b = _split_bucket_sql("doc_id")
    return f"""
    WITH pairs AS ({minhash_lsh_sql(threshold=threshold)}),
    labels AS (
        SELECT doc_id AS doc,
               CASE WHEN {b} < {train_pct} THEN 'train'
                    WHEN {b} < {train_pct + val_pct} THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT least(la.split, lb.split) AS split_a,
           greatest(la.split, lb.split) AS split_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs p
    JOIN labels la ON la.doc = p.doc_a
    JOIN labels lb ON lb.doc = p.doc_b
    GROUP BY 1, 2
    """


CURRICULUM_PHASES = 4


def curriculum_phases(
    df: DataFrame, phases: int = CURRICULUM_PHASES
) -> DataFrame:
    """Curriculum-learning phase assignment: rank documents easy→hard
    by the corpus unigram-LM score (generic, high-probability text
    first; rare-vocabulary text last — the CCNet-style proxy) and cut
    into ``phases`` equal ntiles. Training consumes phase 1 first.

    Ordering uses the ROUNDED score with doc_id tiebreak, so phases
    are engine-identical. The cut is an EXACT DISTRIBUTED ntile:
    ``ntile(p) OVER (ORDER BY ...)`` would force the whole corpus
    through one unpartitioned-window task, so the global rank comes
    from ``distrank.with_global_order`` and the phase is ntile's
    uneven-division rule as integer arithmetic on that rank
    (``distrank.ntile``) — bit-identical to the SQL oracle's
    ``ntile(p)``.
    """
    from .text import unigram_logprob

    scored = unigram_logprob(df).select("doc_id", "avg_logprob")
    ranked, n, _ = distrank.with_global_order(
        scored, [F.desc("avg_logprob"), F.asc("doc_id")]
    )
    ph = distrank.ntile(F.col("grank"), n, phases)
    return ranked.select(
        "doc_id", "avg_logprob", ph.cast("int").alias("phase")
    )


def curriculum_phases_sql(phases: int = CURRICULUM_PHASES) -> str:
    from .text import UNIGRAM_LOGPROB_SQL

    # the unigram-LM oracle nests verbatim as a parenthesized CTE body
    return f"""
    WITH scored AS ({UNIGRAM_LOGPROB_SQL})
    SELECT doc_id, avg_logprob,
           CAST(ntile({phases}) OVER (
               ORDER BY avg_logprob DESC, doc_id ASC
           ) AS INT) AS phase
    FROM scored
    """


def soft_quality_sample(df: DataFrame, seed: str = "soft0") -> DataFrame:
    """Probability-proportional quality sampling: keep each document
    with probability equal to its classifier quality score, instead of
    a hard threshold — the soft filtering modern web-corpus pipelines
    use to retain SOME low-quality mass (diversity) while biasing the
    corpus toward quality. Deterministic: the coin flip is the
    avalanched doc hash compared against the score in exact micro-units
    (both engines compare the same integers; the score itself is the
    oracle-matched round-6 sigmoid from ``quality_classifier``).
    Change ``seed`` to redraw. Narrow per-row transform — no shuffle.
    """
    from .text import quality_classifier

    qc = quality_classifier(df).select("doc_id", "quality_prob")
    h = (
        rolling_hash(
            F.concat(F.lit(f"soft:{seed}:"), F.col("doc_id").cast("string"))
        )
        * F.lit(_MIX_KNUTH)
        % F.lit(FNV_MOD)
    ) % F.lit(MIX_RESOLUTION)
    t = F.round(F.col("quality_prob") * MIX_RESOLUTION).cast("long")
    return qc.select("doc_id", "quality_prob", (h < t).alias("keep"))


def soft_quality_sample_sql(seed: str = "soft0") -> str:
    from .text import quality_classifier_sql

    h = ROLLING_HASH.format(
        s=f"'soft:{seed}:' || CAST(doc_id AS VARCHAR)"
    )
    return f"""
    WITH qc AS ({quality_classifier_sql()})
    SELECT doc_id, quality_prob,
           ((({h}) * {_MIX_KNUTH} % {FNV_MOD}) % {MIX_RESOLUTION})
               < CAST(round(quality_prob * {MIX_RESOLUTION}) AS BIGINT)
               AS keep
    FROM qc
    """


# ---------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis-Spirakis A-ES)
# ---------------------------------------------------------------------------

AES_K = 50


def weighted_sample_topk(
    df: DataFrame,
    k: int = AES_K,
    weight_col: str = "n_chars",
    seed: str = "aes0",
) -> DataFrame:
    """Exact-k weighted sampling WITHOUT replacement — the
    Efraimidis-Spirakis A-ES scheme: each row draws u ~ U(0,1] and the
    k largest u^(1/w) win, which selects each subset with exactly the
    probability weighted sampling without replacement assigns it. This
    is the one-pass distributed answer to "give me 10k docs, longer
    docs proportionally more likely, no duplicates, reproducible" —
    sequential reservoir algorithms don't parallelize, A-ES is a
    top-k (TakeOrderedAndProject: per-partition heaps of k, driver
    merge of P*k candidates — no global sort, no per-group funnel).

    Determinism across engines: u comes from the avalanched content
    hash in exact 1e-6 units, ordering uses the MONOTONE equivalent
    key ln(u)/w (avoids pow), rounded to 6 so a last-ulp ln()
    divergence between libm and the JVM cannot reorder; round-6 key
    ties break by doc_id. Change ``seed`` to redraw.
    """
    h = (
        rolling_hash(
            F.concat(F.lit(f"aes:{seed}:"), F.col("doc_id").cast("string"))
        )
        * F.lit(_MIX_KNUTH)
        % F.lit(FNV_MOD)
    ) % F.lit(MIX_RESOLUTION)
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float(MIX_RESOLUTION))
    # + 0.0 normalizes IEEE -0.0 to +0.0 (engines disagree on the sign
    # of a rounded-to-zero negative: BigDecimal has no signed zero)
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 6) + F.lit(
        0.0
    )
    out = (
        df.select("doc_id", F.col(weight_col).alias("w"), key.alias("aes_key"))
        .orderBy(F.desc("aes_key"), F.asc("doc_id"))
        .limit(k)
    )
    from pyspark.sql.window import Window

    # global rank over k rows only (post-limit: driver-sized relation)
    wnd = Window.orderBy(F.desc("aes_key"), F.asc("doc_id"))
    return out.withColumn("rk", F.row_number().over(wnd))


def weighted_sample_topk_sql(
    k: int = AES_K, weight_col: str = "n_chars", seed: str = "aes0"
) -> str:
    h = ROLLING_HASH.format(s=f"'aes:{seed}:' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH keyed AS (
        SELECT doc_id, {weight_col} AS w,
               round(
                   ln((CAST((({h}) * {_MIX_KNUTH} % {FNV_MOD})
                        % {MIX_RESOLUTION} AS DOUBLE) + 1.0)
                      / {float(MIX_RESOLUTION)})
                   / CAST({weight_col} AS DOUBLE), 6) + 0.0 AS aes_key
        FROM documents
    )
    SELECT doc_id, w, aes_key,
           CAST(row_number() OVER (ORDER BY aes_key DESC, doc_id ASC)
                AS INTEGER) AS rk
    FROM keyed
    ORDER BY aes_key DESC, doc_id ASC
    LIMIT {k}
    """


# ---------------------------------------------------------------------------
# Neyman-allocation stratified sampling plan
# ---------------------------------------------------------------------------


def neyman_allocation(
    df: DataFrame,
    by: str = "source",
    measure: str = "n_chars",
    budget: int = 1000,
) -> DataFrame:
    """Optimal (Neyman) stratified-sample allocation: given a total
    sample ``budget``, allocate per-stratum sizes proportional to
    N_h·σ_h — the allocation that minimizes the variance of the
    stratified mean of ``measure`` (classical survey-sampling result;
    uniform and proportional allocation are both strictly worse when
    strata variances differ). This is the principled sizing step in
    front of ``balanced_sample``/``source_mixture_weights`` when the
    sample feeds a corpus-statistics estimate rather than training
    itself.

    Determinism: σ_h comes from exact BIGINT sufficient statistics
    (Σx, Σx² — one map-side aggregate, the gram/OLS pattern), so the
    doubles that enter the sqrt are bit-identical on both engines;
    the integer allocation uses the floor(x+0.5) grid. Output: one row
    per stratum — (source, n_rows, sd_measure, alloc).
    """
    stats = df.groupBy(by).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col(measure).cast("long")).alias("s1"),
        F.sum(F.col(measure).cast("long") * F.col(measure).cast("long")).alias(
            "s2"
        ),
    )
    # s1 enters the square as DOUBLE on both engines (BIGINT s1*s1 could
    # overflow at scale and DuckDB would silently widen to HUGEINT,
    # diverging from Spark) — double*bigint is the same IEEE op twice.
    # Variance is clamped at 0: float cancellation on near-constant
    # strata can land epsilon-negative and sqrt would poison every
    # stratum's allocation through the shared denominator.
    var = F.greatest(
        (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n_rows"))
        / F.col("n_rows"),
        F.lit(0.0),
    )
    sd = F.sqrt(var)
    weighted = stats.select(
        by,
        "n_rows",
        F.round(sd, 4).alias("sd_measure"),
        (F.col("n_rows") * sd).alias("w"),
    )
    z = weighted.agg(F.sum("w").alias("z"))
    # Σw == 0 (every stratum constant): Neyman degenerates — fall back
    # to PROPORTIONAL allocation (w := N_h) instead of returning NULLs
    # and silently allocating nothing.
    w_eff = F.when(F.col("z") > 0, F.col("w")).otherwise(
        F.col("n_rows").cast("double")
    )
    z_eff = F.when(F.col("z") > 0, F.col("z")).otherwise(F.col("n_total"))
    n_total = stats.agg(F.sum("n_rows").cast("double").alias("n_total"))
    return (
        weighted.crossJoin(F.broadcast(z))
        .crossJoin(F.broadcast(n_total))
        .select(
            by,
            "n_rows",
            "sd_measure",
            F.floor(F.lit(budget) * w_eff / z_eff + F.lit(0.5))
            .cast("long")
            .alias("alloc"),
        )
    )


def neyman_allocation_sql(
    by: str = "source", measure: str = "n_chars", budget: int = 1000
) -> str:
    return f"""
    WITH stats AS (
        SELECT {by}, count(*) AS n_rows,
               sum(CAST({measure} AS BIGINT)) AS s1,
               sum(CAST({measure} AS BIGINT) * CAST({measure} AS BIGINT)) AS s2
        FROM documents GROUP BY 1
    ),
    weighted AS (
        SELECT {by}, n_rows,
               round(sqrt(greatest((s2 - (s1 * 1.0) * s1 / n_rows) / n_rows,
                                   0.0)), 4) AS sd_measure,
               n_rows * sqrt(greatest((s2 - (s1 * 1.0) * s1 / n_rows) / n_rows,
                                      0.0)) AS w
        FROM stats
    ),
    tot AS (
        SELECT sum(w) AS z, sum(n_rows) * 1.0 AS n_total FROM weighted
    )
    SELECT {by}, CAST(n_rows AS BIGINT) AS n_rows, sd_measure,
           CAST(floor({budget}
                      * (CASE WHEN z > 0 THEN w ELSE n_rows * 1.0 END)
                      / (CASE WHEN z > 0 THEN z ELSE n_total END)
                      + 0.5) AS BIGINT) AS alloc
    FROM weighted CROSS JOIN tot
    """


def pack_sequences_sql(budget: int = 256, n_groups: int = PACK_GROUPS) -> str:
    """Twin of pack_sequences: the per-group first-fit greedy is a pure
    integer recurrence over (acc, seq), so it unrolls as a LINEAR
    recursive CTE — one working row per group per step, joined to the
    group's step-th doc (ascending doc_id). Deterministic because the
    grouping key is doc_id % n_groups (not a physical partition id)."""
    return f"""
    WITH RECURSIVE src AS MATERIALIZED (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               doc_id % {n_groups} AS grp
        FROM documents
    ),
    ordered AS MATERIALIZED (
        SELECT doc_id, n_tokens, grp,
               row_number() OVER (PARTITION BY grp ORDER BY doc_id) AS step
        FROM src
    ),
    rec AS (
        SELECT grp, 0 AS step, CAST(0 AS BIGINT) AS acc,
               CAST(0 AS BIGINT) AS seq,
               CAST(NULL AS BIGINT) AS doc_id,
               CAST(NULL AS BIGINT) AS n_tokens
        FROM (SELECT DISTINCT grp FROM ordered)
        UNION ALL
        SELECT o.grp, o.step,
               CASE WHEN r.acc > 0 AND r.acc + o.n_tokens > {budget}
                    THEN o.n_tokens ELSE r.acc + o.n_tokens END,
               CASE WHEN r.acc > 0 AND r.acc + o.n_tokens > {budget}
                    THEN r.seq + 1 ELSE r.seq END,
               o.doc_id, o.n_tokens
        FROM rec r
        JOIN ordered o ON o.grp = r.grp AND o.step = r.step + 1
    )
    SELECT doc_id, n_tokens, grp || '-' || seq AS pack_id
    FROM rec WHERE step > 0
    """


# ---------------------------------------------------------------------------
# token-budget corpus selection (greedy knapsack under a token budget)
# ---------------------------------------------------------------------------

# Select the best documents until ~1/TOKEN_BUDGET_DEN of the corpus's
# tokens are spent (the production knob is an absolute token count —
# "pick the best 1T tokens"; a corpus fraction keeps the fixture query
# scale-free).
TOKEN_BUDGET_DEN = 4


def token_budget_selection(t: dict[str, DataFrame]) -> DataFrame:
    """Greedy quality-first corpus selection under a token budget —
    the decision every pretraining data pipeline ends with: rank the
    corpus by quality score and keep documents until the token budget
    is spent (the doc that crosses the boundary is still taken, the
    same fill-until-you-cross rule as ``file_compaction_plan``).

    Quality is ``text.text_quality``'s composite score quantized to
    integer micro-units (the rounded-6 double → µ-units is exact in
    both engines); ties break on doc_id, so the global order — and
    therefore the selected SET — is fully deterministic.

    Scale shape: the global quality sort uses the distributed-rank
    pattern (``distrank.with_global_order`` — range-repartition +
    per-partition prefix sums + metadata offsets), with the running
    token total as the weighted prefix sum; the corpus token total
    (and so the budget) falls out of the same partition metadata as a
    plan literal — no one-row crossJoin, no unpartitioned window.
    Output: the selected docs with rank and running total.
    """
    from .text import text_quality

    tq = text_quality(t["documents"]).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(F.col("quality_score") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("q_micro"),
    )
    ranked, _n, totals = distrank.with_global_order(
        tq, [F.desc("q_micro"), F.asc("doc_id")], weights=["n_tokens"]
    )
    budget = totals["n_tokens"] // TOKEN_BUDGET_DEN
    return (
        ranked.filter(F.col("cum_n_tokens") < F.lit(budget))
        .select(
            "doc_id",
            (F.col("grank") + 1).alias("sel_rank"),
            "q_micro",
            "n_tokens",
            (F.col("cum_n_tokens") + F.col("n_tokens")).alias("cum_tokens"),
        )
    )


def token_budget_selection_sql() -> str:
    """Twin of token_budget_selection: same µ-unit quality key, one
    running-sum window, the budget as a scalar subquery."""
    from .oracle_text import text_quality_sql

    return f"""
    WITH tq AS ({text_quality_sql()}),
    scored AS (
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(floor(quality_score * 1e6 + 0.5) AS BIGINT) AS q_micro
        FROM tq
    ),
    ranked AS (
        SELECT doc_id, n_tokens, q_micro,
               row_number() OVER (ORDER BY q_micro DESC, doc_id) AS sel_rank,
               coalesce(sum(n_tokens) OVER (
                   ORDER BY q_micro DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM scored
    )
    SELECT doc_id, CAST(sel_rank AS BIGINT) AS sel_rank, q_micro, n_tokens,
           CAST(cum_before + n_tokens AS BIGINT) AS cum_tokens
    FROM ranked
    WHERE cum_before < (SELECT sum(n_tokens) // {TOKEN_BUDGET_DEN}
                        FROM scored)
    """


# ---------------------------------------------------------------------------
# cross-source quantile normalization
# ---------------------------------------------------------------------------


def quantile_normalize_lengths(t: dict[str, DataFrame]) -> DataFrame:
    """Quantile normalization of document lengths across sources — the
    batch-effect correction used when per-source pipelines (different
    scrapers, different truncation rules) skew a statistic that
    downstream mixing assumes comparable: each doc's length is
    replaced by the POOLED length at the same relative rank, so every
    source's normalized distribution is (a rank-subsample of) the
    corpus distribution.

    Mapping is pure integers: doc at within-source rank r of n_s maps
    to pooled order statistic index ceil(r·N/n_s) — no interpolation,
    no float quantile crosses engines. Ties rank by (value, doc_id),
    so the map is total and deterministic.

    Scale shape: the within-source rank is a source-partitioned
    window (parallel); the pooled order statistics use the
    distributed-rank helper (range repartition + metadata offsets —
    no single-task global sort); the map is one equi-join on the
    pooled index. Output: one row per doc.
    """
    base = t["documents"].select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("x")
    )
    w_src = Window.partitionBy("source").orderBy("x", "doc_id")
    w_cnt = Window.partitionBy("source")
    ranked = base.select(
        "doc_id",
        "source",
        "x",
        F.row_number().over(w_src).cast("long").alias("r"),
        F.count(F.lit(1)).over(w_cnt).cast("long").alias("n_s"),
    )
    pooled, n_total, _ = distrank.with_global_order(
        base.select(F.col("x").alias("px"), "doc_id"),
        [F.asc("px"), F.asc("doc_id")],
    )
    idx_map = pooled.select(
        (F.col("grank") + 1).alias("pool_idx"), F.col("px").alias("x_norm")
    )
    tgt = F.col("r") * n_total + F.col("n_s") - 1
    return (
        ranked.withColumn(
            "pool_idx",
            ((tgt - tgt % F.col("n_s")) / F.col("n_s")).cast("long"),
        )
        .join(idx_map, "pool_idx")
        .select("doc_id", "source", "x", "x_norm")
    )


def quantile_normalize_lengths_sql() -> str:
    """Twin of quantile_normalize_lengths: same integer
    ceil(r·N/n_s) index map over single-window ranks."""
    return """
    WITH base AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x FROM documents
    ),
    ranked AS (
        SELECT doc_id, source, x,
               CAST(row_number() OVER (PARTITION BY source
                                       ORDER BY x, doc_id) AS BIGINT) AS r,
               CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_s,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM base
    ),
    pooled AS (
        SELECT CAST(row_number() OVER (ORDER BY x, doc_id) AS BIGINT)
                   AS pool_idx,
               x AS x_norm
        FROM base
    )
    SELECT ranked.doc_id, ranked.source, ranked.x, pooled.x_norm
    FROM ranked
    JOIN pooled ON pooled.pool_idx
                   = (ranked.r * ranked.n + ranked.n_s - 1) // ranked.n_s
    """


EMBARGO_T0 = "2024-01-22 00:00:00"
EMBARGO_T1 = "2024-01-25 00:00:00"


def temporal_embargo_split(tables: dict) -> DataFrame:
    """Time-based train/test split with an embargo gap — the
    leakage-safe alternative to the hashed ``dataset_split`` whenever
    rows are temporally autocorrelated (user sessions, market data):
    train strictly before t0, test strictly after t0+gap, and the gap
    rows are QUARANTINED so near-boundary correlation cannot leak
    future information into training. Fixed timestamp literals keep
    the assignment reproducible and append-stable (new data lands in
    test, never reshuffles train).

    Reports, per split: event count, distinct users, and the
    train-user overlap — the residual cross-split leakage a
    user-level (rather than time-level) splitter would have to kill.

    Scale shape: one pass assigns splits (narrow when-chain on ts);
    the overlap is a (split, user) distinct + a semi join against
    train users — both key-partitioned shuffles; output is 3 rows.
    """
    ev = tables["events"]
    split = (
        F.when(F.col("ts") < F.lit(EMBARGO_T0).cast("timestamp"), "train")
        .when(F.col("ts") < F.lit(EMBARGO_T1).cast("timestamp"), "embargo")
        .otherwise("test")
    )
    tagged = ev.select(split.alias("split"), "user_id")
    per = tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    su = tagged.distinct()
    train_users = su.filter(F.col("split") == "train").select("user_id")
    ov = (
        su.join(train_users, "user_id", "left_semi")
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users_in_train"))
    )
    return (
        per.join(ov, "split", "left")
        .withColumn(
            "n_users_in_train",
            F.coalesce(F.col("n_users_in_train"), F.lit(0)),
        )
        .orderBy("split")
    )


def temporal_embargo_split_sql() -> str:
    """Twin of temporal_embargo_split: identical literals and split
    rule."""
    return f"""
    WITH tagged AS (
        SELECT CASE WHEN ts < TIMESTAMP '{EMBARGO_T0}' THEN 'train'
                    WHEN ts < TIMESTAMP '{EMBARGO_T1}' THEN 'embargo'
                    ELSE 'test' END AS split,
               user_id
        FROM events
    ),
    per AS (
        SELECT split, CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM tagged GROUP BY 1
    ),
    su AS (SELECT DISTINCT split, user_id FROM tagged),
    train_users AS (SELECT user_id FROM su WHERE split = 'train'),
    ov AS (
        SELECT split, CAST(count(*) AS BIGINT) AS n_users_in_train
        FROM su
        WHERE user_id IN (SELECT user_id FROM train_users)
        GROUP BY 1
    )
    SELECT per.split, per.n_events, per.n_users,
           coalesce(ov.n_users_in_train, 0) AS n_users_in_train
    FROM per LEFT JOIN ov USING (split)
    ORDER BY split
    """


# ---------------------------------------------------------------------------
# stratified k-fold assignment
# ---------------------------------------------------------------------------

KFOLD_K = 5


def stratified_kfold(t: dict[str, DataFrame], k: int = KFOLD_K) -> DataFrame:
    """Stratified k-fold cross-validation assignment over the corpus:
    within every language stratum the docs are shuffled by a salted
    engine-portable hash and dealt round-robin into ``k`` folds — so
    each fold's language mix matches the corpus EXACTLY (per-stratum
    fold sizes differ by ≤1 doc, the strongest balance guarantee
    possible), unlike a plain ``dataset_split`` hash-mod which is
    only balanced in expectation. Reports the realized (fold, lang)
    grid — the artifact an eval harness consumes.

    Determinism: the shuffle key is the rolling hash of
    'fold:'+doc_id (ties broken by doc_id), so folds are reproducible
    on any engine; the round-robin deal is rank-mod-k in the stratum.

    Scale shape: one exact global rank over (lang, hash, doc_id) via
    ``distrank.with_global_order`` (range repartition + metadata
    offsets — no per-stratum unpartitioned window, the naive shape
    that serializes each language through one task); per-stratum
    ranks derive from a |langs|-row offset broadcast. Output: the
    (fold, lang) grid with counts.
    """
    from ..functions import rolling_hash

    d = t["documents"].select(
        "doc_id",
        "lang",
        rolling_hash(
            F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    ranked, _n, _ = distrank.with_global_order(d, ["lang", "h", "doc_id"])
    offs = (
        ranked.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("lang").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).cast("long"),
        )
        .select("lang", "off")
    )
    return (
        ranked.join(F.broadcast(offs), "lang")
        .select(
            "lang",
            ((F.col("grank") - F.col("off")) % k).cast("int").alias("fold"),
        )
        .groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select("fold", "lang", "n_docs")
        .orderBy("fold", "lang")
    )


def stratified_kfold_sql(k: int = KFOLD_K) -> str:
    """Twin of stratified_kfold: per-stratum row_number over the same
    salted hash ordering."""
    from .oracle import ROLLING_HASH

    h = ROLLING_HASH.format(s="'fold:' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH d AS (
        SELECT doc_id, lang, {h} AS h FROM documents
    ),
    ranked AS (
        SELECT lang,
               CAST((row_number() OVER
                   (PARTITION BY lang ORDER BY h, doc_id) - 1) % {k}
                   AS INT) AS fold
        FROM d
    )
    SELECT fold, lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM ranked GROUP BY 1, 2
    ORDER BY 1, 2
    """


# ---------------------------------------------------------------------------
# exact distributed decision stump (CART Gini split)
# ---------------------------------------------------------------------------


def gini_split_stump(t: dict[str, DataFrame]) -> DataFrame:
    """One exact CART split, trained distributively: the n_chars
    threshold that best separates English from non-English documents
    by Gini impurity decrease — the depth-1 decision tree every
    feature-importance pipeline starts from, and the building block a
    distributed tree trainer evaluates thousands of times per level.
    Evaluating EVERY distinct feature value exactly (not a quantile
    sketch of candidates) is the point: it pins the semantics the
    approximate candidate tiers would be graded against.

    Exactness: candidate statistics are exact integers from one
    (value → count, positives) aggregate + prefix sums; each
    candidate's weighted-impurity decrease is ONE shared double
    sequence over those integers, nano-rounded, and the argmax breaks
    ties on the smaller threshold — bit-stable across engines and
    partitionings.

    Scale shape: docs collapse to the |distinct n_chars|-row value
    relation in one groupBy (value-domain-bounded — doc lengths, not
    docs); the prefix sums and argmax run on that metadata via ordered
    windows. Output: one row (the trained stump + its quality).
    """
    d = t["documents"]
    vals = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("lang") == "en").cast("long")).cast("long").alias("p"),
    )
    w_ord = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = vals.select(
        "v",
        F.sum("n").over(w_ord).cast("long").alias("nl"),
        F.sum("p").over(w_ord).cast("long").alias("pl"),
        F.sum("n").over(w_all).cast("long").alias("nt"),
        F.sum("p").over(w_all).cast("long").alias("pt"),
    ).filter(F.col("nl") < F.col("nt"))  # right side must be non-empty
    nl = F.col("nl").cast("double")
    pl = F.col("pl").cast("double")
    nt = F.col("nt").cast("double")
    pt = F.col("pt").cast("double")
    nr = nt - nl
    pr = pt - pl
    # weighted child impurity: (n_side² − pos² − neg²)/(n_side · n_total)
    gl = (nl * nl - pl * pl - (nl - pl) * (nl - pl)) / (nl * nt)
    gr = (nr * nr - pr * pr - (nr - pr) * (nr - pr)) / (nr * nt)
    gp = (nt * nt - pt * pt - (nt - pt) * (nt - pt)) / (nt * nt)
    dec_nano = F.floor((gp - gl - gr) * 1e9 + F.lit(0.5)).cast("long")
    w_best = Window.orderBy(F.desc("dec_nano"), F.asc("v"))
    best = (
        cum.select(
            "v",
            "nl",
            "pl",
            "nt",
            "pt",
            dec_nano.alias("dec_nano"),
            F.floor(gp * 1e9 + F.lit(0.5)).cast("long").alias("gp_nano"),
        )
        .withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
    )
    # stump accuracy: majority class per side
    return best.select(
        F.col("nt").alias("n_docs"),
        F.col("pt").alias("n_positive"),
        F.round(F.col("gp_nano").cast("double") / 1e9, 6).alias(
            "parent_gini_r6"
        ),
        F.col("v").alias("best_threshold"),
        F.col("nl").alias("n_left"),
        F.col("pl").alias("pos_left"),
        F.round(F.col("dec_nano").cast("double") / 1e9, 6).alias(
            "gini_decrease_r6"
        ),
        F.expr("(({a}) * 10000L) div nt".format(a="greatest(pl, nl - pl) + "
               "greatest(pt - pl, (nt - nl) - (pt - pl))"))
        .cast("long")
        .alias("stump_accuracy_bp"),
    )


def gini_split_stump_sql() -> str:
    """Twin of gini_split_stump: identical prefix sums and nano argmax."""
    return """
    WITH vals AS (
        SELECT n_chars AS v,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS p
        FROM documents GROUP BY 1
    ),
    cum AS (
        SELECT v,
               CAST(sum(n) OVER (ORDER BY v) AS BIGINT) AS nl,
               CAST(sum(p) OVER (ORDER BY v) AS BIGINT) AS pl,
               CAST(sum(n) OVER () AS BIGINT) AS nt,
               CAST(sum(p) OVER () AS BIGINT) AS pt
        FROM vals
    ),
    scored AS (
        SELECT v, nl, pl, nt, pt,
               CAST(floor((
                   (CAST(nt AS DOUBLE) * nt - CAST(pt AS DOUBLE) * pt
                    - CAST(nt - pt AS DOUBLE) * (nt - pt))
                       / (CAST(nt AS DOUBLE) * nt)
                   - (CAST(nl AS DOUBLE) * nl - CAST(pl AS DOUBLE) * pl
                      - CAST(nl - pl AS DOUBLE) * (nl - pl))
                       / (CAST(nl AS DOUBLE) * nt)
                   - (CAST(nt - nl AS DOUBLE) * (nt - nl)
                      - CAST(pt - pl AS DOUBLE) * (pt - pl)
                      - CAST((nt - nl) - (pt - pl) AS DOUBLE)
                        * ((nt - nl) - (pt - pl)))
                       / (CAST(nt - nl AS DOUBLE) * nt)
               ) * 1e9 + 0.5) AS BIGINT) AS dec_nano,
               CAST(floor((CAST(nt AS DOUBLE) * nt - CAST(pt AS DOUBLE) * pt
                           - CAST(nt - pt AS DOUBLE) * (nt - pt))
                          / (CAST(nt AS DOUBLE) * nt) * 1e9 + 0.5)
                    AS BIGINT) AS gp_nano
        FROM cum
        WHERE nl < nt
    ),
    best AS (
        SELECT * FROM scored
        ORDER BY dec_nano DESC, v ASC
        LIMIT 1
    )
    SELECT nt AS n_docs, pt AS n_positive,
           round(CAST(gp_nano AS DOUBLE) / 1e9, 6) AS parent_gini_r6,
           v AS best_threshold,
           nl AS n_left, pl AS pos_left,
           round(CAST(dec_nano AS DOUBLE) / 1e9, 6) AS gini_decrease_r6,
           CAST(((greatest(pl, nl - pl)
                  + greatest(pt - pl, (nt - nl) - (pt - pl))) * 10000) // nt
                AS BIGINT) AS stump_accuracy_bp
    FROM best
    """


# ---------------------------------------------------------------------------
# cross-validated decision stump (distributed k-fold train/eval)
# ---------------------------------------------------------------------------

STUMP_CV_FOLDS = 5
STUMP_CV_SALT = 764_213_577


def stump_cv_eval(t: dict[str, DataFrame]) -> DataFrame:
    """K-fold cross-validation of the ``gini_split_stump`` learner —
    the train/eval hygiene layer: each fold trains the stump on the
    OTHER folds' exact value statistics and scores held-out accuracy,
    so the report separates fit quality from generalization (a
    threshold that moves wildly across folds, or holdout accuracy far
    under training accuracy, means the split is noise). The entire
    k-fold loop is ONE relational plan — no per-fold job submission.

    Determinism/exactness: fold = (doc_id · salt) mod k (sticky,
    rejoinable); per-(value, fold) counts are exact integers; each
    fold's training statistics are derived by SUBTRACTING its own
    counts from the global per-value relation (one pass, no k× rescan
    of the corpus); candidate impurity decreases are nano-rounded with
    the smaller-threshold tie-break; holdout classification compares
    integers only.

    Scale shape: one groupBy to the (value, fold) relation
    (value-domain × k metadata); per-fold prefix sums/argmax run as
    fold-partitioned windows over that metadata; holdout scoring is an
    equi-join of the same relation against the k-row model table.
    Output: one row per fold.
    """
    d = t["documents"]
    fold = (
        (F.col("doc_id").cast("long") * F.lit(STUMP_CV_SALT))
        % STUMP_CV_FOLDS
    ).alias("fold")
    vf = d.select(
        F.col("n_chars").alias("v"),
        fold,
        (F.col("lang") == "en").cast("long").alias("y"),
    ).groupBy("v", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("p"),
    )
    vf = vf.transform(tracked_cache)
    vall = vf.groupBy("v").agg(
        F.sum("n").cast("long").alias("n_all"),
        F.sum("p").cast("long").alias("p_all"),
    )
    folds = vf.sparkSession.range(STUMP_CV_FOLDS).select(
        F.col("id").cast("long").alias("fold")
    )
    grid = vall.crossJoin(F.broadcast(folds)).join(
        vf, ["v", "fold"], "left"
    ).select(
        "v",
        "fold",
        (F.col("n_all") - F.coalesce(F.col("n"), F.lit(0)))
        .cast("long")
        .alias("n_tr"),
        (F.col("p_all") - F.coalesce(F.col("p"), F.lit(0)))
        .cast("long")
        .alias("p_tr"),
    )
    w_ord = Window.partitionBy("fold").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_fold = Window.partitionBy("fold")
    cum = grid.select(
        "v",
        "fold",
        F.sum("n_tr").over(w_ord).cast("long").alias("nl"),
        F.sum("p_tr").over(w_ord).cast("long").alias("pl"),
        F.sum("n_tr").over(w_fold).cast("long").alias("nt"),
        F.sum("p_tr").over(w_fold).cast("long").alias("pt"),
    ).filter((F.col("nl") < F.col("nt")) & (F.col("nl") > 0))
    nl = F.col("nl").cast("double")
    pl = F.col("pl").cast("double")
    nt = F.col("nt").cast("double")
    pt = F.col("pt").cast("double")
    nr = nt - nl
    pr = pt - pl
    gl = (nl * nl - pl * pl - (nl - pl) * (nl - pl)) / (nl * nt)
    gr = (nr * nr - pr * pr - (nr - pr) * (nr - pr)) / (nr * nt)
    gp = (nt * nt - pt * pt - (nt - pt) * (nt - pt)) / (nt * nt)
    dec_nano = F.floor((gp - gl - gr) * 1e9 + F.lit(0.5)).cast("long")
    w_best = Window.partitionBy("fold").orderBy(
        F.desc("dec_nano"), F.asc("v")
    )
    model = (
        cum.select(
            "fold",
            "v",
            "nl",
            "pl",
            "nt",
            "pt",
            dec_nano.alias("dec_nano"),
        )
        .withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "fold",
            F.col("v").alias("theta"),
            # majority class per side (ties -> negative, both engines)
            (F.col("pl") * 2 > F.col("nl")).cast("long").alias("left_pos"),
            ((F.col("pt") - F.col("pl")) * 2 > (F.col("nt") - F.col("nl")))
            .cast("long")
            .alias("right_pos"),
            F.col("dec_nano"),
            F.col("nt").alias("n_train"),
        )
    )
    holdout = vf.join(F.broadcast(model), "fold").select(
        "fold",
        "theta",
        "dec_nano",
        "n_train",
        "n",
        # correct predictions at this (v, fold) cell
        F.when(
            F.col("v") <= F.col("theta"),
            F.when(F.col("left_pos") == 1, F.col("p")).otherwise(
                F.col("n") - F.col("p")
            ),
        )
        .otherwise(
            F.when(F.col("right_pos") == 1, F.col("p")).otherwise(
                F.col("n") - F.col("p")
            )
        )
        .cast("long")
        .alias("n_correct"),
    )
    return (
        holdout.groupBy("fold")
        .agg(
            F.max("theta").alias("threshold"),
            F.round(
                F.max("dec_nano").cast("double") / 1e9, 6
            ).alias("train_gini_decrease_r6"),
            F.max("n_train").alias("n_train"),
            F.sum("n").cast("long").alias("n_holdout"),
            F.sum("n_correct").cast("long").alias("n_correct"),
        )
        .select(
            "fold",
            "threshold",
            "train_gini_decrease_r6",
            "n_train",
            "n_holdout",
            F.expr("(n_correct * 10000L) div n_holdout")
            .cast("long")
            .alias("holdout_accuracy_bp"),
        )
        .orderBy("fold")
    )


def stump_cv_eval_sql() -> str:
    """Twin of stump_cv_eval: identical fold hash, subtraction-derived
    training stats, nano argmax, and integer holdout scoring."""
    return f"""
    WITH vf AS MATERIALIZED (
        SELECT n_chars AS v,
               (doc_id * {STUMP_CV_SALT}) % {STUMP_CV_FOLDS} AS fold,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS p
        FROM documents GROUP BY 1, 2
    ),
    vall AS (
        SELECT v, CAST(sum(n) AS BIGINT) AS n_all,
               CAST(sum(p) AS BIGINT) AS p_all
        FROM vf GROUP BY 1
    ),
    grid AS (
        SELECT a.v, f.fold,
               CAST(a.n_all - coalesce(vf.n, 0) AS BIGINT) AS n_tr,
               CAST(a.p_all - coalesce(vf.p, 0) AS BIGINT) AS p_tr
        FROM vall a
        CROSS JOIN (SELECT unnest(range({STUMP_CV_FOLDS})) AS fold) f
        LEFT JOIN vf ON vf.v = a.v AND vf.fold = f.fold
    ),
    cum AS (
        SELECT v, fold,
               CAST(sum(n_tr) OVER (PARTITION BY fold ORDER BY v)
                    AS BIGINT) AS nl,
               CAST(sum(p_tr) OVER (PARTITION BY fold ORDER BY v)
                    AS BIGINT) AS pl,
               CAST(sum(n_tr) OVER (PARTITION BY fold) AS BIGINT) AS nt,
               CAST(sum(p_tr) OVER (PARTITION BY fold) AS BIGINT) AS pt
        FROM grid
    ),
    scored AS (
        SELECT v, fold, nl, pl, nt, pt,
               CAST(floor((
                   (CAST(nt AS DOUBLE) * nt - CAST(pt AS DOUBLE) * pt
                    - CAST(nt - pt AS DOUBLE) * (nt - pt))
                       / (CAST(nt AS DOUBLE) * nt)
                   - (CAST(nl AS DOUBLE) * nl - CAST(pl AS DOUBLE) * pl
                      - CAST(nl - pl AS DOUBLE) * (nl - pl))
                       / (CAST(nl AS DOUBLE) * nt)
                   - (CAST(nt - nl AS DOUBLE) * (nt - nl)
                      - CAST(pt - pl AS DOUBLE) * (pt - pl)
                      - CAST((nt - nl) - (pt - pl) AS DOUBLE)
                        * ((nt - nl) - (pt - pl)))
                       / (CAST(nt - nl AS DOUBLE) * nt)
               ) * 1e9 + 0.5) AS BIGINT) AS dec_nano
        FROM cum
        WHERE nl < nt AND nl > 0
    ),
    model AS MATERIALIZED (
        SELECT fold, v AS theta,
               CAST(pl * 2 > nl AS BIGINT) AS left_pos,
               CAST((pt - pl) * 2 > (nt - nl) AS BIGINT) AS right_pos,
               dec_nano, nt AS n_train
        FROM (
            SELECT *,
                   row_number() OVER (PARTITION BY fold
                                      ORDER BY dec_nano DESC, v ASC) AS rn
            FROM scored
        )
        WHERE rn = 1
    ),
    holdout AS (
        SELECT vf.fold, m.theta, m.dec_nano, m.n_train, vf.n,
               CAST(CASE WHEN vf.v <= m.theta
                         THEN CASE WHEN m.left_pos = 1 THEN vf.p
                                   ELSE vf.n - vf.p END
                         ELSE CASE WHEN m.right_pos = 1 THEN vf.p
                                   ELSE vf.n - vf.p END
                    END AS BIGINT) AS n_correct
        FROM vf JOIN model m ON m.fold = vf.fold
    )
    SELECT fold,
           max(theta) AS threshold,
           round(CAST(max(dec_nano) AS DOUBLE) / 1e9, 6)
               AS train_gini_decrease_r6,
           CAST(max(n_train) AS BIGINT) AS n_train,
           CAST(sum(n) AS BIGINT) AS n_holdout,
           CAST((sum(n_correct) * 10000) // sum(n) AS BIGINT)
               AS holdout_accuracy_bp
    FROM holdout
    GROUP BY fold
    ORDER BY fold
    """


# ---------------------------------------------------------------------------
# importance-weight diagnostics (ESS) for the DSIR selection tier
# ---------------------------------------------------------------------------

ESS_WEIGHT_CAP = 2.0


def importance_weight_ess(
    t: dict[str, DataFrame], cap: float = ESS_WEIGHT_CAP
) -> DataFrame:
    """Effective-sample-size diagnostics for DSIR importance weights,
    per source: before importance-RESAMPLING a corpus slice you check
    whether the weights are healthy — Kish ESS = (Σw)²/Σw² says how
    many effective documents survive resampling (ESS ≈ n means weights
    are flat; ESS ≪ n means a few documents dominate and the resample
    degenerates), and the clip columns quantify how much mass a
    standard weight cap would truncate. This is the go/no-go gate
    between scoring (``dsir_importance``) and actually drawing the
    resampled subset.

    w_d = exp(avg_logw) with avg_logw the ROUNDED per-doc DSIR score,
    so both engines exponentiate the identical rounded input; the
    remaining double sums live far inside round(6)
    (unigram_logprob's argument).

    Scale shape: the DSIR scoring pipeline (its cost) + one doc-keyed
    join for source + ONE per-source aggregate. Output: one row per
    source — (source, n_docs, ess, ess_ratio, clip_frac, clip_mass).
    """
    d = t["documents"]
    scored = dsir_importance(d)
    w = scored.join(d.select("doc_id", "source"), "doc_id").select(
        "source", F.exp(F.col("avg_logw")).alias("w")
    )
    ess = (F.sum("w") * F.sum("w")) / F.sum(F.col("w") * F.col("w"))
    return w.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(ess, 6).alias("ess"),
        F.round(ess / F.count(F.lit(1)), 6).alias("ess_ratio"),
        F.round(F.avg((F.col("w") > cap).cast("double")), 6).alias(
            "clip_frac"
        ),
        F.round(
            F.sum(F.least(F.col("w"), F.lit(cap))) / F.sum("w"), 6
        ).alias("clip_mass"),
    )


def importance_weight_ess_sql(cap: float = ESS_WEIGHT_CAP) -> str:
    """Twin: wraps the DSIR score SQL and applies the identical
    aggregate algebra."""
    return f"""
    WITH dsir AS ({DSIR_IMPORTANCE_SQL}),
    w AS (
        SELECT d.source, exp(s.avg_logw) AS w
        FROM dsir s JOIN documents d USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(sum(w) * sum(w) / sum(w * w), 6) AS ess,
           round(sum(w) * sum(w) / sum(w * w) / count(*), 6) AS ess_ratio,
           round(avg(CASE WHEN w > {cap} THEN 1.0 ELSE 0.0 END), 6)
               AS clip_frac,
           round(sum(least(w, {cap})) / sum(w), 6) AS clip_mass
    FROM w
    GROUP BY source
    """


# ---------------------------------------------------------------------------
# temperature-scaled multilingual sampling weights
# ---------------------------------------------------------------------------

TEMP_ALPHA = 0.3


def lang_temperature_weights(
    t: dict[str, DataFrame], alpha: float = TEMP_ALPHA
) -> DataFrame:
    """Temperature-scaled language sampling weights (the multilingual
    pretraining standard from mBERT/XLM-R: sample language l with
    probability ∝ p_l^α, α≈0.3): flattens the head so low-resource
    languages are upsampled without letting them dominate. This is the
    number a 100 TB multilingual mix is DRAWN with; pair it with
    ``corpus_mix``/``balanced_sample_per_lang`` which act on the draw.

    Exactness: token counts are exact integers; p_l divides two
    integers; pow(p, α) is one correctly-rounded double op per
    language; the weight normalizer sums |languages| doubles (metadata-
    sized) — all comfortably inside round(6).

    Scale shape: ONE (lang) aggregate over the token relation (map-side
    partials), then language-cardinality metadata crossJoined with two
    ONE-ROW totals. Output: one row per language — (lang, n_tokens,
    p_raw, share, boost).
    """
    d = t["documents"]
    toks = F.filter(
        F.split(F.lower(F.col("text")), " "), lambda x: x != ""
    )
    per_lang = d.select("lang", F.size(toks).cast("long").alias("n")).groupBy(
        "lang"
    ).agg(F.sum("n").cast("long").alias("n_tokens"))
    tot = per_lang.agg(F.sum("n_tokens").cast("long").alias("n_total"))
    p = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("n_total")).alias("p_raw"),
    )
    wsum = p.agg(F.sum(F.pow(F.col("p_raw"), F.lit(alpha))).alias("w_sum"))
    return p.crossJoin(F.broadcast(wsum)).select(
        "lang",
        "n_tokens",
        F.round(F.col("p_raw"), 6).alias("p_raw"),
        F.round(
            F.pow(F.col("p_raw"), F.lit(alpha)) / F.col("w_sum"), 6
        ).alias("share"),
        F.round(
            F.pow(F.col("p_raw"), F.lit(alpha))
            / F.col("w_sum")
            / F.col("p_raw"),
            6,
        ).alias("boost"),
    )


def lang_temperature_weights_sql(alpha: float = TEMP_ALPHA) -> str:
    """Twin: identical aggregate algebra over the same token counts."""
    return f"""
    WITH per_lang AS (
        SELECT lang,
               CAST(sum(len(list_filter(string_split(lower(text), ' '),
                   x -> x != ''))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total FROM per_lang),
    p AS (
        SELECT lang, n_tokens,
               CAST(n_tokens AS DOUBLE) / n_total AS p_raw
        FROM per_lang CROSS JOIN tot
    ),
    ws AS (SELECT sum(pow(p_raw, {alpha})) AS w_sum FROM p)
    SELECT lang, n_tokens,
           round(p_raw, 6) AS p_raw,
           round(pow(p_raw, {alpha}) / w_sum, 6) AS share,
           round(pow(p_raw, {alpha}) / w_sum / p_raw, 6) AS boost
    FROM p CROSS JOIN ws
    """


# ---------------------------------------------------------------------------
# split leakage through near-duplicates
# ---------------------------------------------------------------------------


def split_leakage_audit(
    t: dict[str, DataFrame],
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Near-dup pairs that STRADDLE the train/val/test boundary — the
    eval-integrity bug ``dataset_split`` alone cannot see: hash splits
    assign DOCUMENTS independently, so two near-duplicate documents
    routinely land in different splits and the held-out set silently
    overlaps the training set (the fuzzy cousin of benchmark
    contamination, and the first thing to audit before trusting a val
    loss). Output: one row per unordered split-pair cell with its pair
    count and an is_leak flag (off-diagonal cells are leaks).

    Scale shape: the banded LSH pair relation (near-dup-sized) joined
    twice to the split assignment (pure hash projection of the corpus
    — no shuffle beyond the doc_id join), then a groupBy on a <= 9-row
    key space. The split assignment is computed, not stored, so the
    audit needs no extra state at 100 TB.
    """
    from .dedup import minhash_lsh_pairs

    d = t["documents"]
    sp = dataset_split(d, train_pct=train_pct, val_pct=val_pct).select(
        "doc_id", "split"
    )
    return (
        minhash_lsh_pairs(d, text_col, n, threshold)
        .join(
            sp.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("pa")
            ),
            "doc_a",
        )
        .join(
            sp.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("pb")
            ),
            "doc_b",
        )
        .groupBy(
            F.least("pa", "pb").alias("split_a"),
            F.greatest("pa", "pb").alias("split_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("is_leak"),
        )
    )


def split_leakage_audit_sql(
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
    train_pct: int = 80,
    val_pct: int = 10,
) -> str:
    """Twin: same LSH pair CTE joined to the same hash-split CASE."""
    from .oracle import minhash_lsh_sql

    b = _split_bucket_sql("doc_id")
    return f"""
    WITH pairs AS MATERIALIZED ({minhash_lsh_sql(n, threshold)}),
    sp AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN {b} < {train_pct} THEN 'train'
                    WHEN {b} < {train_pct + val_pct} THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT least(sa.split, sb.split) AS split_a,
           greatest(sa.split, sb.split) AS split_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           least(sa.split, sb.split) != greatest(sa.split, sb.split)
               AS is_leak
    FROM pairs p
    JOIN sp sa ON sa.doc_id = p.doc_a
    JOIN sp sb ON sb.doc_id = p.doc_b
    GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# packing efficiency curve
# ---------------------------------------------------------------------------

PACK_CURVE_BUDGETS = (128, 256, 512)


def packing_efficiency_curve(
    df: DataFrame,
    budgets: tuple[int, ...] = PACK_CURVE_BUDGETS,
    text_col: str = "text",
) -> DataFrame:
    """What each context-window budget COSTS in padding: first-fit
    packing (``pack_sequences``) replayed at several budgets in one
    plan, each arm reduced to exact-integer efficiency numbers —
    pack count, oversized-doc packs, and waste (unfilled capacity,
    excluding oversized packs' overflow). The fill ratio is the number
    a training-throughput owner trades against sequence length; like
    ``jaccard_threshold_curve``/``ivf_nprobe_curve``, the knob sweep is
    a QUERY, not a rerun. fill_bp = (capacity - waste)·10000 div
    capacity, capacity = n_packs·budget — exact integer division, no
    float anywhere.

    Scale shape: each arm is the deterministic per-group greedy
    (parallel over doc_id % n_groups), reduced map-side to one row;
    |budgets| passes over the (doc_id, n_tokens) projection — the
    text column is scanned once per arm, nothing pair-shaped.
    """
    arms = []
    for b in budgets:
        packs = (
            pack_sequences(df, budget=b, text_col=text_col)
            .groupBy("pack_id")
            .agg(
                F.sum("n_tokens").alias("pt"),
                F.count(F.lit(1)).alias("nd"),
            )
        )
        arms.append(
            packs.agg(
                F.sum("nd").cast("long").alias("n_docs"),
                F.count(F.lit(1)).cast("long").alias("n_packs"),
                F.sum((F.col("pt") > b).cast("long"))
                .cast("long")
                .alias("n_oversized"),
                F.sum("pt").cast("long").alias("total_tokens"),
                F.sum(
                    F.greatest(F.lit(0).cast("long"), F.lit(b) - F.col("pt"))
                )
                .cast("long")
                .alias("waste_tokens"),
            ).select(F.lit(b).cast("long").alias("budget"), "*")
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    cap = F.col("n_packs") * F.col("budget")
    return out.select(
        "budget",
        "n_docs",
        "n_packs",
        "n_oversized",
        "total_tokens",
        "waste_tokens",
        F.expr(
            "(n_packs * budget - waste_tokens) * 10000 div (n_packs * budget)"
        )
        .cast("long")
        .alias("fill_bp"),
    ).orderBy("budget")


def packing_efficiency_curve_sql(
    budgets: tuple[int, ...] = PACK_CURVE_BUDGETS,
) -> str:
    """Twin: one nested pack recurrence per budget (isolated scopes so
    the recursive CTE names cannot collide), identical integer folds."""
    arms = []
    for b in budgets:
        arms.append(
            f"""(
        WITH p AS ({pack_sequences_sql(budget=b)}),
        g AS (
            SELECT pack_id, sum(n_tokens) AS pt, count(*) AS nd
            FROM p GROUP BY pack_id
        )
        SELECT CAST({b} AS BIGINT) AS budget,
               CAST(sum(nd) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_packs,
               CAST(sum(CASE WHEN pt > {b} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oversized,
               CAST(sum(pt) AS BIGINT) AS total_tokens,
               CAST(sum(greatest(0, {b} - pt)) AS BIGINT) AS waste_tokens
        FROM g
    )"""
        )
    unioned = "\n    UNION ALL\n    ".join(arms)
    return f"""
    SELECT budget, n_docs, n_packs, n_oversized, total_tokens,
           waste_tokens,
           (n_packs * budget - waste_tokens) * 10000
               // (n_packs * budget) AS fill_bp
    FROM (
    {unioned}
    )
    ORDER BY budget
    """


# ---------------------------------------------------------------------------
# span-corruption (T5-style) masking layout statistics
# ---------------------------------------------------------------------------

MASK_SPAN_LEN = 3  # tokens per maskable block (mean corrupted-span length)
MASK_RATE_PCT = 15  # target corruption rate
MASK_BLOCK_STRIDE = 1_000_003  # (doc_id, block) -> one mix-hash key
# seed tuple in sketches._hll_mix format (3-round multiply-mod/xor-shift)
MASK_SEED = (627_101_863, 433_024_253, 2_246_822_519, 286_331_153)


def span_corruption_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The DETERMINISTIC span-corruption layout a T5-style denoising
    objective would apply, reduced to per-doc audit numbers — how many
    tokens and how many contiguous mask spans each document gets when
    every 3-token block is masked i.i.d.-looking at ~15% (block masked
    iff mix_hash(doc_id·stride + block) % 100 < 15). The layout is a
    pure function of (doc_id, block) — append-stable, engine-portable,
    reproducible at any parallelism — which is exactly what makes the
    masking auditable BEFORE a 100 TB preprocessing run (and what a
    seeded RNG per partition is not).

    The hash is the 3-round multiply-mod/xor-shift mix shared with the
    HLL sketches (a linear hash over the (doc, block) lattice produces
    visibly striped masks — same lesson as the bootstrap resampler).

    Everything is row-local array math: blocks = sequence, flags =
    pure-function transform, span starts = flag(b) AND NOT flag(b-1)
    (stateless — no fold, no window, no shuffle; the scan is the cost).

    Output: (doc_id, n_tokens, n_masked, n_mask_spans, mask_bp) with
    mask_bp = n_masked·10000 div n_tokens.
    """
    from .sketches import _hll_mix_spark

    toks = F.split(F.col(text_col), " ")
    n = F.size(toks).cast("long")
    n_blocks = F.ceil(n / F.lit(MASK_SPAN_LEN)).cast("long")

    def flag(b):
        key = F.col("doc_id") * F.lit(MASK_BLOCK_STRIDE) + b
        return _hll_mix_spark(key, MASK_SEED) % 100 < MASK_RATE_PCT

    blocks = F.sequence(F.lit(0).cast("long"), n_blocks - 1)
    masked = F.filter(blocks, flag)
    n_masked = F.aggregate(
        masked,
        F.lit(0).cast("long"),
        lambda acc, b: acc
        + F.least(F.lit(MASK_SPAN_LEN).cast("long"), n - b * MASK_SPAN_LEN),
    )
    n_spans = F.size(
        F.filter(blocks, lambda b: flag(b) & ((b == 0) | ~flag(b - 1)))
    ).cast("long")
    return df.select(
        "doc_id",
        n.alias("n_tokens"),
        n_masked.alias("n_masked"),
        n_spans.alias("n_mask_spans"),
    ).select(
        "*",
        F.expr("n_masked * 10000 div n_tokens").cast("long").alias("mask_bp"),
    )


def span_corruption_stats_sql() -> str:
    """Twin: same mix hash over the same (doc_id·stride + block) keys;
    span starts are the same stateless flag(b) AND NOT flag(b-1)."""
    from .sketches import _hll_mix_sql

    def flag(b_expr: str) -> str:
        key = f"(CAST(doc_id AS BIGINT) * {MASK_BLOCK_STRIDE} + {b_expr})"
        return f"({_hll_mix_sql(key, MASK_SEED)} % 100 < {MASK_RATE_PCT})"

    k = MASK_SPAN_LEN
    return f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents
    ),
    blk AS (
        SELECT doc_id, n, CAST(b AS BIGINT) AS b
        FROM t, unnest(range(0, CAST(ceil(n * 1.0 / {k}) AS BIGINT)))
            AS p(b)
    ),
    fl AS (
        SELECT doc_id, n, b,
               {flag('b')} AS f,
               CASE WHEN b = 0 THEN FALSE ELSE {flag('(b - 1)')} END AS fp
        FROM blk
    ),
    agg AS (
        SELECT doc_id,
               n AS n_tokens,
               CAST(coalesce(sum(CASE WHEN f
                   THEN least({k}, n - b * {k}) END), 0)
                   AS BIGINT) AS n_masked,
               CAST(coalesce(sum(CASE WHEN f AND NOT fp THEN 1 END), 0)
                   AS BIGINT) AS n_mask_spans
        FROM fl
        GROUP BY doc_id, n
    )
    SELECT doc_id, n_tokens, n_masked, n_mask_spans,
           n_masked * 10000 // n_tokens AS mask_bp
    FROM agg
    """


# ---------------------------------------------------------------------------
# mixture epochs plan (token budget -> per-source passes)
# ---------------------------------------------------------------------------

EPOCHS_BUDGET_MULT = 2  # train-token budget as a multiple of corpus tokens
EPOCHS_CAP_MICRO = 4_000_000  # 4.0 epochs (the useful-repetition bound)


def mixture_epochs_plan(
    df: DataFrame,
    budget_mult: int = EPOCHS_BUDGET_MULT,
    alpha: float = MIXTURE_ALPHA,
    cap_micro: int = EPOCHS_CAP_MICRO,
    text_col: str = "text",
) -> DataFrame:
    """Turn the temperature mixture into the ALLOCATION a training run
    executes: given a token budget of ``budget_mult``× the corpus and
    the ``source_mixture_weights`` sampling shares, how many tokens —
    and therefore how many PASSES (epochs) — each source is asked for.
    Small upweighted sources hit the repetition cap (~4 epochs is where
    repeated data stops helping, Muennighoff et al. 2023); the plan
    reports each source's requested tokens, exact micro-epochs, the cap
    flag, and the granted tokens after capping — the shortfall is what
    a mixture owner re-allocates before launching.

    Exact-integer discipline end to end: requests divide integers with
    truncating div on both engines (the w_nano temperature weights are
    already nano-quantized), epochs are exact micro-units, grants are
    integer mins — nothing floats, so the plan is bit-identical to its
    twin by construction.

    Scale shape: inherits the one-pass source aggregate + one-row
    broadcast totals of ``source_mixture_weights``; everything after is
    |sources|-sized arithmetic.

    Output: (source, n_tokens, w_bp, requested_tokens, epochs_micro,
    over_cap, granted_tokens).
    """
    # three consumers (z, the token total, and the plan itself) — persist
    # the sources-sized weight relation so the corpus pass runs once
    w = source_mixture_weights(df, alpha, text_col).transform(tracked_persist)
    z = w.agg(F.sum("w_nano").cast("long").alias("z"))
    tot = w.agg(F.sum("n_tokens").cast("long").alias("n_total"))
    req = F.expr(
        f"CAST((CAST(w_nano AS DECIMAL(38,0)) * {budget_mult} * n_total)"
        f" DIV z AS LONG)"
    )
    return (
        w.crossJoin(F.broadcast(z))
        .crossJoin(F.broadcast(tot))
        .select("source", "n_tokens", "w_bp", req.alias("requested_tokens"))
        .select(
            "*",
            F.expr(
                "CAST((CAST(requested_tokens AS DECIMAL(38,0)) * 1000000)"
                " DIV n_tokens AS LONG)"
            ).alias("epochs_micro"),
        )
        .select(
            "source",
            "n_tokens",
            "w_bp",
            "requested_tokens",
            "epochs_micro",
            (F.col("epochs_micro") > cap_micro).alias("over_cap"),
            F.least(
                F.col("requested_tokens"),
                F.expr(
                    f"CAST((CAST(n_tokens AS DECIMAL(38,0)) * {cap_micro})"
                    f" DIV 1000000 AS LONG)"
                ),
            ).alias("granted_tokens"),
        )
    )


def mixture_epochs_plan_sql(
    budget_mult: int = EPOCHS_BUDGET_MULT,
    alpha: float = MIXTURE_ALPHA,
    cap_micro: int = EPOCHS_CAP_MICRO,
) -> str:
    """Twin: same nano-weight relation, same truncating integer
    divisions (DuckDB // on HUGEINT products)."""
    return f"""
    WITH w AS MATERIALIZED ({source_mixture_weights_sql(alpha)}),
    z AS (SELECT CAST(sum(w_nano) AS BIGINT) AS z,
                 CAST(sum(n_tokens) AS BIGINT) AS n_total FROM w),
    req AS (
        SELECT source, n_tokens, w_bp,
               CAST(CAST(w_nano AS HUGEINT) * {budget_mult} * n_total // z
                    AS BIGINT) AS requested_tokens
        FROM w CROSS JOIN z
    ),
    ep AS (
        SELECT *,
               CAST(CAST(requested_tokens AS HUGEINT) * 1000000 // n_tokens
                    AS BIGINT) AS epochs_micro
        FROM req
    )
    SELECT source, n_tokens, w_bp, requested_tokens, epochs_micro,
           epochs_micro > {cap_micro} AS over_cap,
           least(requested_tokens,
                 CAST(CAST(n_tokens AS HUGEINT) * {cap_micro} // 1000000
                      AS BIGINT)) AS granted_tokens
    FROM ep
    """


# ---------------------------------------------------------------------------
# shard layout report
# ---------------------------------------------------------------------------

SHARD_COUNT = 16


def shard_skew_report(
    df: DataFrame,
    budget: int = 256,
    n_shards: int = SHARD_COUNT,
    text_col: str = "text",
) -> DataFrame:
    """The last hop of the corpus pipeline: packs hash-assigned to
    output SHARDS (the files a distributed training loader actually
    reads), with per-shard pack/doc/token counts — the skew a loader's
    slowest-worker step is bounded by. Assignment hashes the pack id
    ("shard:" + pack_id, the append-stable rule dataset_split uses for
    docs), so the layout is reproducible on any engine and adding packs
    never reshuffles existing ones.

    Output: one row per shard (shard, n_packs, n_docs, n_tokens),
    ordered; skew is read off as max/mean of n_tokens.

    Scale shape: the packing pass (parallel per doc_id % n_groups)
    plus one groupBy over the pack relation — shards-sized output.
    """
    packs = pack_sequences(df, budget=budget, text_col=text_col)
    h = rolling_hash(F.concat(F.lit("shard:"), F.col("pack_id")))
    return (
        packs.select(
            (h % n_shards).cast("long").alias("shard"),
            "pack_id",
            "n_tokens",
        )
        .groupBy("shard")
        .agg(
            F.count_distinct("pack_id").cast("long").alias("n_packs"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("shard")
    )


def shard_skew_report_sql(
    budget: int = 256, n_shards: int = SHARD_COUNT
) -> str:
    """Twin: the pack recurrence + the same pack-id hash % shards."""
    h = ROLLING_HASH.format(s="'shard:' || pack_id")
    return f"""
    WITH p AS ({pack_sequences_sql(budget=budget)})
    SELECT CAST(({h}) % {n_shards} AS BIGINT) AS shard,
           CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM p
    GROUP BY 1
    ORDER BY shard
    """


def shard_mixing_audit(
    df: DataFrame,
    budget: int = 256,
    n_shards: int = SHARD_COUNT,
    text_col: str = "text",
) -> DataFrame:
    """Does every loader shard see a healthy SOURCE mix? Sequential
    packing + hash sharding can still correlate a shard with a source
    (doc_id ranges often encode crawl origin); a source-pure shard
    turns data-parallel training into per-worker domain curricula. One
    row per shard: doc count, distinct sources, the dominant source
    and its share in exact bp — read max(top_share_bp) as the
    worst-shard alarm next to shard_skew_report's token skew.

    Deterministic tie-break for the dominant source: (n desc, source
    asc), identical in the twin's row_number.

    Scale shape: the same packing pass shard_skew_report pays (shared
    plan prefix), one groupBy(shard, source), then shard-keyed window
    + fold over a |shards|·|sources| relation — metadata-sized.
    """
    packs = pack_sequences(df, budget=budget, text_col=text_col)
    h = rolling_hash(F.concat(F.lit("shard:"), F.col("pack_id")))
    per = (
        packs.select((h % n_shards).cast("long").alias("shard"), "doc_id")
        .join(df.select("doc_id", "source"), "doc_id")
        .groupBy("shard", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("shard").orderBy(F.desc("n"), F.asc("source"))
    return (
        per.withColumn("rn", F.row_number().over(w))
        .groupBy("shard")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            F.max(F.when(F.col("rn") == 1, F.col("source"))).alias(
                "top_source"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("n"))).cast("long").alias(
                "top_docs"
            ),
        )
        .withColumn(
            "top_share_bp",
            F.expr("(top_docs * 10000) div n_docs").cast("long"),
        )
        .orderBy("shard")
    )


def shard_mixing_audit_sql(
    budget: int = 256, n_shards: int = SHARD_COUNT
) -> str:
    """Twin: pack recurrence + same shard hash, (shard, source) counts,
    row_number dominant-source pick, identical folds."""
    h = ROLLING_HASH.format(s="'shard:' || pack_id")
    return f"""
    WITH p AS ({pack_sequences_sql(budget=budget)}),
    per AS (
        SELECT ({h}) % {n_shards} AS shard, d.source,
               CAST(count(*) AS BIGINT) AS n
        FROM p JOIN documents d USING (doc_id)
        GROUP BY 1, 2
    ),
    r AS (
        SELECT shard, source, n,
               row_number() OVER (
                   PARTITION BY shard ORDER BY n DESC, source ASC) AS rn
        FROM per
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_sources,
           max(CASE WHEN rn = 1 THEN source END) AS top_source,
           CAST(max(CASE WHEN rn = 1 THEN n END) AS BIGINT) AS top_docs,
           CAST((max(CASE WHEN rn = 1 THEN n END) * 10000) // sum(n)
                AS BIGINT) AS top_share_bp
    FROM r
    GROUP BY shard
    ORDER BY shard
    """


def pack_boundary_audit(
    df: DataFrame, budget: int = 256, text_col: str = "text"
) -> DataFrame:
    """Cross-document attention bleed, measured: sequence packing puts
    unrelated documents adjacent inside one context window, and
    without an attention mask the model attends across the seam. One
    row: pack boundaries (adjacent doc pairs inside a pack), how many
    straddle different sources / languages, in exact bp — the number
    that decides whether doc-boundary attention masking is worth its
    throughput cost on THIS corpus mix.

    Scale shape: the packing pass + one pack-keyed window (lead) +
    two doc-keyed joins for the neighbor metadata + a ONE-ROW fold.
    Boundary volume = docs − packs, corpus-linear.
    """
    packs = pack_sequences(df, budget=budget, text_col=text_col)
    w = Window.partitionBy("pack_id").orderBy("doc_id")
    b = (
        packs.select("pack_id", "doc_id")
        .withColumn("next_id", F.lead("doc_id").over(w))
        .filter(F.col("next_id").isNotNull())
    )
    meta = df.select("doc_id", "source", "lang")
    pairs = (
        b.join(meta, "doc_id")
        .join(
            meta.select(
                F.col("doc_id").alias("next_id"),
                F.col("source").alias("source_b"),
                F.col("lang").alias("lang_b"),
            ),
            "next_id",
        )
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_boundaries"),
        F.sum((F.col("source") != F.col("source_b")).cast("long"))
        .cast("long")
        .alias("cross_source"),
        F.sum((F.col("lang") != F.col("lang_b")).cast("long"))
        .cast("long")
        .alias("cross_lang"),
    ).select(
        "n_boundaries",
        "cross_source",
        "cross_lang",
        F.expr("(cross_source * 10000) div n_boundaries")
        .cast("long")
        .alias("cross_source_bp"),
        F.expr("(cross_lang * 10000) div n_boundaries")
        .cast("long")
        .alias("cross_lang_bp"),
    )


def pack_boundary_audit_sql(budget: int = 256) -> str:
    """Twin: pack recurrence + lead over (pack_id, doc_id) + the same
    metadata joins and folds."""
    return f"""
    WITH p AS ({pack_sequences_sql(budget=budget)}),
    b AS (
        SELECT pack_id, doc_id,
               lead(doc_id) OVER (PARTITION BY pack_id ORDER BY doc_id)
                   AS next_id
        FROM p
    ),
    pairs AS (
        SELECT da.source AS sa, db.source AS sb, da.lang AS la, db.lang AS lb
        FROM b
        JOIN documents da ON da.doc_id = b.doc_id
        JOIN documents db ON db.doc_id = b.next_id
        WHERE b.next_id IS NOT NULL
    ),
    f AS (
        SELECT CAST(count(*) AS BIGINT) AS n_boundaries,
               CAST(coalesce(sum(CASE WHEN sa <> sb THEN 1 END), 0)
                    AS BIGINT) AS cross_source,
               CAST(coalesce(sum(CASE WHEN la <> lb THEN 1 END), 0)
                    AS BIGINT) AS cross_lang
        FROM pairs
    )
    SELECT n_boundaries, cross_source, cross_lang,
           CAST((cross_source * 10000) // n_boundaries AS BIGINT)
               AS cross_source_bp,
           CAST((cross_lang * 10000) // n_boundaries AS BIGINT)
               AS cross_lang_bp
    FROM f
    """


# ---------------------------------------------------------------------------
# per-source caps, batching waste, bloom decontamination, shard co-location
# ---------------------------------------------------------------------------

CAP_VALUES = (5, 10, 20)


def source_cap_curve(
    df: DataFrame, caps: tuple[int, ...] = CAP_VALUES, text_col: str = "text"
) -> DataFrame:
    """What each per-source document CAP costs — the Common-Crawl-style
    "at most N pages per domain" knob, measured before it is applied.
    ``balanced_sample_per_lang`` produces a capped sample; this is the
    DECISION input: for each candidate cap, how many docs and tokens
    survive, how many are cut, and how many sources actually hit the
    cap (sources below it are untouched, so raising the cap past the
    tail's size buys nothing).

    Ranking within a source is the deterministic hash order every
    sampler here uses (append-stable: new docs never displace kept
    ones with a lower hash rank — they only extend the tail), tie-broken
    by doc_id.

    Output: one row per cap — (cap, docs_kept, docs_dropped,
    tokens_kept, tokens_dropped, sources_capped), exact integers.

    Scale shape: ONE shuffle on source (rank + per-source count share
    the window partitioning), then a |caps|-way fold via a tiny
    exploded literal — the corpus is scanned once for all caps. A
    pathological mega-source makes one sort partition large; the cap
    rule only needs the N smallest hash ranks, so at that scale the
    window swaps for a per-partition top-N + merge (same contract).
    """
    h = rolling_hash(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source")
    base = df.select(
        "source",
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
        F.row_number()
        .over(w.orderBy(h.asc(), F.col("doc_id").asc()))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_src"),
    )
    caps_df = F.explode(F.array(*[F.lit(int(c)) for c in caps])).alias("cap")
    kept = F.col("rn") <= F.col("cap")
    return (
        base.select("source", "n_tokens", "rn", "n_src", caps_df)
        .groupBy("cap")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("docs_kept"),
            F.sum(F.when(kept, 0).otherwise(1))
            .cast("long")
            .alias("docs_dropped"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
            F.sum(F.when(kept, 0).otherwise(F.col("n_tokens")))
            .cast("long")
            .alias("tokens_dropped"),
            F.count_distinct(
                F.when(F.col("n_src") > F.col("cap"), F.col("source"))
            )
            .cast("long")
            .alias("sources_capped"),
        )
        .select(F.col("cap").cast("long").alias("cap"), "docs_kept",
                "docs_dropped", "tokens_kept", "tokens_dropped",
                "sources_capped")
        .orderBy("cap")
    )


def source_cap_curve_sql(caps: tuple[int, ...] = CAP_VALUES) -> str:
    """Twin: same hash rank, same per-source count, same folds."""
    h = ROLLING_HASH.format(s="'cap:' || CAST(doc_id AS VARCHAR)")
    cap_list = "[" + ", ".join(str(int(c)) for c in caps) + "]"
    return f"""
    WITH base AS (
        SELECT source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               row_number() OVER (
                   PARTITION BY source ORDER BY {h} ASC, doc_id ASC
               ) AS rn,
               count(*) OVER (PARTITION BY source) AS n_src
        FROM documents
    ),
    e AS (SELECT base.*, unnest({cap_list}) AS cap FROM base)
    SELECT CAST(cap AS BIGINT) AS cap,
           CAST(sum(CASE WHEN rn <= cap THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_kept,
           CAST(sum(CASE WHEN rn <= cap THEN 0 ELSE 1 END) AS BIGINT)
               AS docs_dropped,
           CAST(sum(CASE WHEN rn <= cap THEN n_tokens ELSE 0 END) AS BIGINT)
               AS tokens_kept,
           CAST(sum(CASE WHEN rn <= cap THEN 0 ELSE n_tokens END) AS BIGINT)
               AS tokens_dropped,
           CAST(count(DISTINCT CASE WHEN n_src > cap THEN source END)
                AS BIGINT) AS sources_capped
    FROM e
    GROUP BY cap
    ORDER BY cap
    """


BATCH_SIZE = 8


def batch_padding_strategy(
    df: DataFrame,
    batch_size: int = BATCH_SIZE,
    n_groups: int = PACK_GROUPS,
    text_col: str = "text",
) -> DataFrame:
    """Padding waste of the two standard loader batching orders —
    ARRIVAL (docs batched in doc_id order) vs LENGTH_SORTED (docs
    batched after sorting by token length): every sequence in a batch
    pads to the batch max, so sorting co-locates similar lengths and
    shrinks the pad. ``pack_sequences`` removes padding by
    concatenation; this measures the cost of NOT packing — the number
    an engineering decision between the two loaders needs.

    Batching, like packing, happens per deterministic loader group
    (doc_id % n_groups — each data-parallel worker batches its own
    shard), so the measurement parallelizes per group, is
    engine-portable, and matches production geometry rather than a
    meaningless global sort.

    Output: one row per strategy — (strategy, n_batches, real_tokens,
    padded_tokens, pad_waste_bp) with pad_waste_bp =
    10000·(padded−real) div padded, exact integers.

    Scale shape: one shuffle on grp; the two orderings are two sorts
    of the SAME exchange (Spark reuses the partitioning); the batch
    fold is a |groups·strategies·batches|-row aggregate, output 2 rows.
    """
    base = df.select(
        (F.col("doc_id") % n_groups).alias("grp"),
        "doc_id",
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("grp")
    rn_arrival = F.row_number().over(w.orderBy(F.col("doc_id").asc()))
    rn_sorted = F.row_number().over(
        w.orderBy(F.col("n_tokens").asc(), F.col("doc_id").asc())
    )
    b = F.lit(int(batch_size))
    # window expressions can't sit inside a generator: rank first,
    # explode the (strategy, batch) pairs in a second projection
    ranked = base.select(
        "grp",
        "n_tokens",
        rn_arrival.alias("rn_arrival"),
        rn_sorted.alias("rn_sorted"),
    )
    both = ranked.select(
        "grp",
        "n_tokens",
        F.explode(
            F.array(
                F.struct(
                    F.lit("arrival").alias("strategy"),
                    ((F.col("rn_arrival") - 1) / b).cast("long").alias("batch"),
                ),
                F.struct(
                    F.lit("length_sorted").alias("strategy"),
                    ((F.col("rn_sorted") - 1) / b).cast("long").alias("batch"),
                ),
            )
        ).alias("s"),
    ).select("grp", "n_tokens", "s.strategy", "s.batch")
    per_batch = both.groupBy("strategy", "grp", "batch").agg(
        F.count(F.lit(1)).cast("long").alias("n_seq"),
        F.max("n_tokens").alias("mx"),
        F.sum("n_tokens").alias("real"),
    )
    return (
        per_batch.groupBy("strategy")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("real").cast("long").alias("real_tokens"),
            F.sum(F.col("n_seq") * F.col("mx"))
            .cast("long")
            .alias("padded_tokens"),
        )
        .withColumn(
            "pad_waste_bp",
            F.expr(
                "((padded_tokens - real_tokens) * 10000) div padded_tokens"
            ).cast("long"),
        )
        .orderBy("strategy")
    )


def batch_padding_strategy_sql(
    batch_size: int = BATCH_SIZE, n_groups: int = PACK_GROUPS
) -> str:
    """Twin: same group rule, same two window orders, same folds.
    NOTE: Spark's ``(rn-1) div B`` is ``//`` here; rn >= 1 so both
    truncate identically."""
    return f"""
    WITH base AS (
        SELECT doc_id % {n_groups} AS grp, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT grp, n_tokens,
               row_number() OVER (PARTITION BY grp ORDER BY doc_id ASC)
                   AS rn_arrival,
               row_number() OVER (
                   PARTITION BY grp ORDER BY n_tokens ASC, doc_id ASC
               ) AS rn_sorted
        FROM base
    ),
    arms AS (
        SELECT grp, n_tokens, 'arrival' AS strategy,
               (rn_arrival - 1) // {batch_size} AS batch FROM ranked
        UNION ALL
        SELECT grp, n_tokens, 'length_sorted' AS strategy,
               (rn_sorted - 1) // {batch_size} AS batch FROM ranked
    ),
    per_batch AS (
        SELECT strategy, grp, batch,
               count(*) AS n_seq, max(n_tokens) AS mx,
               sum(n_tokens) AS sum_t
        FROM arms GROUP BY 1, 2, 3
    ),
    f AS (
        SELECT strategy, CAST(count(*) AS BIGINT) AS n_batches,
               CAST(sum(sum_t) AS BIGINT) AS real_tokens,
               CAST(sum(n_seq * mx) AS BIGINT) AS padded_tokens
        FROM per_batch GROUP BY strategy
    )
    SELECT strategy, n_batches, real_tokens, padded_tokens,
           CAST(((padded_tokens - real_tokens) * 10000) // padded_tokens
                AS BIGINT) AS pad_waste_bp
    FROM f
    ORDER BY strategy
    """


# Bloom decontamination screen: bit count, hash count, and the three
# (a, b) pairs deriving bit positions from a shingle hash h as
# ((a*h + b) % P) % BLOOM_M.  a*h < 2^43 — safe in int64 on both
# engines.  BLOOM_M is sized for the fixture corpus (~12k distinct
# train shingles -> ~2/3 fill, measurable-but-small FP rate); in
# production m scales with the training corpus's shingle count.
BLOOM_M = 1 << 15
BLOOM_AB = ((787, 394821), (1409, 918273), (2531, 552581))


def bloom_contamination_screen(
    df: DataFrame,
    probe_pred: str = PROBE_PRED,
    m: int = BLOOM_M,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
) -> DataFrame:
    """Bloom-filter benchmark decontamination (the GPT-2/RealNews
    screen) with its false-positive cost made VISIBLE: the training
    corpus's shingles populate a fixed bitset; each probe (benchmark)
    document is screened gram-by-gram against it, next to the exact
    semi-join ground truth. ``false_pos`` is the number of probe grams
    the bloom flags that exact matching refutes — the docs a
    bloom-only pipeline would over-delete. Blooms have no false
    negatives, so exact_hits <= bloom_hits by construction (planted
    test pins it).

    Output: one row per probe doc — (doc_id, n_grams, bloom_hits,
    exact_hits, false_pos), exact integers.

    Scale shape (the reason blooms exist at 100 TB): the filter is a
    FIXED m-bit set — the distinct set-bit relation is <= m rows no
    matter how big the training corpus is, so the screen join
    broadcasts where the exact tier's semi-join must shuffle the full
    train shingle vocabulary. Building it is one pass + one distinct
    on ((a*h+b)%P)%m values; probing explodes each probe gram into k
    position rows joined hash-to-hash against that bounded relation.
    """
    train = df.filter(f"NOT ({probe_pred})")
    probe = df.filter(probe_pred)
    train_sh = shingle_hashes(train, text_col, n)
    probe_sh = shingle_hashes(probe, text_col, n)

    def positions(rel: DataFrame) -> DataFrame:
        pos = F.explode(
            F.array(
                *[
                    ((F.lit(a) * F.col("h") + F.lit(b)) % FNV_MOD) % m
                    for a, b in BLOOM_AB
                ]
            )
        )
        return rel.select("doc_id", "h", pos.alias("pos"))

    bits = positions(train_sh).select("pos").distinct()
    k = len(BLOOM_AB)
    bloom_pos = (
        positions(probe_sh)
        .join(bits, "pos")
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == k)
        .select("doc_id", "h")
    )
    exact_pos = probe_sh.join(
        train_sh.select("h").distinct(), "h", "left_semi"
    ).select("doc_id", "h")
    per_doc = probe_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    bl = bloom_pos.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("bloom_hits")
    )
    ex = exact_pos.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_hits")
    )
    return (
        per_doc.join(bl, "doc_id", "left")
        .join(ex, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("bloom_hits", F.lit(0)).cast("long").alias("bloom_hits"),
            F.coalesce("exact_hits", F.lit(0)).cast("long").alias("exact_hits"),
            (F.coalesce("bloom_hits", F.lit(0)) - F.coalesce("exact_hits", F.lit(0)))
            .cast("long")
            .alias("false_pos"),
        )
        .orderBy("doc_id")
    )


def bloom_contamination_screen_sql(
    probe_pred: str = PROBE_PRED, m: int = BLOOM_M, n: int = DEFAULT_NGRAM
) -> str:
    """Twin: same shingle CTE split on the probe predicate, same
    (a*h+b)%P%m positions, same all-k-bits-set rule."""
    ab_rows = ", ".join(f"({a}, {b})" for a, b in BLOOM_AB)
    k = len(BLOOM_AB)
    return f"""
    WITH {_shingles_cte(n)},
    train_sh AS (
        SELECT doc_id, h FROM sh WHERE NOT ({probe_pred})
    ),
    probe_sh AS (
        SELECT doc_id, h FROM sh WHERE {probe_pred}
    ),
    ab(a, b) AS (VALUES {ab_rows}),
    bits AS (
        SELECT DISTINCT ((a * h + b) % {FNV_MOD}) % {m} AS pos
        FROM train_sh CROSS JOIN ab
    ),
    bloom_pos AS (
        SELECT doc_id, h
        FROM (
            SELECT p.doc_id, p.h,
                   ((ab.a * p.h + ab.b) % {FNV_MOD}) % {m} AS pos
            FROM probe_sh p CROSS JOIN ab
        ) q JOIN bits USING (pos)
        GROUP BY doc_id, h
        HAVING count(*) = {k}
    ),
    exact_pos AS (
        SELECT doc_id, h FROM probe_sh
        WHERE h IN (SELECT h FROM train_sh)
    )
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(coalesce(bl.bloom_hits, 0) AS BIGINT) AS bloom_hits,
           CAST(coalesce(ex.exact_hits, 0) AS BIGINT) AS exact_hits,
           CAST(coalesce(bl.bloom_hits, 0) - coalesce(ex.exact_hits, 0)
                AS BIGINT) AS false_pos
    FROM probe_sh p
    LEFT JOIN (SELECT doc_id, count(*) AS bloom_hits
               FROM bloom_pos GROUP BY doc_id) bl USING (doc_id)
    LEFT JOIN (SELECT doc_id, count(*) AS exact_hits
               FROM exact_pos GROUP BY doc_id) ex USING (doc_id)
    GROUP BY p.doc_id, bl.bloom_hits, ex.exact_hits
    ORDER BY p.doc_id
    """


def cluster_shard_colocation(
    df: DataFrame,
    n_shards: int = SHARD_COUNT,
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> DataFrame:
    """Does doc-hash sharding SPLIT near-dup clusters across shards?
    Any pipeline that shards first and dedups per shard (the cheap
    layout — no global shuffle) silently keeps every duplicate whose
    cluster straddles a shard boundary. This audit measures that
    exposure for the standard doc-id hash sharding: the near-dup
    clusters (MinHash-LSH pairs closed under transitivity) histogrammed
    by how many shards each spans. Rows with n_shards_spanned > 1 are
    the clusters per-shard dedup cannot see; the fix (sharding by
    cluster representative, i.e. hash(cluster_id)) spans 1 by
    construction, so this table IS the before/after comparison.

    Output: (n_shards_spanned, n_clusters, n_docs), ordered.

    Scale shape: the LSH cluster pass (banded candidates, iterative
    min-label closure — never all-pairs) plus one count_distinct fold
    over the (cluster, shard) relation; output is <= n_shards rows.
    """
    members = near_dup_clusters(df, text_col, n, threshold)
    shard = (
        rolling_hash(
            F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))
        )
        % n_shards
    )
    per_cluster = (
        members.select("cluster_id", shard.alias("shard"))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("shard").cast("long").alias("n_shards_spanned"),
        )
    )
    return (
        per_cluster.groupBy("n_shards_spanned")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("n_docs").cast("long").alias("n_docs"),
        )
        .orderBy("n_shards_spanned")
    )


def cluster_shard_colocation_sql(
    n_shards: int = SHARD_COUNT, n: int = DEFAULT_NGRAM,
    threshold: float = 0.8,
) -> str:
    """Twin: recursive-CTE cluster closure + the same doc-id shard
    hash and folds."""
    h = ROLLING_HASH.format(s="'shard:' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH members AS ({near_dup_clusters_sql(n, threshold)}),
    per_cluster AS (
        SELECT cluster_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT ({h}) % {n_shards}) AS BIGINT)
                   AS n_shards_spanned
        FROM members
        GROUP BY cluster_id
    )
    SELECT n_shards_spanned,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(n_docs) AS BIGINT) AS n_docs
    FROM per_cluster
    GROUP BY n_shards_spanned
    ORDER BY n_shards_spanned
    """


MW_ROUNDS = 5
MW_ETA_DEN = 20000  # update factor = (MW_ETA_DEN - loss_bp) / MW_ETA_DEN
MW_SCALE = 1_000_000  # micro lattice for the weight state


def mixture_reweigh_mw(
    df: DataFrame,
    rounds: int = MW_ROUNDS,
    text_col: str = "text",
) -> DataFrame:
    """DoReMi-style mixture reweighting, reduced to its exact-arithmetic
    core: starting from uniform source weights, run ``rounds`` of
    LINEAR multiplicative-weights updates against a per-source proxy
    loss (here the source's exact-duplicate rate — duplicate-heavy
    sources are down-weighted), renormalizing on a fixed integer
    lattice after every round. The linear update
    w ← w·(1 − η·loss) is the classic no-transcendental MW variant, so
    engine and oracle agree to the BIT (exp() ULP drift cannot exist);
    the lattice bound keeps every intermediate < 2^55.

    Output: one row per source — (source, n_docs, loss_bp, w_bp):
    the final mixture in exact basis points next to the loss that
    produced it. Uniform loss ⇒ uniform weights (planted test).

    Scale shape: the loss pass is one fingerprint groupBy (8-byte
    hashes); the MW state is a |sources|-row relation iterated
    driver-side with one-row total broadcasts per round — metadata
    arithmetic, corpus touched once.
    """
    from ..functions import normalize_text

    fp = rolling_hash(normalize_text(F.col(text_col)))
    per_fp = (
        df.select("source", fp.alias("fp"))
        .groupBy("source", "fp")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    loss = per_fp.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.sum(F.col("c") - 1).cast("long").alias("n_dup"),
    ).select(
        "source",
        "n_docs",
        F.expr("(n_dup * 10000) div n_docs").cast("long").alias("loss_bp"),
    )
    w = loss.withColumn("w", F.lit(int(MW_SCALE)).cast("long"))
    for _ in range(rounds):
        u = w.withColumn(
            "w", F.col("w") * (F.lit(MW_ETA_DEN) - F.col("loss_bp"))
        )
        tot = u.agg(F.sum("w").alias("tot"))
        w = u.crossJoin(F.broadcast(tot)).select(
            "source",
            "n_docs",
            "loss_bp",
            F.expr(f"(w * {MW_SCALE}) div tot").cast("long").alias("w"),
        )
    tot = w.agg(F.sum("w").alias("tot"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "loss_bp",
            F.expr("(w * 10000) div tot").cast("long").alias("w_bp"),
        )
        .orderBy("source")
    )


def mixture_reweigh_mw_sql(rounds: int = MW_ROUNDS) -> str:
    """Twin: same fingerprint loss, the MW recurrence unrolled as
    ``rounds`` chained CTEs with the same lattice renormalization."""
    from .oracle import NORMALIZE

    fp = ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    steps = []
    prev = "w0"
    for t in range(1, rounds + 1):
        steps.append(
            f"""
    u{t} AS (
        SELECT source, n_docs, loss_bp,
               w * ({MW_ETA_DEN} - loss_bp) AS w
        FROM {prev}
    ),
    w{t} AS (
        SELECT source, n_docs, loss_bp,
               (w * {MW_SCALE}) // (SELECT sum(w) FROM u{t}) AS w
        FROM u{t}
    )"""
        )
        prev = f"w{t}"
    chain = ",".join(steps)
    return f"""
    WITH loss AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(((count(*) - count(DISTINCT fp)) * 10000) // count(*)
                    AS BIGINT) AS loss_bp
        FROM (SELECT source, {fp} AS fp FROM documents)
        GROUP BY source
    ),
    w0 AS (
        SELECT source, n_docs, loss_bp,
               CAST({MW_SCALE} AS BIGINT) AS w
        FROM loss
    ),{chain}
    SELECT source, n_docs, loss_bp,
           CAST((w * 10000) // (SELECT sum(w) FROM {prev}) AS BIGINT)
               AS w_bp
    FROM {prev}
    ORDER BY source
    """


def cluster_safe_split(
    df: DataFrame,
    train_pct: int = 80,
    val_pct: int = 10,
    threshold: float = 0.8,
    text_col: str = "text",
) -> DataFrame:
    """The FIX for split_leakage, with its proof attached: assign
    train/val/test by hashing the near-dup CLUSTER representative
    instead of the doc id, so every member of a near-dup cluster lands
    in the same split BY CONSTRUCTION — a test doc can never have a
    near-twin in train. One output compares both strategies on the
    same corpus: the naive doc-id split (whatever pairs happen to
    straddle it) vs the cluster-keyed split (leaked_pairs provably 0;
    planted test pins it).

    Output: one row per strategy — (strategy, n_train, n_val, n_test,
    leaked_pairs), where leaked = verified near-dup pairs whose
    endpoints fall in different splits.

    Scale shape: one LSH pair pass (banded candidates, persisted by
    ``minhash_lsh_pairs`` — consumed by both the closure and the leak
    count), the iterative min-label closure, then doc-id-keyed label
    joins and a 2-strategy fold; nothing all-pairs, output 2 rows.
    """
    from .dedup import connected_components, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(df, text_col, threshold=threshold)
    clusters = connected_components(pairs)
    keyed = (
        df.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("rep"),
        )
    )

    def split_of(key: Column) -> Column:
        b = _assign_bucket(key)
        return (
            F.when(b < train_pct, "train")
            .when(b < train_pct + val_pct, "val")
            .otherwise("test")
        )

    labeled = keyed.select(
        "doc_id",
        split_of(F.col("doc_id")).alias("s_naive"),
        split_of(F.col("rep")).alias("s_safe"),
    )
    lab = labeled.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("naive").alias("strategy"),
                    F.col("s_naive").alias("split"),
                ),
                F.struct(
                    F.lit("cluster_safe").alias("strategy"),
                    F.col("s_safe").alias("split"),
                ),
            )
        ).alias("x"),
    ).select("doc_id", "x.strategy", "x.split")
    counts = lab.groupBy("strategy").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("long")
        .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )
    la = labeled.select(
        F.col("doc_id").alias("doc_a"),
        F.col("s_naive").alias("na"),
        F.col("s_safe").alias("sa"),
    )
    lb = labeled.select(
        F.col("doc_id").alias("doc_b"),
        F.col("s_naive").alias("nb"),
        F.col("s_safe").alias("sb"),
    )
    leaks = (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("naive").alias("strategy"),
                        (F.col("na") != F.col("nb"))
                        .cast("int")
                        .alias("crossed"),
                    ),
                    F.struct(
                        F.lit("cluster_safe").alias("strategy"),
                        (F.col("sa") != F.col("sb"))
                        .cast("int")
                        .alias("crossed"),
                    ),
                )
            ).alias("x")
        )
        .select("x.strategy", "x.crossed")
        .groupBy("strategy")
        .agg(F.sum("crossed").cast("long").alias("leaked_pairs"))
    )
    return (
        counts.join(leaks, "strategy", "left")
        .select(
            "strategy",
            "n_train",
            "n_val",
            "n_test",
            F.coalesce("leaked_pairs", F.lit(0))
            .cast("long")
            .alias("leaked_pairs"),
        )
        .orderBy("strategy")
    )


def cluster_safe_split_sql(
    train_pct: int = 80, val_pct: int = 10, threshold: float = 0.8
) -> str:
    """Twin: recursive-CTE closure for the representative, the same
    'split:' hash on both keys, same folds."""
    from .oracle import minhash_lsh_sql

    bn = _split_bucket_sql("doc_id")
    bs = _split_bucket_sql("rep")
    return f"""
    WITH clusters AS ({near_dup_clusters_sql(threshold=threshold)}),
    pairs AS ({minhash_lsh_sql(threshold=threshold)}),
    keyed AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS rep
        FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    ),
    labeled AS (
        SELECT doc_id,
               CASE WHEN {bn} < {train_pct} THEN 'train'
                    WHEN {bn} < {train_pct + val_pct} THEN 'val'
                    ELSE 'test' END AS s_naive,
               CASE WHEN {bs} < {train_pct} THEN 'train'
                    WHEN {bs} < {train_pct + val_pct} THEN 'val'
                    ELSE 'test' END AS s_safe
        FROM keyed
    ),
    lab AS (
        SELECT doc_id, 'naive' AS strategy, s_naive AS split FROM labeled
        UNION ALL
        SELECT doc_id, 'cluster_safe', s_safe FROM labeled
    ),
    counts AS (
        SELECT strategy,
               CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_train,
               CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_val,
               CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_test
        FROM lab GROUP BY strategy
    ),
    leaks AS (
        SELECT 'naive' AS strategy,
               CAST(coalesce(sum(CASE WHEN la.s_naive <> lb.s_naive
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS leaked_pairs
        FROM pairs p
        JOIN labeled la ON la.doc_id = p.doc_a
        JOIN labeled lb ON lb.doc_id = p.doc_b
        UNION ALL
        SELECT 'cluster_safe',
               CAST(coalesce(sum(CASE WHEN la.s_safe <> lb.s_safe
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM pairs p
        JOIN labeled la ON la.doc_id = p.doc_a
        JOIN labeled lb ON lb.doc_id = p.doc_b
    )
    SELECT c.strategy, c.n_train, c.n_val, c.n_test,
           coalesce(l.leaked_pairs, 0) AS leaked_pairs
    FROM counts c LEFT JOIN leaks l ON l.strategy = c.strategy
    ORDER BY c.strategy
    """


def _pack_with_order(
    df: DataFrame,
    budget: int,
    n_groups: int,
    decreasing: bool,
    text_col: str = "text",
) -> DataFrame:
    """pack_sequences' greedy recurrence with a pluggable intra-group
    order: ascending doc_id (first-fit-sequential, the streaming-safe
    order) or (n_tokens DESC, doc_id) — first-fit-DECREASING, the
    classic bin-packing heuristic that needs the whole group up front."""
    src = df.select(
        "doc_id",
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
        (F.col("doc_id") % n_groups).alias("grp"),
    )

    def pack(key, pdf):
        import pandas as pd

        grp = int(key[0])
        if decreasing:
            pdf = pdf.sort_values(
                ["n_tokens", "doc_id"], ascending=[False, True]
            )
        else:
            pdf = pdf.sort_values("doc_id")
        packs, seq, acc = [], 0, 0
        for doc_id, tok in zip(pdf["doc_id"], pdf["n_tokens"]):
            tok = int(tok)
            if acc > 0 and acc + tok > budget:
                seq += 1
                acc = 0
            acc += tok
            packs.append((int(doc_id), tok, f"{grp}-{seq}"))
        return pd.DataFrame(packs, columns=["doc_id", "n_tokens", "pack_id"])

    return src.groupBy("grp").applyInPandas(
        pack, "doc_id long, n_tokens long, pack_id string"
    )


def packing_ffd_gain(
    df: DataFrame,
    budget: int = 256,
    n_groups: int = PACK_GROUPS,
    text_col: str = "text",
) -> DataFrame:
    """What first-fit-DECREASING buys over the streaming-order packer:
    FFD (pack longest docs first) is the classic bin-packing heuristic
    with an 11/9·OPT guarantee, but it needs the whole group sorted up
    front — exactly what the incremental/streaming packer cannot do.
    This report prices that trade: packs, capacity and waste for both
    orders on the same corpus, so the pipeline owner sees what the
    streaming-friendly order costs in padding capacity.

    Output: one row per strategy — (strategy, n_packs, real_tokens,
    capacity_tokens = n_packs·budget, waste_bp), exact integers.
    (A single doc larger than the budget still gets its own pack; its
    overflow makes capacity < real for that pack — same rule both
    strategies, so the comparison stays fair.)

    Scale shape: two per-group packing passes over the same scan
    (groups are the parallelism unit, as in pack_sequences), then
    |packs|-sized folds to a 2-row output.
    """
    out = []
    for name, dec in (("arrival", False), ("ffd", True)):
        packs = _pack_with_order(df, budget, n_groups, dec, text_col)
        agg = packs.groupBy("pack_id").agg(
            F.sum("n_tokens").alias("tok")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_packs"),
            F.sum("tok").cast("long").alias("real_tokens"),
        )
        out.append(
            agg.select(
                F.lit(name).alias("strategy"),
                "n_packs",
                "real_tokens",
                (F.col("n_packs") * budget).cast("long").alias(
                    "capacity_tokens"
                ),
            )
        )
    u = out[0].unionByName(out[1])
    # empty-corpus safe: zero packs -> zero capacity, report 0 waste
    return u.select(
        "strategy",
        F.coalesce("n_packs", F.lit(0)).cast("long").alias("n_packs"),
        F.coalesce("real_tokens", F.lit(0)).cast("long").alias(
            "real_tokens"
        ),
        F.coalesce("capacity_tokens", F.lit(0)).cast("long").alias(
            "capacity_tokens"
        ),
        F.expr(
            "CASE WHEN capacity_tokens > 0 THEN "
            "((capacity_tokens - coalesce(real_tokens, 0)) * 10000) "
            "div capacity_tokens ELSE 0 END"
        )
        .cast("long")
        .alias("waste_bp"),
    ).orderBy("strategy")


def packing_ffd_gain_sql(
    budget: int = 256, n_groups: int = PACK_GROUPS
) -> str:
    """Twin: the pack recurrence unrolled twice — once per intra-group
    order — with the same capacity folds."""

    def rec(order_sql: str, tag: str) -> str:
        return f"""
    ordered_{tag} AS MATERIALIZED (
        SELECT doc_id, n_tokens, grp,
               row_number() OVER (PARTITION BY grp ORDER BY {order_sql})
                   AS step
        FROM src
    ),
    rec_{tag} AS (
        SELECT grp, 0 AS step, CAST(0 AS BIGINT) AS acc,
               CAST(0 AS BIGINT) AS seq,
               CAST(NULL AS BIGINT) AS doc_id,
               CAST(NULL AS BIGINT) AS n_tokens
        FROM (SELECT DISTINCT grp FROM src)
        UNION ALL
        SELECT o.grp, o.step,
               CASE WHEN r.acc > 0 AND r.acc + o.n_tokens > {budget}
                    THEN o.n_tokens ELSE r.acc + o.n_tokens END,
               CASE WHEN r.acc > 0 AND r.acc + o.n_tokens > {budget}
                    THEN r.seq + 1 ELSE r.seq END,
               o.doc_id, o.n_tokens
        FROM rec_{tag} r
        JOIN ordered_{tag} o ON o.grp = r.grp AND o.step = r.step + 1
    ),
    packs_{tag} AS (
        SELECT grp || '-' || seq AS pack_id, sum(n_tokens) AS tok
        FROM rec_{tag} WHERE step > 0 GROUP BY 1
    ),
    f_{tag} AS (
        SELECT CAST(count(*) AS BIGINT) AS n_packs,
               CAST(sum(tok) AS BIGINT) AS real_tokens
        FROM packs_{tag}
    )"""

    return f"""
    WITH RECURSIVE src AS MATERIALIZED (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               doc_id % {n_groups} AS grp
        FROM documents
    ),{rec("doc_id", "seq")},{rec("n_tokens DESC, doc_id", "ffd")},
    u AS (
        SELECT 'arrival' AS strategy, n_packs, real_tokens FROM f_seq
        UNION ALL
        SELECT 'ffd', n_packs, real_tokens FROM f_ffd
    )
    SELECT strategy,
           CAST(coalesce(n_packs, 0) AS BIGINT) AS n_packs,
           CAST(coalesce(real_tokens, 0) AS BIGINT) AS real_tokens,
           CAST(coalesce(n_packs, 0) * {budget} AS BIGINT)
               AS capacity_tokens,
           CAST(CASE WHEN coalesce(n_packs, 0) > 0 THEN
                ((n_packs * {budget} - coalesce(real_tokens, 0)) * 10000)
                // (n_packs * {budget}) ELSE 0 END AS BIGINT) AS waste_bp
    FROM u
    ORDER BY strategy
    """


def _mixture_shift(df: DataFrame, kept: DataFrame) -> DataFrame:
    """Shared fold for the selection-bias audits: given the corpus and
    the kept doc_id set, report per source the doc counts and the
    mixture share BEFORE vs AFTER in exact basis points (shares sum to
    ~10000 up to integer division). delta_bp > 0 means the step
    silently up-weights that source."""
    flagged = df.select("doc_id", "source").join(
        kept.select("doc_id", F.lit(1).alias("is_kept")), "doc_id", "left"
    )
    per = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.coalesce("is_kept", F.lit(0))).cast("long").alias("n_kept"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("tot_docs"), F.sum("n_kept").alias("tot_kept")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_kept",
            F.expr("(n_docs * 10000) div tot_docs")
            .cast("long")
            .alias("share_before_bp"),
            F.expr(
                "CASE WHEN tot_kept > 0 THEN (n_kept * 10000) div tot_kept "
                "ELSE 0 END"
            )
            .cast("long")
            .alias("share_after_bp"),
        )
        .withColumn(
            "delta_bp",
            (F.col("share_after_bp") - F.col("share_before_bp")).cast(
                "long"
            ),
        )
        .orderBy("source")
    )


def filter_bias_audit(df: DataFrame) -> DataFrame:
    """What the QUALITY GATE silently does to the source mixture:
    Gopher rules are content-based, so sources whose style trips a
    rule (short docs, odd word lengths, few stopwords) lose corpus
    share without anyone deciding that. Per source: docs, survivors,
    mixture share before/after the gate, and the shift in exact bp —
    the number that decides whether the gate needs per-source
    calibration before it reshapes the training distribution.

    Scale shape: the Gopher pass (one scan) + one doc-id-keyed join +
    a |sources|-row fold with a ONE-ROW totals broadcast.
    """
    from .text import gopher_quality_rules

    kept = gopher_quality_rules(df).filter("pass_all").select("doc_id")
    return _mixture_shift(df, kept)


def dedup_bias_audit(df: DataFrame) -> DataFrame:
    """What EXACT DEDUP silently does to the source mixture: keep-first
    collapses every duplicate group to its lowest doc_id, so sources
    that syndicate content (or were crawled later) lose share to the
    source that published first. Same report shape as
    ``filter_bias_audit`` over the exact-dedup survivor set.

    Scale shape: the fingerprint groupBy tier + the shared
    mixture-shift fold.
    """
    from .dedup import drop_exact_duplicates

    kept = drop_exact_duplicates(df).select("doc_id")
    return _mixture_shift(df, kept)


def _mixture_shift_sql(kept_cte: str) -> str:
    """SQL body shared by the bias-audit twins; ``kept_cte`` must
    define kept(doc_id)."""
    return f"""
    WITH {kept_cte},
    per AS (
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN d.doc_id IN (SELECT doc_id FROM kept)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM documents d
        GROUP BY d.source
    ),
    tot AS (
        SELECT sum(n_docs) AS tot_docs, sum(n_kept) AS tot_kept FROM per
    )
    SELECT p.source, p.n_docs, p.n_kept,
           CAST((p.n_docs * 10000) // t.tot_docs AS BIGINT)
               AS share_before_bp,
           CAST(CASE WHEN t.tot_kept > 0
                     THEN (p.n_kept * 10000) // t.tot_kept
                     ELSE 0 END AS BIGINT) AS share_after_bp,
           CAST(CASE WHEN t.tot_kept > 0
                     THEN (p.n_kept * 10000) // t.tot_kept
                     ELSE 0 END
                - (p.n_docs * 10000) // t.tot_docs AS BIGINT) AS delta_bp
    FROM per p CROSS JOIN tot t
    ORDER BY p.source
    """


def filter_bias_audit_sql() -> str:
    """Twin: Gopher pass_all survivors through the shared fold."""
    from .text import gopher_quality_rules_sql

    kept = f"g AS ({gopher_quality_rules_sql()}),\n    kept AS (SELECT doc_id FROM g WHERE pass_all)"
    return _mixture_shift_sql(kept)


def dedup_bias_audit_sql() -> str:
    """Twin: keep-first fingerprint survivors through the shared
    fold."""
    from .oracle import NORMALIZE

    fp = ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    kept = (
        f"fps AS (SELECT doc_id, {fp} AS f FROM documents),\n"
        "    kept AS (SELECT min(doc_id) AS doc_id FROM fps GROUP BY f)"
    )
    return _mixture_shift_sql(kept)


WATERFILL_BUDGET_DEN = 3  # fixture budget = corpus tokens // DEN


def budget_waterfill_plan(
    df: DataFrame,
    budget_den: int = WATERFILL_BUDGET_DEN,
    text_col: str = "text",
) -> DataFrame:
    """Token-budget allocation across sources by WATER-FILLING — the
    fair-allocation rule mixture planning actually wants: every source
    gets the common water level L, except sources with fewer tokens
    than L, which are capped at what they have; L is chosen so grants
    sum EXACTLY to the budget. Unlike proportional shares (which
    over-ask tiny sources) or uniform splits (which waste the cap
    surplus), water-filling is the unique allocation that is
    availability-feasible, budget-exact and max-min fair.

    The level has a CLOSED FORM over the availability ranking (sort
    sources by avail ascending; the smallest j sources are capped
    where prefix_j + avail_{j+1}·(n−j) exceeds the budget; the rest
    split the remainder evenly, ties to the lexicographically first
    sources one token each) — so the plan is pure window arithmetic,
    no iteration, and exact to the TOKEN (planted test pins
    sum(granted) == budget).

    Output: (source, avail_tokens, granted_tokens, capped), ordered.

    Scale shape: one token-count scan, then |sources|-row window
    arithmetic with a ONE-ROW totals broadcast — metadata math.
    """
    avail = df.select(
        "source",
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("ntok"),
    ).groupBy("source").agg(F.sum("ntok").cast("long").alias("avail"))
    w = Window.orderBy(F.asc("avail"), F.asc("source"))
    tot = avail.agg(
        F.sum("avail").alias("tot"),
        F.count(F.lit(1)).alias("n_src"),
    )
    ranked = (
        avail.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "avail",
            F.row_number().over(w).alias("rk"),
            F.sum("avail").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("prefix"),
            (F.col("tot") / budget_den).cast("long").alias("budget"),
            "n_src",
        )
    )
    # capped  <=>  granting this source its full avail still leaves
    # enough budget for every LARGER source to get at least as much:
    # prefix_{rk-1} + avail_rk * (n - rk + 1) <= budget
    capped = (
        F.col("prefix")
        - F.col("avail")
        + F.col("avail") * (F.col("n_src") - F.col("rk") + 1)
    ) <= F.col("budget")
    marked = ranked.withColumn("capped", capped)
    caps = marked.agg(
        F.sum(F.when(F.col("capped"), F.col("avail")).otherwise(0)).alias(
            "cap_sum"
        ),
        F.sum(F.when(F.col("capped"), 1).otherwise(0)).alias("n_capped"),
    )
    out = (
        marked.crossJoin(F.broadcast(caps))
        .withColumn(
            "n_free", (F.col("n_src") - F.col("n_capped")).cast("long")
        )
        .withColumn(
            "level",
            F.expr(
                "CASE WHEN n_free > 0 THEN (budget - cap_sum) div n_free "
                "ELSE 0 END"
            ),
        )
        .withColumn(
            "rem",
            F.expr(
                "CASE WHEN n_free > 0 THEN (budget - cap_sum) % n_free "
                "ELSE 0 END"
            ),
        )
    )
    # +1-token remainder goes to the lexicographically first free
    # sources — rank free sources by source name
    wfree = Window.partitionBy("capped").orderBy(F.asc("source"))
    return (
        out.withColumn("free_rk", F.row_number().over(wfree))
        .select(
            "source",
            F.col("avail").alias("avail_tokens"),
            F.when(F.col("capped"), F.col("avail"))
            .otherwise(
                F.col("level")
                + F.when(F.col("free_rk") <= F.col("rem"), 1).otherwise(0)
            )
            .cast("long")
            .alias("granted_tokens"),
            F.col("capped").cast("boolean").alias("capped"),
        )
        .orderBy("source")
    )


def budget_waterfill_plan_sql(
    budget_den: int = WATERFILL_BUDGET_DEN,
) -> str:
    """Twin: identical ranking, cap rule, level and remainder
    arithmetic."""
    return f"""
    WITH avail AS (
        SELECT source,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(sum(avail) AS BIGINT) AS tot,
               CAST(count(*) AS BIGINT) AS n_src
        FROM avail
    ),
    ranked AS (
        SELECT a.source, a.avail,
               row_number() OVER (ORDER BY a.avail ASC, a.source ASC)
                   AS rk,
               sum(a.avail) OVER (
                   ORDER BY a.avail ASC, a.source ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS prefix,
               t.tot // {budget_den} AS budget,
               t.n_src
        FROM avail a CROSS JOIN tot t
    ),
    marked AS (
        SELECT *,
               (prefix - avail + avail * (n_src - rk + 1)) <= budget
                   AS capped
        FROM ranked
    ),
    caps AS (
        SELECT CAST(coalesce(sum(CASE WHEN capped THEN avail END), 0)
                    AS BIGINT) AS cap_sum,
               CAST(coalesce(sum(CASE WHEN capped THEN 1 END), 0)
                    AS BIGINT) AS n_capped
        FROM marked
    ),
    lv AS (
        SELECT m.*, c.cap_sum, c.n_capped,
               m.n_src - c.n_capped AS n_free,
               CASE WHEN m.n_src - c.n_capped > 0
                    THEN (m.budget - c.cap_sum) // (m.n_src - c.n_capped)
                    ELSE 0 END AS level,
               CASE WHEN m.n_src - c.n_capped > 0
                    THEN (m.budget - c.cap_sum) % (m.n_src - c.n_capped)
                    ELSE 0 END AS rem,
               row_number() OVER (
                   PARTITION BY m.capped ORDER BY m.source ASC
               ) AS free_rk
        FROM marked m CROSS JOIN caps c
    )
    SELECT source,
           CAST(avail AS BIGINT) AS avail_tokens,
           CAST(CASE WHEN capped THEN avail
                     ELSE level + CASE WHEN free_rk <= rem THEN 1
                                       ELSE 0 END END AS BIGINT)
               AS granted_tokens,
           capped
    FROM lv
    ORDER BY source
    """


CAP_ORDER_N = 10


def cap_dedup_order_audit(
    df: DataFrame, cap: int = CAP_ORDER_N, text_col: str = "text"
) -> DataFrame:
    """CAP and DEDUP do not commute — this audit proves it on the
    corpus instead of arguing it: capping first lets duplicates occupy
    scarce per-source slots (dedup then shrinks the survivors below
    the cap); dedup first spends every cap slot on unique content.
    One row per order with the final doc/token yield — the
    order-of-operations decision, priced.

    Both steps are the engine's own rules (the source_cap_curve hash
    rank; the keep-first fingerprint dedup), so this is a composition
    audit, not a third dedup implementation.

    Output: (order, docs_kept, tokens_kept), exact integers.

    Scale shape: one fingerprint pass + two rank windows over
    source-partitioned relations, all linear; output 2 rows.
    """
    from ..functions import normalize_text
    from .dedup import drop_exact_duplicates

    ntok = F.size(F.split(F.col(text_col), " ")).cast("long")

    def rank_capped(d: DataFrame) -> DataFrame:
        h = rolling_hash(
            F.concat(F.lit("cap:"), F.col("doc_id").cast("string"))
        )
        w = Window.partitionBy("source").orderBy(
            h.asc(), F.col("doc_id").asc()
        )
        return (
            d.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= cap)
            .drop("__rn")
        )

    def fold(d: DataFrame, name: str) -> DataFrame:
        return d.agg(
            F.count(F.lit(1)).cast("long").alias("docs_kept"),
            F.sum(ntok).cast("long").alias("tokens_kept"),
        ).select(F.lit(name).alias("order"), "docs_kept", "tokens_kept")

    cap_first = drop_exact_duplicates(rank_capped(df), text_col)
    dedup_first = rank_capped(drop_exact_duplicates(df, text_col))
    return (
        fold(cap_first, "cap_then_dedup")
        .unionByName(fold(dedup_first, "dedup_then_cap"))
        .orderBy("order")
    )


def cap_dedup_order_audit_sql(cap: int = CAP_ORDER_N) -> str:
    """Twin: same hash rank and keep-first fingerprint rules in both
    orders."""
    from .oracle import NORMALIZE

    h = ROLLING_HASH.format(s="'cap:' || CAST(doc_id AS VARCHAR)")
    fp = ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    return f"""
    WITH base AS (
        SELECT doc_id, source, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
               {fp} AS f,
               row_number() OVER (
                   PARTITION BY source ORDER BY {h} ASC, doc_id ASC
               ) AS rn_all
        FROM documents
    ),
    capped AS (SELECT * FROM base WHERE rn_all <= {cap}),
    cap_first AS (
        SELECT * FROM capped
        WHERE doc_id IN (SELECT min(doc_id) FROM capped GROUP BY f)
    ),
    deduped AS (
        SELECT * FROM base
        WHERE doc_id IN (SELECT min(doc_id) FROM base GROUP BY f)
    ),
    dedup_first AS (
        SELECT * FROM (
            SELECT d.*,
                   row_number() OVER (
                       PARTITION BY d.source
                       ORDER BY {h.replace('doc_id', 'd.doc_id')} ASC,
                                d.doc_id ASC
                   ) AS rn2
            FROM deduped d
        ) WHERE rn2 <= {cap}
    )
    SELECT 'cap_then_dedup' AS "order",
           CAST(count(*) AS BIGINT) AS docs_kept,
           CAST(coalesce(sum(ntok), 0) AS BIGINT) AS tokens_kept
    FROM cap_first
    UNION ALL
    SELECT 'dedup_then_cap',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(ntok), 0) AS BIGINT)
    FROM dedup_first
    ORDER BY "order"
    """


# ---------------------------------------------------------------------------
# perplexity-band pruning (round 8)
# ---------------------------------------------------------------------------


def perplexity_band_prune(df: DataFrame) -> DataFrame:
    """CCNet-style middle-band perplexity pruning, reported as a
    per-source yield audit: score every document with the corpus
    unigram LM (``text.unigram_logprob``), drop the lowest quartile
    (rare/garbled vocabulary) AND the highest quartile (boilerplate —
    text the LM finds too easy), keep the middle band.
    ``curriculum_phases`` orders by the same score; this is the
    selection decision built on it, with the per-source bias the cut
    introduces made visible (sources whose register is generic lose
    share to the top cut, OCR-heavy sources to the bottom cut).

    Quartile cuts are RANK-based (rounded-6 score, doc_id tiebreak;
    drop ranks < n//4 and >= n - n//4) — integer rules, no float
    percentile estimate, engine-identical. The rank itself is the
    exact distributed rank (``distrank.with_global_order`` on
    (score, doc_id)) — no single-task global window.

    Output: one row per source — (source, n_docs, n_kept, kept_bp,
    tokens_total, tokens_kept).
    """
    from .text import unigram_logprob

    scored = unigram_logprob(df).select("doc_id", "n_tokens", "avg_logprob")
    ranked, n, _ = distrank.with_global_order(
        scored, [F.asc("avg_logprob"), F.asc("doc_id")]
    )
    lo, r = n // 4, F.col("grank")
    flagged = ranked.select(
        "doc_id",
        "n_tokens",
        ((r >= lo) & (r < n - lo)).cast("long").alias("kept"),
    )
    per_doc = flagged.join(df.select("doc_id", "source"), "doc_id")
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("kept").cast("long").alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
        F.sum(F.col("kept") * F.col("n_tokens")).cast("long").alias(
            "tokens_kept"
        ),
    )
    kept_bp = F.floor(
        F.col("n_kept") * 10000 / F.col("n_docs") + F.lit(0.5)
    ).cast("long")
    return agg.select(
        "source", "n_docs", "n_kept", kept_bp.alias("kept_bp"),
        "tokens_total", "tokens_kept",
    ).orderBy("source")


def perplexity_band_prune_sql() -> str:
    """Twin: same score CTE, same rank-band rule (DuckDB's single-node
    window stands in for the distributed rank — identical values)."""
    from .text import UNIGRAM_LOGPROB_SQL

    return f"""
    WITH scored AS ({UNIGRAM_LOGPROB_SQL}),
    ranked AS (
        SELECT doc_id, n_tokens,
               row_number() OVER (ORDER BY avg_logprob ASC, doc_id ASC) - 1
                   AS r,
               count(*) OVER () AS n
        FROM scored
    ),
    flagged AS (
        SELECT doc_id, n_tokens,
               CASE WHEN r >= n // 4 AND r < n - n // 4 THEN 1 ELSE 0
               END AS kept
        FROM ranked
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(f.kept) AS BIGINT) AS n_kept,
           CAST(floor(sum(f.kept) * 10000.0 / count(*) + 0.5) AS BIGINT)
               AS kept_bp,
           CAST(sum(f.n_tokens) AS BIGINT) AS tokens_total,
           CAST(sum(f.kept * f.n_tokens) AS BIGINT) AS tokens_kept
    FROM flagged f JOIN documents d USING (doc_id)
    GROUP BY d.source
    ORDER BY d.source
    """


# ---------------------------------------------------------------------------
# duplication-aware loss weights (round 8)
# ---------------------------------------------------------------------------


def dup_loss_weights(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Count-based down-weighting — the REMOVAL-FREE alternative to
    exact dedup: every copy of a duplicated document trains with
    weight 1/n_copies, so each distinct content contributes exactly
    one document's worth of gradient while ordering/packing pipelines
    keep their rows. Reported per source: docs, distinct contents,
    the summed weight (= effective dataset size in documents), and the
    effective fraction in exact basis points — the number that says
    how much of a source's volume is really new signal.

    Float note: each 1/n_copies is one double division with relative
    error < 2^-52 and the per-source fold's accumulated error sits far
    inside the round-6 grid (repo-wide argument); the bp column is
    derived from the SAME double on both engines, so the floor+0.5
    rule cannot straddle an engine boundary.

    Scale shape: one fingerprint groupBy (the exact_dedup relation),
    one join back on the 8-byte fingerprint, one per-source fold.
    """
    from ..functions import normalize_text, rolling_hash

    fp = df.select(
        "doc_id",
        "source",
        rolling_hash(normalize_text(text_col)).alias("fp"),
    )
    sizes = fp.groupBy("fp").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies")
    )
    j = fp.join(sizes, "fp")
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("fp").cast("long").alias("n_distinct_contents"),
        F.sum(F.lit(1.0) / F.col("n_copies").cast("double")).alias("w"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_distinct_contents",
        F.round("w", 6).alias("sum_weight_r6"),
        F.floor(F.col("w") * 10000.0 / F.col("n_docs") + F.lit(0.5))
        .cast("long")
        .alias("effective_bp"),
    ).orderBy("source")


def dup_loss_weights_sql() -> str:
    """Twin: same fingerprint, same double 1/n fold, same bp rule."""
    from .oracle import NORMALIZE, ROLLING_HASH

    h = ROLLING_HASH.format(s=NORMALIZE.format(s="text"))
    return f"""
    WITH fp AS (
        SELECT doc_id, source, {h} AS fp FROM documents
    ),
    sizes AS (
        SELECT fp, CAST(count(*) AS BIGINT) AS n_copies
        FROM fp GROUP BY fp
    ),
    j AS (SELECT f.source, f.fp, s.n_copies
          FROM fp f JOIN sizes s USING (fp))
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_contents,
           round(sum(1.0 / CAST(n_copies AS DOUBLE)), 6) AS sum_weight_r6,
           CAST(floor(sum(1.0 / CAST(n_copies AS DOUBLE)) * 10000.0
                      / count(*) + 0.5) AS BIGINT) AS effective_bp
    FROM j
    GROUP BY source
    ORDER BY source
    """


# ---------------------------------------------------------------------------
# quality-gate ensemble (round 9)
# ---------------------------------------------------------------------------


def quality_ensemble_gate(df: DataFrame) -> DataFrame:
    """Ensemble keep decision over three INDEPENDENT quality gates —
    the Gopher rule battery (``text.gopher_quality_rules`` pass_all),
    the linear classifier (``text.quality_classifier`` keep, the z>=0
    logit rule), and the blocklist (zero ``text.BLOCKLIST`` hits) —
    combined by majority vote (>=2 of 3). Production pipelines layer
    heterogeneous gates exactly because each one's failure mode is
    different (rules catch boilerplate the classifier scores well;
    the classifier catches fluent garbage the rules pass; the
    blocklist is policy, not quality); the per-source report shows
    which gate drives the loss where, which is what gets tuned before
    a 100 TB filtering run.

    Determinism: pass_all and the blocklist count are exact-integer
    rules; the classifier keep compares the raw logit (same IEEE op
    sequence both engines) — so the majority vote is bit-identical.

    Scale shape: all three gates are PER-ROW expressions (the shared
    builders ``text._gopher_rules`` / ``text.quality_logit`` /
    ``text.blocklist_hits``), so the whole vote is computed in the
    projections of one corpus scan — no doc_id re-joins, nothing but
    the |sources|-row fold ever shuffles. (The SQL twin keeps the
    three-CTE join form for readability; DuckDB correctness, not
    DuckDB speed, is its job.)

    Output: (source, n_docs, pass_gopher, pass_classifier,
    pass_blocklist, keep_majority, keep_bp).
    """
    from .text import _gopher_rules, blocklist_hits, quality_logit

    voted = _gopher_rules(df, ["source", "text"]).select(
        "source",
        F.col("pass_all").cast("long").alias("p1"),
        (quality_logit("text") >= 0).cast("long").alias("p2"),
        (blocklist_hits("text") == 0).cast("long").alias("p3"),
    ).withColumn(
        "maj",
        ((F.col("p1") + F.col("p2") + F.col("p3")) >= 2).cast("long"),
    )
    n_docs = F.count(F.lit(1)).cast("long")
    n_maj = F.sum("maj").cast("long")
    return (
        voted.groupBy("source")
        .agg(
            n_docs.alias("n_docs"),
            F.sum("p1").cast("long").alias("pass_gopher"),
            F.sum("p2").cast("long").alias("pass_classifier"),
            F.sum("p3").cast("long").alias("pass_blocklist"),
            n_maj.alias("keep_majority"),
            F.floor(F.lit(1e4) * n_maj / n_docs + F.lit(0.5))
            .cast("long")
            .alias("keep_bp"),
        )
        .orderBy("source")
    )


def quality_ensemble_gate_sql() -> str:
    from .text import (
        blocklist_hits_sql,
        gopher_quality_rules_sql,
        quality_classifier_sql,
    )

    return f"""
    WITH g1 AS (
        SELECT doc_id, CASE WHEN pass_all THEN 1 ELSE 0 END AS p1
        FROM ({gopher_quality_rules_sql()})
    ),
    g2 AS (
        SELECT doc_id, keep AS p2 FROM ({quality_classifier_sql()})
    ),
    g3 AS (
        SELECT doc_id,
               CASE WHEN {blocklist_hits_sql()} = 0
                    THEN 1 ELSE 0 END AS p3
        FROM documents
    ),
    voted AS (
        SELECT d.source, g1.p1, g2.p2, g3.p3,
               CASE WHEN g1.p1 + g2.p2 + g3.p3 >= 2 THEN 1 ELSE 0 END
                   AS maj
        FROM documents d
        JOIN g1 USING (doc_id) JOIN g2 USING (doc_id)
        JOIN g3 USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p1) AS BIGINT) AS pass_gopher,
           CAST(sum(p2) AS BIGINT) AS pass_classifier,
           CAST(sum(p3) AS BIGINT) AS pass_blocklist,
           CAST(sum(maj) AS BIGINT) AS keep_majority,
           CAST(floor(1e4 * sum(maj) / count(*) + 0.5) AS BIGINT)
               AS keep_bp
    FROM voted
    GROUP BY source
    ORDER BY source
    """
