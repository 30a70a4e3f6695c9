"""Similarity search over embedding columns (north-star, SURVEY §2.12).

Three tiers:

* ``brute_topk`` — exact cosine top-k, fully relational (zip_with +
  aggregate fold, double precision). The correctness baseline; its
  DuckDB SQL twin lives in ``oracle_text.py``. Cost O(|Q|·|N|·d): fine
  for a broadcastable query set, the wrong tool for all-pairs at scale.
* ``brute_topk_pandas`` — same result via Arrow-batched numpy matrix
  multiply in ``mapInPandas``: the single-op throughput path (BLAS dot
  beats per-row codegen folds once d·|Q| is large). Queries are closed
  over and broadcast with the serialized function.
* ``lsh_topk`` — random-hyperplane LSH (sign-bit buckets, L tables):
  candidates = union of same-bucket vectors over tables, then exact
  cosine re-rank. Sub-linear candidate sets at 100 TB (bucket join
  replaces the cross join); recall is tunable via (nbits, L) and
  verified against ``brute_topk`` in tests. Deterministic: planes come
  from a fixed-seed generator.

The approximate tiers (LSH, IVF, PQ) are filter-and-refine, and each
stage is written once: ``_lsh_candidates`` builds the LSH candidates at
any probe radius, ``_refine_topk`` is the one exact cosine re-rank of a
candidate relation, ``_ranked_topk`` the one deterministic top-k, and
``_recall_bp_fold`` the one recall fold of the operating curves. The
twins' shared CTEs are listed in ``oracle_text.py``.

All cosine math is done in float64 regardless of the array<float>
storage type, so engine and oracle agree after round(6).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..cache import tracked_persist

from ..functions import cosine, dot, l2_norm

LSH_SEED = 42
# Short signatures × many tables: the fixture's embeddings are weakly
# correlated (top neighbors at cos ≈ 0.4, collision prob per hyperplane
# ≈ 0.63), so recall needs (1-p^nbits)^tables small. 5 bits × 12 tables
# → ~70% top-5 recall here; on real clustered embeddings raise nbits to
# sharpen buckets (recall/candidate-count knob, data-dependent).
LSH_NBITS = 5
LSH_TABLES = 12
ROUND = 6


def _ranked_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Rank candidates per query on (rounded sim desc, neighbor asc) —
    fully deterministic — and keep top-k."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )


def brute_topk(
    emb: DataFrame, k: int = 5, query_pred: str = "vec_id < 20"
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The (small) query side is broadcast, so the plan is a single pass
    over the candidate set with no shuffle until the final per-query
    top-k (which AQE keeps tiny)."""
    q = emb.filter(query_pred).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_emb"), F.col("c_emb")), ROUND).alias("sim"),
        )
    )
    return _ranked_topk(pairs, k)


def filtered_topk(
    emb: DataFrame, k: int = 5, query_pred: str = "vec_id < 20"
) -> DataFrame:
    """FILTERED vector search: exact top-k cosine neighbors constrained
    to candidates sharing the query's ``label`` — the
    metadata-predicate retrieval mode every production vector store
    exposes (same-language / same-tenant / same-split search). Post-hoc
    filtering of an unfiltered top-k is WRONG (a filter can empty the
    list); the predicate must constrain the candidate set itself.

    Physical shape: the label rides the broadcast query side, so the
    predicate becomes the hash-join KEY — Catalyst plans one
    BroadcastHashJoin on label, and each candidate row meets only the
    queries of its own label (vs brute_topk's all-pairs nested loop).
    At 100 TB with a label-partitioned embedding table this prunes the
    scan itself (partition pruning on the join key's filter).
    """
    q = emb.filter(query_pred).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "label",
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "label",
    )
    pairs = (
        F.broadcast(q)
        .join(c, "label")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_emb"), F.col("c_emb")), ROUND).alias("sim"),
        )
    )
    return _ranked_topk(pairs, k)


def brute_topk_pandas(
    emb: DataFrame, k: int = 5, query_pred: str = "vec_id < 20"
) -> DataFrame:
    """Same semantics as brute_topk, executed as an Arrow-batched numpy
    matmul per partition (the high-throughput scan pattern)."""
    out_schema = "query_id long, neighbor_id long, sim double"
    queries = emb.filter(query_pred).select("vec_id", "embedding").collect()
    if not queries:  # empty query set: a 0-row result, not a numpy error
        return _ranked_topk(
            emb.sparkSession.createDataFrame([], out_schema), k
        )
    q_ids = np.array([r.vec_id for r in queries], dtype=np.int64)
    q_mat = np.array([r.embedding for r in queries], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    def score(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            sims = (q_mat @ c_mat.T) / np.outer(q_norm, np.linalg.norm(c_mat, axis=1))
            qq, cc = np.meshgrid(np.arange(len(q_ids)), np.arange(len(c_ids)),
                                 indexing="ij")
            yield pd.DataFrame(
                {
                    "query_id": q_ids[qq.ravel()],
                    "neighbor_id": c_ids[cc.ravel()],
                    "sim": np.round(sims.ravel(), ROUND),
                }
            )

    pairs = (
        emb.select("vec_id", "embedding")
        .mapInPandas(score, out_schema)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _ranked_topk(pairs, k)


def _planes(dim: int) -> np.ndarray:
    rng = np.random.RandomState(LSH_SEED)
    return rng.randn(LSH_TABLES, LSH_NBITS, dim)


def lsh_buckets(emb: DataFrame, dim: int = 64) -> DataFrame:
    """(vec_id, table, bucket): sign-bit bucket per LSH table, computed
    vectorized in mapInPandas (planes are fixed-seed, shipped in the
    task closure)."""
    planes = _planes(dim)
    out_schema = "vec_id long, table int, bucket long"

    def assign(batches: Iterator) -> Iterator:
        import pandas as pd

        pows = (2 ** np.arange(LSH_NBITS)).astype(np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            frames = []
            for t in range(LSH_TABLES):
                bits = (mat @ planes[t].T) > 0  # (n, nbits)
                buckets = bits.astype(np.int64) @ pows
                frames.append(
                    pd.DataFrame({"vec_id": ids, "table": t, "bucket": buckets})
                )
            yield pd.concat(frames, ignore_index=True)

    return emb.select("vec_id", "embedding").mapInPandas(assign, out_schema)


def _refine_topk(emb: DataFrame, cand: DataFrame, k: int) -> DataFrame:
    """The exact re-rank of every candidate-generating ANN tier: the
    ``(query_id, neighbor_id)`` relation ``cand`` meets the broadcast
    query vectors and the candidate vectors, is scored with the double
    cosine rounded to ``ROUND`` and ranked by ``_ranked_topk``."""
    q = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    pairs = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_emb"), F.col("c_emb")), ROUND).alias("sim"),
        )
    )
    return _ranked_topk(pairs, k)


def _probe_masks(radius: int, nbits: int = LSH_NBITS) -> list[int]:
    """XOR masks for all buckets within hamming ``radius`` of the
    query bucket (popcount(mask) <= radius), ascending for determinism."""
    return sorted(m for m in range(1 << nbits) if bin(m).count("1") <= radius)


def _lsh_candidates(
    emb: DataFrame, buckets: DataFrame, query_pred: str, radius: int
) -> DataFrame:
    """(query_id, neighbor_id): every corpus vector sharing a bucket,
    in some table, with a bucket within hamming ``radius`` of the
    query's (``lsh_buckets`` relation ``buckets``; radius 0 is the
    single probe). Only the query side is exploded, to
    ``len(_probe_masks(radius))`` probes per table; the corpus-side
    index is untouched at every radius."""
    probes = F.array(
        *[
            F.col("bucket").bitwiseXOR(F.lit(m)).cast("long")
            for m in _probe_masks(radius)
        ]
    )
    q_buckets = buckets.join(
        emb.filter(query_pred).select("vec_id"), "vec_id", "semi"
    ).select(
        F.col("vec_id").alias("query_id"), "table", F.explode(probes).alias("bucket")
    )
    return (
        q_buckets.join(
            buckets.select(F.col("vec_id").alias("neighbor_id"), "table", "bucket"),
            ["table", "bucket"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


def lsh_topk(
    emb: DataFrame,
    k: int = 5,
    query_pred: str = "vec_id < 20",
    dim: int = 64,
) -> DataFrame:
    """ANN top-k: same-bucket candidates over L tables → exact cosine
    re-rank. The candidate join is (table, bucket)-keyed, so at scale
    each query only meets ~|N| / 2^nbits · L candidates.

    Multi-probe: each query also probes every bucket at hamming
    distance 1 from its bucket in each table (``_lsh_candidates`` at
    radius 1) — the standard multi-probe LSH trick (Lv et al., VLDB
    2007): a true neighbor that disagrees on exactly one hyperplane is
    still found. Per-table hit probability rises from p^nbits to
    p^nbits + nbits·p^(nbits-1)(1-p), which on this fixture lifts
    top-5 recall from ~0.7 to ≥0.95 while multiplying only the QUERY
    side of the candidate join by (nbits+1) — the corpus-side index is
    untouched, so the scale story (bucket-keyed join, no n² pass) is
    unchanged. ``lsh_probe_curve`` measures the other radii.

    The bucket relation feeds BOTH sides of the candidate join (query
    semi-join + corpus side); the two subtrees differ by projection so
    exchange reuse can't unify them — persist so the mapInPandas
    hyperplane pass over the corpus runs once, not twice."""
    buckets = lsh_buckets(emb, dim).transform(tracked_persist)
    return _refine_topk(emb, _lsh_candidates(emb, buckets, query_pred, 1), k)


IVF_CENTROIDS = 16
IVF_NPROBE = 4
IVF_MULTI_ASSIGN = 3
IVF_SAMPLE = 2048
IVF_ITERS = 10
# Quantization unit for the exact-integer Lloyd recurrence: components
# are floored to 1/2^21 units BEFORE any sum, so every accumulation in
# training and assignment is integer — order-invariant and bit-equal
# across engines (the embedding_gram_matrix discipline). 2^21 keeps all
# intermediates exact: q ≤ 2^22, dot products ≤ 64·2^44 < 2^51,
# centroid sums ≤ 2048·2^21 = 2^32, and s·Q ≤ 2^53 (the double-exact
# boundary) for the deterministic floor(s·Q/√T) re-quantization.
IVF_QUANT = 1 << 21


def _quantize_unit(mat: np.ndarray) -> np.ndarray:
    """floor(x·Q) → unit-normalize in exact integer units: the only
    float ops are one division and one sqrt of EXACT integers, so the
    result is IEEE-deterministic (identical in numpy and DuckDB)."""
    q = np.floor(mat * IVF_QUANT).astype(np.int64)
    n2 = np.sum(q * q, axis=1)  # ≤ 64·2^44 < 2^51: exact in int64
    norm = np.sqrt(n2.astype(np.float64))
    safe = np.where(norm == 0.0, 1.0, norm)
    nq = np.floor((q * IVF_QUANT).astype(np.float64) / safe[:, None])
    nq[norm == 0.0] = 0.0
    return nq.astype(np.int64)


def _ivf_centroids(emb: DataFrame, dim: int, n_centroids: int) -> np.ndarray:
    """Deterministic Lloyd iterations on a deterministic sample (lowest
    vec_ids), in EXACT integer arithmetic: components quantize to
    1/2^21 units, assignment maximizes the integer dot product
    (tie → lowest cid), and the centroid update re-quantizes
    floor(s_d·Q/√Σs²) from exact integer sums. Every comparison and
    accumulation is integer, so the recurrence is bit-reproducible in
    any engine — the DuckDB twin (oracle_text.ivf_topk_sql) unrolls the
    identical recurrence as chained CTEs, the same technique as
    distributed_kmeans_sql. Init: the sample's n_centroids lowest
    vec_ids (seed-free, SQL-expressible).

    At 100 TB the quantizer is still trained on a driver-sized sample —
    standard IVF practice (the codebook must be small enough to
    broadcast anyway); only assignment is distributed.

    Returns the QUANTIZED int64 codebook (n_centroids × dim).
    """
    sample = (
        emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(IVF_SAMPLE)
        .collect()
    )
    if not sample:
        return np.zeros((n_centroids, dim), dtype=np.int64)
    x = _quantize_unit(
        np.array([r.embedding for r in sample], dtype=np.float64)
    )
    n_centroids = min(n_centroids, len(x))
    cent = x[:n_centroids].copy()  # rows arrive vec_id-ordered
    for _ in range(IVF_ITERS):
        sims = x @ cent.T  # ≤ 64·2^44: exact in int64
        assign = np.argmax(sims, axis=1)  # first max → lowest cid
        new = cent.copy()
        for c in range(n_centroids):
            members = x[assign == c]
            if not len(members):
                continue
            s = members.sum(axis=0)  # ≤ 2048·2^21 = 2^32: exact
            t = sum(int(v) * int(v) for v in s)  # Python int: no overflow
            if t == 0:
                continue
            # s·Q ≤ 2^53 → exact as double; one div + sqrt: deterministic
            new[c] = np.floor(
                (s * IVF_QUANT).astype(np.float64) / np.sqrt(float(t))
            ).astype(np.int64)
        cent = new
    return cent


def ivf_assign(
    emb: DataFrame, centroids: np.ndarray, multi: int = 1
) -> DataFrame:
    """(vec_id, cell): top-``multi`` nearest-centroid assignment,
    vectorized per Arrow batch. The codebook (quantized int64, from
    ``_ivf_centroids``) ships in the task closure (it is tiny).

    Similarity is the EXACT integer dot product of the quantized unit
    vectors, ranked (sim desc, cid asc) via a stable argsort — fully
    deterministic and engine-portable (the DuckDB twin ranks the same
    integers with the same tie-break).

    ``multi`` > 1 is spilled assignment: each vector is indexed under
    its ``multi`` nearest cells, so boundary vectors (the dominant
    recall loss on weakly-clustered embeddings) are findable from
    either side. Index size grows ×multi — the standard recall/space
    knob alongside nprobe."""
    out_schema = "vec_id long, cell int"
    m = max(1, min(multi, len(centroids)))
    cq = centroids.astype(np.int64)

    def assign(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            nq = _quantize_unit(np.array(list(pdf["embedding"]), dtype=np.float64))
            sims = nq @ cq.T  # exact int64
            if m == 1:
                cell = np.argmax(sims, axis=1).astype(np.int32)
                yield pd.DataFrame({"vec_id": ids, "cell": cell})
            else:
                # stable sort: ties keep ascending cid (= SQL cid ASC)
                top = np.argsort(-sims, axis=1, kind="stable")[:, :m]
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(ids, m),
                        "cell": top.astype(np.int32).ravel(),
                    }
                )

    return emb.select("vec_id", "embedding").mapInPandas(assign, out_schema)


def ivf_topk(
    emb: DataFrame,
    k: int = 5,
    query_pred: str = "vec_id < 20",
    dim: int = 64,
    n_centroids: int = IVF_CENTROIDS,
    nprobe: int = IVF_NPROBE,
    multi_assign: int = IVF_MULTI_ASSIGN,
) -> DataFrame:
    """IVF ANN top-k: coarse-quantize the corpus into cells (each vector
    spilled into its ``multi_assign`` nearest), probe each query's
    ``nprobe`` nearest cells, exact-cosine re-rank the union.

    The scale path beside ``lsh_topk``: candidates per query shrink to
    ~nprobe·multi_assign/n_centroids of the corpus, and the candidate
    join is cell-keyed (shuffle on a small int key). Recall is the
    (nprobe, multi_assign)/n_centroids knob; verified against
    ``brute_topk`` in tests.

    Training, assignment, and probing all run in the exact-integer
    quantized recurrence (see ``_ivf_centroids``), so the full
    candidate set — hence the query's output — is bit-reproducible and
    has a DuckDB twin (oracle_text.ivf_topk_sql) that unrolls the same
    recurrence. The final re-rank is exact double cosine on the raw
    embeddings, rounded to 6, as in every ANN tier.
    """
    centroids = _ivf_centroids(emb, dim, n_centroids)
    cells = ivf_assign(emb, centroids, multi=multi_assign)

    # Each query probes its nprobe nearest cells: a tiny (query, cell)
    # relation built the same vectorized way, then broadcast.
    q_emb = emb.filter(query_pred)
    out_schema = "query_id long, cell int"
    cq = centroids.astype(np.int64)

    def probe(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            nq = _quantize_unit(np.array(list(pdf["embedding"]), dtype=np.float64))
            order = np.argsort(-(nq @ cq.T), axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, nprobe),
                    "cell": order.ravel().astype(np.int32),
                }
            )

    q_cells = q_emb.select("vec_id", "embedding").mapInPandas(probe, out_schema)
    cand = (
        F.broadcast(q_cells)
        .join(cells.select(F.col("vec_id").alias("neighbor_id"), "cell"), ["cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _refine_topk(emb, cand, k)


# ---------------------------------------------------------------------------
# product quantization (PQ) ANN: compressed-code ADC scan
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (dim must divide evenly)
PQ_K = 16  # centroids per subspace → one code byte-equivalent each
PQ_ITERS = 10
PQ_REFINE = 100  # ADC shortlist size fed to the exact refine stage
# self-pairs / non-candidates mask low without risking the int64
# negation overflow that int64.min hits under argsort(-adc)
_PQ_NEG = -(1 << 62)


def _pq_codebooks(emb: DataFrame, dim: int, m: int, k: int) -> np.ndarray:
    """Per-subspace Lloyd on the quantized-unit sample — PURE INTEGER:
    assignment minimizes the exact integer Euclidean d2 over the
    subvector (tie → lowest cid), and the centroid update is
    round-half-up integer mean floor((2s+n)/(2n)) via floor-division,
    so unlike the IVF chain there is NO float anywhere — the recurrence
    is trivially bit-equal in any engine (twin:
    oracle_text.pq_topk_sql). Init: the sample's k lowest vec_ids'
    subvectors. Returns int64 (m, k, dim//m).

    Standard PQ training shape: the codebook is driver-sized (m·k·d/m
    = d·k ints) and broadcast; only encoding is distributed."""
    sample = (
        emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(IVF_SAMPLE)
        .collect()
    )
    sub = dim // m
    if not sample:
        return np.zeros((m, k, sub), dtype=np.int64)
    x = _quantize_unit(
        np.array([r.embedding for r in sample], dtype=np.float64)
    )
    k = min(k, len(x))
    books = np.empty((m, k, sub), dtype=np.int64)
    for s in range(m):
        xs = x[:, s * sub : (s + 1) * sub]
        cent = xs[:k].copy()
        for _ in range(PQ_ITERS):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # first min → lowest cid
            new = cent.copy()
            for c in range(k):
                members = xs[assign == c]
                if len(members):
                    ssum = members.sum(axis=0)  # ≤ 2048·2^21 = 2^32
                    n = len(members)
                    new[c] = np.floor_divide(2 * ssum + n, 2 * n)
            cent = new
        books[s] = cent
    return books


def pq_codes(emb: DataFrame, codebooks: np.ndarray) -> DataFrame:
    """(vec_id, codes array<int>): each vector's nearest centroid per
    subspace under the exact integer d2 (tie → lowest cid), vectorized
    per Arrow batch with the codebook in the task closure. This is the
    16×-compressed representation the ADC scan reads — M small ints
    per vector instead of d floats."""
    m, _, sub = codebooks.shape
    out_schema = "vec_id long, codes array<int>"

    def encode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            nq = _quantize_unit(np.array(list(pdf["embedding"]), dtype=np.float64))
            codes = np.empty((len(ids), m), dtype=np.int32)
            for s in range(m):
                xs = nq[:, s * sub : (s + 1) * sub]
                d2 = ((xs[:, None, :] - codebooks[s][None, :, :]) ** 2).sum(
                    axis=2
                )
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame({"vec_id": ids, "codes": list(codes)})

    return emb.select("vec_id", "embedding").mapInPandas(encode, out_schema)


def pq_topk(
    emb: DataFrame,
    k: int = 5,
    query_pred: str = "vec_id < 20",
    dim: int = 64,
    m: int = PQ_M,
    n_centroids: int = PQ_K,
    refine: int = PQ_REFINE,
) -> DataFrame:
    """PQ/ADC ANN top-k — the compressed-scan tier beside lsh_topk and
    ivf_topk: the corpus is encoded once as M sub-codes (8× smaller
    than the float vectors at m=8), each query precomputes an M×K
    lookup table of exact integer inner products (query subvector ·
    centroid), the scan scores every vector with M table gathers + a
    sum — asymmetric distance computation (Jégou et al., TPAMI 2011) —
    and the ADC top-``refine`` shortlist is re-ranked with exact
    cosines (the standard refine stage).

    The shortlist is ranked on the EXACT-INTEGER adc score (desc,
    neighbor asc) — zero float from training through shortlisting, so
    the DuckDB twin (oracle_text.pq_topk_sql) selects the identical
    shortlist with no knife-edge channel; the refine rerank uses the
    proven round-6 cosine pattern. Per batch the scorer emits only the
    local top-``refine`` under the same total order, so the shuffle
    carries ≤ Q·refine rows per partition; at 100 TB the scan reads
    codes (M small ints/row), not embeddings, and only Q·refine
    vectors are ever fetched for the rerank. Recall is the
    (m, n_centroids, refine) knob, verified against brute_topk in
    tests.

    Output: (query_id, neighbor_id, sim, rnk) — same contract as the
    other ANN tiers.
    """
    books = _pq_codebooks(emb, dim, m, n_centroids)
    sub = dim // m
    queries = (
        emb.filter(query_pred).select("vec_id", "embedding").collect()
    )
    out_schema = "query_id long, neighbor_id long, adc long"
    if not queries:
        return _ranked_topk(
            emb.sparkSession.createDataFrame(
                [], "query_id long, neighbor_id long, sim double"
            ),
            k,
        )
    q_ids = np.array([r.vec_id for r in queries], dtype=np.int64)
    q_nq = _quantize_unit(
        np.array([r.embedding for r in queries], dtype=np.float64)
    )
    # LUT[q, s, c] = q_sub · cent — exact int64 (≤ 16·2^44 < 2^49)
    lut = np.einsum(
        "qsd,scd->qsc",
        q_nq.reshape(len(q_ids), m, sub),
        books,
        dtype=np.int64,
    )

    def score(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.sort_values("vec_id")
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            codes = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            # gather: adc[q, i] = sum_s LUT[q, s, codes[i, s]]
            adc = np.zeros((len(q_ids), len(c_ids)), dtype=np.int64)
            for s in range(m):
                adc += lut[:, s, codes[:, s]]
            adc[q_ids[:, None] == c_ids[None, :]] = _PQ_NEG
            kk = min(refine, adc.shape[1])
            top = np.argsort(-adc, axis=1, kind="stable")[:, :kk]
            qq = np.repeat(np.arange(len(q_ids)), kk)
            cc = top.ravel()
            yield pd.DataFrame(
                {
                    "query_id": q_ids[qq],
                    "neighbor_id": c_ids[cc],
                    "adc": adc[np.arange(len(q_ids))[:, None], top].ravel(),
                }
            )

    pairs = (
        pq_codes(emb, books)
        .mapInPandas(score, out_schema)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc"), F.asc("neighbor_id")
    )
    shortlist = (
        pairs.withColumn("arnk", F.row_number().over(w))
        .filter(F.col("arnk") <= refine)
        .select("query_id", "neighbor_id")
    )
    return _refine_topk(emb, shortlist, k)


NEAR_PAIRS_BLOCK_ROWS = 2048
# auto-dispatch ceiling for the exact tier: above this corpus size the
# O(n·B) row replication + O(n²) flops of block-nested-loop stop being
# the right default and the LSH tier takes over. At 200k rows × 64
# dims the exact tier is ~98 block-pair tasks and 2·10^10 flops —
# around a minute of cluster time; past that, quadratic cost grows
# faster than anyone's patience.
NEAR_PAIRS_AUTO_LSH_ROWS = 200_000


def cosine_near_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    strategy: str = "auto",
    block_rows: int = NEAR_PAIRS_BLOCK_ROWS,
    auto_lsh_rows: int = NEAR_PAIRS_AUTO_LSH_ROWS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, sim ≥
    threshold).

    Strategies:

    * ``"auto"`` (default) — runtime-stat dispatch (the AQE idea one
      level up, same as ``connected_components``): count the corpus
      once; at or below ``auto_lsh_rows`` run the exact tier, above it
      the LSH tier — so the registered fixture-scale query stays
      oracle-exact while a 100 TB corpus never builds the n²/B
      replication.
    * ``"exact"`` — distributed block-nested-loop: vectors are hashed
      into B blocks, every block PAIR (i ≤ j) becomes an
      ``applyInPandas`` group, and each group scores its two blocks
      with one numpy matmul. Nothing is collected to the driver and
      nothing corpus-sized is broadcast; each row is replicated B×
      through one shuffle, so cost is O(n·B) rows moved + O(n²) flops
      spread over B(B+1)/2 independent tasks. Exact — it is the
      oracle-checked path.
    * ``"broadcast"`` — the single-pass kernel for corpora that fit in
      a task broadcast: driver collects the (normalized) matrix and
      streams partitions against it. Fastest below ~1M rows; refuse it
      above driver memory, which is why it is opt-in.
    * ``"lsh"`` — approximate at extreme scale: candidates from
      ``lsh_buckets`` co-occurrence (bucket join), exact cosine
      re-score. Recall < 1 (tunable via LSH_NBITS/LSH_TABLES), so it
      is NOT oracle-exact; the auto path accepts that trade only past
      ``auto_lsh_rows``, where exactness would mean quadratic work.
    """
    out_schema = "vec_a long, vec_b long, sim double"
    spark = emb.sparkSession
    v = emb.select("vec_id", "embedding")

    if strategy == "broadcast":
        return _near_pairs_broadcast(v, threshold, out_schema)
    if strategy == "lsh":
        return _near_pairs_lsh(v, threshold)
    if strategy not in ("auto", "exact"):
        raise ValueError(f"unknown strategy: {strategy!r}")

    n = v.count()
    if strategy == "auto" and n > auto_lsh_rows:
        return _near_pairs_lsh(v, threshold)
    if n == 0:
        return spark.createDataFrame([], out_schema)
    nb = max(1, -(-n // block_rows))  # ceil div
    pair_ids = [(i, j) for i in range(nb) for j in range(i, nb)]
    pairs_df = spark.createDataFrame(pair_ids, "ga int, gb int")

    tagged = v.withColumn(
        "bid", F.pmod(F.xxhash64("vec_id"), F.lit(nb)).cast("int")
    )
    # A row in block b joins every pair where b is the left (ga) or the
    # right (gb) block; for the diagonal pair (b, b) it appears on both
    # sides, and the kernel's vec_a < vec_b guard kills self/dup pairs.
    rep = (
        tagged.join(F.broadcast(pairs_df), F.col("bid") == F.col("ga"))
        .select("ga", "gb", F.lit("a").alias("side"), "vec_id", "embedding")
        .unionAll(
            tagged.join(F.broadcast(pairs_df), F.col("bid") == F.col("gb"))
            .select("ga", "gb", F.lit("b").alias("side"), "vec_id", "embedding")
        )
    )

    def score_block(key, pdf) -> "pd.DataFrame":
        import pandas as pd

        a = pdf[pdf["side"] == "a"]
        b = pdf[pdf["side"] == "b"]
        if a.empty or b.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "sim": []}).astype(
                {"vec_a": np.int64, "vec_b": np.int64, "sim": np.float64}
            )
        a_ids = a["vec_id"].to_numpy(dtype=np.int64)
        b_ids = b["vec_id"].to_numpy(dtype=np.int64)
        a_mat = np.array(list(a["embedding"]), dtype=np.float64)
        b_mat = np.array(list(b["embedding"]), dtype=np.float64)
        a_mat /= np.linalg.norm(a_mat, axis=1, keepdims=True)
        b_mat /= np.linalg.norm(b_mat, axis=1, keepdims=True)
        sims = np.round(a_mat @ b_mat.T, ROUND)
        if key[0] == key[1]:
            # Diagonal group: both sides are the same block, every
            # unordered pair shows up in both orders — keep one.
            mask = (sims >= threshold) & (a_ids[:, None] < b_ids[None, :])
            aa, bb = np.nonzero(mask)
            lo, hi = a_ids[aa], b_ids[bb]
        else:
            # Off-diagonal: each unordered pair appears exactly once
            # (sides are disjoint blocks); normalize to (min, max) —
            # id order need not agree with block-side assignment.
            aa, bb = np.nonzero(sims >= threshold)
            x, y = a_ids[aa], b_ids[bb]
            lo, hi = np.minimum(x, y), np.maximum(x, y)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "sim": sims[aa, bb]})

    return rep.groupBy("ga", "gb").applyInPandas(score_block, out_schema)


def _near_pairs_broadcast(
    v: DataFrame, threshold: float, out_schema: str
) -> DataFrame:
    """Broadcast-kernel near-pairs: only for corpora that fit in driver
    memory (opt-in via strategy='broadcast')."""
    sc = v.sparkSession.sparkContext
    pdf = v.toPandas()
    if pdf.empty:
        return v.sparkSession.createDataFrame([], out_schema)
    all_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    all_mat = np.array(list(pdf["embedding"]), dtype=np.float64)
    all_mat /= np.linalg.norm(all_mat, axis=1, keepdims=True)
    b_ids = sc.broadcast(all_ids)
    b_mat = sc.broadcast(all_mat)

    def score(batches: Iterator) -> Iterator:
        import pandas as pd

        ids, mat = b_ids.value, b_mat.value
        for pdf_part in batches:
            if pdf_part.empty:
                continue
            part_ids = pdf_part["vec_id"].to_numpy(dtype=np.int64)
            part_mat = np.array(list(pdf_part["embedding"]), dtype=np.float64)
            part_mat /= np.linalg.norm(part_mat, axis=1, keepdims=True)
            sims = np.round(part_mat @ mat.T, ROUND)
            aa, bb = np.nonzero(
                (sims >= threshold) & (part_ids[:, None] < ids[None, :])
            )
            yield pd.DataFrame(
                {"vec_a": part_ids[aa], "vec_b": ids[bb], "sim": sims[aa, bb]}
            )

    return v.mapInPandas(score, out_schema)


def _near_pairs_lsh(v: DataFrame, threshold: float) -> DataFrame:
    """LSH-blocked near-pairs: same-bucket candidate pairs over L
    tables, exact cosine re-score. Approximate (recall < 1)."""
    buckets = lsh_buckets(v)
    a = buckets.select(
        F.col("vec_id").alias("vec_a"), "table", "bucket"
    )
    b = buckets.select(
        F.col("vec_id").alias("vec_b"), "table", "bucket"
    )
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = v.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = v.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("emb_a"), F.col("emb_b")), ROUND).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style)
# ---------------------------------------------------------------------------

SEMDEDUP_THRESHOLD = 0.45


def semantic_dedup(
    emb: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    dim: int = 64,
    n_centroids: int = IVF_CENTROIDS,
) -> DataFrame:
    """Semantic deduplication over embeddings (the SemDeDup recipe,
    Abbas et al. 2023): k-means-cluster the corpus, then WITHIN each
    cluster greedily keep one representative per group of
    cosine-similar vectors — semantically redundant documents (same
    content, different words) collapse even when no lexical dedup
    fires.

    Output: (vec_id, cell, rep_id, is_kept) — ``rep_id`` is the kept
    representative the row was folded into (itself iff ``is_kept``).
    The greedy order is ascending vec_id, so the winner rule is
    deterministic and append-stable per cluster.

    Scale shape: the codebook is trained on a driver-sized sample and
    broadcast (same quantizer as IVF); assignment is one Arrow-batched
    pass; the only shuffle is groupBy(cell). Per-cell work is
    O(|cell|²) flops in one numpy kernel — the SemDeDup scaling knob
    is n_centroids ∝ corpus size, which keeps cells bounded (the
    paper runs 50k clusters for LAION-scale); cross-cell near-dups
    are accepted misses exactly as in the paper.

    Cross-engine determinism: the codebook is the exact-integer Lloyd
    recurrence (see ``_ivf_centroids``) and the greedy compare runs on
    micro-unit integers (floor(cos·1e6 + 0.5), first-max tie-break =
    lowest kept id), so the full output has a DuckDB twin
    (oracle_text.semantic_dedup_sql): the sequential greedy unrolls as
    a recursive CTE carrying each cell's kept-list, over a
    within-cell pair-cosine relation. Invariants additionally
    pytest-pinned (kept sets pairwise < threshold, every dropped row
    has a kept representative at >= threshold).
    """
    centroids = _ivf_centroids(emb, dim, n_centroids)
    cells = ivf_assign(emb, centroids, multi=1)
    v = emb.select("vec_id", "embedding").join(cells, "vec_id")
    out_schema = "vec_id long, cell int, rep_id long, is_kept int"
    thr_u = int(round(threshold * 1e6))

    def prune(key, pdf):
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["embedding"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        mat /= norms
        kept_rows: list[int] = []
        rep = np.empty(len(ids), dtype=np.int64)
        for i in range(len(ids)):
            if kept_rows:
                # micro-unit integer sims: floor(cos·1e6 + 0.5) with
                # argmax first-max = earliest kept row = lowest kept id
                # (kept_rows is in ascending-id order). The twin floors
                # list_cosine_similarity (dot/norms — a different IEEE
                # op order than normalize-then-dot here), so a cosine
                # within ~1 ulp of a 0.5 micro-unit boundary could
                # floor apart and cascade through the cell's greedy —
                # the same ~1e-9/pair knife-edge channel as the LSH
                # twin's sign flip, verified empirically green at all
                # three fixture scales.
                sims_u = np.floor(
                    mat[kept_rows] @ mat[i] * 1e6 + 0.5
                ).astype(np.int64)
                j = int(np.argmax(sims_u))
                if sims_u[j] >= thr_u:
                    rep[i] = ids[kept_rows[j]]
                    continue
            kept_rows.append(i)
            rep[i] = ids[i]
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": np.full(len(ids), key[0], dtype=np.int32),
                "rep_id": rep,
                "is_kept": (rep == ids).astype(np.int32),
            }
        )

    return v.groupBy("cell").applyInPandas(prune, out_schema)


# ---------------------------------------------------------------------------
# embedding quantization (storage compression)
# ---------------------------------------------------------------------------


def quantize_embeddings(emb: DataFrame, bits: int = 8) -> DataFrame:
    """Symmetric per-vector int quantization — the storage-compression
    step before a billion-vector index ships (4x smaller than float32
    at int8, with the per-vector scale kept for dequantization).

    q_i = floor(x_i * scale + 0.5), scale = (2^(bits-1) - 1) / max|x|;
    all arithmetic is the same per-row IEEE op sequence on both
    engines, and the emitted codes are integers, so the oracle match
    is exact. Pure array expressions (aggregate + transform) — narrow,
    shuffle-free, codegen'd; the cost is the scan. Zero vectors emit
    scale = 0 and all-zero codes.
    """
    qmax = float(2 ** (bits - 1) - 1)
    x = F.col("embedding")
    absmax = F.aggregate(
        x,
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
    )
    scale = F.when(absmax > 0, F.lit(qmax) / absmax).otherwise(F.lit(0.0))
    return emb.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.transform(
            x,
            lambda v: F.floor(v.cast("double") * scale + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("q"),
    )


QUANTIZE_EMBEDDINGS_SQL = """
    SELECT vec_id,
           round(scale, 6) AS scale,
           list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * scale + 0.5) AS BIGINT))
               AS q
    FROM (
        SELECT vec_id, embedding,
               CASE WHEN absmax > 0 THEN 127.0 / absmax ELSE 0.0 END AS scale
        FROM (
            SELECT vec_id, embedding,
                   list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(embedding,
                               v -> abs(CAST(v AS DOUBLE)))),
                       (a, b) -> greatest(a, b)) AS absmax
            FROM embeddings
        )
    )
"""


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion of dense (cosine) + sparse (BM25)
# ---------------------------------------------------------------------------

RRF_C = 60  # the standard RRF constant (Cormack et al. 2009)
RRF_LIST_K = 50  # depth of each input ranking
RRF_TOPK = 10


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    k: int = RRF_TOPK,
    list_k: int = RRF_LIST_K,
    c: int = RRF_C,
) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the dense
    (brute-force cosine, query vector vec_id = 0) and sparse (BM25,
    fixed query terms) rankings over the same document ids (the fixture
    convention: ``vec_id`` is the embedding of ``doc_id``).

        rrf(d) = sum_lists 1 / (c + rank_list(d))

    Both input lists are fully tie-broken (score desc, id asc), so the
    ranks — and therefore the fused scores — are engine-identical; the
    final order uses the rounded rrf with doc_id tiebreak. The fusion
    itself is a full-outer join of two k-row relations: driver-free,
    broadcast-sized, trivially parallel. At scale the inputs are the
    operators' own top-k outputs (TakeOrderedAndProject on the dense
    side, query-term-bounded tf on the sparse side) — fusion cost never
    grows with the corpus.
    """
    from .text import bm25_topk

    dense = brute_topk(emb, k=list_k, query_pred="vec_id = 0").select(
        F.col("neighbor_id").alias("doc_id"), F.col("rnk").alias("rnk_dense")
    )
    sparse = bm25_topk(docs, k=list_k).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .alias("rnk_sparse"),
    )
    fused = dense.join(sparse, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (F.lit(c) + F.col("rnk_dense")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(c) + F.col("rnk_sparse")), F.lit(0.0)),
            6,
        ).alias("rrf"),
        F.coalesce(F.col("rnk_dense"), F.lit(0)).cast("int").alias("rnk_dense"),
        F.coalesce(F.col("rnk_sparse"), F.lit(0)).cast("int").alias("rnk_sparse"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(k)


def hybrid_rrf_topk_sql(
    k: int = RRF_TOPK, list_k: int = RRF_LIST_K, c: int = RRF_C
) -> str:
    from .oracle_text import brute_topk_sql
    from .text import bm25_topk_sql

    return f"""
    WITH dense AS (
        SELECT neighbor_id AS doc_id, rnk AS rnk_dense
        FROM ({brute_topk_sql(k=list_k, query_pred="vec_id = 0")})
    ),
    sparse0 AS ({bm25_topk_sql(k=list_k)}),
    sparse AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rnk_sparse
        FROM sparse0
    ),
    fused AS (
        SELECT coalesce(d.doc_id, s.doc_id) AS doc_id,
               round(coalesce(1.0 / ({c} + d.rnk_dense), 0.0)
                     + coalesce(1.0 / ({c} + s.rnk_sparse), 0.0), 6) AS rrf,
               CAST(coalesce(d.rnk_dense, 0) AS INT) AS rnk_dense,
               CAST(coalesce(s.rnk_sparse, 0) AS INT) AS rnk_sparse
        FROM dense d FULL OUTER JOIN sparse s ON d.doc_id = s.doc_id
    )
    SELECT doc_id, rrf, rnk_dense, rnk_sparse
    FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT {k}
    """


def label_centroid_stats(emb: DataFrame) -> DataFrame:
    """Embedding-space health per label: cluster size, centroid norm,
    and mean cosine of members to their centroid — the diagnostics that
    catch collapsed embeddings (centroid norm ≈ member norms, cosine
    ≈ 1) and mislabeled/noisy clusters (low mean cosine) before a
    model trains on them.

    Fully relational: vectors explode to (label, dim, val) — a narrow
    64× blow-up — the centroid is one (label, dim) aggregate, and the
    member-to-centroid cosine is a dim-keyed join + per-vector
    aggregate, so nothing is ever driver-sized and the shuffles carry
    scalar triples, not vectors. Per-vector double sums are
    order-nondeterministic within the round-6 grid (the repo-wide
    argument).
    """
    elems = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("dim", "val"),
    ).withColumn("val", F.col("val").cast("double"))
    cent = elems.groupBy("label", "dim").agg(F.avg("val").alias("c"))
    per_vec = (
        elems.join(cent, ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("val") * F.col("c")).alias("dot"),
            F.sum(F.col("val") * F.col("val")).alias("vv"),
            F.sum(F.col("c") * F.col("c")).alias("cc"),
        )
        .select(
            "label",
            (F.col("dot") / (F.sqrt("vv") * F.sqrt("cc"))).alias("cos"),
        )
    )
    norms = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("centroid_norm")
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.round(F.avg("cos"), 6).alias("mean_cos_to_centroid"),
        )
        .join(norms, "label")
        .select(
            "label",
            "n_vectors",
            F.round("centroid_norm", 6).alias("centroid_norm"),
            "mean_cos_to_centroid",
        )
    )


LABEL_CENTROID_STATS_SQL = """
    WITH elems AS (
        SELECT vec_id, label, t.i AS dim, embedding[t.i]::DOUBLE AS val
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    cent AS (
        SELECT label, dim, avg(val) AS c FROM elems GROUP BY label, dim
    ),
    per_vec AS (
        SELECT e.vec_id, e.label,
               sum(e.val * c.c) / (sqrt(sum(e.val * e.val))
                                   * sqrt(sum(c.c * c.c))) AS cos
        FROM elems e JOIN cent c ON e.label = c.label AND e.dim = c.dim
        GROUP BY e.vec_id, e.label
    ),
    norms AS (
        SELECT label, sqrt(sum(c * c)) AS centroid_norm
        FROM cent GROUP BY label
    )
    SELECT p.label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(any_value(n.centroid_norm), 6) AS centroid_norm,
           round(avg(p.cos), 6) AS mean_cos_to_centroid
    FROM per_vec p JOIN norms n ON p.label = n.label
    GROUP BY p.label
"""


KMEANS_K = 8
KMEANS_ITERS = 3


def distributed_kmeans(
    emb: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> DataFrame:
    """Lloyd's k-means as pure DataFrame supersteps — the distributed
    ML-training loop (assignment join + mean update per iteration), the
    batch counterpart of the IVF/SemDeDup codebooks which train on a
    driver-side sample. Deterministic end to end: centroids initialize
    from the ``k`` smallest vec_ids, assignment breaks distance ties by
    lowest centroid id, and an emptied cluster keeps its previous
    centroid. Returns the final per-cluster membership count and
    within-cluster SSE (inertia).

    Scale shape per superstep: the (vec, dim, val) element relation
    joins the k×dim centroid relation on dim (centroids are metadata-
    sized — broadcast), aggregates per (vec, cid), one argmin window
    per vec, and a (cid, dim) mean — shuffles carry scalar triples.
    Distance comparisons are double sums over dims; argmin flips only
    on exact ties (broken by cid), the same determinism argument as the
    ANN tier.
    """
    elems, cent = _lloyd_relations(emb, k, iters)
    final = _assign_dists(elems, cent, top=1)
    return final.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(F.sum("d2"), 6).alias("inertia"),
    )


def _assign_dists(elems: DataFrame, cent_df: DataFrame, top: int) -> DataFrame:
    """(vec_id, cid, d2, rn) for the ``top`` closest centroids per
    vector — rn=1 is the Lloyd assignment, rn=2 the runner-up the
    silhouette needs. Ties break by lowest cid (determinism)."""
    dists = (
        elems.join(cent_df, "dim")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(
                (F.col("val") - F.col("c")) * (F.col("val") - F.col("c"))
            ).alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("d2").asc(), F.col("cid").asc()
    )
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top)
        .select("vec_id", "cid", "d2", "rn")
    )


def _lloyd_relations(
    emb: DataFrame,
    k: int,
    iters: int,
    elems: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The (vec, dim, val) element relation + the centroid relation
    after ``iters`` Lloyd updates — the shared core of
    ``distributed_kmeans`` (membership/inertia), ``kmeans_silhouette``
    (cluster-separation grade) and ``kmeans_elbow_curve`` (which passes
    a shared persisted ``elems``); the twins unroll the identical
    recurrence in SQL.

    Deliberately the LAZY unrolled recurrence (r11 negative result):
    ``cent_{i+1}`` references ``cent_i`` twice, so the plan doubles per
    iteration (kmeans_elbow's initial plan is ~4.6k operator lines /
    258 Exchanges) — but ReuseExchange computes each duplicated subtree
    ONCE at runtime, and a same-session A/B of per-iteration centroid
    ``collect()``-rebasing (MLlib-style; plans collapse to 24
    Exchanges) measured SLOWER everywhere: clusters ×1.21, silhouette
    ×1.95, elbow ×1.89 (plans/r11_ab_kmeans_layout_shingle.json) — the
    3 extra action round-trips per k cost more than the big plan does.
    At iters=3 planning stays cheap; revisit only if iters grows past
    ~6 (2^iters planning) or a profiler shows planning time dominating.
    """
    if elems is None:
        elems = emb.select(
            "vec_id", F.posexplode("embedding").alias("dim", "val")
        ).withColumn("val", F.col("val").cast("double"))
    cent = (
        emb.filter(F.col("vec_id") < k)
        .select(
            F.col("vec_id").alias("cid"),
            F.posexplode("embedding").alias("dim", "c"),
        )
        .withColumn("c", F.col("c").cast("double"))
    )
    for _ in range(iters):
        a = _assign_dists(elems, cent, top=1)
        means = (
            a.select("vec_id", "cid")
            .join(elems, "vec_id")
            .groupBy("cid", "dim")
            .agg(F.avg("val").alias("m"))
        )
        cent = cent.join(means, ["cid", "dim"], "left").select(
            "cid", "dim", F.coalesce(F.col("m"), F.col("c")).alias("c")
        )
    return elems, cent


def distributed_kmeans_sql(k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> str:
    """Unrolled-CTE twin: the identical recurrence as cent0..centN
    (oracle_text._kmeans_cte)."""
    from .oracle_text import _kmeans_cte

    return f"""
    WITH {_kmeans_cte((k,), iters)}
    SELECT cid AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           round(sum(d2), 6) AS inertia
    FROM final_{k}
    GROUP BY cid
    """


# ---------------------------------------------------------------------------
# distributed PCA: exact-integer gram matrix + driver-side eigenbasis
# ---------------------------------------------------------------------------

GRAM_SCALE = 1 << 15  # integer quantization unit: floor(x_dbl * 2^15)
PCA_K = 8


def embedding_gram_matrix(emb: DataFrame, dim: int = 64) -> DataFrame:
    """Upper-triangular second-moment (gram) matrix of the embedding
    corpus — X^T X plus the component sums and row count, the full
    sufficient statistic behind distributed PCA, whitening, and
    covariance-drift monitoring.

    This is the reduce-to-tiny pattern for 100 TB linear algebra: each
    partition folds its rows into ONE d x d integer block with numpy
    (map-side — nothing row-sized ever shuffles), the partial blocks
    meet in a single groupBy over d*(d+1)/2 + d + 1 = 2145 keys (d=64),
    and the corpus never materializes as a matrix anywhere. Adding
    executors scales the fold linearly; the shuffle stays ~2k rows per
    partition regardless of corpus size.

    Determinism: components are quantized to exact integer units
    (floor(float64(x) * 2^15) per component) BEFORE any multiply, so
    every partial block is integer and the final sums are
    order-invariant — bit-equal across partitionings and engines (the
    repo-wide no-float-accumulation rule). A unit-scale component maps
    to |q| <= 2^15, a product to <= 2^30, so BIGINT cells overflow only
    past ~2^33 rows; beyond that switch the final sum to DECIMAL(38,0)
    (one-line change, documented instead of paid on every run).

    Output rows: (i, j, gram_q) for 0 <= i <= j < d, plus the mean
    statistic rows (i, -1, sum_q_i) and (-1, -1, n_rows) so one pass
    yields everything ``pca_project`` needs.
    """
    import pandas as pd

    iu = np.triu_indices(dim)

    def fold(batches: Iterator) -> Iterator:
        acc = np.zeros((dim, dim), dtype=np.int64)
        sums = np.zeros(dim, dtype=np.int64)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.floor(x * GRAM_SCALE).astype(np.int64)
            acc += q.T @ q
            sums += q.sum(axis=0)
            n += len(pdf)
        if n:
            yield pd.DataFrame(
                {
                    "i": np.concatenate(
                        [iu[0], np.arange(dim), np.array([-1])]
                    ).astype(np.int32),
                    "j": np.concatenate(
                        [iu[1], np.full(dim, -1), np.array([-1])]
                    ).astype(np.int32),
                    "gram_q": np.concatenate(
                        [acc[iu], sums, np.array([n], dtype=np.int64)]
                    ),
                }
            )

    partial = emb.select("embedding").mapInPandas(
        fold, schema="i int, j int, gram_q long"
    )
    return partial.groupBy("i", "j").agg(
        F.sum("gram_q").cast("long").alias("gram_q")
    )


EMBEDDING_GRAM_SQL = """
    WITH q AS (
        SELECT vec_id, CAST(t.i - 1 AS INTEGER) AS dim,
               CAST(floor(embedding[t.i]::DOUBLE * 32768.0) AS BIGINT) AS qv
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    )
    SELECT a.dim AS i, b.dim AS j,
           CAST(sum(a.qv * b.qv) AS BIGINT) AS gram_q
    FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.dim <= b.dim
    GROUP BY 1, 2
    UNION ALL
    SELECT dim AS i, CAST(-1 AS INTEGER) AS j,
           CAST(sum(qv) AS BIGINT) AS gram_q
    FROM q GROUP BY dim
    UNION ALL
    SELECT CAST(-1 AS INTEGER) AS i, CAST(-1 AS INTEGER) AS j,
           CAST(count(*) AS BIGINT) AS gram_q
    FROM embeddings
    HAVING count(*) > 0
"""


def pca_project(
    emb: DataFrame, k: int = PCA_K, dim: int = 64
) -> DataFrame:
    """Project every embedding onto the corpus's top-k principal
    components — the classic two-phase distributed PCA:

    1. one pass reduces the corpus to the exact-integer sufficient
       statistic (``embedding_gram_matrix``: d² + d + 1 scalars —
       driver-sized BY CONSTRUCTION, not by sampling);
    2. the covariance recovered from those integers is
       eigendecomposed on the driver (d x d, microseconds);
    3. the top-k eigenbasis is broadcast (closed over the Arrow UDF)
       and rows project with one narrow numpy matmul — no shuffle at
       all in phase 3.

    Deterministic: the covariance is built from exact integers, so
    eigh sees bit-identical input on every run/partitioning; each
    eigenvector's sign is fixed by making its largest-|.|-magnitude
    entry positive (first index wins ties). PCA is computed on the
    2^-15-quantized data — a <0.01% perturbation on unit-scale
    embeddings, the standard precision/determinism trade.

    Registered rows-only: the projected coordinates are genuinely
    iterative linear algebra (eigendecomposition), outside ANSI SQL.
    """
    import pandas as pd

    stats = {
        (r["i"], r["j"]): r["gram_q"]
        for r in embedding_gram_matrix(emb, dim=dim).collect()
    }
    if (-1, -1) not in stats:  # empty corpus: no basis, no projections
        return emb.sparkSession.createDataFrame(
            [], "vec_id long, pc array<double>"
        )
    n = stats[(-1, -1)]
    g = np.zeros((dim, dim), dtype=np.float64)
    mu = np.zeros(dim, dtype=np.float64)
    for i in range(dim):
        mu[i] = stats[(i, -1)] / (GRAM_SCALE * n)
        for j in range(i, dim):
            g[i, j] = g[j, i] = stats[(i, j)] / (GRAM_SCALE**2)
    cov = g / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(vals)[::-1][:k]
    w = vecs[:, order]  # d x k
    for c in range(w.shape[1]):
        lead = int(np.argmax(np.abs(w[:, c])))
        if w[lead, c] < 0:
            w[:, c] = -w[:, c]

    def project(batches: Iterator) -> Iterator:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            qx = np.floor(x * GRAM_SCALE) / GRAM_SCALE
            pc = np.round((qx - mu) @ w, ROUND)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "pc": list(pc)}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        project, schema="vec_id long, pc array<double>"
    )


# ---------------------------------------------------------------------------
# Cross-engine-exact PCA: fixed-power integer subspace iteration
# ---------------------------------------------------------------------------

PCA_POWER_SQUARINGS = 6  # working matrix is raised to 2^6 = 64 per comp.
PCA_MAT_BOUND = 1 << 25  # rescale matrices back under 2^25-ish entries
PCA_VEC_SCALE = 1 << 11  # eigenvector iterate lives on a 2^11 lattice


def _tdiv(a, d):
    """Truncate-toward-zero integer division — the ONE division
    semantics both engines share exactly: DuckDB's BIGINT ``//``
    truncates toward zero (pinned by test_pca_power), numpy/Python
    ``//`` floors, so the Python side routes through |a|//d with the
    sign reapplied."""
    return np.sign(a) * (np.abs(a) // d)


def _rescale(a, bound: int = PCA_MAT_BOUND):
    m = int(np.abs(a).max()) if a.size else 0
    d = max(1, m // bound)
    return _tdiv(a, d)


def _int_power_pca_basis(stats: dict, dim: int, k: int):
    """Deflated power iteration on the EXACT-INTEGER scatter matrix
    M = n·G − s sᵀ, every step an integer lattice operation (truncating
    rescales bound magnitudes so all arithmetic stays in int64), so the
    basis is bit-identical across engines, runs, and partitionings —
    the same unrolled-recurrence trick as the IVF Lloyd codebooks.

    Per component: square the working matrix ``PCA_POWER_SQUARINGS``
    times (power 16 — the convergence knob), one matvec against the
    fixed probe vector (1..d), rescale the iterate onto the 2^11
    lattice, canonicalize its sign (largest-|entry| positive, first
    index wins ties), then deflate with the integer Rayleigh quotient.

    Returns (n, s, basis[d×k], nq[k]) — all exact integers.
    """
    n = stats[(-1, -1)]
    s = np.array([stats[(i, -1)] for i in range(dim)], dtype=np.int64)
    g = np.zeros((dim, dim), dtype=np.int64)
    for i in range(dim):
        for j in range(i, dim):
            g[i, j] = g[j, i] = stats[(i, j)]
    # int64 headroom guard (fixture n≈10³ sits at ~2^52; a 2^31-row
    # corpus needs the one-line DECIMAL switch documented on the gram)
    # explicit raise, not assert: the guard must survive `python -O`
    if n * int(np.abs(g).max() or 1) >= 1 << 62:
        raise ValueError("scatter exceeds int64")
    w = _rescale(n * g - np.outer(s, s))
    probe = np.arange(1, dim + 1, dtype=np.int64)
    basis = np.zeros((dim, k), dtype=np.int64)
    nqs: list[int] = []
    for c in range(k):
        a = w.copy()
        for _ in range(PCA_POWER_SQUARINGS):
            a = _rescale(a @ a)
        vr = a @ probe
        mv = int(np.abs(vr).max())
        if mv == 0:  # matrix fully deflated: define a fixed unit iterate
            v = np.zeros(dim, dtype=np.int64)
            v[0] = PCA_VEC_SCALE
        else:
            v = _tdiv(vr * PCA_VEC_SCALE, mv)
        lead = int(np.argmax(np.abs(v)))  # first max == smallest index
        if v[lead] < 0:
            v = -v
        nq = int(v @ v)
        rq = int(v @ w @ v)
        lam = int(np.sign(rq) * (abs(rq) // nq))
        w = w - _tdiv(lam * np.outer(v, v), nq)
        basis[:, c] = v
        nqs.append(nq)
    return n, s, basis, nqs


def pca_project_power(
    emb: DataFrame, k: int = PCA_K, dim: int = 64
) -> DataFrame:
    """Top-k PCA projection with a FULL cross-engine oracle — the
    same two-phase shape as ``pca_project`` (one distributed pass to
    the exact-integer gram statistic, driver-side basis, broadcast
    basis + narrow projection pass) but the driver step is
    ``_int_power_pca_basis``'s integer subspace iteration instead of
    LAPACK eigh, so the DuckDB twin (``pca_projection_power_sql``)
    replays the identical recurrence and the projections hash-match
    bit-for-bit. The projection numerator is an exact integer
    (Σ (qᵢ·n − sᵢ)·vᵢ), divided once per component through the shared
    double sequence (2^15·n·√nq) and HALF_UP-rounded JVM-side.

    ``pca_project`` (eigh) remains the production tier for
    ill-conditioned spectra; at PCA_POWER_SQUARINGS=6 each component
    contaminates by ≤(λ_{c+1}/λ_c)^64. On a near-degenerate tail (the
    fixture's random-embedding spectrum is Marchenko-Pastur-flat)
    individual deep eigenvectors are ill-defined for ANY algorithm —
    the pinned invariants are therefore the rotation-invariant ones:
    leading-component cosine vs eigh and captured top-k variance
    (test_similarity.py)."""
    import pandas as pd

    stats = {
        (r["i"], r["j"]): r["gram_q"]
        for r in embedding_gram_matrix(emb, dim=dim).collect()
    }
    if (-1, -1) not in stats:
        return emb.sparkSession.createDataFrame(
            [], "vec_id long, pc array<double>"
        )
    n, s, basis, nqs = _int_power_pca_basis(stats, dim, k)
    off = s @ basis  # per-component centering constant, exact int64
    denom = (GRAM_SCALE * 1.0) * float(n) * np.sqrt(
        np.array(nqs, dtype=np.float64)
    )

    def project(batches: Iterator) -> Iterator:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.floor(x * GRAM_SCALE).astype(np.int64)
            num = int(n) * (q @ basis) - off  # exact integers
            pc = num.astype(np.float64) / denom
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "pc": list(pc)})

    raw = emb.select("vec_id", "embedding").mapInPandas(
        project, schema="vec_id long, pc array<double>"
    )
    return raw.select(
        "vec_id",
        F.transform("pc", lambda x: F.round(x, ROUND)).alias("pc"),
    )


def pca_projection_power_sql(k: int = PCA_K, dim: int = 64) -> str:
    """Twin of pca_project_power: the full integer subspace iteration
    unrolled as chained MATERIALIZED CTEs. Exactness rests on three
    pinned facts: DuckDB BIGINT ``//`` truncates toward zero (matching
    ``_tdiv``), every matrix/vector magnitude stays under 2^62 by the
    rescale bounds, and HUGEINT→/BIGINT→DOUBLE casts round to nearest
    like Python float(int)."""
    mb = PCA_MAT_BOUND
    vs = PCA_VEC_SCALE
    parts = [
        f"""q AS MATERIALIZED (
        SELECT vec_id, CAST(t.i - 1 AS INTEGER) AS i,
               CAST(floor(embedding[t.i]::DOUBLE * {float(GRAM_SCALE)}) AS BIGINT) AS qv
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    )""",
        """nn AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
    )""",
        """sv AS MATERIALIZED (
        SELECT i, CAST(sum(qv) AS BIGINT) AS s FROM q GROUP BY i
    )""",
        """gg AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j, CAST(sum(a.qv * b.qv) AS BIGINT) AS g
        FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2
    )""",
        """mraw AS MATERIALIZED (
        SELECT gg.i, gg.j,
               (SELECT n FROM nn) * gg.g - sa.s * sb.s AS m
        FROM gg JOIN sv sa ON sa.i = gg.i JOIN sv sb ON sb.i = gg.j
    )""",
        f"""w0 AS MATERIALIZED (
        SELECT i, j, m // greatest(CAST(1 AS BIGINT),
               (SELECT max(abs(m)) FROM mraw) // {mb}) AS m
        FROM mraw
    )""",
    ]
    for c in range(k):
        prev = f"w{c}"
        for t in range(PCA_POWER_SQUARINGS):
            cur = f"a{c}_{t}"
            parts.append(
                f"""{cur}b AS MATERIALIZED (
        SELECT x.i, y.j, CAST(sum(x.m * y.m) AS BIGINT) AS m
        FROM {prev} x JOIN {prev} y ON x.j = y.i GROUP BY 1, 2
    )"""
            )
            parts.append(
                f"""{cur} AS MATERIALIZED (
        SELECT i, j, m // greatest(CAST(1 AS BIGINT),
               (SELECT max(abs(m)) FROM {cur}b) // {mb}) AS m
        FROM {cur}b
    )"""
            )
            prev = cur
        parts.append(
            f"""vraw{c} AS MATERIALIZED (
        SELECT i, CAST(sum(m * (j + 1)) AS BIGINT) AS v
        FROM {prev} GROUP BY i
    )"""
        )
        parts.append(
            f"""vsc{c} AS MATERIALIZED (
        SELECT i, CASE WHEN (SELECT max(abs(v)) FROM vraw{c}) = 0
                       THEN CASE WHEN i = 0 THEN {vs} ELSE 0 END
                       ELSE (v * {vs}) // (SELECT max(abs(v)) FROM vraw{c})
                  END AS v
        FROM vraw{c}
    )"""
        )
        parts.append(
            f"""v{c} AS MATERIALIZED (
        SELECT i, CASE WHEN (SELECT v FROM vsc{c}
                             ORDER BY abs(v) DESC, i ASC LIMIT 1) < 0
                       THEN -v ELSE v END AS v
        FROM vsc{c}
    )"""
        )
        parts.append(
            f"""nq{c} AS MATERIALIZED (
        SELECT CAST(sum(v * v) AS BIGINT) AS nq FROM v{c}
    )"""
        )
        parts.append(
            f"""rq{c} AS MATERIALIZED (
        SELECT CAST(sum(vi.v * w.m * vj.v) AS BIGINT) AS rq
        FROM w{c} w JOIN v{c} vi ON vi.i = w.i JOIN v{c} vj ON vj.i = w.j
    )"""
        )
        parts.append(
            f"""w{c + 1} AS MATERIALIZED (
        SELECT w.i, w.j,
               w.m - (((SELECT rq FROM rq{c}) // (SELECT nq FROM nq{c}))
                      * vi.v * vj.v) // (SELECT nq FROM nq{c}) AS m
        FROM w{c} w JOIN v{c} vi ON vi.i = w.i JOIN v{c} vj ON vj.i = w.j
    )"""
        )
    basis_union = "\n        UNION ALL\n        ".join(
        f"SELECT {c} AS c, i, v FROM v{c}" for c in range(k)
    )
    nq_union = "\n        UNION ALL\n        ".join(
        f"SELECT {c} AS c, nq FROM nq{c}" for c in range(k)
    )
    parts.append(f"""basis AS MATERIALIZED (
        {basis_union}
    )""")
    parts.append(f"""nqs AS MATERIALIZED (
        {nq_union}
    )""")
    parts.append(
        """offs AS MATERIALIZED (
        SELECT b.c, CAST(sum(s.s * b.v) AS BIGINT) AS off
        FROM basis b JOIN sv s ON s.i = b.i GROUP BY b.c
    )"""
    )
    parts.append(
        """proj AS MATERIALIZED (
        SELECT q.vec_id, b.c, CAST(sum(q.qv * b.v) AS BIGINT) AS sqv
        FROM q JOIN basis b ON b.i = q.i GROUP BY 1, 2
    )"""
    )
    chain = ",\n    ".join(parts)
    return f"""
    WITH {chain}
    SELECT p.vec_id, list(
        round(CAST((SELECT n FROM nn) * p.sqv - o.off AS DOUBLE)
              / ({float(GRAM_SCALE)} * CAST((SELECT n FROM nn) AS DOUBLE)
                 * sqrt(CAST(nq.nq AS DOUBLE))), {ROUND})
        ORDER BY p.c) AS pc
    FROM proj p JOIN offs o ON o.c = p.c JOIN nqs nq ON nq.c = p.c
    GROUP BY p.vec_id
    """


# ---------------------------------------------------------------------------
# MMR: diversity-aware re-ranking of a retrieval candidate set
# ---------------------------------------------------------------------------

MMR_LAMBDA = 0.5
MMR_CAND = 30
MMR_K = 10


def mmr_diverse_topk(
    emb: DataFrame,
    k: int = MMR_K,
    n_cand: int = MMR_CAND,
    lam: float = MMR_LAMBDA,
    query_id: int = 0,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): re-rank
    the top-``n_cand`` cosine candidates so each pick balances
    relevance against redundancy with what is already picked —
    score(c) = λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s). The
    standard diversification step between ANN retrieval and a context
    window: without it, near-duplicate passages crowd out coverage.

    Scale split: retrieval (top-C) and the C×C candidate-pair sims are
    distributed — the corpus-sized work; the greedy loop itself runs on
    the driver over the collected C + C² scalar relation (k·C
    comparisons over ~1k round-6 doubles — re-ranking is
    metadata-sized BY DESIGN, the same boundary as pca_project's
    eigh). Determinism: all inputs to the greedy are round-6 cosines,
    scores combine them through one shared literal pair, ties break by
    vec_id — the oracle's unrolled greedy CTE chain picks identically.
    """
    from pyspark import StorageLevel

    cand = (
        brute_topk(emb, k=n_cand, query_pred=f"vec_id = {query_id}")
        .select(F.col("neighbor_id").alias("vec_id"), F.col("sim").alias("rel"))
    )
    # C rows; persisted so the corpus-wide retrieval feeding it runs
    # once across the two actions below (pair sims + rel collect)
    ce = (
        cand.join(emb, "vec_id")
        .select("vec_id", "rel", "embedding")
        .transform(tracked_persist)
    )
    a = ce.select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("ea")
    )
    b = ce.select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("eb")
    )
    pair_rows = (
        F.broadcast(a)
        .crossJoin(F.broadcast(b))
        .filter(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.round(cosine(F.col("ea"), F.col("eb")), ROUND).alias("sim"),
        )
        .collect()
    )
    rel = {r.vec_id: r.rel for r in ce.select("vec_id", "rel").collect()}
    ce.unpersist()
    sim = {(r.a, r.b): r.sim for r in pair_rows}

    selected: list[int] = []
    remaining = set(rel)
    while remaining and len(selected) < k:
        if not selected:
            best = max(remaining, key=lambda c: (rel[c], -c))
        else:
            best = max(
                remaining,
                key=lambda c: (
                    lam * rel[c]
                    - (1.0 - lam)
                    * max(sim[(c, s)] for s in selected),
                    -c,
                ),
            )
        selected.append(best)
        remaining.discard(best)

    rows = [
        (rank + 1, int(vid), float(rel[vid]))
        for rank, vid in enumerate(selected)
    ]
    return emb.sparkSession.createDataFrame(
        rows, "mmr_rank int, vec_id long, rel double"
    )


def mmr_diverse_topk_sql(
    k: int = MMR_K,
    n_cand: int = MMR_CAND,
    lam: float = MMR_LAMBDA,
    query_id: int = 0,
) -> str:
    """Unrolled greedy twin: pick1..pickK as CTEs over the identical
    round-6 candidate/pair relations (the kmeans/pagerank unrolling
    pattern for iterative algorithms)."""
    steps = [
        """pick1 AS MATERIALIZED (
        SELECT vec_id, rel FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1
    ),
    sel1(vec_id) AS MATERIALIZED (SELECT vec_id FROM pick1)"""
    ]
    for i in range(2, k + 1):
        steps.append(
            f"""pick{i} AS MATERIALIZED (
        SELECT c.vec_id, c.rel FROM cand c
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
        ORDER BY {lam!r} * c.rel - {1.0 - lam!r} * (
            SELECT max(p.sim) FROM p
            WHERE p.a = c.vec_id
              AND p.b IN (SELECT vec_id FROM sel{i - 1})
        ) DESC, c.vec_id ASC
        LIMIT 1
    ),
    sel{i}(vec_id) AS MATERIALIZED (
        SELECT vec_id FROM sel{i - 1} UNION ALL SELECT vec_id FROM pick{i}
    )"""
        )
    picks = "\n        UNION ALL\n        ".join(
        f"SELECT {i} AS mmr_rank, vec_id, rel FROM pick{i}"
        for i in range(1, k + 1)
    )
    chain = ",\n    ".join(steps)
    return f"""
    WITH v AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    cand AS MATERIALIZED (
        SELECT c.vec_id, round(list_cosine_similarity(q.e, c.e), 6) AS rel
        FROM (SELECT * FROM v WHERE vec_id = {query_id}) q
        JOIN v c ON q.vec_id <> c.vec_id
        ORDER BY rel DESC, c.vec_id ASC
        LIMIT {n_cand}
    ),
    p AS MATERIALIZED (
        SELECT a.vec_id AS a, b.vec_id AS b,
               round(list_cosine_similarity(
                   av.e, bv.e), 6) AS sim
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
        JOIN v av ON av.vec_id = a.vec_id
        JOIN v bv ON bv.vec_id = b.vec_id
    ),
    {chain}
    SELECT CAST(mmr_rank AS INTEGER) AS mmr_rank, vec_id, rel
    FROM ({picks})
    """


# ---------------------------------------------------------------------------
# embedding-space quality eval: leave-one-out kNN label agreement
# ---------------------------------------------------------------------------


KNN_MAX_QUERIES = 4096


def knn_label_agreement(
    emb: DataFrame, k: int = 10, query_mod: int = 10
) -> DataFrame:
    """Leave-one-out kNN label agreement — the standard intrinsic eval
    of an embedding table: for a deterministic query sample
    (``vec_id % query_mod == 0``, capped at the ``KNN_MAX_QUERIES``
    lowest vec_ids), take the k exact cosine neighbors (self
    excluded), majority-vote their labels (ties broken by count desc,
    label asc — fully deterministic), and score the vote against the
    query's own label. High agreement means the embedding geometry
    respects the labeling; a drop after re-embedding is the regression
    signal.

    Scale shape: the query sample is BOUNDED (≤ KNN_MAX_QUERIES rows
    regardless of corpus size — the modulo thins, the LIMIT caps), so
    the driver collect and the task closure are fixed-size; the
    scoring pass is one Arrow-batched numpy matmul over the candidate
    vectors that emits only each batch's LOCAL top-k per query, so the
    shuffle into the global top-k window carries ≤ Q·k rows per
    partition (not Q·|batch|). At larger corpora swap the candidate
    pass for the IVF/LSH tiers and this eval doubles as their recall
    monitor. Output: one row per label —
    (label, n_queries, n_agree, agree_pct).
    """
    winner = _knn_vote_winners(emb, k, query_mod)
    if winner is None:  # empty sample: 0-row result, not a numpy error
        return emb.sparkSession.createDataFrame(
            [], "label int, n_queries long, n_agree long, agree_pct double"
        )
    return (
        winner.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum(
                F.when(F.col("voted_label") == F.col("q_label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_agree"),
        )
        .select(
            "label",
            "n_queries",
            "n_agree",
            F.round(F.col("n_agree") / F.col("n_queries"), 4).alias("agree_pct"),
        )
    )


def _knn_vote_winners(
    emb: DataFrame, k: int, query_mod: int
) -> DataFrame | None:
    """(query_id, q_label, voted_label) for the deterministic query
    sample — the shared vote core of ``knn_label_agreement`` (the
    aggregate view) and ``knn_label_suspects`` (the per-vector view).
    Returns None on an empty sample.

    The sample is the ≤ ``KNN_MAX_QUERIES`` LOWEST vec_ids matching
    the modulo predicate (orderBy + limit: deterministic and
    append-stable for monotone ids), so the collect is bounded at any
    corpus size. The scorer emits only each Arrow batch's local top-k
    per query — selected on the ROUNDED sim with the same
    (sim desc, neighbor_id asc) total order as the global window, so
    the global top-k is exactly the merge of the per-batch winners."""
    queries = (
        emb.filter((F.col("vec_id") % query_mod) == 0)
        .select("vec_id", "embedding", "label")
        .orderBy("vec_id")
        .limit(KNN_MAX_QUERIES)
        .collect()
    )
    if not queries:
        return None
    q_ids = np.array([r.vec_id for r in queries], dtype=np.int64)
    q_labels = np.array([r.label for r in queries], dtype=np.int64)
    q_mat = np.array([r.embedding for r in queries], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    out_schema = (
        "query_id long, q_label int, neighbor_id long, n_label int, sim double"
    )

    def score(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            # candidate order = neighbor_id asc, so the stable argsort
            # below breaks rounded-sim ties exactly like the global
            # window's (sim DESC, neighbor_id ASC)
            pdf = pdf.sort_values("vec_id")
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_labels = pdf["label"].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            sims = np.round(
                (q_mat @ c_mat.T)
                / np.outer(q_norm, np.linalg.norm(c_mat, axis=1)),
                ROUND,
            )
            # zero-norm vectors produce NaN cosines: numpy argsort ranks
            # NaN last but Spark's window ranks NaN FIRST, so an
            # unmasked NaN would make the output depend on batch layout
            # — mask to the same below-range sentinel as self-pairs
            sims[~np.isfinite(sims)] = -2.0
            sims[q_ids[:, None] == c_ids[None, :]] = -2.0  # mask self
            kk = min(k, sims.shape[1])
            top = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
            qq = np.repeat(np.arange(len(q_ids)), kk)
            cc = top.ravel()
            yield pd.DataFrame(
                {
                    "query_id": q_ids[qq],
                    "q_label": q_labels[qq].astype(np.int32),
                    "neighbor_id": c_ids[cc],
                    "n_label": c_labels[cc].astype(np.int32),
                    "sim": sims[np.arange(len(q_ids))[:, None], top].ravel(),
                }
            )

    pairs = (
        emb.select("vec_id", "embedding", "label")
        .mapInPandas(score, out_schema)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    topk = pairs.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )
    votes = topk.groupBy("query_id", "q_label", "n_label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("cnt"), F.asc("n_label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            "q_label",
            F.col("n_label").alias("voted_label"),
        )
    )


def knn_label_suspects(
    emb: DataFrame, k: int = 10, query_mod: int = 10
) -> DataFrame:
    """Mislabel mining — the per-vector complement of
    ``knn_label_agreement``: sampled vectors whose kNN majority vote
    DISAGREES with their own label, i.e. points sitting inside another
    label's neighborhood. In a training pipeline this is the
    label-noise review queue (confident-learning's core signal, here
    from exact neighbors). Output: (query_id, own_label, voted_label),
    ordered by query_id.
    """
    winner = _knn_vote_winners(emb, k, query_mod)
    if winner is None:
        return emb.sparkSession.createDataFrame(
            [], "query_id long, own_label int, voted_label int"
        )
    return (
        winner.filter(F.col("voted_label") != F.col("q_label"))
        .select(
            "query_id",
            F.col("q_label").alias("own_label"),
            "voted_label",
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# random projection (Johnson-Lindenstrauss sketch)
# ---------------------------------------------------------------------------

RP_SEED = 20240814
RP_OUT = 8


def _rp_signs(dim: int = 64, out: int = RP_OUT) -> "np.ndarray":
    """Seeded Rademacher (±1) projection matrix, dim x out. Fixed seed
    makes the matrix a CONSTANT of the operator — the same trick the
    LSH hyperplanes use (LSH_SEED above), which is what lets the DuckDB
    twin materialize it as a SQL literal."""
    rng = np.random.RandomState(RP_SEED)
    return rng.choice(np.array([-1, 1], dtype=np.int64), size=(dim, out))


def random_projection(
    emb: DataFrame, dim: int = 64, out: int = RP_OUT
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    embedding onto ``out`` seeded ±1 (Rademacher) directions — the
    cheap, data-independent sketch used before LSH-style indexing or
    coarse clustering when PCA's data-dependent basis is overkill
    (Achlioptas 2003: ±1 entries satisfy the JL lemma).

    Unlike ``pca_projection`` (driver-trained basis, sign-ambiguous
    eigenvectors → rows-only gate entry), the RP basis is a seeded
    CONSTANT, so this tier is exactly oracle-checkable: elements are
    nano-quantized to integers (floor(x·1e9)), the projection is an
    exact ±1 integer sum, and both engines round the identical
    integer-derived double to 6 places.

    Scale shape: pure per-row array arithmetic (transform + zip_with +
    aggregate) followed by a narrow explode — NO shuffle, NO Python;
    the whole operator is one codegen'd scan. Output long format
    (vec_id, comp, rp): n·out rows.
    """
    signs = _rp_signs(dim, out)
    qarr = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(1e9)).cast("long"),
    )
    comps = []
    for i in range(out):
        s_i = F.array(*[F.lit(int(s)) for s in signs[:, i]])
        dot = F.aggregate(
            F.zip_with(qarr, s_i, lambda a, b: a * b.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        comps.append(
            F.struct(F.lit(i).alias("comp"), dot.alias("rp_nano"))
        )
    return (
        emb.select("vec_id", F.explode(F.array(*comps)).alias("c"))
        .select(
            "vec_id",
            F.col("c.comp").alias("comp"),
            F.round(F.col("c.rp_nano") / F.lit(1e9), 6).alias("rp"),
        )
    )


# ---------------------------------------------------------------------------
# embedding QA: per-label norm audit
# ---------------------------------------------------------------------------


def embedding_norm_audit(t: dict[str, DataFrame]) -> DataFrame:
    """Embedding-table QA gate: per-label count, dimension-consistency
    check, zero-vector count, and the L2-norm distribution
    (mean/min/max) — the sanity screen run before any ANN/cluster job,
    because a silent all-zeros batch or a mixed-dimension append
    poisons every cosine downstream.

    Exactness: the squared norm is computed on GRAM_SCALE-quantized
    integer components (Σ floor(x·2¹⁵)² — the ``embedding_gram_matrix``
    lattice), summed in a deterministic index-order list fold, so both
    engines hold the identical BIGINT before the one sqrt/division.
    A vector is "zero" iff its quantized norm is 0 (|x| < 2⁻¹⁵ per
    component — true zeros, not near-zeros).

    Scale shape: pure per-row map (list fold over the embedding) + one
    groupBy on label — no shuffle of raw vectors beyond the label agg;
    norms travel as one BIGINT per row. Output: one row per label.
    """
    emb = t["embeddings"]
    q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * GRAM_SCALE).cast("long"),
    )
    n2 = F.aggregate(
        F.transform(q, lambda v: v * v),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    per = emb.select(
        "label",
        F.size("embedding").alias("dim"),
        n2.alias("n2"),
    )
    norm = F.sqrt(F.col("n2").cast("double")) / GRAM_SCALE
    nano = F.floor(norm * 1e9 + F.lit(0.5)).cast("long")
    return (
        per.select("label", "dim", "n2", nano.alias("norm_nano"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.count_distinct("dim").cast("long").alias("n_dims_seen"),
            F.sum((F.col("n2") == 0).cast("long"))
            .cast("long")
            .alias("n_zero"),
            F.round(
                F.sum("norm_nano").cast("double")
                / 1e9
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_norm_r6"),
            F.round(F.min("norm_nano").cast("double") / 1e9, 6).alias(
                "min_norm_r6"
            ),
            F.round(F.max("norm_nano").cast("double") / 1e9, 6).alias(
                "max_norm_r6"
            ),
        )
        .orderBy("label")
    )


def embedding_norm_audit_sql() -> str:
    """Twin of embedding_norm_audit: identical quantized-integer norm
    lattice via list_transform/list_sum."""
    qsq = (
        "list_transform(embedding, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {GRAM_SCALE}) AS BIGINT)"
        f" * CAST(floor(CAST(x AS DOUBLE) * {GRAM_SCALE}) AS BIGINT))"
    )
    return f"""
    WITH per AS (
        SELECT label,
               len(embedding) AS dim,
               CAST(coalesce(list_sum({qsq}), 0) AS BIGINT) AS n2
        FROM embeddings
    ),
    scored AS (
        SELECT label, dim, n2,
               CAST(floor(sqrt(CAST(n2 AS DOUBLE)) / {GRAM_SCALE}
                          * 1e9 + 0.5) AS BIGINT) AS norm_nano
        FROM per
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(DISTINCT dim) AS BIGINT) AS n_dims_seen,
           CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero,
           round(CAST(sum(norm_nano) AS DOUBLE) / 1e9
                 / CAST(count(*) AS DOUBLE), 6) AS mean_norm_r6,
           round(CAST(min(norm_nano) AS DOUBLE) / 1e9, 6) AS min_norm_r6,
           round(CAST(max(norm_nano) AS DOUBLE) / 1e9, 6) AS max_norm_r6
    FROM scored
    GROUP BY label
    ORDER BY label
    """


# ---------------------------------------------------------------------------
# simplified silhouette for the distributed k-means clustering
# ---------------------------------------------------------------------------


def kmeans_silhouette(
    t: dict[str, DataFrame], k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> DataFrame:
    """Per-cluster simplified silhouette of the ``distributed_kmeans``
    partitioning — the cluster-quality grade that inertia alone can't
    give (inertia always improves with k; silhouette penalizes
    clusters whose members sit nearly as close to a NEIGHBOR centroid).
    Uses the standard centroid-simplified form (a_i = distance to own
    centroid, b_i = distance to the nearest OTHER centroid,
    s_i = (b_i−a_i)/max(a_i,b_i)) — the O(n·k) variant that replaces
    the O(n²) pairwise definition at scale.

    Determinism/exactness: centroids come from the identical seeded
    Lloyd recurrence as ``kmeans_clusters`` (init = k smallest
    vec_ids, ties by lowest cid); per-vector s is nano-rounded BEFORE
    the per-cluster integer sum (order-invariant); one division at the
    end. s_i = 0 where both distances are 0 (coincident centroids).

    Scale shape: same supersteps as kmeans (element ⋈ broadcast-sized
    centroid relation, scalar-triple shuffles); the silhouette pass is
    ONE extra assignment join keeping rn ≤ 2 per vector. Output: one
    row per cluster + ordering by cluster_id.
    """
    emb = t["embeddings"]
    elems, cent = _lloyd_relations(emb, k, iters)
    two = _assign_dists(elems, cent, top=2)
    per_vec = two.groupBy("vec_id").agg(
        F.min(F.when(F.col("rn") == 1, F.col("cid"))).alias("own"),
        F.min(F.when(F.col("rn") == 1, F.col("d2"))).alias("a2"),
        F.min(F.when(F.col("rn") == 2, F.col("d2"))).alias("b2"),
    )
    a = F.sqrt(F.col("a2"))
    b = F.sqrt(F.col("b2"))
    s = F.when(F.greatest(a, b) > 0, (b - a) / F.greatest(a, b)).otherwise(
        F.lit(0.0)
    )
    scored = per_vec.select(
        "own",
        F.floor(s * 1e9 + F.lit(0.5)).cast("long").alias("s_nano"),
    )
    return (
        scored.groupBy(F.col("own").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("s_nano").cast("long").alias("sn"),
            F.min("s_nano").cast("long").alias("mn"),
        )
        .select(
            "cluster_id",
            "n_members",
            F.round(
                F.col("sn").cast("double")
                / 1e9
                / F.col("n_members").cast("double"),
                6,
            ).alias("mean_silhouette_r6"),
            F.round(F.col("mn").cast("double") / 1e9, 6).alias(
                "min_silhouette_r6"
            ),
        )
        .orderBy("cluster_id")
    )


def kmeans_silhouette_sql(k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> str:
    """Twin of kmeans_silhouette: the distributed_kmeans_sql unrolled
    recurrence + a rn ≤ 2 final assignment and the identical nano
    silhouette lattice."""
    from .oracle_text import _kmeans_cte

    return f"""
    WITH {_kmeans_cte((k,), iters, top=2)},
    per_vec AS (
        SELECT vec_id,
               min(CASE WHEN rn = 1 THEN cid END) AS own,
               min(CASE WHEN rn = 1 THEN d2 END) AS a2,
               min(CASE WHEN rn = 2 THEN d2 END) AS b2
        FROM final_{k} GROUP BY vec_id
    ),
    scored AS (
        SELECT own,
               CAST(floor(CASE WHEN greatest(sqrt(a2), sqrt(b2)) > 0
                               THEN (sqrt(b2) - sqrt(a2))
                                    / greatest(sqrt(a2), sqrt(b2))
                               ELSE 0.0 END * 1e9 + 0.5) AS BIGINT)
                   AS s_nano
        FROM per_vec
    )
    SELECT own AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           round(CAST(sum(s_nano) AS BIGINT) / 1e9
                 / CAST(count(*) AS DOUBLE), 6) AS mean_silhouette_r6,
           round(CAST(min(s_nano) AS BIGINT) / 1e9, 6) AS min_silhouette_r6
    FROM scored
    GROUP BY own
    ORDER BY cluster_id
    """


# ---------------------------------------------------------------------------
# NDCG of the ANN LSH tier against brute-force ground truth
# ---------------------------------------------------------------------------


def ann_ndcg_eval(t: dict[str, DataFrame], k: int = 5) -> DataFrame:
    """NDCG@k of the multi-probe LSH retrieval against the exact
    brute-force ranking, per query — the rank-WEIGHTED quality grade
    that recall alone misses (``lsh_recall_eval`` counts set overlap;
    NDCG also pays for returning a true neighbor at position 5 that
    belongs at position 1). Relevance of an approx hit is graded by
    its TRUE rank: rel = k+1−rank_exact (0 if outside the exact
    top-k); DCG uses the standard 1/log₂(pos+1) discount.

    Determinism/exactness: both rankings are the engine's existing
    deterministic tiers (rounded-sim, neighbor-id tie-break); each
    DCG term is nano-rounded BEFORE the per-query integer sum; one
    division per query at the end. NDCG == 1 ⇔ the LSH list equals
    the exact list in order.

    Scale shape: reuses the bucket-bounded LSH plan and the
    broadcast-query brute plan (the declared eval tier — at 100 TB
    this harness runs on the fixed query panel, never corpus×corpus);
    the grading join is (query, neighbor)-keyed over 2·|Q|·k rows of
    metadata. Output: one row per query.
    """
    emb = t["embeddings"]
    return _ndcg_vs_truth(brute_topk(emb, k=k), lsh_topk(emb, k=k), k)


def ivf_ndcg_eval(t: dict[str, DataFrame], k: int = 5) -> DataFrame:
    """NDCG@k of the IVF (coarse-quantizer) retrieval against the
    brute exact ranking — same grading harness as ``ann_ndcg_eval``
    over the other production ANN tier, so the two approximations are
    comparable on one rank-weighted scale."""
    emb = t["embeddings"]
    return _ndcg_vs_truth(brute_topk(emb, k=k), ivf_topk(emb, k=k), k)


def _ndcg_vs_truth(truth: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    nano = lambda e: F.floor(e * 1e9 + F.lit(0.5)).cast("long")
    rel = F.coalesce(
        F.lit(k + 1) - F.col("t_rnk"), F.lit(0).cast("int")
    ).cast("double")
    terms = approx.join(
        truth.select(
            "query_id",
            "neighbor_id",
            F.col("rnk").alias("t_rnk"),
        ),
        ["query_id", "neighbor_id"],
        "left",
    ).select(
        "query_id",
        (F.col("t_rnk").isNotNull()).cast("long").alias("hit"),
        nano(rel / F.log2(F.col("rnk").cast("double") + 1.0)).alias(
            "term_nano"
        ),
    )
    dcg = terms.groupBy("query_id").agg(
        F.sum("hit").cast("long").alias("n_hits"),
        F.sum("term_nano").cast("long").alias("dcg_nano"),
    )
    ideal = truth.select(
        "query_id",
        nano(
            (F.lit(k + 1) - F.col("rnk")).cast("double")
            / F.log2(F.col("rnk").cast("double") + 1.0)
        ).alias("i_nano"),
    ).groupBy("query_id").agg(
        F.sum("i_nano").cast("long").alias("idcg_nano")
    )
    return (
        dcg.join(ideal, "query_id")
        .select(
            "query_id",
            "n_hits",
            F.round(F.col("dcg_nano").cast("double") / 1e9, 6).alias(
                "dcg_r6"
            ),
            F.when(
                F.col("idcg_nano") > 0,
                F.round(
                    F.col("dcg_nano").cast("double")
                    / F.col("idcg_nano").cast("double"),
                    6,
                ),
            ).alias("ndcg_r6"),
        )
        .orderBy("query_id")
    )


def ann_ndcg_eval_sql(k: int = 5) -> str:
    """Twin of ann_ndcg_eval: the brute + LSH oracle rankings with the
    identical nano DCG lattice."""
    from . import oracle_text

    return _ndcg_sql(oracle_text.lsh_topk_sql(k=k), k)


def ivf_ndcg_eval_sql(k: int = 5) -> str:
    """Twin of ivf_ndcg_eval: brute + IVF oracle rankings, same
    lattice."""
    from . import oracle_text

    return _ndcg_sql(oracle_text.ivf_topk_sql(k=k), k)


def _ndcg_sql(approx_sql: str, k: int) -> str:
    from . import oracle_text

    return f"""
    WITH truth AS ({oracle_text.brute_topk_sql(k=k)}),
    approx AS ({approx_sql}),
    terms AS (
        SELECT a.query_id,
               CAST(tt.rnk IS NOT NULL AS BIGINT) AS hit,
               CAST(floor(coalesce({k} + 1 - tt.rnk, 0)
                          / log2(CAST(a.rnk AS DOUBLE) + 1.0)
                          * 1e9 + 0.5) AS BIGINT) AS term_nano
        FROM approx a
        LEFT JOIN truth tt
          ON tt.query_id = a.query_id AND tt.neighbor_id = a.neighbor_id
    ),
    dcg AS (
        SELECT query_id,
               CAST(sum(hit) AS BIGINT) AS n_hits,
               CAST(sum(term_nano) AS BIGINT) AS dcg_nano
        FROM terms GROUP BY 1
    ),
    ideal AS (
        SELECT query_id,
               CAST(sum(CAST(floor(({k} + 1 - rnk)
                                   / log2(CAST(rnk AS DOUBLE) + 1.0)
                                   * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
                   AS idcg_nano
        FROM truth GROUP BY 1
    )
    SELECT d.query_id, d.n_hits,
           round(CAST(d.dcg_nano AS DOUBLE) / 1e9, 6) AS dcg_r6,
           CASE WHEN i.idcg_nano > 0
                THEN round(CAST(d.dcg_nano AS DOUBLE)
                           / CAST(i.idcg_nano AS DOUBLE), 6)
           END AS ndcg_r6
    FROM dcg d JOIN ideal i ON i.query_id = d.query_id
    ORDER BY 1
    """


# ---------------------------------------------------------------------------
# k-center coreset: farthest-point traversal for data selection
# ---------------------------------------------------------------------------

KCENTER_K = 8


def kcenter_coreset(
    t: dict[str, DataFrame], k: int = KCENTER_K, dim: int = 64
) -> DataFrame:
    """Greedy k-center coreset (Gonzalez 1985 farthest-point
    traversal): pick the max-norm vector, then repeatedly the vector
    farthest from everything picked so far — the 2-approximation to the
    optimal covering radius, and the standard diversity-first data
    selection step (coreset distillation, active-learning seeding,
    diverse eval-set construction) complementing the density-first
    tiers (SemDeDup prunes redundancy, DSIR matches a target
    distribution; k-center maximizes coverage).

    Determinism/exactness: vectors live on the 2^-15 quantization
    lattice (the gram convention), so every squared distance is an
    exact int64 (≤ 64·2^32 = 2^38) and argmax ties break on vec_id —
    the DuckDB twin replays selection bit-for-bit.

    Scale shape: k bounded driver rounds; each is ONE narrow Arrow
    pass (distances to ≤ k broadcast centers, closure-shipped) + a
    TakeOrdered(1) — total O(k²·n·d) with nothing corpus-sized ever
    collected (per round: one k-row codebook out, one 1-row pick
    back). Production at very large k switches the per-round recompute
    to the running-min update (min with the newest center only) — same
    output by min-associativity, O(k·n·d).

    Output: (sel_rank, vec_id, d2_q) — d2_q is the exact squared
    lattice distance from pick r to the nearest of picks 0..r-1 (the
    non-increasing coverage-radius trace; 0 for the seed).
    """
    import pandas as pd

    emb = t["embeddings"]
    spark = emb.sparkSession

    # Each pick row carries its own quantized vector (r10): the old
    # per-round _q_of lookup re-scanned the embedding table with a
    # whole extra Spark job just to fetch the picked center — k extra
    # jobs gone, selection and d2 values unchanged.
    def _norms(batches: Iterator) -> Iterator:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.floor(x * GRAM_SCALE).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "n2": (q * q).sum(axis=1),
                    "q": list(q),
                }
            )

    seed = (
        emb.select("vec_id", "embedding")
        .mapInPandas(_norms, "vec_id long, n2 long, q array<long>")
        .orderBy(F.desc("n2"), F.asc("vec_id"))
        .limit(1)
        .collect()
    )
    if not seed:
        return spark.createDataFrame(
            [], "sel_rank long, vec_id long, d2_q long"
        )
    selected = [(0, int(seed[0]["vec_id"]), 0)]
    centers = [np.array(seed[0]["q"], dtype=np.int64)]
    for r in range(1, k):
        c_mat = np.stack(centers)

        def _dmin(batches: Iterator, _c=c_mat) -> Iterator:
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                q = np.floor(x * GRAM_SCALE).astype(np.int64)
                diff = q[:, None, :] - _c[None, :, :]
                d2 = (diff * diff).sum(axis=2).min(axis=1)
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"], "d2": d2, "q": list(q)}
                )

        taken = [s[1] for s in selected]
        pick = (
            emb.select("vec_id", "embedding")
            .mapInPandas(_dmin, "vec_id long, d2 long, q array<long>")
            .filter(~F.col("vec_id").isin(taken))
            .orderBy(F.desc("d2"), F.asc("vec_id"))
            .limit(1)
            .collect()
        )
        if not pick:  # corpus smaller than k
            break
        selected.append((r, int(pick[0]["vec_id"]), int(pick[0]["d2"])))
        centers.append(np.array(pick[0]["q"], dtype=np.int64))
    return spark.createDataFrame(
        selected, "sel_rank long, vec_id long, d2_q long"
    )


def kcenter_coreset_sql(k: int = KCENTER_K, dim: int = 64) -> str:
    """Twin of kcenter_coreset: the k greedy rounds unrolled as CTEs,
    each recomputing exact integer min-distances to the selected set
    (equal to the engine's incremental min by associativity)."""
    parts = [
        f"""q AS MATERIALIZED (
        SELECT vec_id, CAST(t.i - 1 AS INTEGER) AS i,
               CAST(floor(embedding[t.i]::DOUBLE * {float(GRAM_SCALE)}) AS BIGINT) AS qv
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    )""",
        """pick0 AS MATERIALIZED (
        SELECT vec_id, CAST(0 AS BIGINT) AS d2
        FROM (SELECT vec_id, sum(qv * qv) AS n2 FROM q GROUP BY 1)
        ORDER BY n2 DESC, vec_id ASC LIMIT 1
    )""",
        "sel1 AS (SELECT vec_id FROM pick0)",
    ]
    for r in range(1, k):
        parts.append(
            f"""dd{r} AS MATERIALIZED (
        SELECT a.vec_id, CAST(min(d2) AS BIGINT) AS d2 FROM (
            SELECT a.vec_id, s.vec_id AS sid,
                   sum((a.qv - b.qv) * (a.qv - b.qv)) AS d2
            FROM q a JOIN sel{r} s ON true
            JOIN q b ON b.vec_id = s.vec_id AND b.i = a.i
            GROUP BY 1, 2
        ) a GROUP BY 1
    )"""
        )
        parts.append(
            f"""pick{r} AS MATERIALIZED (
        SELECT vec_id, d2 FROM dd{r}
        WHERE vec_id NOT IN (SELECT vec_id FROM sel{r})
        ORDER BY d2 DESC, vec_id ASC LIMIT 1
    )"""
        )
        parts.append(
            f"""sel{r + 1} AS (
        SELECT vec_id FROM sel{r} UNION ALL SELECT vec_id FROM pick{r}
    )"""
        )
    final = "\n    UNION ALL\n    ".join(
        f"SELECT {r} AS sel_rank, vec_id, d2 AS d2_q FROM pick{r}"
        for r in range(k)
    )
    chain = ",\n    ".join(parts)
    return f"""
    WITH {chain}
    {final}
    """


# ---------------------------------------------------------------------------
# IVF nprobe tuning curve
# ---------------------------------------------------------------------------

IVF_CURVE_PROBES = (1, 2, 4)


def ivf_nprobe_curve(
    t: dict[str, DataFrame], k: int = 5, probes: tuple = IVF_CURVE_PROBES
) -> DataFrame:
    """Recall@k of the IVF tier as a function of ``nprobe`` — the
    tuning curve you draw BEFORE fixing the production knob: each extra
    probed cell multiplies candidate volume by ~1/n_centroids of the
    corpus, so the question is where recall saturates. The curve is
    computed corpus-side against the exact brute-force truth (the same
    ground-truth discipline as ann_ndcg_eval), one row per nprobe.

    Monotonicity is structural: probing more cells can only ADD
    candidates, so recall@k is non-decreasing in nprobe — pinned by a
    planted test as a correctness invariant of the whole IVF chain.

    Scale shape: truth and each approx tier are |queries|·k-row
    relations; the join is id-keyed; one fold per nprobe, unioned.
    The IVF chain itself is shared across tiers up to the probe stage.
    Output: (nprobe, n_truth, n_hits, recall_at_k).
    """
    emb = t["embeddings"]
    truth = brute_topk(emb, k=k).select("query_id", "neighbor_id")
    outs = []
    for p in probes:
        approx = ivf_topk(emb, k=k, nprobe=p).select(
            "query_id", "neighbor_id", F.lit(1).alias("hit")
        )
        flagged = truth.join(approx, ["query_id", "neighbor_id"], "left")
        outs.append(
            flagged.agg(
                F.lit(p).cast("long").alias("nprobe"),
                F.count(F.lit(1)).cast("long").alias("n_truth"),
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                .cast("long")
                .alias("n_hits"),
                F.round(
                    F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                    / F.count(F.lit(1)),
                    6,
                ).alias("recall_at_k"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def ivf_nprobe_curve_sql(
    k: int = 5, probes: tuple = IVF_CURVE_PROBES
) -> str:
    """Twin: one brute CTE + one IVF subquery per probe, same folds."""
    from . import oracle_text

    arms = []
    for p in probes:
        arms.append(
            f"""
    SELECT CAST({p} AS BIGINT) AS nprobe,
           CAST(count(*) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hits,
           round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS recall_at_k
    FROM truth tr
    LEFT JOIN (
        SELECT query_id, neighbor_id FROM (
            {oracle_text.ivf_topk_sql(k=k, nprobe=p)}
        )
    ) a ON a.query_id = tr.query_id AND a.neighbor_id = tr.neighbor_id"""
        )
    joined = " UNION ALL ".join(arms)
    return f"""
    WITH truth AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM ({oracle_text.brute_topk_sql(k=k)})
    )
    {joined}
    """


# ---------------------------------------------------------------------------
# between-label centroid confusability matrix
# ---------------------------------------------------------------------------


def centroid_pair_cosine(t: dict[str, DataFrame]) -> DataFrame:
    """Pairwise cosine BETWEEN label centroids — the confusability
    matrix that complements ``label_centroid_stats`` (which measures
    each cluster's internal health): two labels whose centroids sit at
    cosine ~1 are duplicate or mislabeled classes that will train as
    noise; near-orthogonal centroids are well-separated. This is the
    one-page answer to "which classes should be merged / audited"
    before training on labeled embeddings.

    Fully relational like its sibling: vectors explode to (label, dim,
    val), centroids are one (label, dim) aggregate (|labels|·dim rows —
    metadata-sized), and the pair matrix is a dim-keyed self-join of
    that tiny relation. Nothing corpus-sized past the first aggregate;
    per-dim double sums live inside the repo-wide round-6 grid.

    Output: (label_a, label_b, cosine), label_a < label_b.
    """
    emb = t["embeddings"]
    elems = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cent = elems.groupBy("label", "dim").agg(F.avg("val").alias("c"))
    norms = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    ca = cent.select(F.col("label").alias("label_a"), "dim", F.col("c").alias("va"))
    cb = cent.select(F.col("label").alias("label_b"), "dim", F.col("c").alias("vb"))
    dots = (
        ca.join(cb, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("dot"))
    )
    return (
        dots.join(
            norms.select(F.col("label").alias("label_a"), F.col("nrm").alias("na")),
            "label_a",
        )
        .join(
            norms.select(F.col("label").alias("label_b"), F.col("nrm").alias("nb")),
            "label_b",
        )
        .select(
            "label_a",
            "label_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cosine"
            ),
        )
    )


CENTROID_PAIR_COSINE_SQL = """
    WITH elems AS (
        SELECT label, t.i AS dim, embedding[t.i]::DOUBLE AS val
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    cent AS (
        SELECT label, dim, avg(val) AS c FROM elems GROUP BY label, dim
    ),
    norms AS (
        SELECT label, sqrt(sum(c * c)) AS nrm FROM cent GROUP BY label
    ),
    dots AS (
        SELECT a.label AS label_a, b.label AS label_b, sum(a.c * b.c) AS dot
        FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT d.label_a, d.label_b,
           round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots d
    JOIN norms na ON na.label = d.label_a
    JOIN norms nb ON nb.label = d.label_b
    """


# ---------------------------------------------------------------------------
# SemDeDup threshold curve
# ---------------------------------------------------------------------------

SEMDEDUP_TAUS = (0.5, 0.6, 0.7, 0.8)


def semdedup_threshold_curve(
    t: dict[str, DataFrame], taus: tuple[float, ...] = SEMDEDUP_TAUS
) -> DataFrame:
    """What each semantic-dedup cosine threshold would REMOVE: pair
    count and distinct-document count above every τ in one plan —
    completing the tuning-curve family (``jaccard_threshold_curve``
    for lexical dedup, ``ivf_nprobe_curve`` for ANN,
    ``packing_efficiency_curve`` for budgets). The τ you run SemDeDup
    at decides how much of the corpus collapses; this measures that
    before the 100 TB pass.

    One pair relation computed at the LOWEST τ (the auto-dispatching
    ``cosine_near_pairs``: exact at fixture scale — the oracle tier —
    LSH-bucketed above ``NEAR_PAIRS_AUTO_LSH_ROWS``), then |τ|
    conditional one-row folds; the doc count folds off a per-doc
    max-sim relation so no per-τ distinct is needed.

    Output: (tau, n_pairs, n_docs) ordered by tau.
    """
    pairs = cosine_near_pairs(
        t["embeddings"], threshold=min(taus)
    ).transform(tracked_persist)
    docmax = (
        pairs.select(F.col("vec_a").alias("v"), "sim")
        .unionByName(pairs.select(F.col("vec_b").alias("v"), "sim"))
        .groupBy("v")
        .agg(F.max("sim").alias("ms"))
    )
    arms = []
    for tau in taus:
        arms.append(
            pairs.agg(
                F.sum((F.col("sim") >= tau).cast("long"))
                .cast("long")
                .alias("n_pairs")
            )
            .crossJoin(
                F.broadcast(
                    docmax.agg(
                        F.sum((F.col("ms") >= tau).cast("long"))
                        .cast("long")
                        .alias("n_docs")
                    )
                )
            )
            .select(
                F.lit(tau).alias("tau"),
                F.coalesce(F.col("n_pairs"), F.lit(0).cast("long")).alias(
                    "n_pairs"
                ),
                F.coalesce(F.col("n_docs"), F.lit(0).cast("long")).alias(
                    "n_docs"
                ),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("tau")


def semdedup_threshold_curve_sql(
    taus: tuple[float, ...] = SEMDEDUP_TAUS,
) -> str:
    """Twin: the exact brute pair CTE at min(τ) + identical folds."""
    from .oracle_text import cosine_near_pairs_sql

    arms = "\n    UNION ALL\n    ".join(
        f"""SELECT CAST({tau!r} AS DOUBLE) AS tau,
           (SELECT CAST(coalesce(sum(CASE WHEN sim >= {tau} THEN 1 END), 0)
                AS BIGINT) FROM p) AS n_pairs,
           (SELECT CAST(coalesce(sum(CASE WHEN ms >= {tau} THEN 1 END), 0)
                AS BIGINT) FROM dm) AS n_docs"""
        for tau in taus
    )
    return f"""
    WITH p AS MATERIALIZED ({cosine_near_pairs_sql(threshold=min(taus))}),
    dm AS MATERIALIZED (
        SELECT v, max(sim) AS ms FROM (
            SELECT vec_a AS v, sim FROM p
            UNION ALL
            SELECT vec_b AS v, sim FROM p
        ) GROUP BY v
    )
    {arms}
    ORDER BY tau
    """


# ---------------------------------------------------------------------------
# lexical vs semantic dedup agreement
# ---------------------------------------------------------------------------


def lexical_semantic_agreement(
    t: dict[str, DataFrame],
    lex_threshold: float = 0.8,
    sem_threshold: float = 0.45,
) -> DataFrame:
    """Do the lexical (MinHash-verified Jaccard) and semantic
    (embedding-cosine) near-dup tiers fire on the SAME pairs? The
    cross-modality audit run before trusting either tier alone at
    100 TB: high agreement says one tier is redundant, zero overlap
    says they remove different mass and both belong in the funnel.
    Joins on doc_id = vec_id (row-aligned corpus/embedding fixtures).

    Output, ONE row: (n_lex, n_sem, n_both, union_pairs, jaccard_bp)
    — exact integers, jaccard_bp = n_both·10000 div union (0 when the
    union is empty).

    Scale shape: both pair relations are near-dup-sized (banded LSH /
    exact-tier bucket joins — never all-pairs); the agreement join is
    pair-keyed equi-join, and the final combine is three ONE-ROW
    aggregates crossJoined (metadata).
    """
    from .dedup import minhash_lsh_pairs

    lex = minhash_lsh_pairs(
        t["documents"], threshold=lex_threshold
    ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    # NOT persisted (r11 revert of the r10 persist): sem feeds the
    # agreement join and its own count, but the r10 barrier measured
    # SLOWER in every window — committed bench +50%, driver 8-core run
    # +95%, and a same-session alternated A/B (plans/r11_ab_unproven.json)
    # 12.1 vs 7.7 s median. cosine_near_pairs persists its own bucket
    # relation internally, so the expensive banded tier is already
    # shared; the extra barrier only added materialization latency.
    sem = cosine_near_pairs(
        t["embeddings"], threshold=sem_threshold
    ).select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b"))
    both = lex.join(sem, ["a", "b"])
    counts = (
        lex.agg(F.count(F.lit(1)).cast("long").alias("n_lex"))
        .crossJoin(sem.agg(F.count(F.lit(1)).cast("long").alias("n_sem")))
        .crossJoin(both.agg(F.count(F.lit(1)).cast("long").alias("n_both")))
    )
    return counts.select(
        "n_lex",
        "n_sem",
        "n_both",
        (F.col("n_lex") + F.col("n_sem") - F.col("n_both")).alias(
            "union_pairs"
        ),
        F.when(
            F.col("n_lex") + F.col("n_sem") - F.col("n_both") > 0,
            F.expr("(n_both * 10000) div (n_lex + n_sem - n_both)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("jaccard_bp"),
    )


def lexical_semantic_agreement_sql(
    lex_threshold: float = 0.8, sem_threshold: float = 0.45
) -> str:
    """Twin: the LSH pair CTE + the brute cosine pair CTE + the same
    three folds."""
    from .oracle import minhash_lsh_sql
    from .oracle_text import cosine_near_pairs_sql

    return f"""
    WITH lex AS MATERIALIZED (
        SELECT doc_a AS a, doc_b AS b
        FROM ({minhash_lsh_sql(threshold=lex_threshold)})
    ),
    sem AS MATERIALIZED (
        SELECT vec_a AS a, vec_b AS b
        FROM ({cosine_near_pairs_sql(threshold=sem_threshold)})
    ),
    c AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM lex) AS n_lex,
               (SELECT CAST(count(*) AS BIGINT) FROM sem) AS n_sem,
               (SELECT CAST(count(*) AS BIGINT)
                FROM lex JOIN sem USING (a, b)) AS n_both
    )
    SELECT n_lex, n_sem, n_both,
           CAST(n_lex + n_sem - n_both AS BIGINT) AS union_pairs,
           CAST(CASE WHEN n_lex + n_sem - n_both > 0
                THEN (n_both * 10000) // (n_lex + n_sem - n_both)
                ELSE 0 END AS BIGINT) AS jaccard_bp
    FROM c
    """


def ivf_cell_balance(
    t: dict[str, DataFrame],
    dim: int = 64,
    n_centroids: int = IVF_CENTROIDS,
    multi_assign: int = IVF_MULTI_ASSIGN,
) -> DataFrame:
    """IVF index balance audit: per cell, how many vectors land in it
    (spilled ``multi_assign``-way, exactly as ``ivf_topk`` indexes).
    Hot cells are the probe-latency tail at serving time — probing a
    cell costs its size, so max(share_bp) bounds the worst query. The
    index-side twin of the query-side ``ivf_nprobe_curve``.

    Output, one row per NON-EMPTY cell: (cell, n_vecs, share_bp) —
    share over all assignments, exact integers.

    Scale shape: the assignment is the same Arrow-vectorized
    ``ivf_assign`` pass the index build pays; the audit adds one
    groupBy(cell) plus a ONE-ROW total broadcast — |cells|-row output.
    """
    emb = t["embeddings"]
    centroids = _ivf_centroids(emb, dim, n_centroids)
    cells = ivf_assign(emb, centroids, multi=multi_assign)
    per = cells.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    tot = per.agg(F.sum("n_vecs").alias("tot"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_vecs",
            F.expr("(n_vecs * 10000) div tot").cast("long").alias("share_bp"),
        )
        .orderBy("cell")
    )


def ivf_cell_balance_sql(
    n_centroids: int = IVF_CENTROIDS, multi_assign: int = IVF_MULTI_ASSIGN
) -> str:
    """Twin over the shared exact-integer Lloyd chain: spilled
    assignment = rn <= multi_assign, same folds."""
    from .oracle_text import _ivf_chain_cte

    return f"""
    WITH {_ivf_chain_cte(n_centroids)},
    cells AS (
        SELECT vec_id, cid AS cell FROM ranked_cells
        WHERE rn <= {multi_assign}
    ),
    per AS (
        SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
        FROM cells GROUP BY cell
    )
    SELECT CAST(cell AS BIGINT) AS cell, n_vecs,
           CAST((n_vecs * 10000) // (SELECT sum(n_vecs) FROM per)
                AS BIGINT) AS share_bp
    FROM per
    ORDER BY cell
    """


QUANT_CURVE_BITS = (4, 6, 8)


def quantization_error_curve(
    t: dict[str, DataFrame], bits_list: tuple[int, ...] = QUANT_CURVE_BITS
) -> DataFrame:
    """What does each quantization width cost in similarity fidelity?
    Per candidate bit width: the cosine between every vector and its
    dequantized self (the quantity ANN recall actually degrades
    through), summarized as mean/min in exact integer MICRO-cosine
    units — the storage-vs-recall trade measured before a
    billion-vector index commits to int4/int6/int8.

    Determinism contract: the per-row cosine is an identical IEEE op
    sequence on both engines (same quantize → same left-fold dot /
    norms), floored to integer micro-units per row; the cross-row
    aggregates are then integer sums — order-free, so the oracle match
    is exact, not rounded.

    Output: (bits, n_vecs, mean_cos_micro, min_cos_micro).

    Scale shape: |bits| row-local passes over the corpus (narrow
    array arithmetic, codegen'd; no shuffle before the |bits|-row
    aggregate). The audit costs exactly |bits| scans. Each expensive
    per-row expression (absmax fold, scale, dequantized array) is
    STAGED through its own projection and referenced more than once
    downstream, so CollapseProject cannot re-inline it; the zero-vector
    exclusion is a predicate on the RAW column (a filter or CASE guard
    on a derived column re-inlines the entire fold chain through
    predicate pushdown — the round-7 shingle-filter trap). Measured at
    sf0.1: 9.7 s → 2.8 s cold, plan fold count 90 → 12 (the minimum:
    4 folds × 3 arms).
    """
    emb = t["embeddings"]
    arms = []
    for bits in bits_list:
        qmax = float(2 ** (bits - 1) - 1)
        x = F.col("embedding")
        absmax = F.aggregate(
            x,
            F.lit(0.0),
            lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
        )
        # zero vectors are excluded on the RAW column (pushes to the
        # scan without duplicating any derived fold — the shingle-filter
        # lesson); afterwards every denominator is provably nonzero:
        # absmax > 0 ⇒ scale > 0, and the max-|x| element quantizes to
        # ±qmax ≠ 0 (qmax ≥ 7 at 4 bits), so ‖d‖ > 0 too.
        nonzero = F.size(F.filter(x, lambda v: v != F.lit(0.0))) > 0
        s1 = emb.filter(nonzero).select(x.alias("x"), absmax.alias("am"))
        # am referenced twice -> projection not collapsed into s1
        s2 = s1.select(
            "x",
            F.round(
                F.when(F.col("am") > 0, F.lit(qmax) / F.col("am")).otherwise(
                    F.lit(0.0)
                ),
                6,
            ).alias("scale"),
        )
        # scale referenced per element (twice in the lambda) -> staged
        s3 = s2.select(
            "x",
            F.transform(
                F.col("x"),
                lambda v: F.when(
                    F.col("scale") > 0,
                    F.floor(v.cast("double") * F.col("scale") + F.lit(0.5))
                    / F.col("scale"),
                ).otherwise(F.lit(0.0)),
            ).alias("d"),
        )
        # the three O(dim) folds, once each; every later expression is
        # cheap scalar math over these columns
        s4 = s3.select(
            l2_norm(F.col("x")).alias("nx"),
            l2_norm(F.col("d")).alias("nd"),
            dot(F.col("x"), F.col("d")).alias("dp"),
        )
        cos = F.col("dp") / (F.col("nx") * F.col("nd"))
        micro = F.floor(cos * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        arms.append(
            s4.select(
                F.lit(bits).cast("long").alias("bits"),
                micro.alias("mc"),
            )
        )
    u = arms[0]
    for a in arms[1:]:
        u = u.unionAll(a)
    return (
        u.groupBy("bits")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.expr("sum(mc) div count(1)").cast("long").alias(
                "mean_cos_micro"
            ),
            F.min("mc").cast("long").alias("min_cos_micro"),
        )
        .orderBy("bits")
    )


def quantization_error_curve_sql(
    bits_list: tuple[int, ...] = QUANT_CURVE_BITS,
) -> str:
    """Twin: the same quantize → dequantize → LEFT-FOLD dot/norm op
    sequence per row (list_reduce, same order as Spark's aggregate),
    floored to micro units, integer folds."""
    arms = []
    for bits in bits_list:
        qmax = float(2 ** (bits - 1) - 1)
        arms.append(
            f"""
    SELECT CAST({bits} AS BIGINT) AS bits,
           CAST(floor(
               (list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(range(1, len(e) + 1),
                        i -> e[i] * d[i])), (a, b) -> a + b)
                / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(e, v -> v * v)), (a, b) -> a + b))
                   * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(d, v -> v * v)), (a, b) -> a + b))))
               * 1000000.0 + 0.5) AS BIGINT) AS mc
    FROM (
        SELECT e,
               list_transform(e,
                   v -> CASE WHEN scale > 0
                        THEN floor(v * scale + 0.5) / scale
                        ELSE 0.0 END) AS d
        FROM (
            SELECT e,
                   round(CASE WHEN absmax > 0 THEN {qmax} / absmax
                         ELSE 0.0 END, 6) AS scale
            FROM (
                SELECT embedding::DOUBLE[] AS e,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(embedding,
                               v -> abs(CAST(v AS DOUBLE)))),
                           (a, b) -> greatest(a, b)) AS absmax
                FROM embeddings
            )
        )
    )"""
        )
    union = "\n    UNION ALL\n    ".join(arms)
    return f"""
    WITH u AS ({union})
    SELECT bits, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(mc) // count(*) AS BIGINT) AS mean_cos_micro,
           CAST(min(mc) AS BIGINT) AS min_cos_micro
    FROM u WHERE mc IS NOT NULL
    GROUP BY bits ORDER BY bits
    """


# ---------------------------------------------------------------------------
# in-batch negative audit (contrastive-training data quality)
# ---------------------------------------------------------------------------

INBATCH_GROUPS = 8
INBATCH_SIZE = 16
INBATCH_NEAR_TAU = 0.45


def inbatch_negative_audit(
    emb: DataFrame,
    batch_size: int = INBATCH_SIZE,
    n_groups: int = INBATCH_GROUPS,
    tau: float = INBATCH_NEAR_TAU,
) -> DataFrame:
    """FALSE NEGATIVES in contrastive batches: in-batch-negative
    training (CLIP, DPR, contrastive embedders) treats every other
    item in the batch as a negative — wrong whenever the batch
    accidentally contains a same-label or near-duplicate pair, which
    the loss then pushes apart. This audit materializes the exact
    batches a deterministic loader would form (hash-shuffled order
    inside doc-parallel groups, the same geometry as
    ``batch_padding_strategy``) and counts the poisoned pairs per
    batch.

    Output: one row per batch — (batch_id, n_vecs, n_pairs,
    same_label_pairs, near_pairs, max_sim) with near = cosine ≥ tau on
    the same rounded-double sequence the brute tier uses.

    Scale shape: pairs are confined to batches, so the self-join on
    (grp, batch) is O(N·(B−1)/2) rows TOTAL — linear in the corpus for
    fixed batch size, never all-pairs; one window shuffle assigns
    batches, one hash join forms them, one fold summarizes.
    """
    from ..functions import rolling_hash

    h = rolling_hash(F.concat(F.lit("batch:"), F.col("vec_id").cast("string")))
    w = Window.partitionBy("grp").orderBy(h.asc(), F.col("vec_id").asc())
    b = F.lit(int(batch_size))
    assigned = (
        emb.select(
            "vec_id",
            "label",
            "embedding",
            (F.col("vec_id") % n_groups).alias("grp"),
        )
        .withColumn("rn", F.row_number().over(w))
        .select(
            "vec_id",
            "label",
            "embedding",
            F.concat_ws(
                "-", F.col("grp"), ((F.col("rn") - 1) / b).cast("long")
            ).alias("batch_id"),
        )
    )
    a = assigned.select(
        "batch_id",
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("label_a"),
        F.col("embedding").alias("emb_a"),
    )
    c = assigned.select(
        "batch_id",
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("emb_b"),
    )
    pairs = (
        a.join(c, "batch_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "batch_id",
            "label_a",
            "label_b",
            F.round(cosine(F.col("emb_a"), F.col("emb_b")), ROUND).alias(
                "sim"
            ),
        )
    )
    sizes = assigned.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    folded = pairs.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("label_a") == F.col("label_b"), 1).otherwise(0))
        .cast("long")
        .alias("same_label_pairs"),
        F.sum(F.when(F.col("sim") >= tau, 1).otherwise(0))
        .cast("long")
        .alias("near_pairs"),
        F.max("sim").alias("max_sim"),
    )
    return sizes.join(folded, "batch_id", "left").select(
        "batch_id",
        "n_vecs",
        F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce("same_label_pairs", F.lit(0))
        .cast("long")
        .alias("same_label_pairs"),
        F.coalesce("near_pairs", F.lit(0)).cast("long").alias("near_pairs"),
        F.coalesce("max_sim", F.lit(0.0)).alias("max_sim"),
    ).orderBy("batch_id")


def inbatch_negative_audit_sql(
    batch_size: int = INBATCH_SIZE,
    n_groups: int = INBATCH_GROUPS,
    tau: float = INBATCH_NEAR_TAU,
) -> str:
    """Twin: same group/hash batch assignment, DuckDB's
    list_cosine_similarity on DOUBLE[] (the brute tier's established
    bitwise-equal twin), same folds."""
    from .oracle import ROLLING_HASH

    h = ROLLING_HASH.format(s="'batch:' || CAST(vec_id AS VARCHAR)")
    return f"""
    WITH assigned AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e,
               CAST(vec_id % {n_groups} AS VARCHAR) || '-' ||
               CAST((row_number() OVER (
                   PARTITION BY vec_id % {n_groups}
                   ORDER BY {h} ASC, vec_id ASC
               ) - 1) // {batch_size} AS VARCHAR) AS batch_id
        FROM embeddings
    ),
    pairs AS (
        SELECT a.batch_id, a.label AS label_a, b.label AS label_b,
               round(list_cosine_similarity(a.e, b.e), 6) AS sim
        FROM assigned a
        JOIN assigned b
          ON a.batch_id = b.batch_id AND a.vec_id < b.vec_id
    ),
    sizes AS (
        SELECT batch_id, CAST(count(*) AS BIGINT) AS n_vecs
        FROM assigned GROUP BY batch_id
    ),
    folded AS (
        SELECT batch_id,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN label_a = label_b THEN 1 ELSE 0 END)
                    AS BIGINT) AS same_label_pairs,
               CAST(sum(CASE WHEN sim >= {tau} THEN 1 ELSE 0 END)
                    AS BIGINT) AS near_pairs,
               max(sim) AS max_sim
        FROM pairs GROUP BY batch_id
    )
    SELECT s.batch_id, s.n_vecs,
           CAST(coalesce(f.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(f.same_label_pairs, 0) AS BIGINT)
               AS same_label_pairs,
           CAST(coalesce(f.near_pairs, 0) AS BIGINT) AS near_pairs,
           coalesce(f.max_sim, 0.0) AS max_sim
    FROM sizes s LEFT JOIN folded f USING (batch_id)
    ORDER BY s.batch_id
    """


def ann_mrr_eval(t: dict[str, DataFrame], k: int = 5) -> DataFrame:
    """MRR@k of the multi-probe LSH retrieval: at what position does
    the TRUE nearest neighbor (brute rank-1) appear in the approx
    list? The first-hit metric product search teams quote next to
    recall (set overlap, ``lsh_recall_eval``) and NDCG (full-list
    rank weighting, ``ann_ndcg_eval``) — completing the standard
    retrieval-eval triple on the same deterministic tiers.

    Output: one row per query — (query_id, true_rank, rr_micro) with
    rr_micro = 1e6 div rank (0 when the true neighbor is absent from
    the approx top-k); exact integers, no floats anywhere.

    Scale shape: reuses the bucket-bounded LSH plan and the
    broadcast-query brute plan at k=1 (fixed query panel — the eval
    never goes corpus×corpus); the grading join is |Q|-keyed metadata.
    """
    emb = t["embeddings"]
    truth = brute_topk(emb, k=1).select("query_id", "neighbor_id")
    approx = lsh_topk(emb, k=k).select("query_id", "neighbor_id", "rnk")
    return (
        truth.join(approx, ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            F.col("rnk").cast("long").alias("true_rank"),
            F.coalesce(
                F.expr("1000000 div rnk"), F.lit(0)
            )
            .cast("long")
            .alias("rr_micro"),
        )
        .orderBy("query_id")
    )


def ann_mrr_eval_sql(k: int = 5) -> str:
    """Twin: brute rank-1 truth looked up in the LSH oracle ranking,
    same integer reciprocal lattice."""
    from .oracle_text import brute_topk_sql, lsh_topk_sql

    return f"""
    WITH truth AS (
        SELECT query_id, neighbor_id FROM ({brute_topk_sql(k=1)})
    ),
    approx AS (
        SELECT query_id, neighbor_id, rnk FROM ({lsh_topk_sql(k=k)})
    )
    SELECT t.query_id,
           CAST(a.rnk AS BIGINT) AS true_rank,
           CAST(coalesce(1000000 // a.rnk, 0) AS BIGINT) AS rr_micro
    FROM truth t
    LEFT JOIN approx a
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    ORDER BY t.query_id
    """


RECALL_CURVE_KS = (1, 3, 5)


def lsh_recall_curve(
    t: dict[str, DataFrame], ks: tuple[int, ...] = RECALL_CURVE_KS
) -> DataFrame:
    """Recall@k of the LSH tier for SEVERAL k in one plan — the
    operating-point curve (``lsh_recall_eval`` reports one k; choosing
    the serving cutoff needs the trade across cutoffs): for each k,
    how many of the exact top-k neighbors appear in the approx top-k.

    Output: one row per k — (k, n_queries, hits, possible, recall_bp),
    exact integers (possible = n_queries·k).

    Scale shape: ONE brute pass and ONE LSH pass at max(ks), joined on
    (query, neighbor) metadata; the k fan-out is a |ks|-literal explode
    over the joined rank pairs — the curve costs one retrieval, not
    |ks|.
    """
    kmax = max(ks)
    emb = t["embeddings"]
    truth = brute_topk(emb, k=kmax).select(
        "query_id", "neighbor_id", F.col("rnk").alias("t_rnk")
    )
    approx = lsh_topk(emb, k=kmax).select(
        "query_id", "neighbor_id", F.col("rnk").alias("a_rnk")
    )
    joined = truth.join(approx, ["query_id", "neighbor_id"], "left")
    arms = joined.select(
        "query_id",
        "t_rnk",
        "a_rnk",
        F.explode(F.array(*[F.lit(int(k)) for k in ks])).alias("k"),
    ).filter(F.col("t_rnk") <= F.col("k"))
    nq = truth.select("query_id").distinct().count()
    return (
        arms.groupBy("k")
        .agg(
            F.sum(
                (
                    F.col("a_rnk").isNotNull()
                    & (F.col("a_rnk") <= F.col("k"))
                ).cast("int")
            )
            .cast("long")
            .alias("hits"),
            F.count(F.lit(1)).cast("long").alias("possible"),
        )
        .select(
            F.col("k").cast("long").alias("k"),
            F.lit(int(nq)).cast("long").alias("n_queries"),
            "hits",
            "possible",
            F.expr("(hits * 10000) div possible").cast("long").alias(
                "recall_bp"
            ),
        )
        .orderBy("k")
    )


def lsh_recall_curve_sql(ks: tuple[int, ...] = RECALL_CURVE_KS) -> str:
    """Twin: one brute + one LSH oracle ranking at max(ks), the same
    k fan-out and folds."""
    from .oracle_text import brute_topk_sql, lsh_topk_sql

    kmax = max(ks)
    kl = "[" + ", ".join(str(int(k)) for k in ks) + "]"
    return f"""
    WITH truth AS (
        SELECT query_id, neighbor_id, rnk AS t_rnk
        FROM ({brute_topk_sql(k=kmax)})
    ),
    approx AS (
        SELECT query_id, neighbor_id, rnk AS a_rnk
        FROM ({lsh_topk_sql(k=kmax)})
    ),
    joined AS (
        SELECT t.query_id, t.t_rnk, a.a_rnk
        FROM truth t
        LEFT JOIN approx a
          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    ),
    nq AS (SELECT count(DISTINCT query_id) AS n FROM truth),
    arms AS (
        SELECT query_id, t_rnk, a_rnk, unnest({kl}) AS k FROM joined
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(nq.n AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN a_rnk IS NOT NULL AND a_rnk <= k
                         THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           CAST(count(*) AS BIGINT) AS possible,
           CAST((sum(CASE WHEN a_rnk IS NOT NULL AND a_rnk <= k
                          THEN 1 ELSE 0 END) * 10000) // count(*)
                AS BIGINT) AS recall_bp
    FROM arms CROSS JOIN nq
    WHERE t_rnk <= k
    GROUP BY k, nq.n
    ORDER BY k
    """


def ivf_mrr_eval(t: dict[str, DataFrame], k: int = 5) -> DataFrame:
    """MRR@k of the IVF (coarse-quantizer) retrieval against the brute
    exact top-1 — the same first-hit grading as ``ann_mrr_eval`` over
    the other production ANN tier, so the two approximations are
    comparable on one reciprocal scale (mirrors the NDCG pair).

    Output/scale shape: identical to ann_mrr_eval (fixed query panel,
    |Q|-keyed metadata grading join)."""
    emb = t["embeddings"]
    truth = brute_topk(emb, k=1).select("query_id", "neighbor_id")
    approx = ivf_topk(emb, k=k).select("query_id", "neighbor_id", "rnk")
    return (
        truth.join(approx, ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            F.col("rnk").cast("long").alias("true_rank"),
            F.coalesce(F.expr("1000000 div rnk"), F.lit(0))
            .cast("long")
            .alias("rr_micro"),
        )
        .orderBy("query_id")
    )


def ivf_mrr_eval_sql(k: int = 5) -> str:
    """Twin: brute rank-1 truth looked up in the IVF oracle ranking."""
    from .oracle_text import brute_topk_sql, ivf_topk_sql

    return f"""
    WITH truth AS (
        SELECT query_id, neighbor_id FROM ({brute_topk_sql(k=1)})
    ),
    approx AS (
        SELECT query_id, neighbor_id, rnk FROM ({ivf_topk_sql(k=k)})
    )
    SELECT t.query_id,
           CAST(a.rnk AS BIGINT) AS true_rank,
           CAST(coalesce(1000000 // a.rnk, 0) AS BIGINT) AS rr_micro
    FROM truth t
    LEFT JOIN approx a
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    ORDER BY t.query_id
    """


# ---------------------------------------------------------------------------
# k-means elbow curve (round 8)
# ---------------------------------------------------------------------------

KMEANS_ELBOW_KS = (2, 4, 8)


def kmeans_elbow_curve(
    emb: DataFrame,
    ks: tuple[int, ...] = KMEANS_ELBOW_KS,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """The k-SIZING curve for the clustering family: total inertia
    after ``iters`` Lloyd rounds at each candidate k — the elbow read
    next to ``kmeans_silhouette``'s separation grade when choosing the
    cell count for SemDeDup / IVF / coreset tiers. Deterministic
    first-k seeding and lowest-cid tie-breaks, like every kmeans tier
    here, so each arm is engine-reproducible.

    Scale shape: ONE persisted (vec, dim, val) element relation shared
    by every arm (the embedding explode — the dominant map cost — runs
    once, not |ks| times); each arm is the standard fixed-iteration
    recurrence over it (assign = elems ⋈ k·d centroid broadcast-sized
    relation; update = k·d-row mean fold), ending in a 1-row inertia
    fold. Output: |ks| rows (k, n_vectors, inertia_r6).
    """
    elems = (
        emb.select("vec_id", F.posexplode("embedding").alias("dim", "val"))
        .withColumn("val", F.col("val").cast("double"))
        .transform(tracked_persist)
    )
    arms = []
    for k in ks:
        # identical recurrence to distributed_kmeans (via the shared
        # helper, r11 — previously an inline copy), over the shared
        # persisted element relation
        _, cent = _lloyd_relations(emb, k, iters, elems=elems)
        final = _assign_dists(elems, cent, top=1)
        arms.append(
            final.agg(
                F.lit(int(k)).cast("long").alias("k"),
                F.count(F.lit(1)).cast("long").alias("n_vectors"),
                F.round(F.sum("d2"), 6).alias("inertia_r6"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("k")


def kmeans_elbow_sql(
    ks: tuple[int, ...] = KMEANS_ELBOW_KS, iters: int = KMEANS_ITERS
) -> str:
    """Twin: the distributed_kmeans recurrence unrolled once per k
    (oracle_text._kmeans_cte: CTE names suffixed _k so the arms share
    one statement and the one elems CTE), total-inertia fold per arm."""
    from .oracle_text import _kmeans_cte

    union = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({k} AS BIGINT) AS k, "
        f"CAST(count(*) AS BIGINT) AS n_vectors, "
        f"round(sum(d2), 6) AS inertia_r6 FROM final_{k}"
        for k in ks
    )
    return f"""
    WITH {_kmeans_cte(ks, iters)}
    {union}
    ORDER BY k
    """


# ---------------------------------------------------------------------------
# ANN recall vs projection width (round 8)
# ---------------------------------------------------------------------------

RP_CURVE_OUTS = (2, 4, 8)
RP_CURVE_K = 5
RP_CURVE_PRED = "vec_id < 16"


def _recall_bp_fold(
    approx: DataFrame, truth: DataFrame, k: int, *head
) -> DataFrame:
    """One-row recall fold of an approx top-k against the exact top-k
    ``truth`` (both ``(query_id, neighbor_id, …)``): the ``head``
    columns, then ``n_queries`` (distinct queries in ``approx``),
    ``hits`` and ``recall_bp`` = hits·10^4 / (n_queries·k), rounded
    half up."""
    n_q = F.count_distinct("query_id")
    hit = F.coalesce(F.col("in_truth"), F.lit(0))
    flags = truth.select("query_id", "neighbor_id", F.lit(1).alias("in_truth"))
    return approx.join(flags, ["query_id", "neighbor_id"], "left").agg(
        *head,
        n_q.cast("long").alias("n_queries"),
        F.sum(hit).cast("long").alias("hits"),
        F.floor(F.sum(hit) * 10000.0 / (n_q * k) + F.lit(0.5))
        .cast("long")
        .alias("recall_bp"),
    )


def ann_recall_vs_dim(
    emb: DataFrame,
    outs: tuple[int, ...] = RP_CURVE_OUTS,
    k: int = RP_CURVE_K,
    query_pred: str = RP_CURVE_PRED,
) -> DataFrame:
    """The dimension-reduction OPERATING CURVE: top-k recall of
    cosine search over d-dimensional Rademacher projections (the
    `random_projection` sketch) against the full-dimension brute-force
    truth, for each candidate width d. This is the number that decides
    how far an index can shrink vectors before retrieval quality pays
    — the JL lemma bounds distortion in expectation; this measures the
    ranking consequence on YOUR corpus (sibling of
    `quantization_error_curve`, which prices bit-width the same way).

    Determinism: projections are exact ±1 integer dots on nano-
    quantized components (the random_projection lattice, one matrix
    per width from the shared seed); pair cosine folds the SAME
    doubles in index order on both engines, rounded 6 for ranking;
    all rankings tie-break by neighbor id.

    Scale shape: per width, a row-local projection + the bounded-query
    broadcast panel of the brute family (candidates x |panel| pairs,
    never corpus x corpus) + one top-k window and one hit-count fold.
    Output: one row per width.
    """
    truth = brute_topk(emb, k, query_pred)
    arms = []
    for out in outs:
        signs = _rp_signs(64, out)
        qarr = F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(1e9)).cast("long"),
        )
        comps = []
        for i in range(out):
            s_i = F.array(*[F.lit(int(s)) for s in signs[:, i]])
            comps.append(
                F.aggregate(
                    F.zip_with(qarr, s_i, lambda a, b: a * b.cast("long")),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).cast("double")
            )
        proj = emb.select("vec_id", F.array(*comps).alias("p"))
        q = proj.filter(query_pred).select(
            F.col("vec_id").alias("query_id"), F.col("p").alias("qp")
        )
        c = proj.select(
            F.col("vec_id").alias("neighbor_id"), F.col("p").alias("cp")
        )
        pairs = (
            F.broadcast(q)
            .crossJoin(c)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(cosine(F.col("qp"), F.col("cp")), ROUND).alias("sim"),
            )
        )
        arms.append(
            _recall_bp_fold(
                _ranked_topk(pairs, k),
                truth,
                k,
                F.lit(int(out)).cast("long").alias("out_dim"),
            )
        )
    res = arms[0]
    for a in arms[1:]:
        res = res.unionByName(a)
    return res.orderBy("out_dim")


def ann_recall_vs_dim_sql(
    outs: tuple[int, ...] = RP_CURVE_OUTS,
    k: int = RP_CURVE_K,
    query_pred: str = RP_CURVE_PRED,
) -> str:
    """Twin: per width, the VALUES-literal matrix + exact integer
    projection folded to an ordered double list, DuckDB's cosine on
    the same doubles, the shared top-k tail and brute truth
    (oracle_text), same hit fold."""
    from .oracle_text import _ranked_topk_sql, brute_topk_sql

    ctes, arms = [], []
    for out in outs:
        signs = _rp_signs(64, out)
        rows = ", ".join(
            f"({d}, {c}, {int(signs[d, c])})"
            for d in range(64)
            for c in range(out)
        )
        ctes.append(f"""m{out}(dim, comp, s) AS (VALUES {rows}),
    p{out} AS (
        SELECT e.vec_id,
               list(CAST(sum_v AS DOUBLE) ORDER BY comp) AS p
        FROM (
            SELECT e.vec_id, m.comp,
                   CAST(sum(m.s * e.qv) AS BIGINT) AS sum_v
            FROM el e JOIN m{out} m ON e.dim = m.dim
            GROUP BY e.vec_id, m.comp
        ) e GROUP BY e.vec_id
    ),
    pr{out} AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.p, c.p), 6) AS sim
        FROM (SELECT * FROM p{out} WHERE {query_pred}) q
        JOIN p{out} c ON q.vec_id <> c.vec_id
    ),
    ap{out} AS ({_ranked_topk_sql(f"pr{out}", k)})""")
        head = f"""CAST({out} AS BIGINT) AS out_dim,
           (SELECT CAST(count(DISTINCT query_id) AS BIGINT) FROM ap{out})
               AS n_queries"""
        arms.append(_recall_bp_arm_sql(f"ap{out}", k, head))
    chain = ",\n    ".join(ctes)
    union = "\n    UNION ALL\n    ".join(arms)
    return f"""
    WITH el AS (
        SELECT vec_id, t.i - 1 AS dim,
               CAST(floor(embedding[t.i]::DOUBLE * 1e9) AS BIGINT) AS qv
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    truth AS (
        SELECT query_id, neighbor_id FROM ({brute_topk_sql(k, query_pred)})
    ),
    {chain}
    {union}
    ORDER BY out_dim
    """


# ---------------------------------------------------------------------------
# multi-probe LSH radius curve (round 8)
# ---------------------------------------------------------------------------

LSH_PROBE_RADII = (0, 1, 2)


def lsh_probe_curve(
    emb: DataFrame,
    radii: tuple[int, ...] = LSH_PROBE_RADII,
    k: int = 5,
    query_pred: str = "vec_id < 20",
    dim: int = 64,
) -> DataFrame:
    """The probe-budget OPERATING CURVE for multi-probe LSH (Lv et al.
    2007) — the LSH sibling of ``ivf_nprobe_curve``: per probe radius
    r ∈ {0 = single-probe, 1 = the production default, 2}, the
    candidate volume actually paid and the top-k recall against the
    exact brute-force truth. The radius is THE accuracy/cost knob of
    the index; this measures both sides of the trade on your corpus.

    Shared work: ONE persisted bucket relation (the hyperplane pass —
    the dominant map cost — runs once, not |radii| times) and ONE
    brute-force truth pass; each arm differs only in the query-side
    probe explode (1, nbits+1, then +C(nbits,2) probes per table —
    the corpus-side index is untouched at every radius, so candidate
    cost is query-side-linear by construction).

    Output: (radius, n_probes_per_table, n_candidates, recall_bp).
    """
    buckets = lsh_buckets(emb, dim).transform(tracked_persist)
    truth = brute_topk(emb, k, query_pred)
    arms = []
    for r in radii:
        cand = _lsh_candidates(emb, buckets, query_pred, r)
        n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        arms.append(
            _recall_bp_fold(
                _refine_topk(emb, cand, k),
                truth,
                k,
                F.lit(int(r)).cast("long").alias("radius"),
                F.lit(len(_probe_masks(r))).cast("long").alias("n_probes_per_table"),
            )
            .crossJoin(F.broadcast(n_cand))
            .select(
                "radius", "n_probes_per_table", "n_candidates", "hits", "recall_bp"
            )
        )
    res = arms[0]
    for a in arms[1:]:
        res = res.unionByName(a)
    return res.orderBy("radius")


def lsh_probe_curve_sql(
    radii: tuple[int, ...] = LSH_PROBE_RADII,
    k: int = 5,
    query_pred: str = "vec_id < 20",
    dim: int = 64,
) -> str:
    """Twin: the shared plane-literal bucket CTE with one probe arm per
    radius (oracle_text._lsh_cte), the shared refine and brute truth,
    same folds."""
    from .oracle_text import _lsh_cte, _refine_topk_sql, brute_topk_sql

    ctes, arms = [], []
    for r in radii:
        ctes.append(f"top{r} AS ({_refine_topk_sql(f'cand{r}', k)})")
        head = f"""CAST({r} AS BIGINT) AS radius,
           CAST({len(_probe_masks(r))} AS BIGINT) AS n_probes_per_table,
           (SELECT CAST(count(*) AS BIGINT) FROM cand{r}) AS n_candidates"""
        arms.append(_recall_bp_arm_sql(f"top{r}", k, head))
    chain = ",\n    ".join(ctes)
    union = "\n    UNION ALL\n    ".join(arms)
    return f"""
    WITH {_lsh_cte(radii, query_pred, dim)},
    truth AS (
        SELECT query_id, neighbor_id FROM ({brute_topk_sql(k, query_pred)})
    ),
    {chain}
    {union}
    ORDER BY radius
    """


def _recall_bp_arm_sql(top: str, k: int, head: str) -> str:
    """One arm of the recall-curve twins: the ``head`` columns, then
    the hits of the approx top-k relation ``top`` in ``truth`` and the
    recall in basis points, half-up over n_queries·k (the twin of
    ``_recall_bp_fold``)."""
    hits = "coalesce(sum(CASE WHEN t.query_id IS NOT NULL THEN 1 ELSE 0 END), 0)"
    return f"""
    SELECT {head},
           CAST({hits} AS BIGINT) AS hits,
           CAST(floor({hits} * 10000.0
                / ((SELECT count(DISTINCT query_id) FROM {top}) * {k})
                + 0.5) AS BIGINT) AS recall_bp
    FROM {top} a
    LEFT JOIN truth t
      ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id"""


# ---------------------------------------------------------------------------
# centroid-proximity quality filtering (round 9)
# ---------------------------------------------------------------------------

# L2-to-own-centroid thresholds, in quantized units of GRAM_SCALE^-1:
# tau_q / GRAM_SCALE is the radius in embedding space. The fixture's
# intra-label spread sits in a narrow shell (measured: 0% kept at
# r=0.875, 74% at 1.0, 100% at 1.125), so the grid straddles that
# knee to give the curve both selective and permissive arms.
PROTO_TAUS_Q = (
    int(0.90 * (1 << 15)),
    int(0.95 * (1 << 15)),
    int(1.00 * (1 << 15)),
    int(1.05 * (1 << 15)),
    int(1.10 * (1 << 15)),
)


def embedding_prototype_filter(
    emb: DataFrame, taus_q: tuple[int, ...] = PROTO_TAUS_Q
) -> DataFrame:
    """Prototype-proximity quality filter curve: for each label, keep
    the vectors within L2 radius τ of that label's centroid
    (prototype), for a grid of τ — the embedding-space cousin of the
    quality-classifier threshold curve. Web-scale image/text pairs are
    routinely filtered by distance to a domain prototype (the
    cluster-core side of SemDeDup: SemDeDup drops near-DUPLICATES;
    this keeps the near-CORE), and the curve is what picks τ.

    EXACT across engines: components quantize to the GRAM_SCALE
    integer lattice q = floor(x·2^15); with per-label counts n and
    component sums s_d = Σq_d, the comparison
        Σ_d (n·q_d − s_d)²  ≤  τ_q² · n²
    is all-integer (both sides exact BIGINTs — the centroid division
    never happens), so the kept set is bit-identical on any engine
    and any partitioning.

    Scale shape: one posexplode to (label, dim, q) scalar triples, a
    |labels|×dim partial aggregate broadcast back (metadata-sized), a
    per-vector fold, then a per-row τ-grid explode (no join) into the
    (τ, label) aggregate. Nothing driver-sized; no Python.

    Output: (tau_q, label, n_vecs, n_kept, kept_bp).
    """
    elems = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("dim", "val"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.floor(F.col("val").cast("double") * GRAM_SCALE)
        .cast("long")
        .alias("q"),
    )
    cent = elems.groupBy("label", "dim").agg(
        F.sum("q").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # the residual fold runs in DECIMAL(38,0): (n·q − s)² reaches
    # n²·2^38 per component, which outgrows int64 once a label holds
    # ~2^12 vectors — real at 100 TB even though the fixture is safe
    diff = (F.col("n") * F.col("q") - F.col("s")).cast("decimal(38,0)")
    resid = (
        elems.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(diff * diff).cast("decimal(38,0)").alias("r2"),
            F.max("n").cast("long").alias("n"),
        )
    )
    fanned = resid.select(
        "label",
        "r2",
        "n",
        F.explode(F.array(*[F.lit(t) for t in taus_q])).alias("tau_q"),
    )
    bound = (
        F.col("tau_q").cast("decimal(38,0)")
        * F.col("tau_q")
        * F.col("n")
        * F.col("n")
    ).cast("decimal(38,0)")
    kept = (F.col("r2") <= bound).cast("long")
    n_vecs = F.count(F.lit(1)).cast("long")
    n_kept = F.sum(kept).cast("long")
    return (
        fanned.groupBy("tau_q", "label")
        .agg(
            n_vecs.alias("n_vecs"),
            n_kept.alias("n_kept"),
            F.floor(F.lit(1e4) * n_kept / n_vecs + F.lit(0.5))
            .cast("long")
            .alias("kept_bp"),
        )
        .orderBy("tau_q", "label")
    )


def embedding_prototype_filter_sql(
    taus_q: tuple[int, ...] = PROTO_TAUS_Q,
) -> str:
    tau_values = ", ".join(f"({t})" for t in taus_q)
    return f"""
    WITH elems AS (
        SELECT vec_id, label, t.i AS dim,
               CAST(floor(CAST(embedding[t.i] AS DOUBLE) * {GRAM_SCALE})
                    AS BIGINT) AS q
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    cent AS (
        SELECT label, dim,
               CAST(sum(q) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM elems GROUP BY label, dim
    ),
    resid AS (
        SELECT e.vec_id, e.label,
               CAST(sum(CAST(c.n * e.q - c.s AS DECIMAL(38,0))
                        * CAST(c.n * e.q - c.s AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS r2,
               CAST(max(c.n) AS BIGINT) AS n
        FROM elems e JOIN cent c ON e.label = c.label AND e.dim = c.dim
        GROUP BY e.vec_id, e.label
    ),
    taus(tau_q) AS (VALUES {tau_values})
    SELECT CAST(t.tau_q AS BIGINT) AS tau_q,
           r.label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN r.r2 <= CAST(t.tau_q AS DECIMAL(38,0))
                                      * t.tau_q * r.n * r.n
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(floor(1e4 * sum(CASE WHEN r.r2 <=
                                         CAST(t.tau_q AS DECIMAL(38,0))
                                         * t.tau_q * r.n * r.n
                                     THEN 1 ELSE 0 END)
                      / count(*) + 0.5) AS BIGINT) AS kept_bp
    FROM resid r CROSS JOIN taus t
    GROUP BY t.tau_q, r.label
    ORDER BY tau_q, label
    """
