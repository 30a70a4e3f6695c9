"""Similarity search tests: pandas == relational brute force, LSH
recall vs exact, near-pair symmetry bounds."""

from __future__ import annotations

from training_etl_demo_2_spark.operators import similarity


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, []).append((r.rnk, r.neighbor_id, r.sim))
    return out


def test_pandas_equals_relational(tables):
    a = _topk_sets(similarity.brute_topk(tables["embeddings"], k=5))
    b = _topk_sets(similarity.brute_topk_pandas(tables["embeddings"], k=5))
    assert a == b


def test_topk_shape_and_order(tables):
    got = _topk_sets(similarity.brute_topk(tables["embeddings"], k=3))
    assert len(got) == 20  # vec_id < 20 queries
    for q, rows in got.items():
        ranks = [r[0] for r in sorted(rows)]
        sims = [r[2] for r in sorted(rows)]
        assert ranks == [1, 2, 3]
        assert sims == sorted(sims, reverse=True)
        assert all(n != q for _, n, _ in rows)


def test_lsh_recall_against_brute(tables):
    """ANN tier must find nearly all true top-5 neighbors (fixture: 500
    vecs, 5-bit x 12-table hyperplane LSH with 1-bit multi-probe).
    Seeded planes make the measured recall exactly reproducible; floor
    kept slightly conservative."""
    exact = _topk_sets(similarity.brute_topk(tables["embeddings"], k=5))
    approx = _topk_sets(similarity.lsh_topk(tables["embeddings"], k=5))
    hits = total = 0
    for q, rows in exact.items():
        truth = {n for _, n, _ in rows}
        got = {n for _, n, _ in approx.get(q, [])}
        hits += len(truth & got)
        total += len(truth)
    assert hits / total >= 0.9, f"LSH recall {hits}/{total}"


def test_lsh_multiprobe_supersets_single_probe(tables):
    """Multi-probe may only ADD candidates: the shared candidate builder
    at radius 1 (lsh_topk's probe) returns every radius-0 (single-probe)
    pair, so its re-ranked top-5 holds at least the single-probe hits
    (same planes, wider probes)."""
    emb = tables["embeddings"]
    buckets = similarity.lsh_buckets(emb)
    cand = {
        r: similarity._lsh_candidates(emb, buckets, "vec_id < 20", r)
        for r in (0, 1)
    }
    pairs = {
        r: {(x.query_id, x.neighbor_id) for x in c.collect()}
        for r, c in cand.items()
    }
    assert pairs[0] and pairs[0] <= pairs[1]
    exact = _topk_sets(similarity.brute_topk(emb, k=5))
    single = _topk_sets(similarity._refine_topk(emb, cand[0], 5))
    multi = _topk_sets(similarity._refine_topk(emb, cand[1], 5))
    s_hits = m_hits = total = 0
    for q, rows in exact.items():
        truth = {n for _, n, _ in rows}
        s_hits += len(truth & {n for _, n, _ in single.get(q, [])})
        m_hits += len(truth & {n for _, n, _ in multi.get(q, [])})
        total += len(truth)
    assert m_hits >= s_hits


def test_ivf_recall_against_brute(tables):
    """IVF tier: probing 4/16 cells with 3-way spilled assignment
    (~25% of the corpus scanned, index ×3) must find nearly all true
    neighbors. Seeded codebook → the measured recall (0.96 on this
    fixture) is exactly reproducible; floor left slightly conservative."""
    exact = _topk_sets(similarity.brute_topk(tables["embeddings"], k=5))
    approx = _topk_sets(similarity.ivf_topk(tables["embeddings"], k=5))
    hits = total = 0
    for q, rows in exact.items():
        truth = {n for _, n, _ in rows}
        got = {n for _, n, _ in approx.get(q, [])}
        hits += len(truth & got)
        total += len(truth)
    assert hits / total >= 0.9, f"IVF recall {hits}/{total}"


def test_ivf_assignment_partitions_corpus(tables):
    """Every vector lands in exactly one cell; cells cover the corpus."""
    emb = tables["embeddings"]
    cents = similarity._ivf_centroids(emb, dim=64, n_centroids=8)
    cells = similarity.ivf_assign(emb, cents)
    assert cells.count() == emb.count()
    assert cells.select("vec_id").distinct().count() == emb.count()
    assert cells.agg({"cell": "max"}).collect()[0][0] < 8


def test_near_pairs_threshold(tables):
    pairs = similarity.cosine_near_pairs(tables["embeddings"], threshold=0.45).collect()
    assert all(p.sim >= 0.45 and p.vec_a < p.vec_b for p in pairs)


def test_near_pairs_strategies_agree(tables):
    """The exact block-pair default must equal the broadcast kernel
    pair-for-pair (both are exact); the LSH blocking tier may only MISS
    pairs, never invent or mis-score them."""
    emb = tables["embeddings"]
    exact = {
        (p.vec_a, p.vec_b): p.sim
        for p in similarity.cosine_near_pairs(emb, threshold=0.4).collect()
    }
    bcast = {
        (p.vec_a, p.vec_b): p.sim
        for p in similarity.cosine_near_pairs(
            emb, threshold=0.4, strategy="broadcast"
        ).collect()
    }
    assert exact == bcast
    lsh = {
        (p.vec_a, p.vec_b): p.sim
        for p in similarity.cosine_near_pairs(
            emb, threshold=0.4, strategy="lsh"
        ).collect()
    }
    assert set(lsh) <= set(exact)
    assert all(exact[k] == v for k, v in lsh.items())


def test_near_pairs_auto_dispatch(tables):
    """auto = exact at fixture scale (oracle tier); above the row
    ceiling it must run the LSH tier — i.e. the n²/B block replication
    is never built for big corpora. Both asserted by result identity
    with the explicitly-chosen strategy."""
    emb = tables["embeddings"]
    exact = {
        (p.vec_a, p.vec_b): p.sim
        for p in similarity.cosine_near_pairs(
            emb, threshold=0.4, strategy="exact"
        ).collect()
    }
    auto_small = {
        (p.vec_a, p.vec_b): p.sim
        for p in similarity.cosine_near_pairs(emb, threshold=0.4).collect()
    }
    assert auto_small == exact
    lsh = {
        (p.vec_a, p.vec_b): p.sim
        for p in similarity.cosine_near_pairs(
            emb, threshold=0.4, strategy="lsh"
        ).collect()
    }
    auto_big = {
        (p.vec_a, p.vec_b): p.sim
        for p in similarity.cosine_near_pairs(
            emb, threshold=0.4, auto_lsh_rows=10
        ).collect()
    }
    assert auto_big == lsh


def test_near_pairs_exact_multi_block(tables):
    """Force many blocks so the block-pair plan (not a single diagonal
    group) is what's exercised; result must be block-count invariant."""
    emb = tables["embeddings"]
    one = {
        (p.vec_a, p.vec_b)
        for p in similarity.cosine_near_pairs(emb, threshold=0.45).collect()
    }
    many = {
        (p.vec_a, p.vec_b)
        for p in similarity.cosine_near_pairs(
            emb, threshold=0.45, block_rows=16
        ).collect()
    }
    assert one == many


def test_semantic_dedup_invariants(tables):
    """SemDeDup invariants: (a) kept vectors within a cell are pairwise
    below the threshold; (b) every dropped vector has a kept
    representative in its cell at >= threshold with a smaller id
    (greedy order is ascending vec_id)."""
    import numpy as np

    from training_etl_demo_2_spark.operators.similarity import semantic_dedup

    thr = 0.45
    out = semantic_dedup(tables["embeddings"], threshold=thr).collect()
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in tables["embeddings"].collect()
    }
    for k, v in emb.items():
        n = np.linalg.norm(v)
        if n > 0:
            emb[k] = v / n
    assert len(out) == len(emb)  # total partition: every vector labeled
    by_cell: dict[int, list] = {}
    for r in out:
        by_cell.setdefault(r.cell, []).append(r)
    n_dropped = 0
    for cell, rows in by_cell.items():
        kept = [r.vec_id for r in rows if r.is_kept == 1]
        for i, a in enumerate(kept):
            for b in kept[i + 1:]:
                assert float(emb[a] @ emb[b]) < thr, (a, b)
        kept_set = set(kept)
        for r in rows:
            if r.is_kept == 0:
                n_dropped += 1
                assert r.rep_id in kept_set
                assert r.rep_id < r.vec_id
                assert float(emb[r.vec_id] @ emb[r.rep_id]) >= thr
            else:
                assert r.rep_id == r.vec_id
    assert n_dropped > 0  # the fixture embeddings contain semantic dups


def test_quantize_embeddings_roundtrip_error(tables):
    """Dequantized vectors are within half a quantization step of the
    originals, codes fit int8 range, and zero-max vectors emit zeros."""
    import numpy as np

    from training_etl_demo_2_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
           for r in tables["embeddings"].collect()}
    out = quantize_embeddings(tables["embeddings"]).collect()
    assert len(out) == len(emb)
    for r in out:
        x = emb[r.vec_id]
        q = np.asarray(r.q, dtype=np.float64)
        assert np.abs(q).max() <= 127
        if r.scale > 0:
            deq = q / r.scale
            step = 1.0 / r.scale
            assert np.abs(deq - x).max() <= 0.5 * step + 1e-9


def test_hybrid_rrf_fuses_both_rankings(tables):
    """RRF output: k rows, ordered, and contains docs from BOTH input
    lists (a doc ranked #1 on either side lands in the fused top-k when
    the other list is disjoint enough)."""
    from training_etl_demo_2_spark.operators.similarity import hybrid_rrf_topk

    out = hybrid_rrf_topk(tables["documents"], tables["embeddings"]).collect()
    assert len(out) == 10
    keys = [(-r.rrf, r.doc_id) for r in out]
    assert keys == sorted(keys)
    assert any(r.rnk_dense > 0 for r in out)
    assert any(r.rnk_sparse > 0 for r in out)
    # a doc present in both lists must outscore one present in neither list
    both = [r for r in out if r.rnk_dense > 0 and r.rnk_sparse > 0]
    only = [r for r in out if (r.rnk_dense > 0) != (r.rnk_sparse > 0)]
    if both and only:
        assert max(b.rrf for b in both) > min(o.rrf for o in only)


def test_label_centroid_stats_identical_cluster(spark):
    """A label whose members are all the same vector has cosine exactly
    1 and centroid norm equal to the vector norm; a spread-out label
    scores lower cosine."""
    import math

    from training_etl_demo_2_spark.operators.similarity import (
        label_centroid_stats,
    )

    rows = [
        (1, [3.0, 4.0], 0),
        (2, [3.0, 4.0], 0),
        (3, [1.0, 0.0], 1),
        (4, [0.0, 1.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r.label: r for r in label_centroid_stats(df).collect()}
    assert out[0].n_vectors == 2
    assert abs(out[0].mean_cos_to_centroid - 1.0) < 1e-6
    assert abs(out[0].centroid_norm - 5.0) < 1e-6
    # orthogonal pair: centroid (0.5, 0.5), cos(member, centroid)=1/sqrt(2)
    assert abs(out[1].mean_cos_to_centroid - 1 / math.sqrt(2)) < 1e-6
    assert out[1].mean_cos_to_centroid < out[0].mean_cos_to_centroid


def test_distributed_kmeans_recovers_planted_clusters(spark):
    """Two well-separated blobs with k=2: every point lands with its
    blob, inertia is the within-blob spread only."""
    from training_etl_demo_2_spark.operators.similarity import (
        distributed_kmeans,
    )

    rows = []
    for i in range(10):  # blob A near (0, 0), ids 0/2/4..; B near (100, 100)
        rows.append((2 * i, [0.0 + (i % 3) * 0.1, 0.0], 0))
        rows.append((2 * i + 1, [100.0, 100.0 + (i % 3) * 0.1], 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r.cluster_id: r for r in distributed_kmeans(df, k=2, iters=3).collect()}
    # init = vec_ids 0 (blob A) and 1 (blob B): each blob keeps its 10
    assert {r.n_members for r in out.values()} == {10}
    assert all(r.inertia < 1.0 for r in out.values())


def test_gram_matrix_matches_dense_numpy(spark, tables):
    """The distributed integer gram fold equals the dense numpy
    computation on the collected fixture, and is exactly invariant to
    repartitioning (integer sums commute)."""
    import numpy as np

    from training_etl_demo_2_spark.operators.similarity import (
        GRAM_SCALE,
        embedding_gram_matrix,
    )

    emb = tables["embeddings"]
    out = {
        (r.i, r.j): r.gram_q
        for r in embedding_gram_matrix(emb).collect()
    }
    x = np.stack(
        [r.embedding for r in emb.orderBy("vec_id").collect()]
    ).astype(np.float64)
    q = np.floor(x * GRAM_SCALE).astype(np.int64)
    want = q.T @ q
    n, d = q.shape
    assert out[(-1, -1)] == n
    for i in range(d):
        assert out[(i, -1)] == q[:, i].sum()
    for i in range(0, d, 7):
        for j in range(i, d, 11):
            assert out[(i, j)] == want[i, j]
    # exact partition invariance
    out2 = {
        (r.i, r.j): r.gram_q
        for r in embedding_gram_matrix(emb.repartition(7)).collect()
    }
    assert out == out2


def test_pca_projection_invariants(spark, tables):
    """Driver-eigh PCA over the gram statistic: per-component variance
    is the eigenvalue (descending), components decorrelate, and the
    output is deterministic across partitionings (sign-fixed basis on
    exact-integer input)."""
    import numpy as np

    from training_etl_demo_2_spark.operators.similarity import pca_project

    emb = tables["embeddings"]
    k = 4
    rows = pca_project(emb, k=k).orderBy("vec_id").collect()
    p = np.stack([r.pc for r in rows])
    assert p.shape[1] == k
    # centered: projections of mean-centered data have ~zero mean
    assert np.all(np.abs(p.mean(axis=0)) < 1e-3)
    var = p.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(k - 1))
    # decorrelated: off-diagonal covariance ~ 0 relative to variances
    cov = np.cov(p.T)
    off = cov - np.diag(np.diag(cov))
    assert np.all(np.abs(off) < 1e-4 * max(var))
    rows2 = pca_project(emb.repartition(5), k=k).orderBy("vec_id").collect()
    p2 = np.stack([r.pc for r in rows2])
    assert np.array_equal(p, p2)


def test_mmr_interleaves_diverse_picks(spark):
    """A redundant cluster of near-copies of direction A plus one
    direction-B vector: plain top-2 is two A-copies, MMR picks A then
    B (the redundancy penalty beats the relevance gap)."""
    import math

    from training_etl_demo_2_spark.operators.similarity import (
        mmr_diverse_topk,
    )

    def vec(deg):
        t = math.radians(deg)
        return [math.cos(t), math.sin(t)] + [0.0] * 62

    # query at 0 deg; a tight cluster at ~10 deg (mutual sim ~1.0,
    # rel ~0.985); one diverse vector at -25 deg (rel ~0.906, sim to
    # the cluster ~cos(35) = 0.819)
    rows = [(0, vec(0.0), 0)]
    for i in range(1, 4):
        rows.append((i, vec(10.0 + 0.1 * i), 0))
    rows.append((10, vec(-25.0), 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = mmr_diverse_topk(df, k=3, n_cand=4).orderBy("mmr_rank").collect()
    assert [r.mmr_rank for r in out] == [1, 2, 3]
    assert out[0].vec_id == 1  # most relevant cluster member
    assert out[1].vec_id == 10  # MMR jumps to the diverse direction
    # plain relevance order would have put another cluster copy second
    assert out[2].vec_id in {2, 3}


def test_filtered_topk_respects_label(spark, tables):
    """Every returned neighbor shares the query's label, and for a
    query whose label has few members the list is short — the property
    post-hoc filtering of an unfiltered top-k cannot guarantee."""
    from training_etl_demo_2_spark.operators.similarity import (
        brute_topk,
        filtered_topk,
    )

    emb = tables["embeddings"]
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    rows = filtered_topk(emb, k=5).collect()
    assert rows
    for r in rows:
        assert labels[r.query_id] == labels[r.neighbor_id], r
    # filtered results are a subset of the same-label pairs of the
    # unfiltered ranking universe; ranks are contiguous from 1
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rnk)
    for q, rnks in by_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1)), q
    # sanity: unfiltered brute_topk may cross labels on this fixture
    unf = brute_topk(emb, k=5).collect()
    assert any(labels[r.query_id] != labels[r.neighbor_id] for r in unf)


def test_knn_label_agreement_separated_clusters(spark):
    """Two well-separated clusters: every query's neighbors share its
    label, so agreement must be 100% per label."""
    import random

    rng = random.Random(7)
    rows = []
    for vid in range(40):
        label = 0 if vid < 20 else 1
        base = [10.0, 0.0, 0.0] if label == 0 else [0.0, 10.0, 0.0]
        rows.append(
            (vid, [b + rng.uniform(-0.1, 0.1) for b in base], label)
        )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    from training_etl_demo_2_spark.operators.similarity import (
        knn_label_agreement,
    )

    out = {r.label: r for r in knn_label_agreement(emb, k=5, query_mod=4).collect()}
    assert set(out) == {0, 1}
    for lab, r in out.items():
        assert r.n_agree == r.n_queries
        assert r.agree_pct == 1.0


def test_knn_suspects_flags_planted_mislabels(spark):
    """A vector placed deep inside the other cluster but labeled
    against it must appear in the suspect queue; clean vectors must
    not."""
    import random

    rng = random.Random(11)
    rows = []
    for vid in range(40):
        label = 0 if vid < 20 else 1
        base = [10.0, 0.0] if label == 0 else [0.0, 10.0]
        rows.append((vid, [b + rng.uniform(-0.1, 0.1) for b in base], label))
    # vid 40: sits in cluster 1's region but carries label 0
    rows.append((40, [0.0, 10.0], 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    from training_etl_demo_2_spark.operators.similarity import (
        knn_label_suspects,
    )

    out = knn_label_suspects(emb, k=5, query_mod=4).collect()
    flagged = {r.query_id: r for r in out}
    assert 40 in flagged
    assert flagged[40].own_label == 0 and flagged[40].voted_label == 1
    assert all(q == 40 for q in flagged)  # clean sampled vectors stay off


def test_pq_recall_against_brute(tables):
    """PQ/ADC tier: the integer ADC shortlist (m=8, k=16 codes,
    refine=100) re-ranked with exact cosines must find nearly all true
    neighbors (measured 0.92-0.94 on the fixtures; floor conservative)."""
    exact = _topk_sets(similarity.brute_topk(tables["embeddings"], k=5))
    approx = _topk_sets(similarity.pq_topk(tables["embeddings"], k=5))
    hits = total = 0
    for q, rows in exact.items():
        truth = {n for _, n, _ in rows}
        got = {n for _, n, _ in approx.get(q, [])}
        hits += len(truth & got)
        total += len(truth)
    assert hits / total >= 0.85, f"PQ recall {hits}/{total}"


def test_pq_codes_cover_corpus(tables):
    """Every vector gets exactly one code per subspace, codes in range."""
    emb = tables["embeddings"]
    books = similarity._pq_codebooks(
        emb, dim=64, m=similarity.PQ_M, k=similarity.PQ_K
    )
    assert books.shape == (similarity.PQ_M, similarity.PQ_K, 64 // similarity.PQ_M)
    codes = similarity.pq_codes(emb, books).collect()
    assert len(codes) == emb.count()
    for r in codes:
        assert len(r.codes) == similarity.PQ_M
        assert all(0 <= c < similarity.PQ_K for c in r.codes)


def test_pca_power_matches_eigh_and_is_partition_invariant(spark, tables):
    """The integer power-iteration tier (the oracle-backed registry
    query since round 6). The fixture spectrum is Marchenko-Pastur-flat
    (lambda2/lambda1 ~= 0.93), so individual DEEP eigenvectors are
    ill-defined for any algorithm; the pinned invariants are the
    rotation-invariant ones: (a) the leading component agrees with eigh
    (contamination <= (l2/l1)^64 ~= 1%), (b) the k-dim power basis
    captures nearly the same variance as eigh's top-k (the subspace is
    principal even where individual axes within near-degenerate blocks
    rotate), (c) projections are centered and bit-identical across
    partitionings."""
    import numpy as np

    from training_etl_demo_2_spark.operators.similarity import (
        pca_project,
        pca_project_power,
    )

    emb = tables["embeddings"]
    k = 4
    rows = pca_project_power(emb, k=k).orderBy("vec_id").collect()
    p = np.stack([r.pc for r in rows])
    rows_e = pca_project(emb, k=k).orderBy("vec_id").collect()
    pe = np.stack([r.pc for r in rows_e])
    a, b = p[:, 0], pe[:, 0]
    cos = abs(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b))
    assert cos >= 0.97, cos
    # captured variance of the power basis ~= eigh's top-k variance
    assert p.var(axis=0).sum() >= 0.95 * pe.var(axis=0).sum()
    # centered projections
    assert np.all(np.abs(p.mean(axis=0)) < 1e-3)
    rows2 = pca_project_power(emb.repartition(5), k=k).orderBy("vec_id").collect()
    p2 = np.stack([r.pc for r in rows2])
    assert np.array_equal(p, p2)


def test_duckdb_intdiv_truncates_toward_zero():
    """pca_projection_power_sql's exactness rests on DuckDB's BIGINT
    `//` truncating toward zero (matching similarity._tdiv). Pin the
    engine semantics so an upgrade that switches to floor division
    fails HERE, not as an opaque hash mismatch."""
    import duckdb

    assert duckdb.connect().execute(
        "SELECT (-7)//2, 7//2, CAST(-7 AS BIGINT)//CAST(2 AS BIGINT)"
    ).fetchone() == (-3, 3, -3)


def test_kcenter_coreset_diversity_and_trace(spark, tables):
    """Gonzalez greedy: the coverage-radius trace is non-increasing
    after the first pick, and on a constructed corpus (tight cluster +
    one far outlier) the outlier is selected before any second cluster
    member."""
    import numpy as np

    from training_etl_demo_2_spark.operators.similarity import (
        kcenter_coreset,
    )

    out = kcenter_coreset({"embeddings": tables["embeddings"]}, k=6).collect()
    assert [r.sel_rank for r in sorted(out, key=lambda r: r.sel_rank)] == list(
        range(6)
    )
    trace = [r.d2_q for r in sorted(out, key=lambda r: r.sel_rank)][1:]
    assert all(a >= b for a, b in zip(trace, trace[1:]))
    assert len({r.vec_id for r in out}) == 6

    def vec(base, eps):
        v = [0.0] * 64
        v[0] = base
        v[1] = eps
        return v

    toy = spark.createDataFrame(
        [(i, vec(1.0, 0.001 * i), 0) for i in range(5)]
        + [(99, vec(-1.0, 0.0), 0)],
        "vec_id long, embedding array<float>, label int",
    )
    picks = [
        r.vec_id
        for r in sorted(
            kcenter_coreset({"embeddings": toy}, k=3).collect(),
            key=lambda r: r.sel_rank,
        )
    ]
    assert picks[1] == 99 or picks[0] == 99  # outlier in the first two

    # corpus smaller than k: early stop, one row per vector
    small = spark.createDataFrame(
        [(1, vec(1.0, 0.0), 0), (2, vec(0.5, 0.5), 0)],
        "vec_id long, embedding array<float>, label int",
    )
    assert kcenter_coreset({"embeddings": small}, k=8).count() == 2
