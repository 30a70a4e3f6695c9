"""Planted tests for the round-7 batch-D operators: edit-distance
verify tier, MRR retrieval eval, and the streaming packer's cross-batch
state continuation."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from training_etl_demo_2_spark.operators import curation, dedup, similarity


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


# --- dedup_edit_distance -----------------------------------------------------


def test_edit_distance_catches_jaccard_blind_edit(spark):
    """A one-word in-place substitution: shingle Jaccard drops (three
    3-gram shingles change) while Levenshtein moves by just the word's
    character delta. The pair must pass the edit tier with the exact
    integer distance, and identical docs score lev = 0."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    edited = base.replace("epsilon", "epsilons")
    rows = [
        (1, base, "en", "s"),
        (2, edited, "en", "s"),
        (3, base, "en", "s"),
        (4, "entirely different words compose this document here", "en", "s"),
    ]
    out = {
        (r.doc_a, r.doc_b): r
        for r in dedup.dedup_edit_distance(_docs(spark, rows)).collect()
    }
    assert (1, 3) in out and out[(1, 3)].lev == 0 and out[(1, 3)].lev_bp == 0
    assert (1, 2) in out and out[(1, 2)].lev == 1  # one inserted char
    assert all(r.lev_bp <= 2000 for r in out.values())
    assert not any(4 in k for k in out)


def test_edit_distance_threshold_excludes(spark):
    """A candidate pair whose normalized distance exceeds max_bp is
    dropped even though banding proposed it."""
    a = "alpha beta gamma delta epsilon zeta eta theta"
    # a's full text as suffix keeps the shingle sets (and bands) close,
    # while the 6-char prefix pushes normalized lev above a tight cut
    b = "x1 x2 " + a
    rows = [(1, a, "en", "s"), (2, b, "en", "s")]
    loose = dedup.dedup_edit_distance(_docs(spark, rows), max_bp=10000)
    assert loose.count() >= 1  # banding proposes the pair
    lev_bp = loose.collect()[0].lev_bp
    strict = dedup.dedup_edit_distance(
        _docs(spark, rows), max_bp=lev_bp - 1
    )
    assert strict.count() == 0


# --- ann_mrr_eval --------------------------------------------------------------


def test_ann_mrr_bounds_and_perfect_recall_case(spark, tables):
    """rr_micro ∈ {0} ∪ [1e6/k, 1e6], one row per query, and whenever
    the true neighbor sits at approx rank 1 the reciprocal is exactly
    1e6."""
    rows = similarity.ann_mrr_eval(tables).collect()
    qn = similarity.brute_topk(tables["embeddings"], k=1).count()
    assert len(rows) == qn
    for r in rows:
        if r.true_rank is None:
            assert r.rr_micro == 0
        else:
            assert 1 <= r.true_rank <= 5
            assert r.rr_micro == 1_000_000 // r.true_rank


# --- stream_pack_sequences ------------------------------------------------------


def test_pack_stream_state_spans_micro_batches(spark, tmp_path):
    """The REAL streaming claim: the (seq, acc) accumulator carries
    across micro-batches. Two parquet files streamed with
    maxFilesPerTrigger=1 are two batches; a group's open pack must
    absorb the second batch's first doc instead of restarting at
    seq 0 — i.e. the streamed result equals the batch packer on the
    union corpus."""
    from training_etl_demo_2_spark.streaming.stateful import pack_stream

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows1 = [(i, " ".join(["w"] * 100), "en", "s") for i in range(0, 4)]
    rows2 = [(i, " ".join(["w"] * 100), "en", "s") for i in range(4, 8)]
    d = str(tmp_path / "stream_src")
    os.makedirs(d, exist_ok=True)
    cols = ["doc_id", "text", "lang", "source"]
    now = int(time.time())
    for age, (name, rows) in zip((20, 10), (("b1", rows1), ("b2", rows2))):
        tbl = pa.table(
            {c: [r[i] for r in rows] for i, c in enumerate(cols)},
            schema=pa.schema(
                [
                    ("doc_id", pa.int64()),
                    ("text", pa.string()),
                    ("lang", pa.string()),
                    ("source", pa.string()),
                ]
            ),
        )
        path = os.path.join(d, f"{name}.parquet")
        pq.write_table(tbl, path)
        # The file source takes files in modification-time order; two
        # files written in the same millisecond come in listing order,
        # so pin b1 before b2.
        os.utime(path, (now - age, now - age))

    schema = spark.read.parquet(os.path.join(d, "b1.parquet")).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = pack_stream(src, budget=256, n_groups=1)
    q = (
        out.writeStream.format("memory")
        .queryName("t_pack_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    q.stop()
    got = {
        r.doc_id: r.pack_id for r in spark.table("t_pack_stream").collect()
    }
    want = {
        r.doc_id: r.pack_id
        for r in curation.pack_sequences(
            _docs(spark, rows1 + rows2), budget=256, n_groups=1
        ).collect()
    }
    assert got == want
    # 100-token docs, budget 256: packs hold 2 docs each. If state
    # were lost at the batch boundary, batch 2 would restart at seq 0
    # and its pack ids would COLLIDE with batch 1's (4 ids collapse to
    # 2); continuation keeps 4 distinct packs with doc 4 opening seq 2
    assert got[4] == got[5]
    assert len(set(got.values())) == 4


# --- salt_factor_curve ----------------------------------------------------------


def test_salt_factor_curve_monotone(spark, tables):
    """More salt never increases the straggler bound, never changes the
    total, and only multiplies the key count: max_load non-increasing,
    total_rows constant, n_keys non-decreasing in salt; salt 1 has
    exactly the unsalted distinct-word key count."""
    from training_etl_demo_2_spark.operators import skew

    rows = sorted(
        skew.salt_factor_curve(tables).collect(), key=lambda r: r.salt
    )
    assert [r.salt for r in rows] == [1, 2, 4, 8]
    totals = {r.total_rows for r in rows}
    assert len(totals) == 1
    for a, b in zip(rows, rows[1:]):
        assert b.max_load <= a.max_load
        assert b.n_keys >= a.n_keys
    n_words = (
        tables["documents"]
        .select(F.explode(F.split("text", " ")).alias("w"))
        .select("w")
        .distinct()
        .count()
    )
    assert rows[0].n_keys == n_words


# --- cms_rollup_merge -----------------------------------------------------------


def test_cms_rollup_merge_lossless(spark, tables):
    """Cell-wise summed per-source grids must equal the direct grid
    (zero mismatches), and both estimates upper-bound the true count
    identically."""
    from training_etl_demo_2_spark.operators import sketches

    r = sketches.cms_rollup_merge(tables).collect()[0]
    assert r.mismatched_cells == 0
    assert r.cells > 0
    assert r.est_merged == r.est_direct >= r.true_cnt > 0
    assert r.n_sources >= 2


# --- incremental_pipeline_e2e ---------------------------------------------------


def test_incremental_pipeline_composition_effects(spark):
    """The two effects only the COMPOSED per-delivery job shows:
    (a) a batch doc that is within-batch unique but an exact copy of a
    CORPUS doc dies at the fingerprint tier; (b) a batch doc that
    survives exact dedup still dies when a corpus NEAR-twin shares a
    band bucket. A genuinely novel batch doc flows through to the
    packed manifest."""
    from training_etl_demo_2_spark.plans.corpus_pipeline import (
        incremental_pipeline_e2e,
    )

    # all docs must clear the Gopher gate (>= 50 words, >= 2 stopword
    # hits, mean word length 3..10) so the kills land at the DEDUP tiers
    corpus_text = " ".join(
        ["the", "alpha", "beta", "gamma", "delta", "epsilon",
         "zeta", "eta", "theta", "iota"] * 6
    )
    near_text = corpus_text + " lambda"  # high-Jaccard corpus twin
    novel = " ".join(
        ["the", "fresh", "novel", "delivery", "content", "with",
         "many", "unseen", "words", "here"] * 6
    )
    rows = [
        # corpus (doc_id % 5 != 0)
        (1, corpus_text, "en", "s"),
        (2, near_text, "en", "s"),
        # incoming delivery (doc_id % 5 == 0)
        (5, corpus_text, "en", "s"),   # exact copy of corpus doc 1
        (10, near_text + " mu", "en", "s"),  # near-twin of corpus doc 2
        (15, novel, "en", "s"),        # genuinely new
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = incremental_pipeline_e2e({"documents": df}).collect()
    accepted = {r.doc_id for r in out}
    assert 5 not in accepted   # killed by the corpus fingerprint set
    assert 10 not in accepted  # killed by the corpus band index
    assert 15 in accepted      # packed into the delivery manifest
    assert all(r.pack_id for r in out)


# --- lsh_recall_curve -----------------------------------------------------------


def test_lsh_recall_curve_shape(spark, tables):
    """One row per k; possible = n_queries·k exactly; recall_bp within
    [0, 10000]; recall@k must equal lsh_recall_eval-style overlap at
    the single-k operating point (k=5 arm equals hits/possible of the
    full lists)."""
    from training_etl_demo_2_spark.operators import similarity

    rows = {r.k: r for r in similarity.lsh_recall_curve(tables).collect()}
    assert set(rows) == {1, 3, 5}
    for k, r in rows.items():
        assert r.possible == r.n_queries * k
        assert 0 <= r.hits <= r.possible
        assert 0 <= r.recall_bp <= 10000
        assert r.recall_bp == (r.hits * 10000) // r.possible


# --- packing_ffd_gain -----------------------------------------------------------


def test_packing_ffd_never_more_packs(spark):
    """FFD can only match or reduce the pack count of the arrival-order
    first-fit on the same corpus, and both conserve real tokens. A
    crafted pathological arrival order (big/small interleave) makes the
    gain strict."""
    from training_etl_demo_2_spark.operators import curation

    # budget 10; sizes 6,5,6,5... arrival pairs (6,?) -> one doc per
    # pack; FFD groups 6+? differently: 6s alone but 5+5 share
    rows = []
    for i in range(16):
        n = 6 if i % 2 == 0 else 5
        rows.append((i, " ".join(["w"] * n), "en", "s"))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {
        r.strategy: r
        for r in curation.packing_ffd_gain(
            df, budget=10, n_groups=1
        ).collect()
    }
    assert out["ffd"].real_tokens == out["arrival"].real_tokens == 88
    assert out["ffd"].n_packs <= out["arrival"].n_packs
    # arrival: 6,5 never fit together -> 16 packs; ffd: eight 6s alone
    # (8 packs) + eight 5s paired (4 packs) = 12
    assert out["arrival"].n_packs == 16
    assert out["ffd"].n_packs == 12
    assert out["ffd"].waste_bp < out["arrival"].waste_bp


# --- shingle_n_curve ------------------------------------------------------------


def test_shingle_n_curve_monotone_vocab(spark):
    """Larger n can only grow the distinct-shingle vocabulary on a
    fixed corpus (each position yields a more specific gram), and a
    verbatim duplicate pair scores exact at EVERY n; docs shorter than
    n vanish from that arm's doc count."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base, "en", "s"),
        (2, base, "en", "s"),
        (3, "tiny doc", "en", "s"),  # 2 tokens: has 2-grams, no 3/5-grams
        (4, "other words entirely here now friend", "en", "s"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {r.n: r for r in dedup.shingle_n_curve(df).collect()}
    assert set(out) == {2, 3, 5}
    assert out[2].n_docs_with_shingles == 4
    assert out[3].n_docs_with_shingles == 3
    assert out[5].n_docs_with_shingles == 3
    for r in out.values():
        assert r.exact_pairs >= 1  # docs 1 and 2 are verbatim copies
        assert r.pairs_j80 >= r.exact_pairs
        assert r.pairs_j50 >= r.pairs_j80


# --- dup_rate_by_length ---------------------------------------------------------


def test_dup_rate_by_length_buckets(spark):
    """Exact integer log2 buckets (binary-length rule), exact dup
    accounting per bucket: planted short dups land in the short bucket
    only."""
    short_dup = "alpha beta gamma delta"  # 4 tokens -> bucket 2
    long_unique = " ".join(f"w{i}" for i in range(32))  # bucket 5
    rows = [
        (1, short_dup, "en", "s"),
        (2, short_dup, "en", "s"),
        (3, long_unique, "en", "s"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {r.len_bucket: r for r in dedup.dup_rate_by_length(df).collect()}
    assert set(out) == {2, 5}
    assert out[2].n_docs == 2
    assert out[2].exact_dup_docs == 2 and out[2].exact_dup_bp == 10000
    assert out[5].exact_dup_docs == 0 and out[5].exact_dup_bp == 0
    assert out[2].near_dup_docs == 2  # verbatim copies are near-dups too


# --- filter/dedup bias audits ---------------------------------------------------


def test_filter_bias_audit_shifts_mixture(spark):
    """A source whose docs all fail the Gopher gate must end at
    share_after_bp == 0 with a negative delta; survivors' shares sum
    to ~10000; kept counts never exceed doc counts."""
    good = " ".join(
        ["the", "alpha", "beta", "gamma", "delta", "epsilon",
         "zeta", "eta", "theta", "iota"] * 6
    )
    rows = [(i, good, "en", "good_src") for i in range(4)] + [
        (10 + i, "way too short", "en", "bad_src") for i in range(4)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {r.source: r for r in curation.filter_bias_audit(df).collect()}
    assert out["bad_src"].n_kept == 0
    assert out["bad_src"].share_after_bp == 0
    assert out["bad_src"].delta_bp < 0
    assert out["good_src"].share_after_bp == 10000
    assert out["good_src"].delta_bp == 5000
    for r in out.values():
        assert 0 <= r.n_kept <= r.n_docs


def test_dedup_bias_audit_keep_first_favors_low_ids(spark):
    """Two sources publish the same content; keep-first assigns every
    duplicate group to the lower doc_id — the copying source's share
    collapses while the originator's rises."""
    text = "alpha beta gamma delta epsilon zeta"
    rows = [(i, text + f" v{i}", "en", "orig") for i in range(3)] + [
        (10 + i, text + f" v{i}", "en", "copier") for i in range(3)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {r.source: r for r in curation.dedup_bias_audit(df).collect()}
    assert out["orig"].n_kept == 3
    assert out["copier"].n_kept == 0
    assert out["orig"].share_after_bp == 10000
    assert out["copier"].delta_bp == -5000


# --- fingerprint_collision_audit -------------------------------------------------


def test_fingerprint_collision_audit_planted_collision(spark):
    """distinct_keys >= distinct_hashes always, and a crafted pair of
    DIFFERENT grams with the same rolling hash is reported as a
    collision. (31*P is congruent to adding a leading NUL — instead we
    plant two one-word docs whose hashes collide by construction:
    h('a'·k) cycles, so use the audit's own arithmetic to find one.)"""
    from training_etl_demo_2_spark.operators import dedup as dd

    # engineer two distinct LOWERCASE-STABLE words with equal rolling
    # hash (the doc tier hashes normalize_text(x), which lowercases —
    # so the collision must survive lower()): with tails over [a-z0-9]
    # the ord spread is 74 > 2*31, so 31*(c1-c1') = c2'-c2 has the
    # solution c1 'c'->'a' (+2·31) against c2 '0'->'n' (+62):
    # 31*99+48 == 31*97+110
    a, b = "xc0", "xan"
    P = 1_000_000_007

    def rh(s):
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % P
        return acc

    assert a != b and a == a.lower() and b == b.lower()
    assert rh(a) == rh(b)
    rows = [(1, a, "en", "s"), (2, b, "en", "s")]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {
        r.tier: r for r in dd.fingerprint_collision_audit(df).collect()
    }
    fp = out["doc_fingerprint"]
    assert fp.distinct_keys == 2       # two distinct normalized texts
    assert fp.distinct_hashes == 1     # one shared hash value
    assert fp.colliding_hashes == 1
    assert fp.collision_bp == 10000
    for r in out.values():
        assert r.distinct_keys >= r.distinct_hashes


# --- budget_waterfill_plan ------------------------------------------------------


def test_waterfill_budget_exact_with_caps(spark):
    """sum(granted) == budget EXACTLY; a source smaller than the water
    level is capped at its availability; free sources differ by at
    most one token (max-min fairness), remainder to lexicographically
    first."""
    # avail: tiny=4, a=40, b=40, c=40 tokens -> tot=124, budget=41
    # (den 3); tiny capped at 4; level=(41-4)//3=12 rem 1 -> a gets 13
    rows = [
        (1, " ".join(["w"] * 4), "en", "tiny"),
        (2, " ".join(["w"] * 40), "en", "a"),
        (3, " ".join(["w"] * 40), "en", "b"),
        (4, " ".join(["w"] * 40), "en", "c"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {r.source: r for r in curation.budget_waterfill_plan(df).collect()}
    budget = (4 + 40 * 3) // 3
    assert sum(r.granted_tokens for r in out.values()) == budget
    assert out["tiny"].capped and out["tiny"].granted_tokens == 4
    frees = [out[s].granted_tokens for s in ("a", "b", "c")]
    assert max(frees) - min(frees) <= 1
    assert out["a"].granted_tokens == 13  # remainder token to 'a'
    assert out["b"].granted_tokens == out["c"].granted_tokens == 12
    for r in out.values():
        assert r.granted_tokens <= r.avail_tokens


# --- dataset_manifest -----------------------------------------------------------


def test_dataset_manifest_detects_identity_changes(spark, tables):
    """Ten rows, one per table; the checksum is order-free (same value
    under repartition) and moves on any row identity change (a dropped
    doc changes documents' row only)."""
    from training_etl_demo_2_spark.operators import maintenance

    base = {r.table_name: r for r in maintenance.dataset_manifest(tables).collect()}
    assert len(base) == 10
    assert base["documents"].n_rows == tables["documents"].count()

    shuffled = dict(tables)
    shuffled["documents"] = tables["documents"].repartition(7)
    re = {
        r.table_name: r
        for r in maintenance.dataset_manifest(shuffled).collect()
    }
    assert re == base  # partition-order-free

    dropped = dict(tables)
    dropped["documents"] = tables["documents"].filter("doc_id <> 0")
    d = {
        r.table_name: r
        for r in maintenance.dataset_manifest(dropped).collect()
    }
    assert d["documents"].n_rows == base["documents"].n_rows - 1
    assert d["documents"].key_checksum != base["documents"].key_checksum
    for t in base:
        if t != "documents":
            assert d[t] == base[t]


def test_ivf_mrr_bounds(spark, tables):
    """Same contract as ann_mrr_eval over the IVF tier: one row per
    query, rr = 1e6 div rank or 0 when the true neighbor is outside
    the probe set's top-k."""
    from training_etl_demo_2_spark.operators import similarity

    rows = similarity.ivf_mrr_eval(tables).collect()
    qn = similarity.brute_topk(tables["embeddings"], k=1).count()
    assert len(rows) == qn
    for r in rows:
        if r.true_rank is None:
            assert r.rr_micro == 0
        else:
            assert 1 <= r.true_rank <= 5
            assert r.rr_micro == 1_000_000 // r.true_rank


# --- dedup_state_ttl_curve ------------------------------------------------------


def test_dedup_state_ttl_monotone(spark, tables):
    """Longer TTL can only hold MORE state: max_state and mean_state
    are non-decreasing in TTL; state never exceeds the total distinct
    fingerprint count; every observed hour is counted once per TTL."""
    from training_etl_demo_2_spark.operators import temporal

    rows = sorted(
        temporal.dedup_state_ttl_curve(tables).collect(),
        key=lambda r: r.ttl_hours,
    )
    assert [r.ttl_hours for r in rows] == [1, 6, 24]
    hours = {r.n_hours for r in rows}
    assert len(hours) == 1
    for a, b in zip(rows, rows[1:]):
        assert b.max_state >= a.max_state
        assert b.mean_state >= a.mean_state
    for r in rows:
        assert 1 <= r.max_state <= r.total_fps
        assert 0 <= r.mean_state <= r.max_state


def test_dedup_state_ttl_planted(spark):
    """Identity A fires in hours 0 and 3; identity B fires in hour 4.
    With TTL 1 no observed hour ever holds two live entries (max 1);
    with TTL 6, A's hour-3 entry is still alive in hour 4 alongside B
    (max 2) — the eviction boundary is doing the separating."""
    from datetime import datetime

    from training_etl_demo_2_spark.operators import temporal

    rows = [
        (1, datetime(2024, 1, 1, 0, 30), 7, "click", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 3, 30), 7, "click", 1.0, "{}"),
        (3, datetime(2024, 1, 1, 4, 40), 9, "view", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {
        r.ttl_hours: r
        for r in temporal.dedup_state_ttl_curve({"events": ev}).collect()
    }
    assert out[1].max_state == 1
    assert out[6].max_state == 2  # both identities live in hour 3
    assert out[1].total_fps == out[6].total_fps == 2


# --- cap_dedup_order_audit ------------------------------------------------------


def test_cap_dedup_order_noncommuting(spark):
    """Planted non-commuting corpus: duplicates engineered to occupy
    the cap's top hash-ranked slots, so cap-then-dedup yields STRICTLY
    fewer docs than dedup-then-cap (which spends every slot on unique
    content); dedup-first is never worse."""
    P = 1_000_000_007

    def rh(s):
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % P
        return acc

    ids = list(range(1, 7))
    by_rank = sorted(ids, key=lambda i: (rh(f"cap:{i}"), i))
    # the cap-2 winners get IDENTICAL text; everyone else unique
    dup_ids = set(by_rank[:2])
    rows = [
        (i, "same duplicated text" if i in dup_ids else f"unique doc {i}",
         "en", "s")
        for i in ids
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {
        r.order: r
        for r in curation.cap_dedup_order_audit(df, cap=2).collect()
    }
    assert out["cap_then_dedup"].docs_kept == 1  # dup pair collapses
    assert out["dedup_then_cap"].docs_kept == 2  # slots spent on uniques
    assert (
        out["dedup_then_cap"].docs_kept
        >= out["cap_then_dedup"].docs_kept
    )
